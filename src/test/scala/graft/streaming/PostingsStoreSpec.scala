package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The persisted inverted-index store (VERDICT r15 Next #1): BM25 served
  * from token-bucketed postings + a 2-long totals document, byte-identical
  * to the full-scan engine, with the store scan partition-pruned to the
  * query terms' buckets — plus the compaction/replay contracts shared
  * with the sibling stores. */
class PostingsStoreSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private val corpus = Seq(
    (1L, "spark shuffles merge keys under pressure while spark plans"),
    (2L, "merge conflicts resolve by key and key alone in the ledger"),
    (3L, "a corpus of documents about winter shipping and harbors"),
    (4L, "spark spark spark merge merge key dedup dedup dedup"),
    (5L, "nothing relevant here at all just filler tokens moving along"),
    (6L, "dup detection by key with spark streams and merge windows"))
  private val terms = Seq("spark", "merge", "key", "dup")

  private def docsDF(rows: Seq[(Long, String)]) = {
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def probeRows(store: String) =
    PostingsStore.probe(s, store, terms)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("n_terms"),
        col("score_dec").cast("string").as("sd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  private def scanRows(rows: Seq[(Long, String)]) = {
    import s.implicits._
    graft.TextQueries.bm25ScoresOf(
      rows.map { case (id, t) => ("src", id, t) }.toDF("source", "doc_id", "text"),
      terms)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("n_terms"),
        col("score_dec").cast("string").as("sd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
  }

  test("probe == the full-scan engine, byte-for-byte (shared bm25ScoreExpr)") {
    val store = Files.createTempDirectory("graft-postings").toString
    PostingsStore.appendBatch(store, docsDF(corpus), 0L)
    val indexed = probeRows(store)
    assert(indexed.nonEmpty)
    assert(indexed === scanRows(corpus))
  }

  test("incremental appends equal one whole-corpus build") {
    val store = Files.createTempDirectory("graft-postings-inc").toString
    PostingsStore.appendBatch(store, docsDF(corpus.take(3)), 0L, lineage = "L1")
    PostingsStore.appendBatch(store, docsDF(corpus.drop(3)), 1L, lineage = "L1")
    assert(probeRows(store) === scanRows(corpus))
    val tot = PostingsStore.loadTotals(store).get
    assert(tot.nDocs === corpus.size.toLong)
  }

  test("the probe prunes to the query terms' token buckets — no full-store scan") {
    val store = Files.createTempDirectory("graft-postings-prune").toString
    // many distinct tokens spread postings across many token_bucket
    // partitions; the 4-term probe must read only its own <= 4 buckets
    val many = (0 until 80).map(i =>
      (100L + i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f spark"))
    PostingsStore.appendBatch(store, docsDF(corpus ++ many), 0L)
    val partitions = new java.io.File(PostingsStore.postingsPath(store))
      .listFiles().count(_.getName.startsWith("token_bucket="))
    assert(partitions > 8, s"fixture too small: only $partitions buckets")
    val plan = PostingsStore.probe(s, store, terms)
      .queryExecution.sparkPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("token_bucket")),
      s"no token_bucket partition filter in:\n$plan")
    assert(scanLine.exists(l => l.contains(" INSET ") || l.contains(" IN ")),
      s"partition filter is not a static membership list:\n${scanLine.getOrElse("")}")
  }

  test("probeBatch == a per-query probe() per qid, byte-for-byte, one pruned read") {
    import s.implicits._
    val store = Files.createTempDirectory("graft-postings-batch").toString
    PostingsStore.appendBatch(store, docsDF(corpus), 0L)
    // three probes with overlapping term sets (the df-shared case) and
    // one term matching nothing
    val probes: Seq[(Long, Seq[String])] = Seq(
      10L -> Seq("spark", "merge"),
      20L -> Seq("key", "dup", "winter"),
      30L -> Seq("absent_token"))
    val qterms = probes
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("qid", "token")
    val batch = PostingsStore.probeBatch(s, store, qterms)
      .orderBy(col("qid"), col("doc_id"))
      .select(col("qid"), col("doc_id"), col("n_terms"),
        col("score_dec").cast("string").as("sd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val single = probes.flatMap { case (qid, ts) =>
      PostingsStore.probe(s, store, ts)
        .orderBy(col("doc_id"))
        .select(col("doc_id"), col("n_terms"),
          col("score_dec").cast("string").as("sd"))
        .collect().map(r => (qid, r.getLong(0), r.getLong(1), r.getString(2)))
    }
    assert(batch.nonEmpty)
    assert(batch === single.sortBy(x => (x._1, x._2)),
      "the batched probe must serve each query the single probe's exact rows")
    // the no-match probe yields no rows, never an invented one
    assert(!batch.exists(_._1 == 30L))
    // probe()'s scan shape: the df leg and the scoring leg each read the
    // store slice, BOTH statically pruned to the batch's buckets — and
    // the probe count does not add scans
    val plan = PostingsStore.probeBatch(s, store, qterms)
      .queryExecution.sparkPlan.toString
    val scanLines = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.size <= 2, s"store scans must not grow with probes:\n$plan")
    assert(scanLines.forall(_.contains("token_bucket")),
      s"unpruned store scan in:\n$plan")
  }

  test("probeBatch is insensitive to duplicate (qid, token) probe rows") {
    import s.implicits._
    val store = Files.createTempDirectory("graft-postings-dupprobe").toString
    PostingsStore.appendBatch(store, docsDF(corpus), 0L)
    val distinctF = Seq((10L, "spark"), (10L, "merge"), (20L, "key"))
      .toDF("qid", "token")
    // the same frame with every row repeated (a sloppy caller) — without
    // the driver-side dedup each matched posting would fan out twice,
    // doubling n_terms and score_dec (ADVICE r18)
    val dupF = distinctF.union(distinctF).union(distinctF.limit(1))
    def rows(f: org.apache.spark.sql.DataFrame) =
      PostingsStore.probeBatch(s, store, f)
        .orderBy(col("qid"), col("doc_id"))
        .select(col("qid"), col("doc_id"), col("n_terms"),
          col("score_dec").cast("string"))
        .collect().map(_.toString).toSeq
    val want = rows(distinctF)
    assert(want.nonEmpty)
    assert(rows(dupF) === want,
      "duplicate probe rows must not inflate n_terms/score_dec")
  }

  test("replayed batch id within a lineage is a full no-op; a reset lineage folds") {
    val store = Files.createTempDirectory("graft-postings-replay").toString
    val t1 = PostingsStore.appendBatch(store, docsDF(corpus), 5L, lineage = "A")
    val files1 = new java.io.File(PostingsStore.postingsPath(store))
      .listFiles().length
    // replay of batch 5 (and an older batch): totals AND postings untouched
    val t2 = PostingsStore.appendBatch(store, docsDF(corpus), 5L, lineage = "A")
    val t3 = PostingsStore.appendBatch(store, docsDF(corpus.take(1)), 3L, lineage = "A")
    assert(t2 === t1 && t3 === t1)
    assert(new java.io.File(PostingsStore.postingsPath(store))
      .listFiles().length === files1)
    // a NEW lineage restarting at batch 0 is a genuinely new stream — it
    // must fold, not be mistaken for a replay of lineage A's batch 5
    val extra = Seq((7L, "late arriving doc with spark inside"))
    val t4 = PostingsStore.appendBatch(store, docsDF(extra), 0L, lineage = "B")
    assert(t4.nDocs === t1.nDocs + 1)
    assert(probeRows(store) === scanRows(corpus ++ extra))
  }

  test("crash-window replay duplicates fold: probe unchanged, compaction removes them") {
    val store = Files.createTempDirectory("graft-postings-crash").toString
    PostingsStore.appendBatch(store, docsDF(corpus), 0L, lineage = "A")
    val clean = probeRows(store)
    // simulate the one crash window: postings committed, totals save lost
    // → the replayed batch re-appends identical posting rows, then the
    // totals fold once more (once total, since the first save never landed)
    Files.delete(java.nio.file.Paths.get(store, "_totals.json"))
    PostingsStore.appendBatch(store, docsDF(corpus), 0L, lineage = "A")
    assert(probeRows(store) === clean) // the probe's distinct folds the dups
    val tot = PostingsStore.loadTotals(store).get
    assert(tot.nDocs === corpus.size.toLong) // additive side stayed exactly-once
    // compaction folds the duplicate rows on disk; results byte-identical
    val retained = PostingsStore.compact(s, store)
    val distinctRows = s.read.parquet(PostingsStore.postingsPath(store)).count()
    assert(retained === distinctRows)
    assert(probeRows(store) === clean)
    // one file per bucket partition after compaction
    val bucketDirs = new java.io.File(PostingsStore.postingsPath(store))
      .listFiles().filter(_.getName.startsWith("token_bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"bucket ${d.getName} not compacted to one file")
    }
  }

  test("rebuild swaps aside-built stores atomically and self-heals crash debris") {
    import java.nio.file.{Files => JF, Paths => JP}
    val store = Files.createTempDirectory("graft-postings-rb").resolve("idx").toString
    val docsA = corpus.take(3)
    val docsB = corpus.drop(3) ++ Seq((9L, "fresh spark content replacing the index"))
    PostingsStore.rebuild(store, docsDF(docsA))
    assert(probeRows(store) === scanRows(docsA))
    // rebuild REPLACES (not appends): the store now reflects docsB alone
    PostingsStore.rebuild(store, docsDF(docsB))
    assert(probeRows(store) === scanRows(docsB))
    assert(PostingsStore.loadTotals(store).get.nDocs === docsB.size.toLong)
    // crash between the two live renames: store gone, old present —
    // the next rebuild promotes the old copy back before building
    JF.move(JP.get(store), JP.get(store + "_compact_old"))
    // also leave an incomplete tmp from the doomed build
    JF.createDirectories(JP.get(store + "_compact_tmp", "postings"))
    PostingsStore.rebuild(store, docsDF(docsA))
    assert(probeRows(store) === scanRows(docsA))
    Seq("_compact_old", "_compact_tmp", "_compact_ready").foreach { d =>
      assert(!JF.exists(JP.get(store + d)), d)
    }
  }

  test("a missing store probes to an empty frame with the engine's schema") {
    val store = Files.createTempDirectory("graft-postings-missing").toString
    val out = PostingsStore.probe(s, store, terms)
    assert(out.isEmpty)
    assert(out.columns.toSeq === Seq("doc_id", "n_terms", "score_dec"))
  }
}
