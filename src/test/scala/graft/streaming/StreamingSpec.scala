package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** graft.streaming semantics: landed packages of every format load per
  * micro-batch through the batch loader, record packages compiling per
  * file (T4's record-package path, `compiler.py:146-148`), with
  * plane-keyed replay and crash recovery; plus the live state operators
  * (last-write-wins via mapGroupsWithState, windows, funnel, retention;
  * W2/T9). */
class StreamingSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def releasePkg(ocid: String, rid: String): String =
    s"""{"uri": "http://x/$rid", "version": "1.1", "publisher": {"name": "P"},
       | "publishedDate": "2020-01-01T00:00:00Z",
       | "releases": [{"ocid": "$ocid", "id": "$rid",
       |   "date": "2020-01-01T00:00:00Z", "tag": ["tender"],
       |   "initiationType": "tender"}]}""".stripMargin

  test("releaseLoadStream loads landed packages incrementally, exactly once (S6/T1)") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-apiload")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString

    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        7L -> graft.control.Control.Collection(7L, "api", "2020-01-01 00:00:00",
          steps = Set("compile")))))

    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 7L, None, plane, ckpt)
        .awaitTermination()

    Files.writeString(landing.resolve("a.json"), releasePkg("ocds-s1", "r1"))
    Files.writeString(landing.resolve("b.json"), releasePkg("ocds-s2", "r2"))
    runOnce()
    val facts = s.read.parquet(s"$lake/release").filter($"collection_id" === 7)
    assert(facts.count() === 2)
    assert(plane.get().filesOf(7L).size === 2)
    assert(plane.get().stepsOf(7L).isEmpty) // LOAD steps completed per batch

    // more files land; only the new one loads
    Files.writeString(landing.resolve("c.json"), releasePkg("ocds-s3", "r3"))
    runOnce()
    assert(s.read.parquet(s"$lake/release").filter($"collection_id" === 7).count() === 3)

    // a lost checkpoint replays every arrival; the lake-filename dedup
    // (file-granular idempotence key, atomic job commits) loads nothing
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce()
    assert(s.read.parquet(s"$lake/release").filter($"collection_id" === 7).count() === 3)
    assert(plane.get().filesOf(7L).size === 3)

    // the persisted plane matches the in-memory one (the control table the
    // api_loader registers into)
    assert(graft.control.PlaneStore.load(lake).filesOf(7L).size === 3)
  }

  test("releaseLoadStream(checks=true): streamed arrivals get cove_output rows, no batch addchecks") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-streamcheck")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        9L -> graft.control.Control.Collection(9L, "api", "2020-01-01 00:00:00",
          steps = Set("check")))))
    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 9L, None, plane, ckpt,
        checks = true).awaitTermination()

    // one valid release and one violating the schema (tag not an array)
    Files.writeString(landing.resolve("ok.json"), releasePkg("ocds-c1", "r1"))
    Files.writeString(landing.resolve("bad.json"),
      """{"uri": "http://x/bad", "version": "1.1", "publisher": {"name": "P"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "releases": [{"ocid": "ocds-c2", "id": "r2",
        |   "date": "2020-01-01T00:00:00Z", "tag": "tender",
        |   "initiationType": "tender"}]}""".stripMargin)
    val before = graft.check.OcdsSchemas.compileCount.get()
    runOnce()
    // the stream's own batch produced the check rows — NO addchecks ran
    val checks = s.read.parquet(s"$lake/release_check")
      .filter($"collection_id" === 9).collect()
    assert(checks.length === 2)
    assert(checks.count(_.getAs[Boolean]("ok")) === 1)
    val bad = checks.find(!_.getAs[Boolean]("ok")).get
    assert(bad.getAs[Long]("n_errors") >= 1L)
    assert(bad.getAs[String]("cove_output").contains("validation_errors"))
    // per-JVM schema cache: checking a batch compiles at most the one
    // (releases, no-extensions) schema — never per row (and 0 if an
    // earlier suite already compiled it)
    assert(graft.check.OcdsSchemas.compileCount.get() - before <= 1L)

    // a later arrival is checked incrementally; replayed files are not
    // re-checked (the content-stable check-id anti-join — the idempotent
    // protocol the batch job uses)
    Files.writeString(landing.resolve("more.json"), releasePkg("ocds-c3", "r3"))
    runOnce()
    assert(s.read.parquet(s"$lake/release_check")
      .filter($"collection_id" === 9).count() === 3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce() // full replay: loads nothing, checks nothing twice
    assert(s.read.parquet(s"$lake/release_check")
      .filter($"collection_id" === 9).count() === 3)
    // the crash window between the check append and the plane save: the
    // batch replays with the SAME files — the content-stable check-id
    // anti-join skips every already-written row (checked=0, no dupes)
    val replay = graft.Pipeline.runChecks(s, lake, plane.get(), 9L,
      files = Some(s.read.parquet(s"$lake/release").filter($"collection_id" === 9)
        .select("filename").as[String].collect().toSeq))
    assert(replay === Some((0L, 0L)))
    assert(s.read.parquet(s"$lake/release_check")
      .filter($"collection_id" === 9).count() === 3)

    // the per-batch idempotence anti-join is BUCKET-PRUNED (r15 finding
    // #1: it used to re-read the collection's whole check history per
    // micro-batch): the stored-checks scan must carry a static
    // check_bucket partition filter derived from the batch's ids
    val stored = s.read.parquet(s"$lake/release_check")
      .filter($"collection_id" === 9).select("id").as[Long].collect().sorted
    assert(stored.length === 3)
    val batchRows = Seq(stored.head).toDF("id")
    val slice = graft.Pipeline.checkedSlice(s, lake, "release_check", 9L, Some(batchRows))
    val plan = slice.queryExecution.sparkPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("check_bucket")),
      s"no check_bucket partition filter in:\n$plan")
    // the pruned scan's FILES-READ METRIC (the AnnLayoutSpec idiom —
    // partition pruning's observable effect, immune to the plan string's
    // 100-char metadata truncation): one batch id touches one bucket, so
    // with the three stored rows in >1 bucket the scan must read fewer
    // files than the collection's whole check slice holds
    def bucket(id: Long) = Math.floorMod(id, graft.ingest.Sink.CheckBuckets.toLong)
    val allBuckets = stored.map(bucket).toSet
    assert(allBuckets.size > 1, "fixture degenerate: all ids share a bucket")
    assert(slice.collect().map(_.getAs[Long]("id")).toSet ===
      stored.filter(bucket(_) == bucket(stored.head)).toSet)
    val scans = graft.PlanWalk.fileScans(slice.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("release_check")))
    assert(scans.nonEmpty)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val filesStored = {
      val whole = s.read.parquet(s"$lake/release_check").filter($"collection_id" === 9)
      whole.collect()
      graft.PlanWalk.fileScans(whole.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    assert(filesRead < filesStored,
      s"bucket pruning read the whole collection slice ($filesRead of $filesStored)")
  }

  test("releaseLoadStream(bm25Index=true) maintains the postings store; indexed == scan") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-streamidx")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        11L -> graft.control.Control.Collection(11L, "api", "2020-01-01 00:00:00"))))
    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 11L, None, plane, ckpt,
        bm25Index = true).awaitTermination()

    Files.writeString(landing.resolve("a.json"), releasePkg("ocds-x1", "r1"))
    Files.writeString(landing.resolve("b.json"), releasePkg("ocds-x2", "r2"))
    runOnce()
    val store = Streaming.bm25IndexPath(lake, 11L)
    val tot1 = PostingsStore.loadTotals(store).get
    assert(tot1.nDocs === 2L)
    // a later arrival appends incrementally; a lost checkpoint replays
    // every file and the plane's registered-file guard skips them all
    Files.writeString(landing.resolve("c.json"), releasePkg("ocds-x3", "r3"))
    runOnce()
    assert(PostingsStore.loadTotals(store).get.nDocs === 3L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce()
    assert(PostingsStore.loadTotals(store).get.nDocs === 3L)

    // the maintained index serves the SAME scores as the full scan of the
    // collection's documents (the shared bm25ScoreExpr contract)
    val docs = graft.Pipeline
      .collectionDocsOf(s, lake, plane.get().collection(11L)).get
    val terms = Seq("ocds-x1", "tender")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"doc_id")
      .select($"doc_id", $"n_terms", $"score_dec".cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val indexed = rows(PostingsStore.probe(s, store, terms))
    assert(indexed.nonEmpty)
    assert(indexed === rows(graft.TextQueries.bm25ScoresOf(docs, terms)))
  }

  test("releaseLoadStream(lineDedup=true): cross-batch line dedup the exact-dedup store cannot do") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-streamldd")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        12L -> graft.control.Control.Collection(12L, "api", "2020-01-01 00:00:00"))))
    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 12L, None, plane, ckpt,
        lineDedup = true).awaitTermination()

    // batch 0 registers a's line; the CASE variant in a later batch has a
    // different md5 (so content-addressed exact dedup loads it as its own
    // doc) but the SAME normalized line key — only line-level dedup drops
    // it. c is genuinely fresh content.
    Files.writeString(landing.resolve("a.json"), releasePkg("ocds-y1", "r1"))
    runOnce()
    Files.writeString(landing.resolve("b.json"), releasePkg("OCDS-Y1", "R1"))
    Files.writeString(landing.resolve("c.json"), releasePkg("ocds-y3", "r3"))
    runOnce()
    // read through the centralized duplicate-folding helper (ADVICE r16)
    val clean = Streaming.cleanDocs(s, lake).filter($"collection_id" === 12)
    assert(clean.count() === 3L)
    assert(clean.filter($"n_dup" === 1L && $"clean_text" === "").count() === 1L)
    assert(clean.filter($"n_dup" === 0L && $"clean_text" =!= "").count() === 2L)
    val store = Streaming.lineRegistryPath(lake, 12L)
    assert(LineStore.keyCount(s, store) === 2L) // a's line + c's line
    // lost checkpoint: the plane's registered-file guard drops every
    // replayed file before the store legs, so nothing re-registers and
    // the cleaned table folds to the same 3 rows
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce()
    assert(LineStore.keyCount(s, store) === 2L)
    assert(Streaming.cleanDocs(s, lake)
      .filter($"collection_id" === 12).count() === 3L)
  }

  test("releaseLoadStream(dsirScore=...): arriving docs annotate against the train-once model") {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, round}
    val base = Files.createTempDirectory("graft-streamdsir")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        13L -> graft.control.Control.Collection(13L, "api", "2020-01-01 00:00:00"))))
    val wdir = Streaming.dsirWeightsPath(lake)
    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 13L, None, plane, ckpt,
        dsirScore = Some(wdir)).awaitTermination()
    // no trained model → the stream refuses at START, before any batch
    val e = intercept[IllegalArgumentException] { runOnce() }
    assert(e.getMessage.contains("--weights"), e.getMessage)
    // train the model OFFLINE (the Cli dsir-select --weights contract):
    // target shares the landed packages' vocabulary so scores exist
    val rawT = Seq((100L, "zz qq ww releases ocid"), (101L, "tender value x"))
      .toDF("doc_id", "text")
    val tgtT = Seq((200L, "releases ocid tender publisher date"))
      .toDF("doc_id", "text")
    val weights = graft.TextQueries.dsirWeightsOf(rawT, tgtT, s)
    weights.toDF("bucket", "w").coalesce(1).write.parquet(wdir)
    Files.writeString(landing.resolve("a.json"), releasePkg("ocds-d1", "r1"))
    runOnce()
    Files.writeString(landing.resolve("b.json"), releasePkg("ocds-d2", "r2"))
    Files.writeString(landing.resolve("c.json"), releasePkg("ocds-d3", "r3"))
    runOnce()
    // the streamed annotations are BYTE-EQUAL to the batch engine run
    // over the union of everything loaded (dsirScoreAll is the one
    // scoring spelling, shared verbatim)
    val docs = graft.Pipeline
      .collectionDocsOf(s, lake, plane.get().collection(13L)).get
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("doc_id")
      .select(col("doc_id"), col("source"), col("n_feats"),
        col("logw").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSeq
    val want = rows(graft.TextQueries.dsirScoreAll(docs, weights, s, label = "source")
      .select(col("doc_id"), col("label").as("source"), col("n_feats"),
        round(col("lw_dec").cast("double"), 9).as("logw")))
    assert(want.size === 3, s"training vocabulary must cover the landed docs: $want")
    val got = rows(Streaming.dsirScores(s, lake)
      .filter(col("collection_id") === 13L))
    assert(got === want)
    // lost checkpoint: the registered-file guard drops every replayed
    // file before the scoring leg; the folding reader stays stable
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce()
    assert(rows(Streaming.dsirScores(s, lake)
      .filter(col("collection_id") === 13L)) === want)
  }

  test("maxFilesPerTrigger bounds a backlog drain into several committed batches") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-bounded")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt")
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        9L -> graft.control.Control.Collection(9L, "api", "2020-01-01 00:00:00"))))
    (1 to 3).foreach(i =>
      Files.writeString(landing.resolve(s"f$i.json"), releasePkg(s"ocds-mb$i", s"m$i")))
    Streaming.releaseLoadStream(
      s, landing.toString, lake, 9L, None, plane, ckpt.toString, maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(s.read.parquet(s"$lake/release").filter($"collection_id" === 9).count() === 3)
    assert(plane.get().filesOf(9L).size === 3)
    // the checkpoint committed one offset per file — the backlog really
    // drained as three bounded batches, each with its own plane save
    val offsets = Files.list(ckpt.resolve("offsets"))
    try {
      import scala.jdk.CollectionConverters._
      assert(offsets.iterator.asScala.count(!_.getFileName.toString.startsWith(".")) === 3)
    } finally offsets.close()
  }

  test("streaming checks are format-aware: a landed RECORD package checks into record_check") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-reccheck")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val C = graft.control.Control
    val planeRef = new java.util.concurrent.atomic.AtomicReference(C.Plane(Map(
      31L -> C.Collection(31L, "src", "2020-01-01 00:00:00", steps = Set("check")))))
    Files.writeString(landing.resolve("r.json"),
      """{"uri": "http://x/r", "version": "1.1", "publisher": {"name": "R"},
        | "records": [{"ocid": "ocds-sc1", "releases": [
        |   {"ocid": "ocds-sc1", "id": "s1", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}]}]}""".stripMargin)
    Streaming.releaseLoadStream(s, landing.toString, lake, 31L, None, planeRef, ckpt,
      checks = true).awaitTermination()
    // the stream's check leg routed by the collection's detected format:
    // record collections check into record_check (the reference checker's
    // Record branch), never the release table
    val checks = s.read.parquet(s"$lake/record_check")
      .filter($"collection_id" === 31).collect()
    assert(checks.length === 1)
    assert(checks.head.getAs[String]("cove_output").nonEmpty)
    assert(!new java.io.File(s"$lake/release_check").exists())
  }

  test("releaseLoadStream routes landed RECORD packages: facts + per-file compile + gates") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-recload")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val C = graft.control.Control
    val planeRef = new java.util.concurrent.atomic.AtomicReference(C.Plane(Map(
      21L -> C.Collection(21L, "src", "2020-01-01 00:00:00", steps = Set("compile")),
      22L -> C.Collection(22L, "src", "2020-01-01 00:00:00", parent = Some(21L),
        transformType = Some(C.Transform.CompileReleases)))))
    Files.writeString(landing.resolve("r.json"),
      """{"uri": "http://x/r", "version": "1.1", "publisher": {"name": "R"},
        | "records": [{"ocid": "ocds-st1", "releases": [
        |   {"ocid": "ocds-st1", "id": "s1", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}]}]}""".stripMargin)
    Streaming.releaseLoadStream(s, landing.toString, lake, 21L, None, planeRef, ckpt)
      .awaitTermination()

    assert(s.read.parquet(s"$lake/record").filter($"collection_id" === 21).count() === 1)
    assert(s.read.parquet(s"$lake/compiled_release")
      .filter($"collection_id" === 22).count() === 1) // compiled DURING the stream
    val p = planeRef.get()
    assert(p.filesOf(21L).size === 1 && p.filesOf(21L).forall(_.compilationStarted))
    assert(p.collection(21L).dataTypeFormat.contains(C.Format.RecordPackage))
    assert(p.stepsOf(21L).isEmpty) // LOAD steps consumed
    // after the close latch, both gates release — the batch contract; the
    // record loader already started the compiled child's compilation
    val closed = C.closeCollection(p, 21L, "2020-06-01 00:00:00", 1)
    assert(C.completable(closed, closed.collection(22L)))
    assert(C.completable(closed, closed.collection(21L)))
    // the persisted plane matches the in-memory one
    assert(graft.control.PlaneStore.load(lake).filesOf(21L).size === 1)
    // replay with a lost checkpoint: plane-keyed dedup loads nothing twice
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    Streaming.releaseLoadStream(s, landing.toString, lake, 21L, None, planeRef, ckpt)
      .awaitTermination()
    assert(s.read.parquet(s"$lake/record").filter($"collection_id" === 21).count() === 1)
    assert(s.read.parquet(s"$lake/compiled_release")
      .filter($"collection_id" === 22).count() === 1)
  }

  test("record replay converges notes AND compiled rows (the crash-window contract)") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-recnotes")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val C = graft.control.Control
    def freshPlane() = new java.util.concurrent.atomic.AtomicReference(C.Plane(Map(
      51L -> C.Collection(51L, "src", "2020-01-01 00:00:00", steps = Set("compile")),
      52L -> C.Collection(52L, "src", "2020-01-01 00:00:00", parent = Some(51L),
        transformType = Some(C.Transform.CompileReleases)))))
    // a record whose decision produces NOTES (compiledRelease fallback)
    Files.writeString(landing.resolve("n.json"),
      """{"uri": "http://x/n", "version": "1.1", "publisher": {"name": "N"},
        | "records": [{"ocid": "ocds-nt1",
        |   "releases": [{"ocid": "ocds-nt1", "url": "http://x/l",
        |                 "date": "2020-01-01T00:00:00Z"}],
        |   "compiledRelease": {"ocid": "ocds-nt1", "id": "n1",
        |     "date": "2020-01-01T00:00:00Z", "tag": ["compiled"],
        |     "initiationType": "tender"}}]}""".stripMargin)
    val p1 = freshPlane()
    Streaming.releaseLoadStream(
      s, landing.toString, lake, 51L, None, p1, base.resolve("ck1").toString)
      .awaitTermination()
    def notes() = s.read.parquet(s"$lake/collection_note")
      .filter($"collection_id" === 52).count()
    def compiled() = s.read.parquet(s"$lake/compiled_release")
      .filter($"collection_id" === 52).count()
    assert(notes() === 2 && compiled() === 1) // INFO ×2 fallback notes

    // simulate the worst crash: plane lost AND the compiled write never
    // happened — notes exist, compiled rows don't; the replay must re-emit
    // ONLY the compiled row, anti-joining away the already-written notes
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$lake/compiled_release/collection_id=52"))
    Streaming.releaseLoadStream(
      s, landing.toString, lake, 51L, None, freshPlane(), base.resolve("ck2").toString)
      .awaitTermination()
    assert(notes() === 2, "replayed notes must dedupe, not duplicate")
    assert(compiled() === 1, "the lost compiled row must come back")
  }

  test("releaseLoadStream routes landed COMPILED releases; filename-keyed replay dedup") {
    import s.implicits._
    val base = Files.createTempDirectory("graft-crload")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val C = graft.control.Control
    val planeRef = new java.util.concurrent.atomic.AtomicReference(C.Plane(Map(
      31L -> C.Collection(31L, "src", "2020-01-01 00:00:00", steps = Set("compile")))))
    Files.writeString(landing.resolve("c.json"),
      """{"ocid": "ocds-cr1", "id": "x1", "date": "2020-01-01T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender"}
        |{"ocid": "ocds-cr2", "id": "x2", "date": "2020-01-02T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender"}""".stripMargin)
    Streaming.releaseLoadStream(s, landing.toString, lake, 31L, None, planeRef, ckpt)
      .awaitTermination()

    val compiled = s.read.parquet(s"$lake/compiled_release").filter($"collection_id" === 31)
    assert(compiled.count() === 2)
    // the direct-load rows carry their source filename — the format's only
    // filename-keyed lake trace, which the crash repair keys on
    assert(compiled.filter($"filename".isNotNull).count() === 2)
    assert(planeRef.get().filesOf(31L).size === 1)
    // lost checkpoint: the replay loads nothing twice
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    Streaming.releaseLoadStream(s, landing.toString, lake, 31L, None, planeRef, ckpt)
      .awaitTermination()
    assert(s.read.parquet(s"$lake/compiled_release")
      .filter($"collection_id" === 31).count() === 2)
  }

  test("recoverPartialLoads repairs a batch that died between write jobs (T1)") {
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    val base = Files.createTempDirectory("graft-recover")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val planeRef = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        9L -> graft.control.Control.Collection(9L, "api", "2020-01-01 00:00:00",
          steps = Set("compile")))))
    val f = landing.resolve("a.json")
    Files.writeString(f, releasePkg("ocds-p1", "r1"))
    // simulate a crash AFTER the root fact write but BEFORE the
    // package_data write and the plane save: only the release leg lands
    val dt = graft.ingest.FormatDetect.DataType(
      graft.ingest.FormatDetect.Format.ReleasePackage,
      concatenated = false, array = false)
    graft.ingest.Sink.writeFacts(
      graft.ingest.Ingest.loadItems(s, Seq(f.toString), dt).toDF()
        .withColumn("collection_id", lit(9L)),
      s"$lake/release")
    assert(s.read.parquet(s"$lake/release").count() === 1)

    // starting the stream runs recovery: the partial rows are purged and
    // the file reloads WHOLE, exactly once
    Streaming.releaseLoadStream(s, landing.toString, lake, 9L, None, planeRef, ckpt)
      .awaitTermination()
    assert(s.read.parquet(s"$lake/release")
      .filter($"collection_id" === 9).count() === 1) // not duplicated
    assert(s.read.parquet(s"$lake/package_data")
      .filter($"collection_id" === 9).count() === 1) // the lost leg is back
    assert(planeRef.get().filesOf(9L).size === 1)
    assert(planeRef.get().stepsOf(9L).isEmpty)
  }

  test("windowedCounts finalizes watermark-expired windows in bounded state (T9)") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ev(key: String, minute: Int) =
      Streaming.TimedEvent(key, java.sql.Timestamp.valueOf(f"2020-01-01 10:$minute%02d:00"))
    val input = MemoryStream[Streaming.TimedEvent]
    val q = Streaming.windowedCounts(input.toDS(), window = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("wc").start()

    input.addData(ev("a", 1), ev("a", 4), ev("b", 7))
    q.processAllAvailable() // nothing finalized: watermark at 10:02
    assert(s.table("wc").count() === 0)

    // an event at 10:31 moves the watermark to 10:26 → both earlier
    // 10-minute windows close and emit; their state is dropped
    input.addData(ev("a", 31))
    q.processAllAvailable()
    val rows = s.table("wc")
      .select("window_start", "key", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, k, n) => (w.toString, k, n) }.sortBy(r => (r._1, r._2))
    assert(rows.toSeq === Seq(
      ("2020-01-01 10:00:00.0", "a", 2L),
      ("2020-01-01 10:00:00.0", "b", 1L)))
    q.stop()
  }

  test("dedupArrivals suppresses in-horizon duplicates in bounded state (S8/T9)") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def doc(fp: String, id: Long, minute: Int) =
      Streaming.DocArrival(fp, id,
        java.sql.Timestamp.valueOf(f"2020-01-01 10:$minute%02d:00"))
    val input = MemoryStream[Streaming.DocArrival]
    val q = Streaming.dedupArrivals(input.toDS(), watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dd").start()

    // a retry storm re-lands the same content thrice within the horizon:
    // exactly one row survives (the first arrival in batch order)
    input.addData(doc("fpA", 1, 1), doc("fpA", 2, 2), doc("fpB", 3, 2))
    q.processAllAvailable()
    input.addData(doc("fpA", 4, 3)) // still within the horizon
    q.processAllAvailable()
    assert(s.table("dd").select("fingerprint").as[String].collect().sorted
      === Array("fpA", "fpB"))

    // past the watermark the state row is gone: the same fingerprint
    // passes again — cross-horizon dedup belongs to the persistent
    // store's anti-join, not to unbounded stream state
    input.addData(doc("zz", 9, 31)) // watermark → 10:26, fpA state expires
    q.processAllAvailable()
    input.addData(doc("fpA", 5, 32))
    q.processAllAvailable()
    val fpa = s.table("dd").filter($"fingerprint" === "fpA")
      .select("doc_id").as[Long].collect().sorted
    assert(fpa === Array(1L, 5L))
    q.stop()
  }

  test("funnelProgress == the batch funnel over the union, out-of-order batches included") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import Streaming.FunnelEvent
    val stages = Seq("signup", "click", "purchase")
    // three users; u2's signup arrives LATE (batch 2) with an EARLIER
    // timestamp than their already-seen click — t1 must lower and the
    // chain must re-open the click that had streamed past; u3 converts
    // fully; an off-funnel event type must fold into nothing
    val batch1 = Seq(
      FunnelEvent(2L, "click", 5000L),
      FunnelEvent(3L, "signup", 100L),
      FunnelEvent(3L, "click", 200L),
      FunnelEvent(1L, "signup", 1000L),
      FunnelEvent(1L, "view", 1500L))
    val batch2 = Seq(
      FunnelEvent(2L, "signup", 4000L), // late, earlier than the click
      FunnelEvent(3L, "purchase", 300L),
      FunnelEvent(2L, "click", 5000L)) // exact replay of batch 1's event
    val input = MemoryStream[FunnelEvent]
    val q = Streaming.funnelProgress(input.toDS(), stages)
      .writeStream.outputMode("update").format("memory").queryName("fnl").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // latest state per user
    val latest = s.table("fnl")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct("stage_reached", "stage_ts", "n_seen"),
        org.apache.spark.sql.functions.col("n_seen")).as("st"))
      .select("user_id", "st.stage_reached", "st.stage_ts")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    // u2: the late signup re-opened the click — 2 stages, chain (4000, 5000)
    assert(latest.toSeq === Seq(
      (1L, 1L, Seq(1000L)),
      (2L, 2L, Seq(4000L, 5000L)),
      (3L, 3L, Seq(100L, 200L, 300L))))
    // referee: per-stage user counts == the BATCH engine over the union
    val union = (batch1 ++ batch2)
      .toDF("user_id", "event_type", "ts_us")
    val want = graft.EventQueries.funnelOf(union, stages)
      .select("stage", "n_users").as[(Long, Long)].collect().toMap
    val got = (1 to stages.size).map(k =>
      (k.toLong, latest.count(_._2 >= k).toLong)).toMap
    assert(got === want, "streamed progress must referee against funnelOf")
    // the max-gap contract streams identically: a 500 µs window cuts
    // u2's 1000 µs signup→click hop but keeps u3's tight chain
    val input2 = MemoryStream[FunnelEvent]
    val q2 = Streaming.funnelProgress(input2.toDS(), stages, maxGapUs = Some(500L))
      .writeStream.outputMode("update").format("memory").queryName("fnlw").start()
    try {
      input2.addData(batch1: _*)
      q2.processAllAvailable()
      input2.addData(batch2: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val latestW = s.table("fnlw")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct("stage_reached", "n_seen"),
        org.apache.spark.sql.functions.col("n_seen")).as("st"))
      .select("user_id", "st.stage_reached")
      .as[(Long, Long)].collect().toMap
    val wantW = graft.EventQueries.funnelOf(union, stages, maxGapUs = Some(500L))
      .select("stage", "n_users").as[(Long, Long)].collect().toMap
    val gotW = (1 to stages.size).map(k =>
      (k.toLong, latestW.values.count(_ >= k).toLong)).toMap
    assert(gotW === wantW)
    assert(latestW(2L) === 1L, "the gap bound must cut u2's wide hop")
  }

  test("funnelProgress final state is batching-invariant (1 batch == 3 batches, any order)") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import Streaming.FunnelEvent
    val rnd = new scala.util.Random(7)
    val stages = Seq("signup", "click", "purchase")
    val events = (1 to 40).map { i =>
      FunnelEvent(1L + rnd.nextInt(5),
        Seq("signup", "click", "purchase", "view")(rnd.nextInt(4)),
        (1 + rnd.nextInt(50)).toLong * 100L)
    }
    def finalState(batches: Seq[Seq[FunnelEvent]], name: String): Map[Long, (Long, Seq[Long])] = {
      val input = MemoryStream[FunnelEvent]
      val q = Streaming.funnelProgress(input.toDS(), stages, maxGapUs = Some(2000L))
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      s.table(name)
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max_by(
          org.apache.spark.sql.functions.struct("stage_reached", "stage_ts", "n_seen"),
          org.apache.spark.sql.functions.col("n_seen")).as("st"))
        .select("user_id", "st.stage_reached", "st.stage_ts")
        .as[(Long, Long, Seq[Long])].collect()
        .map(x => x._1 -> (x._2, x._3)).toMap
    }
    val one = finalState(Seq(events), "fnl_one")
    // a shuffled 3-way split — events arrive out of order ACROSS batches
    val shuffled = rnd.shuffle(events)
    val three = finalState(
      Seq(shuffled.take(13), shuffled.slice(13, 26), shuffled.drop(26)), "fnl_three")
    assert(three === one,
      "the chained-min over full per-user history must not depend on batching")
  }

  test("retentionProgress deltas == retentionOf over the union, late re-cohort included") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import Streaming.RetentionEvent
    val day = 86_400_000_000L
    // u1 active on days 10, 12; u2 on day 11 — then u2's LATE day-9
    // event arrives: their cohort moves 11 → 9 and the old (day 11,
    // offset 0) contribution must retract while (day 9, 0) and
    // (day 9, 2) assert; a same-day replay folds to nothing
    val batch1 = Seq(
      RetentionEvent(1L, 10L * day + 5L),
      RetentionEvent(1L, 12L * day + 9L),
      RetentionEvent(2L, 11L * day + 1L))
    val batch2 = Seq(
      RetentionEvent(2L, 9L * day + 3L), // late, earlier: re-cohort
      RetentionEvent(1L, 10L * day + 7L)) // same day again: no delta
    def run(name: String, weekly: Boolean): Unit = {
      val input = MemoryStream[RetentionEvent]
      val q = Streaming.retentionProgress(input.toDS(), weekly)
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        input.addData(batch2: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    run("rtn_d", weekly = false)
    val got = s.table("rtn_d")
      .groupBy("cohort", "offset")
      .agg(org.apache.spark.sql.functions.sum("delta").as("n_users"))
      .filter($"n_users" =!= 0L)
      .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    val union = (batch1 ++ batch2).toDF("user_id", "ts_us")
    val want = graft.EventQueries.retentionOf(union)
      .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(got === want, "summed deltas must reproduce the batch retention")
    // the retraction really happened: u2's old cohort row was emitted
    // then withdrawn
    val u2 = s.table("rtn_d").filter($"user_id" === 2L)
      .select("cohort", "offset", "delta")
      .as[(String, Long, Long)].collect().toSeq
    assert(u2.contains(("1970-01-12", 0L, 1L)) && u2.contains(("1970-01-12", 0L, -1L)),
      s"late re-cohort must retract the old pair, got $u2")
    // weekly mode referees the same way (days 9-12 of 1970 span the
    // Mon-Jan-05 and Mon-Jan-12 weeks, so there IS a 1-week offset)
    run("rtn_w", weekly = true)
    val gotW = s.table("rtn_w")
      .groupBy("cohort", "offset")
      .agg(org.apache.spark.sql.functions.sum("delta").as("n_users"))
      .filter($"n_users" =!= 0L)
      .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    val wantW = graft.EventQueries.retentionOf(union, weekly = true)
      .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(gotW === wantW, "weekly deltas must reproduce the batch retention")
  }

  test("retention matrix sink: folded table == retentionOf over the union; replayed fold no-ops") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import Streaming.RetentionEvent
    val day = 86_400_000_000L
    val store = java.nio.file.Files.createTempDirectory("graft-rtn-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rtn-ckpt").toString
    // the referee test's batches verbatim — batch 2 carries the late
    // EARLIER event that re-cohorts u2, so the fold must APPLY a
    // retraction, not just additions
    val batch1 = Seq(
      RetentionEvent(1L, 10L * day + 5L),
      RetentionEvent(1L, 12L * day + 9L),
      RetentionEvent(2L, 11L * day + 1L))
    val batch2 = Seq(
      RetentionEvent(2L, 9L * day + 3L),
      RetentionEvent(1L, 10L * day + 7L))
    val input = MemoryStream[RetentionEvent]
    val q = Streaming.retentionMatrixStream(input.toDS(), store, ckpt)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    val got = sorted(RetentionStore.matrix(s, store)
      .select("cohort", "offset", "n_users"))
    val want = sorted(graft.EventQueries.retentionOf(
      (batch1 ++ batch2).toDF("user_id", "ts_us")))
    assert(got === want,
      "the persisted matrix must equal the batch retention over the union")
    // u2's stale (1970-01-12, 0) row really left the TABLE (the
    // retraction folded, not merely emitted)
    assert(!got.exists(r => r._1 == "1970-01-12" && r._2 == 0L))
    // replay-tolerance at the store seam: re-folding an already-folded
    // batch id (same lineage) is a no-op — matrix unchanged, fold
    // reports the skip
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(store, "_retention_meta.json")))
    val lastBatch = meta.get("last_batch_id").asLong()
    val lineage = meta.get("lineage").asText()
    val replayDeltas = Seq(("1970-01-10", 0L, 5L))
      .toDF("cohort", "offset", "delta")
    assert(!RetentionStore.foldBatch(s, store, replayDeltas, lastBatch, lineage),
      "an already-folded batch id must be a no-op")
    assert(sorted(RetentionStore.matrix(s, store)
      .select("cohort", "offset", "n_users")) === want)
    // …while a NEW batch id folds (and a +/-0 net change drops the row)
    val zeroNet = Seq(("1970-01-09", 2L, 1L), ("1970-01-09", 2L, -1L))
      .toDF("cohort", "offset", "delta")
    assert(RetentionStore.foldBatch(s, store, zeroNet, lastBatch + 1, lineage))
    assert(sorted(RetentionStore.matrix(s, store)
      .select("cohort", "offset", "n_users")) === want)
  }

  test("retentionProgress summed deltas are batching-invariant (1 batch == 3 batches, any order)") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import Streaming.RetentionEvent
    val rnd = new scala.util.Random(13)
    val day = 86_400_000_000L
    val events = (1 to 60).map { _ =>
      RetentionEvent(1L + rnd.nextInt(6),
        (5L + rnd.nextInt(20)) * day + rnd.nextInt(1000))
    }
    def summed(batches: Seq[Seq[RetentionEvent]], name: String): Seq[(String, Long, Long)] = {
      val input = MemoryStream[RetentionEvent]
      val q = Streaming.retentionProgress(input.toDS(), weekly = true)
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      s.table(name)
        .groupBy("cohort", "offset")
        .agg(org.apache.spark.sql.functions.sum("delta").as("n_users"))
        .filter($"n_users" =!= 0L)
        .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    }
    val one = summed(Seq(events), "rtn_one")
    val shuffled = rnd.shuffle(events)
    val three = summed(
      Seq(shuffled.take(20), shuffled.slice(20, 40), shuffled.drop(40)), "rtn_three")
    assert(three === one,
      "delta accounting over full per-user history must not depend on batching")
    // and both agree with the batch engine
    val want = graft.EventQueries
      .retentionOf(events.toDF("user_id", "ts_us"), weekly = true)
      .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(one === want)
  }

  test("lastWriteWins keeps latest per key across batches; late data never regresses (T9)") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Streaming.KeyedEvent]
    val q = Streaming.lastWriteWins(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("lww").start()

    input.addData(
      Streaming.KeyedEvent("k1", 1, "v1"),
      Streaming.KeyedEvent("k1", 3, "v3"),
      Streaming.KeyedEvent("k2", 2, "v2"))
    q.processAllAvailable()
    input.addData(Streaming.KeyedEvent("k1", 2, "late")) // late arrival
    q.processAllAvailable()

    val latest = s.table("lww")
      .groupBy("key").agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct("seq", "value", "n_seen"),
        org.apache.spark.sql.functions.col("n_seen")).as("st"))
      .select("key", "st.seq", "st.value", "st.n_seen")
      .as[(String, Long, String, Long)].collect().sortBy(_._1)
    assert(latest === Array(("k1", 3L, "v3", 3L), ("k2", 2L, "v2", 1L)))
    q.stop()
  }
}
