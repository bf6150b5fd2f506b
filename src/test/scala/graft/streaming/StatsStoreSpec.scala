package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The persistent corpus-stats sketches (5th store): exact-regime union
  * correctness across batches, same-lineage replay idempotence, the
  * lineage-reset fold, param-mismatch rejection, save/load round-trip,
  * driver-fold-vs-one-shot-aggregate parity, and a MemoryStream
  * end-to-end. */
class StatsStoreSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft-statsstore").toString

  private def docs(texts: String*): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    texts.toDF("text")
  }

  test("two batches fold to exact union stats; replay is a no-op") {
    val dir = tmpDir()
    val s1 = StatsStore.appendBatch(dir, docs("a b c", "a a"), "text", batchId = 0L)
    assert(s1.nDocs === 2L && s1.nTokens === 5L)
    assert(s1.distinctTokens === ((3L, true)))
    // lengths 2 and 3: p50 = 2nd-smallest at rank ceil(2*50/100)=1 -> 2
    assert(s1.lengthQuantiles === ((2L, 2L, 3L, 3L, 3L)))
    val s2 = StatsStore.appendBatch(dir, docs("c d e f g"), "text", batchId = 1L)
    assert(s2.nDocs === 3L && s2.nTokens === 10L)
    assert(s2.distinctTokens === ((7L, true)))
    assert(s2.lengthQuantiles === ((3L, 3L, 5L, 5L, 5L)))
    // replay of batch 1: nothing moves
    val s3 = StatsStore.appendBatch(dir, docs("c d e f g"), "text", batchId = 1L)
    assert(s3.nDocs === s2.nDocs && s3.distinctTokens === s2.distinctTokens)
    // and the stored document round-trips
    val loaded = StatsStore.load(dir).get
    assert(loaded.distinctTokens === s2.distinctTokens)
    assert(loaded.lengthQuantiles === s2.lengthQuantiles)
    assert(loaded.nDocs === s2.nDocs && loaded.nTokens === s2.nTokens)
  }

  test("null-text docs sit outside the readout — all legs, like the batch twins") {
    // q_length_sketch/q_dataset_card pin that null-text docs are outside
    // the corpus readout entirely; without one consistent filter the legs
    // diverge (size(split(null)) is null under ANSI: the doc drops from
    // the quantile sketch but count(lit(1)) still counts it into n_docs)
    import s.implicits._
    val dir = tmpDir()
    val batch = Seq(Some("a b c"), None, Some("a a"), None).toDF("text")
    val st = StatsStore.appendBatch(dir, batch, "text", batchId = 0L)
    assert(st.nDocs === 2L, "null-text docs leaked into n_docs")
    assert(st.nTokens === 5L)
    assert(st.distinctTokens === ((3L, true)))
    // lengths n must equal n_docs — the store==query equivalence claim
    assert(st.lengthQuantiles === ((2L, 2L, 3L, 3L, 3L)))
    // and the KMV doc denominator follows the same doc set
    val dir2 = tmpDir()
    val srcBatch = Seq((Some("a b"), "s1"), (None, "s1"))
      .toDF("text", "src")
    val st2 = StatsStore.appendBatch(dir2, srcBatch, "text", batchId = 0L,
      sourceCol = Some("src"))
    assert(st2.nDocs === 1L && st2.kmvDocs === 1L)
  }

  test("lineage reset: a new lineage's batch 0 folds instead of being dropped") {
    val dir = tmpDir()
    StatsStore.appendBatch(dir, docs("x y"), "text", batchId = 0L, lineage = "run-a")
    StatsStore.appendBatch(dir, docs("z"), "text", batchId = 1L, lineage = "run-a")
    val sk = StatsStore.appendBatch(dir, docs("w w"), "text", batchId = 0L, lineage = "run-b")
    assert(sk.distinctTokens === ((4L, true)), "new-lineage batch dropped")
    assert(sk.nDocs === 3L && sk.lastBatchId === 0L && sk.lineage === Some("run-b"))
    // the guard re-arms within the new lineage
    val sk2 = StatsStore.appendBatch(dir, docs("w w"), "text", batchId = 0L, lineage = "run-b")
    assert(sk2.nDocs === 3L)
  }

  test("param mismatch with an existing store is rejected loudly") {
    val dir = tmpDir()
    StatsStore.appendBatch(dir, docs("a"), "text", batchId = 0L, precision = 12)
    val e = intercept[IllegalArgumentException] {
      StatsStore.appendBatch(dir, docs("b"), "text", batchId = 1L, precision = 14)
    }
    assert(e.getMessage.contains("param"))
  }

  test("driver fold across batches equals one aggregate over the union (both sketches)") {
    import s.implicits._
    val rnd = new scala.util.Random(11)
    def texts(n: Int): Seq[String] = Seq.fill(n)(
      Seq.fill(5 + rnd.nextInt(20))(s"t${rnd.nextInt(300)}").mkString(" "))
    val (a, b) = (texts(40), texts(40))
    val dir = tmpDir()
    StatsStore.appendBatch(dir, docs(a: _*), "text", batchId = 0L)
    val folded = StatsStore.appendBatch(dir, docs(b: _*), "text", batchId = 1L)
    graft.functions.GraftExtensions.ensureRegistered(s)
    val union = (a ++ b).toDF("text")
    val d = union.selectExpr("explode(split(text, ' ')) AS tok")
      .selectExpr("distinct_sketch(tok, 14) AS sk").selectExpr("sk.est", "sk.exact").head()
    assert(folded.distinctTokens === ((d.getLong(0), d.getBoolean(1))))
    val q = union.selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS len")
      .selectExpr("quantile_sketch(len, 4096) AS q")
      .selectExpr("q.n", "q.p50", "q.p90", "q.p99", "q.max").head()
    assert(folded.lengthQuantiles ===
      ((q.getLong(0), q.getLong(1), q.getLong(2), q.getLong(3), q.getLong(4))))
  }

  test("foreachBatch end-to-end: a MemoryStream keeps the stats current") {
    import s.implicits._
    val dir = tmpDir()
    val input = MemoryStream[String](s)
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StatsStore.appendBatch(dir, batch.withColumnRenamed("value", "text"), "text", id)
        ()
      }
      .start()
    try {
      input.addData("alpha beta", "alpha")
      q.processAllAvailable()
      assert(StatsStore.load(dir).get.distinctTokens === ((2L, true)))
      input.addData("gamma delta epsilon")
      q.processAllAvailable()
      val sk = StatsStore.load(dir).get
      assert(sk.distinctTokens === ((5L, true)))
      assert(sk.nDocs === 3L && sk.nTokens === 6L)
      assert(sk.lengthQuantiles === ((3L, 2L, 3L, 3L, 3L)))
      assert(sk.lastBatchId === 1L)
    } finally q.stop()
  }

  private def srcDocs(rows: (String, String)*): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    rows.toDF("source", "text")
  }

  test("per-source KMV sketches fold across batches to the one-shot batch engine's") {
    val rnd = new scala.util.Random(7)
    def text(ns: String, n: Int): String =
      Seq.fill(n)(s"$ns${rnd.nextInt(40)}").mkString(" ")
    // two sources, shingle spaces overlapping via a shared namespace;
    // enough distinct 3-grams to cross the k = 16 bound in source "web"
    val batchA = Seq.fill(6)("web" -> text("w", 30)) ++
      Seq.fill(4)("books" -> text("shared", 25))
    val batchB = Seq.fill(6)("web" -> text("shared", 30)) ++
      Seq.fill(4)("books" -> text("b", 25))
    val dir = tmpDir()
    StatsStore.appendBatch(dir, srcDocs(batchA: _*), "text", batchId = 0L,
      sourceCol = Some("source"), kmvK = 16)
    val folded = StatsStore.appendBatch(dir, srcDocs(batchB: _*), "text",
      batchId = 1L, sourceCol = Some("source"), kmvK = 16)
    // the store's fold across TIME must equal the batch engine's one-shot
    // sketch over the union — the mergeability contract that lets per-day
    // sketches combine at 100 TB without re-touching the corpus
    val oneShot = graft.TextQueries
      .kmvSketchOf(srcDocs((batchA ++ batchB): _*), key = "source", k = 16)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .toMap
    assert(folded.kmv.keySet === oneShot.keySet)
    for ((src, mins) <- oneShot)
      assert(folded.kmv(src).sameElements(mins),
        s"$src: ${folded.kmv(src).toSeq} != ${mins.toSeq}")
    // replay folds nothing
    val replay = StatsStore.appendBatch(dir, srcDocs(batchB: _*), "text",
      batchId = 1L, sourceCol = Some("source"), kmvK = 16)
    for ((src, mins) <- folded.kmv)
      assert(replay.kmv(src).sameElements(mins))
    // and the estimate regime is live: "web" saw > 16 distinct shingles
    assert(folded.kmv("web").length === 16)
  }

  test("overlap readout off the store equals the batch kmvOverlapOf rows") {
    val rnd = new scala.util.Random(13)
    def text(ns: String, n: Int): String =
      Seq.fill(n)(s"$ns${rnd.nextInt(30)}").mkString(" ")
    // web and books share 3 literal documents (guaranteed common
    // shingles); code's namespace is disjoint from both
    val mirrored = Seq.fill(6)(text("w", 28))
    val rows = (Seq.fill(8)(text("w", 28)) ++ mirrored).map("web" -> _) ++
      (Seq.fill(8)(text("b", 28)) ++ mirrored).map("books" -> _) ++
      Seq.fill(8)("code" -> text("c", 28))
    val dir = tmpDir()
    val st = StatsStore.appendBatch(dir, srcDocs(rows: _*), "text",
      batchId = 0L, sourceCol = Some("source"), kmvK = 16)
    val expected = graft.TextQueries
      .kmvOverlapOf(
        graft.TextQueries.kmvSketchOf(srcDocs(rows: _*), key = "source", k = 16),
        k = 16)
      .collect()
    val got = st.kmvOverlap
    assert(got.size === expected.length && got.size === 3) // all 3 pairs
    for ((e, g) <- expected.zip(got)) {
      assert(g.sourceA === e.getAs[String]("source_a"))
      assert(g.sourceB === e.getAs[String]("source_b"))
      assert(g.nUnionMinima === e.getAs[Long]("n_union_minima"))
      assert(g.kBoth === e.getAs[Long]("k_both"))
      assert(g.hK === e.getAs[Long]("h_k"))
      assert(g.exact === e.getAs[Boolean]("exact"))
      assert(g.estUnion === e.getAs[Long]("est_union"))
      assert(g.estInter === e.getAs[Long]("est_inter"))
      assert(g.jaccardPpm === e.getAs[Long]("jaccard_ppm"))
    }
    // web/books share the "w" namespace; code shares nothing
    val wb = got.find(p => p.sourceA == "books" && p.sourceB == "web").get
    assert(wb.kBoth > 0L)
    val bc = got.find(p => p.sourceA == "books" && p.sourceB == "code").get
    assert(bc.kBoth === 0L)
  }

  test("null source rows fold into totals but not the KMV map; the store still saves") {
    import s.implicits._
    val rows = Seq(("web", "alpha beta gamma delta"),
      (null.asInstanceOf[String], "epsilon zeta eta theta"))
    val dir = tmpDir()
    val st = StatsStore.appendBatch(dir, rows.toDF("source", "text"), "text",
      batchId = 0L, sourceCol = Some("source"), kmvK = 16)
    // a null map key would have blown up the json save AFTER the Spark
    // jobs ran; instead the null-source doc is excluded from the sketch
    // (no identity to appear in the matrix under) yet counted in totals
    assert(st.kmv.keySet === Set("web"))
    assert(st.nDocs === 2L && st.kmvDocs === 2L)
    assert(StatsStore.load(dir).get.kmv.keySet === Set("web"))
  }

  test("a sourceCol-free append neither rejects nor restamps a non-default kmv_k") {
    val dir = tmpDir()
    StatsStore.appendBatch(dir, srcDocs("web" -> "a b c d"), "text",
      batchId = 0L, sourceCol = Some("source"), kmvK = 16)
    // the old unconditional param check threw here (requested default 128
    // vs stored 16) even though this call requests no KMV work at all
    val st = StatsStore.appendBatch(dir, docs("x y z"), "text", batchId = 1L)
    assert(st.kmvK === 16 && st.kmv.keySet === Set("web"))
    // coverage honestly recorded: 1 of 2 docs went through the KMV leg
    assert(st.nDocs === 2L && st.kmvDocs === 1L)
    // and a KMV call with a genuinely different k still rejects
    val e = intercept[IllegalArgumentException] {
      StatsStore.appendBatch(dir, srcDocs("web" -> "e f g"), "text",
        batchId = 2L, sourceCol = Some("source"), kmvK = 32)
    }
    assert(e.getMessage.contains("kmv_k"))
  }

  test("overlap pair ordering matches Spark's UTF-8 binary order beyond the BMP") {
    // U+1F600 (surrogate pair, sorts LOW in UTF-16 code units, HIGH in
    // UTF-8 bytes) vs U+FFFD — the orderings disagree, and the store's
    // readout must take Spark's side to stay the query's bit-exact twin
    val hi = "😀src"
    val lo = "�src"
    val rows = Seq(hi -> "alpha beta gamma delta",
      lo -> "alpha beta gamma epsilon")
    val dir = tmpDir()
    val st = StatsStore.appendBatch(dir, srcDocs(rows: _*), "text",
      batchId = 0L, sourceCol = Some("source"), kmvK = 16)
    val exp = graft.TextQueries
      .kmvOverlapOf(
        graft.TextQueries.kmvSketchOf(srcDocs(rows: _*), key = "source", k = 16),
        k = 16)
      .collect()
    val got = st.kmvOverlap
    assert(got.size === 1 && exp.length === 1)
    assert(got.head.sourceA === exp.head.getAs[String]("source_a"))
    assert(got.head.sourceB === exp.head.getAs[String]("source_b"))
    assert(got.head.sourceA === lo, "UTF-16 ordering leaked into the readout")
  }

  test("driver twin equals the engine on randomized sketches across regimes") {
    import s.implicits._
    import graft.functions.{HllBuffer, QBuffer}
    graft.functions.GraftExtensions.ensureRegistered(s)
    // 20 seeded trials of 2-4 sources whose distinct-set sizes straddle
    // k = 8, non-ASCII names included: every trial must produce
    // field-identical pairs from TextQueries.kmvOverlapOf and the
    // store's driver-side Stats.kmvOverlap — the bit-for-bit twin
    // contract, exercised over exact, estimate and mixed regimes
    val rnd = new scala.util.Random(42)
    val k = 8
    val pool = (1L to 60L).map(h => h * 7919L + 13L)
    for (trial <- 1 to 20) {
      val names = Seq("web", "books😀", "c-source", "�src")
      val sets = (0 until 2 + rnd.nextInt(3)).map { i =>
        names(i) -> rnd.shuffle(pool).take(1 + rnd.nextInt(16)).toSeq
      }.toMap
      val mins = sets.map { case (n, v) => n -> v.sorted.take(k).toArray }
      val engine = graft.TextQueries
        .kmvOverlapOf(
          mins.toSeq.map { case (n, m) => (n, m.toSeq) }.toDF("source", "mins"),
          k = k)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5),
            r.getLong(6), r.getLong(7), r.getLong(8)))
        .toMap
      val stats = StatsStore.Stats(14, 4096, 0L, 0L, 0L,
        new HllBuffer(new java.util.HashSet[java.lang.Long](), null),
        new QBuffer(new java.util.HashMap[java.lang.Long, Array[Long]](), false),
        kmv = mins, kmvK = k)
      val twin = stats.kmvOverlap
        .map(p => (p.sourceA, p.sourceB) ->
          (p.nUnionMinima, p.kBoth, p.hK, p.exact, p.estUnion, p.estInter,
            p.jaccardPpm))
        .toMap
      assert(twin === engine, s"trial $trial diverged (sets: ${
        sets.view.mapValues(_.size).toMap})")
    }
  }

  test("Cli corpus-stats flags PARTIAL coverage when batches skipped the KMV leg") {
    val lake = Files.createTempDirectory("graft-stats-cli-part").toString
    StatsStore.appendBatch(s"$lake/stats_sketch",
      srcDocs("web" -> "alpha beta gamma delta"), "text",
      batchId = 0L, sourceCol = Some("source"), kmvK = 16)
    StatsStore.appendBatch(s"$lake/stats_sketch",
      docs("x y z"), "text", batchId = 1L)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.Cli.run(Array("corpus-stats", lake))
    }
    val text = out.toString("UTF-8")
    assert(text.contains("kmv_sources=1 kmv_k=16 kmv_docs=1 PARTIAL(n_docs=2)"), text)
  }

  test("Cli corpus-stats prints overlap lines when per-source sketches are stored") {
    val lake = Files.createTempDirectory("graft-stats-cli-kmv").toString
    StatsStore.appendBatch(s"$lake/stats_sketch",
      srcDocs(
        "web" -> "alpha beta gamma delta epsilon",
        "books" -> "alpha beta gamma delta zeta"),
      "text", batchId = 0L, sourceCol = Some("source"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.Cli.run(Array("corpus-stats", lake))
    }
    val text = out.toString("UTF-8")
    assert(text.contains("kmv_sources=2"), text)
    // each doc has 3 shingles, 2 shared (alpha-beta-gamma,
    // beta-gamma-delta); tiny docs sit in the exact regime so the line
    // is true set algebra
    assert(text.contains("overlap a=books b=web"), text)
    assert(text.contains("est_union=4 est_inter=2"), text)
    assert(text.contains("exact=true"), text)
  }

  test("Cli corpus-stats prints the stored readout") {
    val lake = Files.createTempDirectory("graft-stats-cli").toString
    StatsStore.appendBatch(s"$lake/stats_sketch",
      docs("a b c", "a a"), "text", batchId = 0L)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.Cli.run(Array("corpus-stats", lake))
    }
    val text = out.toString("UTF-8")
    assert(text.contains("n_docs=2 n_tokens=5 distinct_tokens=3 exact=true"), text)
    assert(text.contains("len_n=2 len_p50=2 len_p90=3 len_p99=3 len_max=3"), text)
  }

  test("releaseLoadStream with corpusStats keeps <lake>/stats_sketch current") {
    val baseDir = Files.createTempDirectory("graft-statsstream")
    val landing = Files.createDirectories(baseDir.resolve("landing"))
    val lake = Files.createDirectories(baseDir.resolve("lake")).toString
    val ckpt = baseDir.resolve("ckpt").toString
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        73L -> graft.control.Control.Collection(73L, "api", "2020-01-01 00:00:00"))))
    def pkg(rid: String, desc: String): String =
      s"""{"uri": "http://x/$rid", "version": "1.1", "publisher": {"name": "P"},
         | "publishedDate": "2020-01-01T00:00:00Z",
         | "releases": [{"ocid": "ocds-st1", "id": "$rid",
         |   "date": "2020-01-01T00:00:00Z", "tag": ["tender"],
         |   "initiationType": "tender", "description": "$desc"}]}""".stripMargin
    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 73L, None, plane,
        ckpt, corpusStats = true).awaitTermination()

    Files.writeString(landing.resolve("a.json"), pkg("r1", "zeta zeta"))
    runOnce()
    val sk1 = StatsStore.load(s"$lake/stats_sketch").get
    assert(sk1.nDocs === 1L && sk1.distinctTokens._2, sk1)
    Files.writeString(landing.resolve("b.json"), pkg("r2", "eta theta"))
    runOnce()
    val sk2 = StatsStore.load(s"$lake/stats_sketch").get
    assert(sk2.nDocs === 2L)
    assert(sk2.distinctTokens._1 > sk1.distinctTokens._1, s"$sk1 vs $sk2")
    // the per-source KMV sketch rides the same leg: one entry under the
    // collection's source id, grown by the second batch
    assert(sk1.kmv.keySet === Set("api"), sk1.kmv.keySet)
    assert(sk2.kmv("api").length > sk1.kmv("api").length,
      s"${sk1.kmv("api").length} !< ${sk2.kmv("api").length}")
  }

  test("checkpoint reset + genuinely new file: the stream counts it (not a silent drop)") {
    // after a first drain the checkpoint dir is deleted AND a new file
    // lands; the restarted stream delivers it as batch 0 again, under a
    // new lineage, so the lineage-scoped guard must fold it — a plain
    // batch-id guard would drop it as a replay of the old batch 0
    val baseDir = Files.createTempDirectory("graft-statslineage")
    val landing = Files.createDirectories(baseDir.resolve("landing"))
    val lake = Files.createDirectories(baseDir.resolve("lake")).toString
    val ckpt = baseDir.resolve("ckpt").toString
    val plane = new java.util.concurrent.atomic.AtomicReference(
      graft.control.Control.Plane(Map(
        74L -> graft.control.Control.Collection(74L, "api", "2020-01-01 00:00:00"))))
    def pkg(rid: String, desc: String): String =
      s"""{"uri": "http://x/$rid", "version": "1.1", "publisher": {"name": "P"},
         | "publishedDate": "2020-01-01T00:00:00Z",
         | "releases": [{"ocid": "ocds-st2", "id": "$rid",
         |   "date": "2020-01-01T00:00:00Z", "tag": ["tender"],
         |   "initiationType": "tender", "description": "$desc"}]}""".stripMargin
    def runOnce(): Unit =
      Streaming.releaseLoadStream(s, landing.toString, lake, 74L, None, plane,
        ckpt, corpusStats = true).awaitTermination()

    Files.writeString(landing.resolve("a.json"), pkg("r1", "delta delta"))
    runOnce()
    val sk1 = StatsStore.load(s"$lake/stats_sketch").get
    assert(sk1.nDocs === 1L && sk1.lastBatchId === 0L, sk1)
    // reset the checkpoint, land a NEW file: it arrives as batch 0 again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    Files.writeString(landing.resolve("b.json"), pkg("r2", "epsilon"))
    runOnce()
    val sk2 = StatsStore.load(s"$lake/stats_sketch").get
    assert(sk2.nDocs === 2L, s"new-lineage batch silently dropped: $sk2")
    assert(sk2.lastBatchId === 0L && sk2.lineage != sk1.lineage, s"$sk1 vs $sk2")
    assert(sk2.nTokens > sk1.nTokens, s"$sk1 vs $sk2")
  }
}
