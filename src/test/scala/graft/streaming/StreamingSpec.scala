package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** graft.streaming semantics: landed packages of every format load per
  * micro-batch through the batch loader, record packages compiling per
  * file (T4's record-package path, `compiler.py:146-148`), with
  * plane-keyed replay and crash recovery, and the document legs the
  * close drain gates on planned steps. */
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
}
