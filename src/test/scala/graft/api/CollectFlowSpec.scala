package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Pipeline, SparkSuite}
import graft.control.PlaneStore
import graft.ocds.Canonical
import graft.streaming.Streaming

/** SURVEY §3.2 end-to-end — the Kingfisher-Collect ingest story with every
  * seam crossed for real: the crawler CREATES the collection tree over
  * HTTP, stores files into the landing directory, the STREAMING loader
  * registers + loads each arrival (api_loader + file_worker), the crawler
  * CLOSES over HTTP with its stats, and the compile/check/finish chain
  * runs off the released gate — all composing through the one persisted
  * `_control.json` plane and the lake. */
class CollectFlowSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val s = SparkSuite.spark
  private lazy val lake = Files.createTempDirectory("graft-collect-lake").toString
  private lazy val api = { val a = new Api(s, lake); a.start(); a }
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = api.stop()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}$path"))
        .method("POST", HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())

  private def pkg(ocid: String, rid: String): String =
    s"""{"uri": "http://x/$rid", "version": "1.1", "publisher": {"name": "P"},
       | "publishedDate": "2020-03-01T00:00:00Z",
       | "releases": [{"ocid": "$ocid", "id": "$rid",
       |   "date": "2020-03-01T00:00:00Z", "tag": ["tender"],
       |   "initiationType": "tender"}]}""".stripMargin

  test("crawl lifecycle: API create → landed files stream-load → API close → compile") {
    import s.implicits._
    // 1. the crawler announces itself (views.py create)
    val created = Canonical.parse(post("/api/collections/",
      """{"source_id": "demo_spider", "data_version": "2020-03-01 00:00:00",
        | "compile": true, "note": "crawl started"}""".stripMargin).body())
    val rootId = created.get("collection_id").asLong
    val compiledId = created.get("compiled_collection_id").asLong

    // 2. files land; the streaming loader registers + loads each batch
    val landing = Files.createTempDirectory("graft-collect-landing")
    val ckpt = Files.createTempDirectory("graft-collect-ckpt").toString
    Files.writeString(landing.resolve("f1.json"), pkg("ocds-c1", "r1"))
    Files.writeString(landing.resolve("f2.json"), pkg("ocds-c2", "r2"))
    val planeRef = new java.util.concurrent.atomic.AtomicReference(PlaneStore.load(lake))
    Streaming.releaseLoadStream(s, landing.toString, lake, rootId, None, planeRef, ckpt)
      .awaitTermination()
    assert(s.read.parquet(s"$lake/release")
      .filter($"collection_id" === rootId).count() === 2)

    // 3. the crawler closes with its stats (views.py close) — the close
    // latch + expected-files count release the compile gate
    val close = post(s"/api/collections/$rootId/close/",
      """{"reason": "finished",
        | "stats": {"kingfisher_process_expected_files_count": 2}}""".stripMargin)
    assert(close.statusCode() == 202)

    // 4. the compiler/checker/finisher chain runs off the released gate
    val stage = Pipeline.compileAndFinish(
      s, lake, PlaneStore.load(lake), rootId, "2020-03-02 00:00:00")
    PlaneStore.save(lake, stage.plane)
    assert(stage.compiled === 2L)
    assert(stage.checkFailures === 0L)
    assert(stage.plane.collection(rootId).completedAt.nonEmpty)
    assert(stage.plane.collection(compiledId).completedAt.nonEmpty)

    // 5. the read surfaces see the finished crawl
    val md = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${api.boundPort}/api/collections/$compiledId/metadata/")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(Canonical.parse(md.body()).get("ocid_prefix").asText.startsWith("ocds-c"))
  }

  test("ingest mode: the API itself drives create → land → close → compiled metadata") {
    // a second Api wired with a landing root: the whole §3.2 loop runs
    // over HTTP with the API managing the streaming loader + compile
    val lake2 = Files.createTempDirectory("graft-ingest-lake").toString
    val root = Files.createTempDirectory("graft-ingest-landing").toString
    val api2 = new Api(s, lake2, landingRoot = Some(root))
    api2.start()
    try {
      def post2(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api2.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())

      val created = Canonical.parse(post2("/api/collections/",
        """{"source_id": "ingest_spider", "data_version": "2020-03-01 00:00:00",
          | "compile": true}""".stripMargin).body())
      val rootId = created.get("collection_id").asLong
      val compiledId = created.get("compiled_collection_id").asLong
      val landing = created.get("landing_dir").asText
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(landing)))

      // the crawler lands its files — no further API calls needed
      Files.writeString(java.nio.file.Paths.get(landing, "p1.json"), pkg("ocds-i1", "a1"))
      Files.writeString(java.nio.file.Paths.get(landing, "p2.json"), pkg("ocds-i2", "a2"))

      // close drains the landing dir through the streaming loader, latches,
      // and runs compile/check/finalize off the released gate
      val close = post2(s"/api/collections/$rootId/close/",
        """{"reason": "finished",
          | "stats": {"kingfisher_process_expected_files_count": 2}}""".stripMargin)
      assert(close.statusCode() == 202)

      val plane = PlaneStore.load(lake2)
      assert(plane.filesOf(rootId).size === 2)
      assert(plane.collection(rootId).completedAt.nonEmpty)
      assert(plane.collection(compiledId).completedAt.nonEmpty)
      assert(plane.collection(compiledId).cachedCompiledReleasesCount.contains(2L))

      // metadata over HTTP reflects the compiled counts immediately
      val md = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${api2.boundPort}/api/collections/$compiledId/metadata/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(Canonical.parse(md.body()).get("ocid_prefix").asText.startsWith("ocds-i"))

      // a crawl that found NOTHING still completes its tree on close (the
      // reference's closed-empty contract — code-review r7 finding)
      val c2 = Canonical.parse(post2("/api/collections/",
        """{"source_id": "empty_spider", "data_version": "2020-03-01 00:00:00",
          | "compile": true}""".stripMargin).body())
      val emptyRoot = c2.get("collection_id").asLong
      val emptyCompiled = c2.get("compiled_collection_id").asLong
      assert(post2(s"/api/collections/$emptyRoot/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 0}}""")
        .statusCode() == 202)
      val p2 = PlaneStore.load(lake2)
      assert(p2.collection(emptyRoot).completedAt.nonEmpty)
      assert(p2.collection(emptyCompiled).completedAt.nonEmpty)
      // and a REPLAYED close on the finished tree stays a clean 202 no-op
      assert(post2(s"/api/collections/$emptyRoot/close/", "{}").statusCode() == 202)
    } finally api2.stop()
  }

  test("ingest mode: a record-package crawl compiles per file and finishes on close") {
    // VERDICT r7 task 6 — the drain must not be release-only: the landed
    // format is sniffed by the SAME loadFilesInto the batch path uses, so
    // a record-package collection loads record facts, compiles each file
    // as it loads (the per-file record exception, compiler.py:186-191),
    // latches its format on the plane, and passes completable on close.
    val lakeR = Files.createTempDirectory("graft-rec-lake").toString
    val root = Files.createTempDirectory("graft-rec-landing").toString
    val apiR = new Api(s, lakeR, landingRoot = Some(root))
    apiR.start()
    try {
      def postR(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiR.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      def recPkg(ocid: String, rid: String): String =
        s"""{"uri": "http://x/$rid", "version": "1.1", "publisher": {"name": "R"},
           | "publishedDate": "2020-03-01T00:00:00Z",
           | "records": [{"ocid": "$ocid", "releases": [
           |   {"ocid": "$ocid", "id": "${rid}a", "date": "2020-03-01T00:00:00Z",
           |    "tag": ["planning"], "initiationType": "tender"},
           |   {"ocid": "$ocid", "id": "${rid}b", "date": "2020-03-02T00:00:00Z",
           |    "tag": ["tender"], "initiationType": "tender"}]}]}""".stripMargin

      val created = Canonical.parse(postR("/api/collections/",
        """{"source_id": "record_spider", "data_version": "2020-03-01 00:00:00",
          | "compile": true}""".stripMargin).body())
      val rootId = created.get("collection_id").asLong
      val compiledId = created.get("compiled_collection_id").asLong
      val landing = created.get("landing_dir").asText
      Files.writeString(java.nio.file.Paths.get(landing, "rp1.json"), recPkg("ocds-rp1", "m1"))
      Files.writeString(java.nio.file.Paths.get(landing, "rp2.json"), recPkg("ocds-rp2", "m2"))

      assert(postR(s"/api/collections/$rootId/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 2}}""")
        .statusCode() == 202)

      val plane = PlaneStore.load(lakeR)
      assert(plane.collection(rootId).dataTypeFormat
        .contains(graft.control.Control.Format.RecordPackage))
      assert(plane.filesOf(rootId).size === 2)
      assert(plane.collection(rootId).completedAt.nonEmpty)
      assert(plane.collection(rootId).cachedRecordsCount.contains(2L))
      assert(plane.collection(compiledId).completedAt.nonEmpty)
      assert(plane.collection(compiledId).cachedCompiledReleasesCount.contains(2L))

      // metadata over HTTP reflects the per-file-compiled records
      val md = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${apiR.boundPort}/api/collections/$compiledId/metadata/"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(Canonical.parse(md.body()).get("ocid_prefix").asText.startsWith("ocds-rp"))
    } finally apiR.stop()
  }

  test("ingest mode: the close drain runs streaming checks iff the tree planned a check step") {
    // ADVICE r15: the streaming checker leg had no production caller and
    // no step gate — the API drain now wires `checks` from the reference
    // checker's own gate (`"check" in collection.steps`, checker.py)
    val lakeC = Files.createTempDirectory("graft-chk-lake").toString
    val root = Files.createTempDirectory("graft-chk-landing").toString
    val apiC = new Api(s, lakeC, landingRoot = Some(root))
    apiC.start()
    try {
      def postC(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiC.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      def mkTree(source: String, check: Boolean): Long = {
        val created = Canonical.parse(postC("/api/collections/",
          s"""{"source_id": "$source", "data_version": "2020-03-01 00:00:00",
             | "check": $check}""".stripMargin).body())
        val id = created.get("collection_id").asLong
        val landing = created.get("landing_dir").asText
        Files.writeString(
          java.nio.file.Paths.get(landing, s"$source.json"), pkg(s"ocds-$source", "r1"))
        assert(postC(s"/api/collections/$id/close/",
          """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
          .statusCode() == 202)
        id
      }
      val checked = mkTree("chk_spider", check = true)
      val unchecked = mkTree("nochk_spider", check = false)
      val checks = graft.ingest.Sink
        .readOrEmpty(s, s"$lakeC/release_check")
        .map(_.select("collection_id", "ok"))
        .getOrElse(s.emptyDataFrame)
      import org.apache.spark.sql.functions.col
      // the check-planned tree's streamed arrivals were validated by the
      // drain itself (no batch addchecks ran anywhere in this lake)...
      assert(checks.filter(col("collection_id") === checked).count() === 1L)
      // ...and a tree that never planned checks accreted NO check rows
      assert(checks.filter(col("collection_id") === unchecked).count() === 0L)
    } finally apiC.stop()
  }

  test("ingest mode: close completes a tree that planned no compile step") {
    // the close chain decides from the plane, like `Cli compile`: a
    // compile-less tree has no merge to run, so the close completes it
    // uncompiled instead of leaving it open
    val lakeU = Files.createTempDirectory("graft-nocompile-lake").toString
    val root = Files.createTempDirectory("graft-nocompile-landing").toString
    val apiU = new Api(s, lakeU, landingRoot = Some(root))
    apiU.start()
    try {
      def postU(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiU.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      val created = Canonical.parse(postU("/api/collections/",
        """{"source_id": "plain_spider", "data_version": "2020-03-01 00:00:00",
          | "check": true}""".stripMargin).body())
      assert(!created.has("compiled_collection_id"))
      val id = created.get("collection_id").asLong
      Files.writeString(java.nio.file.Paths.get(
        created.get("landing_dir").asText, "u1.json"), pkg("ocds-u1", "r1"))
      assert(postU(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      val c = PlaneStore.load(lakeU).collection(id)
      assert(c.completedAt.nonEmpty)
      assert(c.cachedReleasesCount.contains(1L))
    } finally apiU.stop()
  }

  test("ingest mode: the close drain runs line dedup iff the tree planned a line_dedup step") {
    // VERDICT r16 #6: the streaming line-dedup leg existed but nothing in
    // the production ingest path enabled it — the API now plans a
    // line_dedup step at create (the check-step pattern) and the close
    // drain wires it through, so the registry ACCRUES ACROSS DRAINS
    val lakeL = Files.createTempDirectory("graft-ldd-lake").toString
    val root = Files.createTempDirectory("graft-ldd-landing").toString
    val apiL = new Api(s, lakeL, landingRoot = Some(root))
    apiL.start()
    try {
      def postL(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiL.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      val created = Canonical.parse(postL("/api/collections/",
        """{"source_id": "ldd_spider", "data_version": "2020-03-01 00:00:00",
          | "line_dedup": true}""".stripMargin).body())
      val id = created.get("collection_id").asLong
      val landing = created.get("landing_dir").asText
      // batch 1: one release; its flattened text registers one line key
      Files.writeString(java.nio.file.Paths.get(landing, "a.json"), pkg("ocds-z1", "r1"))
      assert(postL(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 3}}""")
        .statusCode() == 202)
      // batch 2, drained by the REPLAYED close: the case variant has a
      // different md5 (so it loads as its own doc) but the SAME normalized
      // line — only the cross-batch registry drops it; c is fresh content
      Files.writeString(java.nio.file.Paths.get(landing, "b.json"), pkg("OCDS-Z1", "R1"))
      Files.writeString(java.nio.file.Paths.get(landing, "c.json"), pkg("ocds-z3", "r3"))
      assert(postL(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 3}}""")
        .statusCode() == 202)
      import org.apache.spark.sql.functions.col
      val clean = Streaming.cleanDocs(s, lakeL).filter(col("collection_id") === id)
      assert(clean.count() === 3L)
      // b's single line dropped against a's batch-1 registration
      assert(clean.filter(col("n_dup") === 1L && col("clean_text") === "").count() === 1L)
      assert(clean.filter(col("n_dup") === 0L).count() === 2L)
      // the registry holds exactly a's and c's keys — b registered nothing
      assert(graft.streaming.LineStore.keyCount(
        s, Streaming.lineRegistryPath(lakeL, id)) === 2L)
      // a tree that never planned the step accretes NO registry and no
      // cleaned rows (the check-step gating discipline, Api drainLanding)
      val created2 = Canonical.parse(postL("/api/collections/",
        """{"source_id": "noldd_spider", "data_version": "2020-03-01 00:00:00"}""").body())
      val id2 = created2.get("collection_id").asLong
      val landing2 = created2.get("landing_dir").asText
      Files.writeString(java.nio.file.Paths.get(landing2, "d.json"), pkg("ocds-z9", "r9"))
      assert(postL(s"/api/collections/$id2/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
        graft.streaming.LineStore.linesPath(Streaming.lineRegistryPath(lakeL, id2)))))
      assert(Streaming.cleanDocs(s, lakeL).filter(col("collection_id") === id2).count() === 0L)
    } finally apiL.stop()
  }

  test("ingest mode: the close drain DSIR-scores arrivals iff the tree planned a dsir_score step") {
    // VERDICT r17 #2: quality-at-ingest over HTTP — the API plans a
    // dsir_score step at create (the check/line_dedup-step pattern) and
    // the close drain annotates each arriving doc against the lake's
    // train-once weight model
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val lakeD = Files.createTempDirectory("graft-dsir-lake").toString
    val root = Files.createTempDirectory("graft-dsir-landing").toString
    // the train-once model must exist BEFORE the scored drain (the
    // stream refuses to start without it — StreamingSpec pins that)
    val rawT = Seq((100L, "zz qq ww releases ocid"), (101L, "tender value x"))
      .toDF("doc_id", "text")
    val tgtT = Seq((200L, "releases ocid tender publisher date"))
      .toDF("doc_id", "text")
    graft.TextQueries.dsirWeightsOf(rawT, tgtT, s).toDF("bucket", "w")
      .coalesce(1).write.parquet(Streaming.dsirWeightsPath(lakeD))
    val apiD = new Api(s, lakeD, landingRoot = Some(root))
    apiD.start()
    try {
      def postD(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiD.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      val created = Canonical.parse(postD("/api/collections/",
        """{"source_id": "dsir_spider", "data_version": "2020-03-01 00:00:00",
          | "dsir_score": true}""".stripMargin).body())
      val id = created.get("collection_id").asLong
      val landing = created.get("landing_dir").asText
      Files.writeString(java.nio.file.Paths.get(landing, "a.json"), pkg("ocds-q1", "r1"))
      Files.writeString(java.nio.file.Paths.get(landing, "b.json"), pkg("ocds-q2", "r2"))
      assert(postD(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 2}}""")
        .statusCode() == 202)
      val scores = Streaming.dsirScores(s, lakeD)
        .filter(col("collection_id") === id)
      assert(scores.count() === 2L,
        "both arrivals must carry importance annotations")
      assert(scores.filter(col("logw").isNull).count() === 0L)
      // a tree that never planned the step accretes NO score rows
      val created2 = Canonical.parse(postD("/api/collections/",
        """{"source_id": "nodsir_spider", "data_version": "2020-03-01 00:00:00"}""").body())
      val id2 = created2.get("collection_id").asLong
      Files.writeString(java.nio.file.Paths.get(
        created2.get("landing_dir").asText, "c.json"), pkg("ocds-q9", "r9"))
      assert(postD(s"/api/collections/$id2/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      assert(Streaming.dsirScores(s, lakeD)
        .filter(col("collection_id") === id2).count() === 0L)
    } finally apiD.stop()
  }

  test("ingest mode: the close drain fingerprints media arrivals iff planned") {
    // VERDICT r19 Next #3: FingerprintStore wired into the production
    // ingest path — a media_fingerprint step planned at create (the
    // check/line_dedup step pattern) runs a binaryFile stream over the
    // SAME landing dir's media payloads at every close drain: each
    // decodes ONCE into the lake-level store, and near-dups of
    // already-stored media flag into <lake>/media_dup_flag with names
    // resolvable through the <lake>/media_files registry.
    import org.apache.spark.sql.functions.col
    import graft.multimodal.Multimodal
    val lakeM = Files.createTempDirectory("graft-mfp-lake").toString
    val root = Files.createTempDirectory("graft-mfp-landing").toString
    val apiM = new Api(s, lakeM, landingRoot = Some(root))
    apiM.start()
    try {
      def postM(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiM.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      val created = Canonical.parse(postM("/api/collections/",
        """{"source_id": "mfp_spider", "data_version": "2020-03-01 00:00:00",
          | "media_fingerprint": true}""".stripMargin).body())
      val id = created.get("collection_id").asLong
      val landing = created.get("landing_dir").asText
      // drain 1: a release plus the BASE image and audio land together —
      // the store seeds, nothing flags (probe-before-append)
      Files.writeString(java.nio.file.Paths.get(landing, "a.json"), pkg("ocds-m1", "r1"))
      Files.write(java.nio.file.Paths.get(landing, "base.png"),
        Multimodal.synthPng("srcM", 0L))
      Files.write(java.nio.file.Paths.get(landing, "base.wav"),
        Multimodal.synthWav("srcM", 0L))
      assert(postM(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      def flagNames(): Seq[(String, String, Long)] = {
        val names = s.read.parquet(Streaming.mediaFilesPath(lakeM))
          .select(col("id"), col("name")).distinct()
        graft.ingest.Sink.readOrEmpty(s, Streaming.mediaDupFlagPath(lakeM))
          .map(_.join(names, Seq("id"))
            .join(names.select(col("id").as("dup_of"), col("name").as("dup_name")),
              Seq("dup_of"))
            .select(col("name"), col("dup_name"), col("hamming"))
            .collect().toSeq
            .map(r => (
              r.getString(0).split('/').last, r.getString(1).split('/').last,
              r.getLong(2))))
          .getOrElse(Seq.empty)
      }
      assert(flagNames().isEmpty, "the seeding batch must not flag anything")
      // drain 2 (the replayed close): a NEAR image (≤3-px edit of the
      // base raster), a FAR image (half repaint), a NEAR wav — each
      // near arrival must flag against ITS stored twin only, per kind
      Files.write(java.nio.file.Paths.get(landing, "near.png"),
        Multimodal.synthPng("srcM", 2L))
      Files.write(java.nio.file.Paths.get(landing, "far.png"),
        Multimodal.synthPng("srcM", 1L))
      Files.write(java.nio.file.Paths.get(landing, "near.wav"),
        Multimodal.synthWav("srcM", 2L))
      assert(postM(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      val got = flagNames()
      assert(got.map(f => (f._1, f._2)).toSet
        === Set(("near.png", "base.png"), ("near.wav", "base.wav")), s"got $got")
      assert(got.forall(_._3 <= 6L))
      // drain 3 (nothing new): the flag table must not change — the
      // checkpoint skips drained arrivals, and a keyed replay would
      // rewrite its own partition byte-identically anyway
      assert(postM(s"/api/collections/$id/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      assert(flagNames().toSet === got.toSet)
      // a tree that never planned the step fingerprints nothing: the
      // store's row count is unchanged by its media arrivals
      val storeRows = s.read.parquet(
        graft.streaming.FingerprintStore.fpPath(lakeM)).count()
      val created2 = Canonical.parse(postM("/api/collections/",
        """{"source_id": "nomfp_spider", "data_version": "2020-03-01 00:00:00"}""").body())
      val id2 = created2.get("collection_id").asLong
      val landing2 = created2.get("landing_dir").asText
      Files.writeString(java.nio.file.Paths.get(landing2, "b.json"), pkg("ocds-m9", "r9"))
      Files.write(java.nio.file.Paths.get(landing2, "other.png"),
        Multimodal.synthPng("srcN", 0L))
      assert(postM(s"/api/collections/$id2/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 1}}""")
        .statusCode() == 202)
      assert(s.read.parquet(
        graft.streaming.FingerprintStore.fpPath(lakeM)).count() === storeRows)
    } finally apiM.stop()
  }

  test("ingest mode: the close drain refreshes the corpus-build manifest iff planned") {
    // VERDICT r17 #7: the one-shot q_corpus_build made incremental — a
    // corpus_manifest step planned at create (the check/line_dedup step
    // pattern) refreshes the collection's manifest slice at every close
    // drain, composed over the streaming line-dedup store's cleaned text
    import org.apache.spark.sql.functions.{coalesce, col, sum}
    val lakeM = Files.createTempDirectory("graft-mft-lake").toString
    val root = Files.createTempDirectory("graft-mft-landing").toString
    val apiM = new Api(s, lakeM, landingRoot = Some(root))
    apiM.start()
    try {
      def postM(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${apiM.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      def close(id: Long, expected: Int) =
        assert(postM(s"/api/collections/$id/close/",
          s"""{"stats": {"kingfisher_process_expected_files_count": $expected}}""")
          .statusCode() == 202)
      def manifest = Streaming.corpusManifest(s, lakeM)
      def rawOf(id: Long) = manifest
        .filter(col("collection_id") === id && col("stage") === "raw")

      // collection A plans BOTH the manifest and the line-dedup leg —
      // the manifest must account docs by their CLEANED text
      val cA = Canonical.parse(postM("/api/collections/",
        """{"source_id": "mfa_spider", "data_version": "2020-03-01 00:00:00",
          | "corpus_manifest": true, "line_dedup": true}""".stripMargin).body())
      val idA = cA.get("collection_id").asLong
      val landA = cA.get("landing_dir").asText
      Files.writeString(java.nio.file.Paths.get(landA, "a.json"), pkg("ocds-m1", "r1"))
      close(idA, 3)
      assert(rawOf(idA).agg(sum(col("n_docs"))).head.getLong(0) === 1L,
        "first drain must write the collection's manifest slice")
      // drain 2 via the replayed close: b is a case variant of a (its own
      // md5 → its own doc, but the SAME normalized line — the streaming
      // election empties its cleaned text); c is fresh content
      Files.writeString(java.nio.file.Paths.get(landA, "b.json"), pkg("OCDS-M1", "R1"))
      Files.writeString(java.nio.file.Paths.get(landA, "c.json"), pkg("ocds-m3", "r3"))
      close(idA, 3)
      assert(rawOf(idA).agg(sum(col("n_docs"))).head.getLong(0) === 3L,
        "the replayed close must refresh the slice with the newly drained docs")

      // the manifest ran over the CLEANED composition: byte-identical to
      // the batch engine over cleanDocs-folded text, and strictly fewer
      // raw tokens than the batch engine over the raw slice (b's line
      // was deduped away)
      val plane = PlaneStore.load(lakeM)
      val rawA = Pipeline.collectionDocsOf(s, lakeM, plane.collection(idA)).get
      val composedA = rawA
        .join(Streaming.cleanDocs(s, lakeM)
          .filter(col("collection_id") === idA)
          .select(col("doc_id"), col("clean_text")), Seq("doc_id"), "left")
        .select(col("source"), col("doc_id"),
          coalesce(col("clean_text"), col("text")).as("text"))
      val cols = Seq("stage_idx", "stage", "source", "n_docs", "n_tokens", "n_target")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(rows(manifest.filter(col("collection_id") === idA)) ===
        rows(graft.TextQueries.corpusBuildOf(composedA)))
      val rawTokens = graft.TextQueries.corpusBuildOf(rawA)
        .filter(col("stage") === "raw").agg(sum(col("n_tokens"))).head.getLong(0)
      assert(rawOf(idA).agg(sum(col("n_tokens"))).head.getLong(0) < rawTokens,
        "the manifest must account docs by their line-deduped content")

      // collection B (its own source, no line_dedup): rows ACCRETE per
      // collection — B's partition appears, A's slice is untouched
      val beforeB = rows(manifest.filter(col("collection_id") === idA))
      val cB = Canonical.parse(postM("/api/collections/",
        """{"source_id": "mfb_spider", "data_version": "2020-03-01 00:00:00",
          | "corpus_manifest": true}""".stripMargin).body())
      val idB = cB.get("collection_id").asLong
      Files.writeString(java.nio.file.Paths.get(
        cB.get("landing_dir").asText, "d.json"), pkg("ocds-m9", "r9"))
      close(idB, 1)
      // the partition column reads back type-inferred — compare as longs
      assert(manifest.select(col("collection_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet === Set(idA, idB))
      assert(rows(manifest.filter(col("collection_id") === idA)) === beforeB,
        "closing another collection must not touch this one's slice")
      val rawB = Pipeline.collectionDocsOf(
        s, lakeM, PlaneStore.load(lakeM).collection(idB)).get
      assert(rows(manifest.filter(col("collection_id") === idB)) ===
        rows(graft.TextQueries.corpusBuildOf(rawB)),
        "without line_dedup the slice is the batch q_corpus_build verbatim")

      // totals reconcile with the batch manifest over the UNION of the
      // collections' doc frames: stage-0 is per-doc additive and the
      // sources are disjoint, so the union engine's raw rows must equal
      // the per-collection manifest rows source by source
      val unionRaw = graft.TextQueries.corpusBuildOf(composedA.union(rawB))
        .filter(col("stage") === "raw")
      assert(rows(unionRaw) ===
        rows(manifest.filter(col("stage") === "raw")),
        "per-collection raw rows must reconcile with the union manifest")

      // the CLI reader serves the same slice
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.Cli.main(Array("manifest", lakeM, idA.toString))
      }
      assert(buf.toString("UTF-8").linesIterator.contains(
        s"collection=$idA stage=0:raw source=mfa_spider n_docs=3 " +
          s"n_tokens=${rawOf(idA).agg(sum(col("n_tokens"))).head.getLong(0)} n_target=-"),
        buf.toString("UTF-8"))

      // a tree that never planned the step writes no manifest slice
      val cN = Canonical.parse(postM("/api/collections/",
        """{"source_id": "mfn_spider", "data_version": "2020-03-01 00:00:00"}""").body())
      val idN = cN.get("collection_id").asLong
      Files.writeString(java.nio.file.Paths.get(
        cN.get("landing_dir").asText, "e.json"), pkg("ocds-m7", "r7"))
      close(idN, 1)
      assert(manifest.filter(col("collection_id") === idN).isEmpty)
    } finally apiM.stop()
  }

  test("ingest mode: a file landing after close is loaded by the replayed close") {
    // ADVICE r7: announced-but-late files stranded the tree forever — the
    // first close drained 1 of 2 expected files, so compilable() gated
    // false, and no code path ever loaded the second file. A replayed
    // close must RE-DRAIN the landing dir before retrying the compile.
    val lake3 = Files.createTempDirectory("graft-late-lake").toString
    val root = Files.createTempDirectory("graft-late-landing").toString
    val api3 = new Api(s, lake3, landingRoot = Some(root))
    api3.start()
    try {
      def post3(path: String, body: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api3.boundPort}$path"))
            .method("POST", HttpRequest.BodyPublishers.ofString(body))
            .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      val created = Canonical.parse(post3("/api/collections/",
        """{"source_id": "late_spider", "data_version": "2020-03-01 00:00:00",
          | "compile": true}""".stripMargin).body())
      val rootId = created.get("collection_id").asLong
      val compiledId = created.get("compiled_collection_id").asLong
      val landing = created.get("landing_dir").asText

      // one file lands before close; the spider announces TWO
      Files.writeString(java.nio.file.Paths.get(landing, "l1.json"), pkg("ocds-l1", "x1"))
      assert(post3(s"/api/collections/$rootId/close/",
        """{"stats": {"kingfisher_process_expected_files_count": 2}}""")
        .statusCode() == 202)
      val stuck = PlaneStore.load(lake3)
      assert(stuck.fileCount(rootId) === 1)
      assert(stuck.collection(compiledId).completedAt.isEmpty) // gate held

      // the late file lands; a replayed close re-drains and finishes
      Files.writeString(java.nio.file.Paths.get(landing, "l2.json"), pkg("ocds-l2", "x2"))
      assert(post3(s"/api/collections/$rootId/close/", "{}").statusCode() == 202)
      val done = PlaneStore.load(lake3)
      assert(done.fileCount(rootId) === 2)
      assert(done.collection(rootId).completedAt.nonEmpty)
      assert(done.collection(compiledId).completedAt.nonEmpty)
      assert(done.collection(compiledId).cachedCompiledReleasesCount.contains(2L))
    } finally api3.stop()
  }
}
