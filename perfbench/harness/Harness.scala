package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, Queries}
import graft.api.Api
import graft.check.Checker
import graft.control.{Control, PlaneStore}
import graft.ingest.{Ingest, Sink}
import graft.ocds.{Canonical, Compile, Upgrade}
import graft.streaming.Streaming

/** Minimal JSON writer for the result document (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => Canonical.mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}

/** Everything one run observed: timings, layer spans, counts for the
  * correctness checks, and operations that failed. Written as JSON for
  * `run.py`, which turns it into metrics. */
final class Result {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.LinkedHashMap.empty[String, (Int, Int)]
  val errors = mutable.ArrayBuffer.empty[String]

  def update(k: String, v: Any): Unit = fields(k) = v

  /** Runs one operation; a throw counts as a failed operation and is kept
    * as a finding, never rethrown. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val (n, f) = ops.getOrElse(kind, (0, 0))
    try { val r = body; ops(kind) = (n + 1, f); Some(r) }
    catch {
      case NonFatal(e) =>
        ops(kind) = (n + 1, f + 1)
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        System.err.println(s"[graftbench] $kind failed: $e")
        None
    }
  }

  def json: String = Json.render(fields ++ Map(
    "ops" -> ops.map { case (k, (n, f)) => k -> Map("attempted" -> n, "failed" -> f) },
    "errors" -> errors))
}

final case class Ctx(
    spark: SparkSession, spans: Spans, res: Result, work: Path,
    seconds: Double, trace: Boolean, cores: Int, input: Path, sfDir: String,
    files: Seq[String], queries: Seq[String], seed: Long) {
  def now: String = "2024-06-01 00:00:00"

  /** Whether to start another timed operation: always until [[Ctx.MinOps]]
    * have run, so the median sits at the same position of the warm-up
    * curve in every run; after that only if one more, at the median time
    * so far, still ends inside the measured window that began at
    * `startNs`. */
  def admit(startNs: Long, walls: Seq[Double]): Boolean =
    walls.size < Ctx.MinOps ||
      (System.nanoTime() - startNs) / 1e9 + walls.sorted.apply(walls.size / 2) <= seconds
}

object Ctx {
  val MinOps = 2
}

object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.install)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = if (trace) Some(new Recorder) else None
    val res = new Result
    res("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    def list(k: String): Seq[String] = a.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    def path(k: String): Path = Paths.get(a.getOrElse(k, ".")).toAbsolutePath
    val ctx = Ctx(spark, new Spans(spark.sparkContext, rec), res, work,
      a("seconds").toDouble, trace, cores, path("input"),
      a.getOrElse("sf", ""), list("files"), list("queries"), a.getOrElse("seed", "0").toLong)
    a("workload") match {
      case "collection_load" => CollectionLoad.run(ctx)
      case "stream_append" => StreamAppend.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    rec.foreach { _ =>
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      res("spans") = ctx.spans.rows()
      res("api_jobs") = ctx.spans.apiTotals()
      res("run_totals") = ctx.spans.runTotals()
    }
    res("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(a("out")), res.json)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(-1.0)

  def dirStats(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val parquet = fs.count(_.getFileName.toString.endsWith(".parquet")).toLong
      (parquet, fs.map(Files.size).sum)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** (ocid, content hash) of every compiled release of `compiledId`: the
    * hash covers every column the compile wrote except the collection id. */
  def compiledPairs(spark: SparkSession, lake: String, compiledId: Long): Seq[(String, String)] = {
    val df = Sink.readFacts(spark, s"$lake/compiled_release")
      .filter(col("collection_id") === compiledId)
    val cols = df.columns.filterNot(Set("collection_id", "filename")).sorted
    df.select(col("ocid"), md5(to_json(struct(cols.map(col).toSeq: _*))).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  def noteCount(spark: SparkSession, lake: String, ids: Set[Long]): Long =
    Sink.readOrEmpty(spark, s"$lake/collection_note")
      .map(_.filter(col("collection_id").isin(ids.toSeq: _*)).count()).getOrElse(0L)

  def checkCounts(spark: SparkSession, lake: String, cid: Long): (Long, Long) =
    Sink.readOrEmpty(spark, s"$lake/release_check").map { df =>
      val c = df.filter(col("collection_id") === cid)
      (c.count(), c.filter(!col("ok")).count())
    }.getOrElse((0L, 0L))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Batch path: `Cli load --upgrade --compile --check` as its stages, one
  * fresh lake per iteration, closed loop with one caller. */
object CollectionLoad {
  import Harness._

  final case class Obs(items: Long, compiled: Long, notes: Long, checkRows: Long,
      checkFailures: Long, compileCheckFailures: Long)

  def iteration(c: Ctx, i: Int): (Obs, String) = {
    val lake = c.work.resolve(s"lake_$i").toString
    val sp = c.spans
    val stage = sp("Pipeline.load") {
      Pipeline.load(c.spark, c.input.toString, lake, 1L, c.now,
        upgrade = true, compile = true, check = true)
    }
    val cs = sp("Pipeline.compile_finish") {
      Pipeline.compileAndFinish(c.spark, lake, stage.plane, 1L, c.now)
    }
    val checked = sp("Pipeline.run_checks") {
      Pipeline.runChecks(c.spark, lake, cs.plane, 1L)
    }
    sp("control.plane_save") { PlaneStore.save(lake, cs.plane) }
    val (rows, failed) = checked.getOrElse((-1L, -1L))
    (Obs(stage.items, cs.compiled, stage.notes + cs.notes, rows, failed, cs.checkFailures), lake)
  }

  def run(c: Ctx): Unit = {
    val res = c.res
    val inputBytes = dirStats(c.input)._2
    res("input_bytes") = inputBytes
    // set-up: a first, cold collection of the same input (not measured)
    val (_, warm) = timed(res.op("warmup") { cleanup(c, iteration(c, 0)._2) })
    res("warmup_s") = warm
    val walls = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    val obs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var digests = Vector.empty[Seq[(String, String)]]
    val start = System.nanoTime()
    var i = 1
    while (c.admit(start, walls.toSeq)) {
      c.spans.setTracing(c.trace && i % 2 == 1)
      res.op("collection") {
        val ((o, lake), wall) = timed(iteration(c, i))
        walls += wall
        traced += c.spans.isTracing
        if (i == 1) {
          val (files, bytes) = dirStats(Paths.get(lake))
          res("lake_files") = files
          res("lake_bytes") = bytes
        }
        digests :+= compiledPairs(c.spark, lake, 3L)
        obs += Map("items" -> o.items, "compiled" -> o.compiled, "notes" -> o.notes,
          "check_rows" -> o.checkRows, "check_failures" -> o.checkFailures,
          "compile_check_failures" -> o.compileCheckFailures,
          "stored_notes" -> noteCount(c.spark, lake, Set(1L, 2L, 3L)))
        cleanup(c, lake)
      }
      i += 1
    }
    res("iteration_s") = walls.toSeq
    res("iteration_traced") = traced.toSeq
    res("observed") = obs.toSeq
    res("compiled_pairs") = digests.map(_.map(p => Seq(p._1, p._2)))
    if (c.trace) {
      isolated(c)
      QueryTour.run(c)
    }
  }

  def cleanup(c: Ctx, lake: String): Unit = {
    c.spark.sql(s"DROP TABLE IF EXISTS ${Pipeline.bucketedCompileTable(lake)}")
    deleteTree(Paths.get(lake))
  }

  /** The layer calls one by one on the same input, after the timed loop so
    * their cost never lands in the end-to-end numbers. */
  def isolated(c: Ctx): Unit = {
    val spark = c.spark
    val paths = Ingest.walk(spark, Seq(c.input.toString))
    val dt = Ingest.detectDataType(spark, paths.head)
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    c.spans.setTracing(true)
    c.res.op("isolated") {
      c.spans("ingest.load_items") { noop(Ingest.loadItems(spark, paths, dt).toDF()) }
      val items = Ingest.loadItems(spark, paths, dt).toDF().persist()
      val n = items.count()
      c.res("isolated_items") = n
      c.spans("ocds.upgrade_items") { noop(Upgrade.upgradeItems(items, spark).toDF()) }
      val up = Upgrade.upgradeItems(items, spark).toDF().persist()
      up.count()
      val releases = up.select(col("ocid"), col("release_date").as("date"),
        col("release_id").as("tiebreak"), col("data").as("release"))
      c.spans("ocds.compile") { noop(Compile.summariesAndWarnings(releases, spark).toDF()) }
      val pkgs = Ingest.loadPackageData(spark, paths, dt).toDF()
      val rows = items.join(pkgs.select("filename", "package_data"), Seq("filename"), "left")
        .select(Checker.checkId.as("id"), col("data"), col("package_data")).persist()
      rows.count()
      c.spans("check.check_items") { noop(Checker.checkItems(rows, "release", spark).toDF()) }
      Seq(items, up, rows).foreach(_.unpersist())
    }
  }
}

/** The api_loader path: an open collection fed by landed files drained
  * with `Streaming.releaseLoadStream`, with an open-loop API reader beside
  * it; closed and compiled at the end. */
object StreamAppend {
  import Harness._

  val FilesPerDrain = 5
  val WarmupDrains = 2
  val ReaderPeriodMs = 1000L

  final case class Read(kind: String, latencyMs: Double, lateMs: Double, ok: Boolean)

  def run(c: Ctx): Unit = {
    val res = c.res
    val spark = c.spark
    val lake = c.work.resolve("lake").toString
    val landingRoot = c.work.resolve("landing")
    Files.createDirectories(Paths.get(lake))
    val api = new Api(spark, lake, 0, Some(landingRoot.toString))
    api.start()
    val base = s"http://127.0.0.1:${api.boundPort}/api/collections"
    val http = HttpClient.newHttpClient()
    try {
      val created = Canonical.parse(post(http, s"$base/",
        """{"source_id": "bench", "data_version": "2024-06-01 00:00:00",
          |"upgrade": true, "compile": true, "check": true}""".stripMargin))
      val root = created.get("collection_id").asLong
      val up = created.get("upgraded_collection_id").asLong
      val compiledId = created.get("compiled_collection_id").asLong
      val landing = Paths.get(created.get("landing_dir").asText)
      val ckpt = landingRoot.resolve(s"collection_$root").resolve("ckpt").toString
      val plane = new AtomicReference(PlaneStore.load(lake))
      val pending = mutable.Queue(c.files: _*)
      val landed = mutable.ArrayBuffer.empty[String]
      val drains = mutable.ArrayBuffer.empty[Map[String, Any]]

      def drain(): Unit = {
        val batch = (1 to FilesPerDrain).flatMap(_ => if (pending.nonEmpty) Some(pending.dequeue()) else None)
        require(batch.nonEmpty, "the rendered input ran out of files")
        val t0 = System.nanoTime()
        val q = c.spans("streaming.drain") {
          batch.foreach { f =>
            val tmp = landing.resolve(s".$f.part")
            Files.copy(c.input.resolve(f), tmp, StandardCopyOption.REPLACE_EXISTING)
            Files.move(tmp, landing.resolve(f), StandardCopyOption.ATOMIC_MOVE)
          }
          val q = Streaming.releaseLoadStream(spark, landing.toString, lake, root, Some(up),
            plane, ckpt, checks = true)
          q.awaitTermination()
          q
        }
        val wall = (System.nanoTime() - t0) / 1e9
        landed ++= batch
        val progress = q.recentProgress.toSeq
        def dur(k: String): Double =
          progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        drains += Map("wall_s" -> wall, "traced" -> c.spans.isTracing,
          "add_batch_ms" -> dur("addBatch"), "trigger_ms" -> dur("triggerExecution"))
      }

      // set-up: the first, cold drain and one more, so the measured drains
      // start further along the JIT warm-up curve
      val (_, warm) = timed((1 to WarmupDrains).foreach(_ => res.op("warmup") { drain() }))
      res("warmup_s") = warm
      val stop = new AtomicBoolean(false)
      val reads = new java.util.concurrent.ConcurrentLinkedQueue[Read]()
      val reader = new Thread(() => readLoop(http, base, root, stop, reads))
      reader.setDaemon(true)
      val start = System.nanoTime()
      reader.start()
      val timedDrains = drains.size
      def timedWalls = drains.drop(timedDrains).map(_("wall_s").asInstanceOf[Double]).toSeq
      while (c.admit(start, timedWalls) && pending.nonEmpty) {
        c.spans.setTracing(c.trace && (drains.size - timedDrains) % 2 == 0)
        res.op("drain") { drain() }
      }
      c.spans.setTracing(c.trace)
      stop.set(true)
      reader.join(30000)
      val rs = reads.asScala.toSeq
      rs.foreach(r => res.op(s"api_${r.kind}") { require(r.ok, s"bad ${r.kind} response") })
      res("drains") = drains.drop(timedDrains).toSeq
      res("reads") = rs.map(r => Map("kind" -> r.kind, "latency_ms" -> r.latencyMs,
        "late_ms" -> r.lateMs, "ok" -> r.ok))
      res("landed_files") = landed.toSeq

      // close and compile once the stream is done (the close latch +
      // compile the API's close runs, as separate timed calls)
      res.op("close_compile") {
        var p = plane.get()
        p = Control.closeCollection(p, root, c.now, landed.size)
        p = Control.closeCollection(p, up, c.now, landed.size)
        val cs = c.spans("Pipeline.compile_finish_stream") {
          Pipeline.compileAndFinish(spark, lake, p, root, c.now)
        }
        plane.set(PlaneStore.save(lake, cs.plane))
        val (files, bytes) = dirStats(Paths.get(lake))
        res("lake_files") = files
        res("lake_bytes") = bytes
        res("input_bytes") = landed.map(f => Files.size(c.input.resolve(f))).sum
        val (checkRows, checkFailures) = checkCounts(spark, lake, root)
        res("observed") = Seq(Map(
          "items" -> Sink.readFacts(spark, s"$lake/release").filter(col("collection_id") === root).count(),
          "compiled" -> cs.compiled, "notes" -> noteCount(spark, lake, Set(root, up, compiledId)),
          "check_rows" -> checkRows, "check_failures" -> checkFailures,
          "compile_check_failures" -> cs.checkFailures))
        res("compiled_pairs") = compiledPairs(spark, lake, compiledId).map(p => Seq(p._1, p._2))
      }
      val metaMs = (1 to 3).flatMap { _ =>
        res.op("api_metadata") {
          val (body, s) = timed(get(http, s"$base/$compiledId/metadata/"))
          require(body._1 == 200 && Canonical.parse(body._2).has("published_from"),
            s"metadata: ${body._1} ${body._2.take(200)}")
          s * 1000
        }
      }
      res("metadata_ms") = metaMs
      if (c.trace) isolated(c, lake, root, up, plane)
    } finally api.stop()
  }

  def isolated(c: Ctx, lake: String, root: Long, up: Long,
      plane: AtomicReference[Control.Plane]): Unit = c.res.op("isolated") {
    c.spans("streaming.recover") {
      Streaming.recoverPartialLoads(c.spark, lake, root, Some(up), plane)
    }
    (1 to 5).foreach(_ => c.spans("control.plane_load") { PlaneStore.load(lake) })
    val p = plane.get()
    (1 to 5).foreach(_ => c.spans("control.plane_save") { PlaneStore.save(lake, p) })
    c.res("plane_kb") = Files.size(Paths.get(PlaneStore.path(lake))) / 1024.0
    val journal = Paths.get(PlaneStore.journalPath(lake))
    c.res("journal_lines") = if (Files.exists(journal)) Files.readAllLines(journal).size else 0
  }

  /** Open loop: request k is due at start + k periods, alternating tree and
    * notes; latency counts from the due time, so a stalled server shows. */
  def readLoop(http: HttpClient, base: String, root: Long, stop: AtomicBoolean,
      out: java.util.concurrent.ConcurrentLinkedQueue[Read]): Unit = {
    val t0 = System.nanoTime()
    var k = 0L
    while (!stop.get()) {
      val due = t0 + k * ReaderPeriodMs * 1000000L
      val wait = (due - System.nanoTime()) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      if (!stop.get()) {
        val kind = if (k % 2 == 0) "tree" else "notes"
        val began = System.nanoTime()
        val ok =
          try {
            val (status, body) = get(http, s"$base/$root/$kind/")
            val js = Canonical.parse(body)
            status == 200 && (if (kind == "tree") js.isArray && js.size() == 3
              else Seq("INFO", "WARNING", "ERROR").forall(l => js.has(l) && js.get(l).isArray))
          } catch { case NonFatal(_) => false }
        val end = System.nanoTime()
        out.add(Read(kind, (end - due) / 1e6, math.max(0L, began - due) / 1e6, ok))
      }
      k += 1
    }
  }

  def get(http: HttpClient, url: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def post(http: HttpClient, url: String, body: String): String = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    require(r.statusCode() == 200, s"create: ${r.statusCode()} ${r.body()}")
    r.body()
  }
}

/** The declared-query layer, measured in the traced collection_load run:
  * one digest pass (correctness and warm-up), then one traced pass in a
  * seeded order, each query split into build, plan and execution. */
object QueryTour {

  val Families: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "TextQueries" -> graft.TextQueries.defs, "VectorQueries" -> graft.VectorQueries.defs,
    "OcdsQueries" -> graft.OcdsQueries.defs, "EventQueries" -> graft.EventQueries.defs,
    "RelationalQueries" -> graft.RelationalQueries.defs)

  def familyOf(name: String): String =
    Families.find(_._2.exists(_.name == name)).map(_._1).getOrElse("other")

  /** Order-insensitive digest of a query's output: row count and the sum
    * of each row's JSON hash. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(col).toSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect().head
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(c: Ctx): Unit = {
    val res = c.res
    val names = c.queries
    val defs = Queries.byName
    val unknown = names.filterNot(defs.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    c.spans.setTracing(false)
    res("query_digests") = names.map { n =>
      n -> res.op("query_digest") { digest(defs(n).run(c.spark, c.sfDir)) }.getOrElse("failed")
    }.toMap
    c.spans.setTracing(true)
    val times = mutable.LinkedHashMap.empty[String, Double]
    new scala.util.Random(c.seed).shuffle(names).foreach { n =>
      val fam = familyOf(n)
      res.op("query") {
        val t0 = System.nanoTime()
        val df = c.spans(s"$fam.build") { defs(n).run(c.spark, c.sfDir) }
        c.spans(s"$fam.plan") { df.queryExecution.executedPlan }
        c.spans(s"$fam.exec") { df.write.mode("overwrite").format("noop").save() }
        times(n) = (System.nanoTime() - t0) / 1e9
      }
    }
    res("query_s") = times
  }
}
