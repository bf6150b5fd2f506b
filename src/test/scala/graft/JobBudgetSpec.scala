package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.control.Control
import graft.streaming.Streaming

/** Spark jobs per pipeline stage, counted by a listener over a fixture
  * collection (load → compileAndFinish → runChecks, with the upgrade leg)
  * and over checked stream drains. On small inputs these stages pay
  * mostly per-job scheduling latency, so each budget is the stage's
  * current job count: a change that puts an eager count, an unschema'd
  * read or a second probe back into a stage fails here. */
class JobBudgetSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  /** `body`'s result and the number of jobs Spark started while it ran.
    * Suites run one at a time in the test JVM, so every job the listener
    * sees in the window is the body's, the stream thread's and adaptive
    * execution's sub-jobs included. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = s.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftBenchBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftBenchBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** A 1.0 package of two releases; the second lacks the required
    * initiationType, so every file has one check failure. */
  private def releasePkg(file: Int): String = {
    val releases = (0 until 2).map { i =>
      s"""{"ocid": "ocds-$file-$i", "id": "r$file-$i", "date": "2020-01-0${i + 1}T00:00:00Z",
         | "tag": ["tender"]${if (i == 0) ", \"initiationType\": \"tender\"" else ""}}""".stripMargin
    }
    s"""{"uri": "http://x/$file", "version": "1.0", "publisher": {"name": "P"},
       | "publishedDate": "2020-01-01T00:00:00Z",
       | "releases": [${releases.mkString(",")}]}""".stripMargin
  }

  private def land(dir: Path, files: Range): Unit =
    files.foreach(f => Files.writeString(dir.resolve(f"p$f%03d.json"), releasePkg(f)))

  test("one collection: load, compile and check stay within their job budgets") {
    val input = Files.createTempDirectory("graft-budget-in")
    land(input, 0 until 5)
    val lake = Files.createTempDirectory("graft-budget-lake").toString
    val now = "2020-06-01 00:00:00"
    val (stage, loadJobs) = jobsOf(
      Pipeline.load(s, input.toString, lake, 1L, now, upgrade = true, check = true))
    val (cs, compileJobs) = jobsOf(Pipeline.compileAndFinish(s, lake, stage.plane, 1L, now))
    val (checked, checkJobs) = jobsOf(Pipeline.runChecks(s, lake, cs.plane, 1L))
    info(s"jobs: load $loadJobs, compile_finish $compileJobs, run_checks $checkJobs")
    assert((stage.items, cs.compiled, cs.checkFailures, checked) ===
      ((10L, 10L, 5L, Some((10L, 5L)))))
    assert(loadJobs <= 15)
    assert(compileJobs <= 9)
    assert(checkJobs <= 3)
  }

  test("one checked drain and one stream-start recovery stay within their job budgets") {
    val base = Files.createTempDirectory("graft-budget-stream")
    val landing = Files.createDirectory(base.resolve("landing"))
    val lake = Files.createDirectory(base.resolve("lake")).toString
    val ckpt = base.resolve("ckpt").toString
    val tree = Control.newTree(Control.Plane(Map.empty), 1L, "budget",
      "2020-01-01 00:00:00", upgrade = true, compile = true, check = true)
      .fold(e => fail(e.mkString), identity)
    val plane = new AtomicReference(tree)
    def drain(files: Range): Int = {
      land(landing, files)
      jobsOf(Streaming.releaseLoadStream(s, landing.toString, lake, 1L, Some(2L), plane, ckpt,
        checks = true).awaitTermination())._2
    }
    drain(0 until 5) // the first drain creates every table
    val drainJobs = drain(5 until 10)
    val (_, recoverJobs) = jobsOf(Streaming.recoverPartialLoads(s, lake, 1L, Some(2L), plane))
    info(s"jobs: drain $drainJobs, recover $recoverJobs")
    assert(plane.get().fileKeys(1L).size === 10)
    assert(drainJobs <= 26)
    assert(recoverJobs <= 2)
  }
}
