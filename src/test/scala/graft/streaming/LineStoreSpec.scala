package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The incremental first-occurrence line registry behind streaming
  * corpus-wide line dedup: cross-batch keep-first, replay idempotence by
  * historical-view invariance, the batch-pass equivalence (one batch ==
  * lineDedupOf), and compaction neutrality. */
class LineStoreSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def docsDF(rows: Seq[(String, Long, String)]) = {
    import s.implicits._
    rows.toDF("source", "doc_id", "text")
  }

  private def cleanRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id")
      .select("doc_id", "clean_text", "n_lines", "n_dup", "chars_removed")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

  private val b1 = Seq(
    ("a", 1L, "click here to subscribe\nunique alpha content."),
    ("a", 2L, "Click  HERE to subscribe!\nunique beta content."))
  private val b2 = Seq(
    ("a", 3L, "click here to subscribe\nunique gamma content.\n\nnew line."),
    ("b", 4L, "unique beta content.\nfresh delta content."))

  test("cross-batch keep-first: later batches drop lines earlier batches registered") {
    val store = Files.createTempDirectory("graft-linestore").toString
    // batch 0: doc 2's first line normalizes to doc 1's → in-batch dedup
    val c1 = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b1), 0L))
    assert(c1 === Seq(
      (1L, "click here to subscribe\nunique alpha content.", 2L, 0L, 0L),
      (2L, "unique beta content.", 2L, 1L,
        "Click  HERE to subscribe!".length.toLong)))
    // batch 1: doc 3 repeats the registered subscribe line, doc 4 repeats
    // doc 2's kept line; the empty line is outside the domain (kept)
    val c2 = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b2), 1L))
    assert(c2 === Seq(
      (3L, "unique gamma content.\n\nnew line.", 4L, 1L,
        "click here to subscribe".length.toLong),
      (4L, "fresh delta content.", 2L, 1L,
        "unique beta content.".length.toLong)))
    // registry: one row per content first-occurrence — 3 from batch 0
    // (subscribe, alpha, beta), 3 new from batch 1 (gamma, "new line",
    // delta); the empty line never registers and no singleton key leaks
    val reg = s.read.parquet(LineStore.linesPath(store))
    assert(reg.filter(col("lkey").startsWith("s:")).count() === 0L)
    assert(LineStore.keyCount(s, store) === 6L)
    assert(reg.filter(col("batch_id") === 0L).count() === 3L)
    assert(reg.filter(col("batch_id") === 1L).count() === 3L)
  }

  test("one batch against an empty store == the batch pass (shared spellings)") {
    val store = Files.createTempDirectory("graft-linestore-eq").toString
    val got = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b1), 0L))
    val want = cleanRows(graft.TextQueries.lineDedupOf(docsDF(b1)))
    assert(got === want)
  }

  test("replay: a re-run batch yields identical output and fold-away duplicates") {
    val store = Files.createTempDirectory("graft-linestore-replay").toString
    cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b1), 0L))
    val first = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b2), 1L))
    val keys = LineStore.keyCount(s, store)
    // the crash-replay: same batch id re-runs after its append committed.
    // The historical view excludes the remnants, so the cleaned output is
    // byte-identical; the re-append duplicates rows, not keys
    val replay = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b2), 1L))
    assert(replay === first)
    assert(LineStore.keyCount(s, store) === keys)
    val reg = s.read.parquet(LineStore.linesPath(store))
    assert(reg.count() > keys) // duplicate ROWS exist pre-compaction...
    val folded = LineStore.compact(s, store)
    assert(folded === keys) // ...and compaction folds them away
    assert(s.read.parquet(LineStore.linesPath(store)).count() === keys)
    // post-compaction: a third batch still sees the full history
    val c3 = cleanRows(LineStore.appendCleanBatch(
      s, store, docsDF(Seq(("c", 9L, "fresh delta content.\nbrand new."))), 2L))
    assert(c3 === Seq((9L, "brand new.", 2L, 1L,
      "fresh delta content.".length.toLong)))
  }

  test("registry layout: bucket-partitioned directories, keys and offsets only — never line text") {
    val store = Files.createTempDirectory("graft-linestore-layout").toString
    LineStore.appendCleanBatch(s, store, docsDF(b1 ++ b2.map {
      case (src, id, t) => (src, id + 10, t) }), 0L)
    // the 100 TB claim is structural: the registry's schema carries the
    // 32-char key + three longs + lineage — the line TEXT never persists,
    // so the store is keys-sized, not corpus-sized
    val reg = s.read.parquet(LineStore.linesPath(store))
    assert(reg.columns.sorted === Array(
      "batch_id", "doc_id", "key_bucket", "line_idx", "lineage", "lkey"))
    // and the rows land in Hive-style key_bucket=N partition directories
    // (the partition-pruned maintenance layout of the sibling stores)
    val dirs = Option(new java.io.File(LineStore.linesPath(store)).listFiles())
      .toSeq.flatten.filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("key_bucket=")), dirs)
    // bucket values recompute from the stored key — layout and content
    // cannot drift
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    assert(reg.filter(
      pmod(xxhash64(col("lkey")), lit(64L)) =!= col("key_bucket")).count() === 0L)
  }

  test("historical lookup is bucket-pruned: files read < files stored (VERDICT r16 #2)") {
    val store = Files.createTempDirectory("graft-linestore-prune").toString
    // register enough distinct lines to populate most key_bucket
    // partitions (one unique content line per doc → ~200 keys, 64 buckets)
    val many = (0 until 200).map(i => ("a", i.toLong, s"unique line number $i content"))
    LineStore.appendCleanBatch(s, store, docsDF(many), 0L)
    // a one-line batch touches exactly one bucket; the historical slice it
    // elects against must statically prune the registry scan to that
    // bucket's files (the StreamingSpec check-leg discipline)
    val batchKeyed = graft.TextQueries.keyedLinesOf(
      docsDF(Seq(("a", 999L, "unique line number 7 content"))))
    val touched = batchKeyed.filter(col("norm") =!= "")
      .select(pmod(xxhash64(col("lkey")), lit(64L)).as("kb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(touched.size === 1)
    val hist = LineStore.historicalKeys(s, store, "adhoc", 1L, touched)
    // the slice holds the touched bucket's keys only — a strict subset of
    // the 200 registered — and includes the probed line's own key
    val histKeys = hist.collect().map(_.getString(0)).toSet
    val probeKey = batchKeyed.filter(col("norm") =!= "")
      .select("lkey").collect().map(_.getString(0)).toSet
    assert(histKeys.size < 200 && probeKey.subsetOf(histKeys),
      s"slice has ${histKeys.size} keys, probe ${probeKey}")
    // the pruned scan's FILES-READ METRIC — partition pruning's observable
    // effect, immune to the plan string's metadata truncation
    val filesRead = graft.PlanWalk.fileScans(hist.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    val whole = s.read.parquet(LineStore.linesPath(store))
    whole.collect()
    val filesStored = graft.PlanWalk.fileScans(whole.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(filesStored > 10, s"fixture degenerate: only $filesStored files")
    assert(filesRead < filesStored,
      s"bucket pruning read the whole registry ($filesRead of $filesStored files)")
    // and the plan carries the static key_bucket partition filter
    val scanLine = hist.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("key_bucket")), s"no key_bucket filter:\n$scanLine")
  }

  test("replay after compaction: byte-identical output, stable keys") {
    val store = Files.createTempDirectory("graft-linestore-compactreplay").toString
    cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b1), 0L))
    val first = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b2), 1L))
    val keys = LineStore.keyCount(s, store)
    assert(LineStore.compact(s, store) === keys)
    // the crash-replay lands AFTER compaction folded the original rows:
    // the historical view (earlier batches only) is unchanged by either
    // the compaction or the replay's own append, so the cleaned output is
    // byte-identical and the key population stable — the
    // replay × compact interaction the stores share
    val replay = cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b2), 1L))
    assert(replay === first)
    assert(LineStore.keyCount(s, store) === keys)
    // compacting again folds the replay's duplicate rows back away
    assert(LineStore.compact(s, store) === keys)
    assert(s.read.parquet(LineStore.linesPath(store)).count() === keys)
    // and a later batch still sees the full history
    val c3 = cleanRows(LineStore.appendCleanBatch(
      s, store, docsDF(Seq(("c", 9L, "fresh delta content.\nbrand new."))), 2L))
    assert(c3 === Seq((9L, "brand new.", 2L, 1L,
      "fresh delta content.".length.toLong)))
  }

  test("checkpoint-reset lineage: old rows stay historical despite larger batch ids") {
    val store = Files.createTempDirectory("graft-linestore-lineage").toString
    cleanRows(LineStore.appendCleanBatch(s, store, docsDF(b1), 5L, lineage = "q1"))
    // new lineage restarts batch ids at 0: the old lineage's rows must
    // still count as history (lineage != current), or a reset checkpoint
    // would silently re-admit every registered line
    val c = cleanRows(LineStore.appendCleanBatch(
      s, store,
      docsDF(Seq(("a", 7L, "click here to subscribe\npost reset line."))),
      0L, lineage = "q2"))
    assert(c === Seq((7L, "post reset line.", 2L, 1L,
      "click here to subscribe".length.toLong)))
  }
}
