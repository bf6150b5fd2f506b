package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.TextQueries

/** Persistent MinHash signature store — the seam that composes the batch
  * LSH engine with the streaming surface (VERDICT r11 Next #5: a doc
  * arriving via releaseLoadStream got exact-hash dedup but no near-dup
  * signature; the batch engine and the stream didn't compose).
  *
  * Two lake tables, both PRUNING-PARTITIONED so a micro-batch probe never
  * scans the whole store (the check tables' `check_bucket` idiom,
  * `Pipeline.checkedSlice`):
  *  - `neardup_sigs`: one row per (source, doc_id, band_id, band_hash),
  *    partitioned by `band_bucket = pmod(band_hash, 64)` — a batch's
  *    probe reads only the partitions its own band hashes land in;
  *  - `neardup_docs`: one row per doc (doc_id, nt, hs = sorted token
  *    hashes), partitioned by `doc_bucket = pmod(xxhash64(doc_id), 64)` —
  *    the verify leg reads only the candidates' partitions.
  *
  * Per-batch flow (probe BEFORE append, so a doc never matches itself):
  * batch docs → band signatures (bit-identical to the batch engine's —
  * [[TextQueries.minhashBandSigsOf]] is the same code) → bucket-pruned
  * candidate join against the store → bucket-pruned verify join
  * (codegen'd sorted-intersect, jaccard ≥ 0.9, the batch engine's exact
  * verify contract) → flags (new_doc, dup_of, jaccard); then the batch's
  * signatures append.
  *
  * Join strategy is DETERMINISTIC (shuffle_hash), not estimate-driven:
  * the store side grows with the corpus and the batch side is
  * trigger-bounded but not statically sized — the same
  * no-estimate-dependent-broadcast rule the batch engine's verify join
  * pins (ScaleShapeSpec's robust-join probe). The bucket-membership
  * collects are driver-bounded by the PARTITION DOMAIN (≤ 64 values),
  * never by data volume.
  *
  * Exactly-once posture: signature appends ride the load path's
  * file-granular idempotence (a replayed batch's files are already
  * registered, so the caller skips the whole probe+append); the rare
  * crash window between a lake commit and the plane save can duplicate
  * sig rows, which the probe tolerates (candidates are DISTINCT and the
  * verify is per-pair) and compaction folds away — the same
  * duplicate-tolerant contract as the outcome tables. */
object NeardupStore {

  /** Partition-pruning bucket domain for both tables: 64 directories is
    * coarse enough that tiny batches still prune (a one-doc batch touches
    * ≤ 16 of 64) and small enough that the partition listing stays a
    * metadata no-op at any corpus size. */
  val Buckets = 64

  def sigPath(lake: String): String = s"$lake/neardup_sigs"
  def docPath(lake: String): String = s"$lake/neardup_docs"

  private def bandBucket = pmod(col("band_hash"), lit(Buckets.toLong))
  private def docBucketOf(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(Buckets.toLong))

  /** Append `docs` ((source, doc_id, text)) signatures + verification
    * frames to the store. One narrow shuffle per table (repartition on
    * the partition key keeps file counts = touched buckets per batch,
    * not tasks × buckets). */
  def append(lake: String, docs: DataFrame): Unit = {
    val sigs = TextQueries.minhashBandSigsOf(docs)
      .withColumn("band_bucket", bandBucket)
    sigs.repartition(col("band_bucket"))
      .write.mode("append").partitionBy("band_bucket").parquet(sigPath(lake))
    val dh = TextQueries.tokenHashFrameOf(docs)
      .withColumn("doc_bucket", docBucketOf(col("doc_id")))
    dh.repartition(col("doc_bucket"))
      .write.mode("append").partitionBy("doc_bucket").parquet(docPath(lake))
  }

  /** Small-file + duplicate-row maintenance for the two store tables
    * (the streaming-store analogue of [[graft.ingest.Sink.compactCollection]]):
    * every micro-batch appends up to `touched-buckets` part files per table, so
    * a long-lived stream fragments the store into thousands of tiny
    * files, and the at-least-once replay window can leave exact duplicate
    * rows (harmless to the probe, dead weight on disk). Compaction
    * rewrites each table DISTINCT, one file per bucket partition.
    *
    * MUST only run against a terminated stream: the fold reads a
    * snapshot of the table and then replaces the whole directory, so a
    * batch appended while it runs is swept with the old table and lost.
    * Commit protocol per table, all
    * renames on the same filesystem:
    *   write distinct → `_compact_tmp` (invisible to readers) →
    *   rename `_compact_tmp` → `_compact_ready` (completeness marker) →
    *   rename table → `_compact_old` → rename `_compact_ready` → table →
    *   sweep `_compact_old`.
    * A crash anywhere self-heals on the next call: an unmarked tmp is
    * deleted (incomplete write), a ready dir with the table still present
    * is stale and deleted (it derived from the current table; the rewrite
    * reruns), a ready dir with the table ABSENT is promoted (the one
    * crash point between the two live renames), a leftover old dir with
    * the table present is swept. Readers see the old table or the new
    * one; the absence window is the single rename pair, as in
    * `Sink.swapCollectionPartition`. Returns (sig rows, doc rows). */
  def compact(spark: SparkSession, lake: String): (Long, Long) = (
    compactTable(spark, sigPath(lake), "band_bucket"),
    compactTable(spark, docPath(lake), "doc_bucket"))

  private[streaming] def compactTable(
      spark: SparkSession, path: String, bucketCol: String): Long = {
    import java.nio.file.{Files => JF, Paths => JP}
    recoverCompactDebris(path)
    val table = JP.get(path)
    if (!JF.isDirectory(table)) return 0L
    val tmp = JP.get(path + "_compact_tmp")
    val ready = JP.get(path + "_compact_ready")
    val old = JP.get(path + "_compact_old")
    val rows = spark.read.parquet(path).distinct()
      .repartition(col(bucketCol))
    rows.write.mode("overwrite").partitionBy(bucketCol).parquet(tmp.toString)
    val n = spark.read.parquet(tmp.toString).count()
    JF.move(tmp, ready)
    JF.move(table, old)
    JF.move(ready, table)
    deleteDir(old)
    n
  }

  /** See [[compact]]'s crash matrix. Idempotent; a no-op on a clean
    * store. */
  private[streaming] def recoverCompactDebris(path: String): Unit = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    val tmp = JP.get(path + "_compact_tmp")
    val ready = JP.get(path + "_compact_ready")
    val old = JP.get(path + "_compact_old")
    deleteDir(tmp) // unmarked tmp = incomplete write, always stale
    if (JF.exists(ready)) {
      if (JF.exists(table)) deleteDir(ready) // derived from current table
      else JF.move(ready, table)             // died between the two renames
    }
    if (JF.exists(old) && JF.exists(table)) deleteDir(old) // died pre-sweep
    else if (JF.exists(old)) JF.move(old, table) // defensive: ready already consumed
  }

  private def deleteDir(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }

  /** The bucket-pruned candidate join (batch sigs × store sigs on the
    * (source, band_id, band_hash) bucket), None when the store does not
    * exist yet. Exposed at package level so the spec can pin the scan's
    * PartitionFilters — the "no full-store scan per batch" contract. */
  private[streaming] def candidatePairsOf(
      spark: SparkSession, lake: String, batchDocs: DataFrame): Option[DataFrame] = {
    import spark.implicits._
    val sigStore = graft.ingest.Sink.readOrEmpty(spark, sigPath(lake))
      .getOrElse(return None)
    val batchSigs = TextQueries.minhashBandSigsOf(batchDocs)
      .withColumn("band_bucket", bandBucket)
    // bucket membership: bounded by the 64-value partition domain, NOT by
    // batch size — a driver-side isin list is what turns the store scan
    // into static partition pruning (no full-store scan per batch)
    val touched = batchSigs.select("band_bucket").distinct().as[Long].collect()
    if (touched.isEmpty) return None
    Some(sigStore
      .filter(col("band_bucket").isin(touched: _*))
      .select(col("source"), col("band_id"), col("band_hash"),
        col("doc_id").as("dup_of"))
      .join(batchSigs.select(col("source"), col("band_id"), col("band_hash"),
          col("doc_id")).hint("shuffle_hash"),
        Seq("source", "band_id", "band_hash"))
      .filter(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id"), col("dup_of"))
      .distinct())
  }

  /** Probe `batchDocs` ((source, doc_id, text)) against the store:
    * returns (doc_id, dup_of, jaccard) — each batch doc that verifies as
    * a near-dup (jaccard ≥ 0.9) of an ALREADY-STORED doc, `dup_of` = the
    * matched store doc. Empty frame when the store doesn't exist yet.
    * Batch-internal pairs are the batch engine's job
    * ([[TextQueries.minhashJaccardPairsOf]] over the batch frame), not
    * this probe's. */
  def probeBatch(spark: SparkSession, lake: String, batchDocs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val empty = Seq.empty[(Long, Long, Double)]
      .toDF("doc_id", "dup_of", "jaccard")
    val docStore = graft.ingest.Sink.readOrEmpty(spark, docPath(lake))
      .getOrElse(return empty)
    // materialized once (batch-bounded): the candidate set feeds BOTH the
    // doc-bucket collect and the verify join — without the checkpoint the
    // candidate join would execute twice per batch
    val cand = candidatePairsOf(spark, lake, batchDocs)
      .getOrElse(return empty).localCheckpoint()
    val candBuckets = cand
      .select(docBucketOf(col("dup_of")).as("doc_bucket"))
      .distinct().as[Long].collect()
    if (candBuckets.isEmpty) return empty
    val storeH = docStore
      .filter(col("doc_bucket").isin(candBuckets: _*))
      .select(col("doc_id").as("dup_of"), col("hs").as("hs_a"), col("nt").as("nt_a"))
    val newH = TextQueries.tokenHashFrameOf(batchDocs)
      .select(col("doc_id"), col("hs").as("hs_b"), col("nt").as("nt_b"))
    cand
      .join(storeH.hint("shuffle_hash"), Seq("dup_of"))
      .join(newH.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("inter",
        call_function("intersect_count_sorted", col("hs_a"), col("hs_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nt_a") + col("nt_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
  }
}
