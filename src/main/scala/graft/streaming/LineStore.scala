package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Persistent first-occurrence LINE registry — the INCREMENTAL twin of
  * the batch corpus-wide line dedup (q_line_dedup / CCNet paragraph-hash
  * dedup): a continuously-ingesting corpus must drop boilerplate lines
  * already seen in ANY earlier batch, not just within the current one,
  * so the "first occurrence" election needs durable state. This store is
  * that state, in the PostingsStore/VectorStore lake pattern:
  *
  *  - `<store>/lines`: one row per REGISTERED first occurrence —
  *    (lkey, doc_id, line_idx, batch_id, lineage), partitioned by
  *    `key_bucket = pmod(xxhash64(lkey), 64)`. Only content lines
  *    register (empty-normalizing lines sit outside the dedup domain,
  *    exactly as in the batch pass); the line TEXT never ships — 32-byte
  *    keys plus three longs, so at 100 TB the registry is keys-sized,
  *    not corpus-sized.
  *
  * Election contract: FIRST-REGISTERED wins across batches (arrival
  * order — deterministic given the stream order), and within a batch the
  * (doc_id, line_idx)-min occurrence wins ([[graft.TextQueries]]'s batch
  * election, via the shared keyedLinesOf/reassembleLines spellings so
  * batch and streaming legs cannot drift).
  *
  * Replay posture — SELF-HEALING BY CONSTRUCTION, no watermark document:
  * every store read in the batch plan goes through the HISTORICAL view
  * (`lineage != current OR batch_id < currentBatch`), which this batch's
  * own append cannot change. A crash between the registry append and the
  * caller's commit point therefore replays the batch against the SAME
  * historical state: the cleaned output is byte-identical, and the
  * re-run append writes byte-identical duplicate rows that readers fold
  * with distinct and [[compact]] folds away (the sibling stores'
  * duplicate-tolerant at-least-once). The same invariance is why the
  * lazily-returned cleaned frame stays correct even though Spark may
  * evaluate it AFTER the append has mutated the table it reads (the
  * runChecks count-before-append trap, dodged structurally instead of
  * by sequencing).
  *
  * Scale shape: the in-batch election is the
  * shared salted two-level min with the coordinate join-back
  * ([[graft.TextQueries.lineWinnersOf]] — map-side-combinable partial
  * mins, no skewed-key WindowExec, no lkey-keyed hash join), and the
  * registry side is PRUNED to the batch's touched `key_bucket`s via a
  * driver-side isin (static partition pruning) before the distinct +
  * SHUFFLE_HASH lookup join — per-batch cost is O(batch's bucket share
  * of the registry), not O(keys ever seen); [[compact]] keeps the file
  * count and replay duplicates down. LineStoreSpec pins the pruned
  * scan's files-read metric (the StreamingSpec check-leg precedent). */
object LineStore {

  /** Partition domain for the registry layout: coarse enough that a
    * small batch still prunes, small enough that the partition listing
    * is a metadata no-op at any registry size. */
  val Buckets = 64

  def linesPath(store: String): String = s"$store/lines"

  private def keyBucket(k: Column): Column =
    pmod(xxhash64(k), lit(Buckets.toLong))

  private val registrySchema = StructType(Seq(
    StructField("lkey", StringType),
    StructField("doc_id", LongType),
    StructField("line_idx", IntegerType),
    StructField("batch_id", LongType),
    StructField("lineage", StringType),
    StructField("key_bucket", LongType)))

  private def registry(spark: SparkSession, store: String): DataFrame =
    if (Files.isDirectory(Paths.get(linesPath(store))))
      spark.read.schema(registrySchema).parquet(linesPath(store))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], registrySchema)

  /** Dedup one batch of (source, doc_id, text) docs against the registry
    * AND register its new first occurrences. Returns the per-doc cleaned
    * frame in the batch pass's contract — (source, doc_id, clean_text,
    * n_lines, n_dup, chars_removed) — where a line drops iff its key was
    * registered by an EARLIER batch or a (doc_id, line_idx)-smaller
    * occurrence within THIS batch. The returned frame may be evaluated
    * before or after the append with identical results (see the class
    * doc's replay posture). */
  /** The historical registry slice a batch elects against: earlier rows
    * only (`lineage != current OR batch_id < current` — this batch's own
    * append cannot change it), PRUNED to the batch's touched buckets via
    * a driver-side isin so the scan statically partition-prunes instead
    * of reading O(keys ever seen) per batch. Exposed at package level so
    * the spec can pin the scan's files-read metric. */
  private[streaming] def historicalKeys(
      spark: SparkSession, store: String, lineage: String, batchId: Long,
      touched: Seq[Long]): DataFrame = {
    val reg =
      if (touched.isEmpty) registry(spark, store).filter(lit(false))
      else registry(spark, store).filter(col("key_bucket").isin(touched: _*))
    reg
      .filter(col("lineage") =!= lit(lineage) || col("batch_id") < lit(batchId))
      .select(col("lkey")).distinct()
  }

  def appendCleanBatch(
      spark: SparkSession, store: String, docs: DataFrame,
      batchId: Long, lineage: String = "adhoc"): DataFrame = {
    // checkpoint the keyed-line frame FIRST: the election aggregate and
    // the join stream side both consume it, so without this the whole
    // explode → normalize → md5 derivation plans twice (an
    // un-checkpointed join-back measured ~30× slower —
    // AbLineDedupBench)
    val keyed = graft.TextQueries.keyedLinesOf(docs).localCheckpoint()
    // touched buckets: bounded by the 64-value partition domain, NOT by
    // batch size — a driver-side isin list turns the registry scan into
    // static partition pruning, instead of a distinct scan of the WHOLE
    // registry every batch
    val touched = keyed.filter(col("norm") =!= "")
      .select(keyBucket(col("lkey")).as("kb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val hist = historicalKeys(spark, store, lineage, batchId, touched)
    // in-batch election = the batch engine's salted two-level min with
    // the coordinate join-back (TextQueries.lineWinnersOf — shared
    // spelling, skew-free; see the lineDedupOf scaladoc for the measured
    // window/lkey-join/coordinate-join history). The second
    // localCheckpoint (eager) materializes the flagged lines ONCE:
    // without it the registry append and the caller's cleaned-frame
    // write would each re-run the election + lookup joins — the
    // replay-invariance argument only needs determinism,
    // which the checkpoint trivially preserves.
    val flagged = keyed
      .join(graft.TextQueries.lineWinnersOf(keyed).hint("SHUFFLE_HASH"),
        Seq("doc_id", "line_idx"), "left")
      .join(hist.withColumn("seen", lit(true)).hint("SHUFFLE_HASH"),
        Seq("lkey"), "left")
      .withColumn("keep", col("seen").isNull && col("line_win").isNotNull)
      .localCheckpoint()
    // new registrations: this batch's content-line keepers — `keep`
    // already excludes every HISTORICAL key, and the historical view is
    // deliberately the append's only store dependency: it is invariant
    // under this batch's own append (appended rows carry batch_id =
    // current), so the plan is deterministic even if Spark re-evaluates
    // partitions mid-write, with no persist/count forcing needed. The
    // price is that a crash-replayed batch appends byte-identical
    // duplicate ROWS (the election against the stable historical state
    // is deterministic), which every reader folds with distinct and
    // [[compact]] folds away on disk — the stores' shared
    // duplicate-tolerant at-least-once posture.
    flagged
      .filter(col("keep") && col("norm") =!= "")
      .select(col("lkey"), col("doc_id"), col("line_idx"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("lineage", lit(lineage))
      .withColumn("key_bucket", keyBucket(col("lkey")))
      .repartition(col("key_bucket"))
      .write.mode("append").partitionBy("key_bucket")
      .parquet(linesPath(store))
    graft.TextQueries.reassembleLines(
      flagged.select(col("source"), col("doc_id"), col("line_idx"),
        col("line"), col("keep")))
  }

  /** Registered-key count (distinct — replay-window duplicate rows fold
    * at read, as in the sibling stores). */
  def keyCount(spark: SparkSession, store: String): Long =
    registry(spark, store).select("lkey").distinct().count()

  /** Small-file + duplicate-row maintenance via the shared crash-safe
    * rewrite ([[graft.ingest.Sink.compactTable]]); results are unaffected
    * because every reader folds duplicates. */
  def compact(spark: SparkSession, store: String): Long =
    graft.ingest.Sink.compactTable(spark, linesPath(store), "key_bucket")
}
