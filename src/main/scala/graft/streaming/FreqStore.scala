package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FreqBuffer, FreqCtr, GraftExtensions, MisraGries}

/** Persistent corpus term-frequency sketch — the STREAMING composition of
  * the `freq_items` heavy-hitters engine (the 4th batch↔streaming store,
  * next to the exact-hash dedup store, NeardupStore's signature store and
  * VectorStore's cell store): documents arriving in micro-batches keep a
  * running "trending terms" summary without ever re-scanning history.
  *
  * Design:
  *  - Per batch, the DISTRIBUTED `freq_items` aggregate compresses the
  *    batch's token stream to <= capacity counters (one bounded row) —
  *    the only collect is that bounded sketch, never the stream.
  *  - The driver folds it into the stored sketch with the IDENTICAL
  *    [[MisraGries]] merge the Catalyst aggregate uses (weighted adds:
  *    a sketch row (item, est) re-enters as weight = est; the batch's
  *    and store's `dropped` masses add) — sketch-of-sketches, the
  *    Agarwal et al. mergeability put to work across TIME instead of
  *    across partitions. The same fold merges per-day or per-source
  *    sketches at 100 TB without re-touching raw streams.
  *  - The store is ONE json document (<= capacity entries, ~1-2 MB at
  *    2^16 — driver-bounded by construction), atomically replaced by
  *    [[graft.control.PlaneStore.atomicWrite]]: a crash mid-save
  *    leaves the previous sketch intact.
  *  - Exactly-once under foreachBatch replay: the stored `last_batch_id`
  *    skips re-delivered batch ids (Structured Streaming re-runs a batch
  *    with the SAME id after recovery), so counts never double. Batch ids
  *    are only comparable WITHIN one checkpoint lineage — they restart at
  *    0 when a stream's checkpoint dir is deleted/recreated — so the
  *    watermark is stored next to a `lineage` marker (the streaming
  *    query's persisted id: stable across restarts of the same
  *    checkpoint, new when the checkpoint is reset; see
  *    [[Streaming.streamLineage]]). A batch arriving under a DIFFERENT
  *    lineage resets the watermark and folds — a genuinely new file
  *    landing as batch 0 after a checkpoint reset is counted, not
  *    silently dropped (r12 advice). Caveat: across a lineage reset the
  *    sketch itself is at-least-once — if the new stream re-delivers
  *    documents the old lineage already counted, they fold again. In the
  *    composed pipeline ([[Streaming.releaseLoadStream]]) that cannot
  *    happen: the control plane's registered-file guard (which survives
  *    checkpoint resets) drops already-loaded files before they reach
  *    this store. Standalone callers own that guarantee themselves.
  *  - SINGLE-writer by design: one stream query owns a store directory
  *    (the same ownership contract as the stream's checkpoint dir);
  *    concurrent writers would interleave read-fold-save and lose
  *    counts. Readers are always safe (they only ever see a fully
  *    written document).
  *
  * Error accounting: `dropped` is the summary's total subtracted mass
  * (est <= true <= est + dropped; items with true > dropped guaranteed
  * present — see FreqItems). A batch whose own sketch purged (cardinality
  * above capacity within one batch) reports its dropped via the emitted
  * per-row err (uniform); the fold adds it. Edge (r12 review): a batch
  * sketch whose final merge shrink removed EVERY counter (all est tied
  * at the subtraction value — e.g. a batch of > capacity all-distinct
  * tokens) has no row to carry its dropped; reading 0 there would
  * UNDERSTATE the stored bound. The fold substitutes the batch's total
  * token count instead — a sound over-bound (no item's batch mass can
  * exceed it), so est stays a true lower bound and est + dropped a true
  * upper bound in every case; FreqStoreSpec pins the edge. */
object FreqStore {

  /** The stored summary. `items` is (term -> est), bounded by capacity.
    * `lineage` scopes `lastBatchId` to one checkpoint lineage (None =
    * legacy store written before the marker existed). */
  final case class Sketch(
      capacity: Int, dropped: Long, lastBatchId: Long, items: Map[String, Long],
      lineage: Option[String] = None)

  private def path(dir: String): Path = Paths.get(dir, "_freq_sketch.json")

  def load(dir: String): Option[Sketch] = {
    val p = path(dir)
    if (!Files.exists(p)) None
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(Files.readString(p))
      val items = root.get("items").fields().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
      Some(Sketch(
        root.get("capacity").asInt(), root.get("dropped").asLong(),
        root.get("last_batch_id").asLong(), items,
        Option(root.get("lineage")).filterNot(_.isNull).map(_.asText())))
    }
  }

  private def save(dir: String, s: Sketch): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("capacity", s.capacity)
    root.put("dropped", s.dropped)
    root.put("last_batch_id", s.lastBatchId)
    s.lineage.foreach(root.put("lineage", _))
    val items = root.putObject("items")
    // deterministic order (est desc, term asc) so the file is diffable
    s.items.toSeq.sortBy { case (k, v) => (-v, k) }
      .foreach { case (k, v) => items.put(k, v) }
    graft.control.PlaneStore.atomicWrite(path(dir), mapper.writeValueAsString(root))
  }

  /** Pure driver-side fold of a bounded batch sketch into the stored one
    * — [[MisraGries]] weighted adds + summed dropped masses. Exposed for
    * the spec's driver-vs-aggregate parity referee. */
  private[streaming] def fold(
      store: Sketch, batch: Seq[(String, Long)], batchDropped: Long): Sketch = {
    val buf = new FreqBuffer(new java.util.HashMap[UTF8String, FreqCtr](), store.dropped)
    store.items.foreach { case (k, v) =>
      buf.map.put(UTF8String.fromString(k), new FreqCtr(v))
    }
    val other = new FreqBuffer(new java.util.HashMap[UTF8String, FreqCtr](), batchDropped)
    batch.foreach { case (k, v) =>
      if (v > 0) MisraGries.add(other, UTF8String.fromString(k), v, store.capacity)
    }
    MisraGries.merge(buf, other, store.capacity)
    Sketch(store.capacity, buf.dropped, store.lastBatchId,
      buf.map.entrySet().asScala.map(e => e.getKey.toString -> e.getValue.est).toMap,
      store.lineage)
  }

  /** Fold one micro-batch of documents into the stored sketch. `col` is
    * a STRING column of `batch` whose per-row value tokenizes by space
    * (the house token rule); each token counts once. Returns the updated
    * sketch (or the stored one unchanged on a replayed batch id).
    *
    * `lineage` scopes the replay guard: pass the stream's persisted
    * query id ([[Streaming.streamLineage]]) so batch ids from a RESET
    * checkpoint (which restart at 0) reset the stored watermark instead
    * of being mistaken for replays of the old lineage's batches. A
    * legacy store with no stored lineage keeps the plain batch-id guard
    * until its first successful fold adopts the marker. */
  def appendBatch(
      dir: String, batch: DataFrame, textCol: String,
      batchId: Long, capacity: Int = 1 << 16,
      lineage: String = "adhoc"): Sketch = {
    val store = load(dir).getOrElse(Sketch(capacity, 0L, -1L, Map.empty))
    require(store.capacity == capacity,
      s"stored sketch capacity ${store.capacity} != requested $capacity " +
        "(a capacity change needs a new store directory)")
    if (Streaming.replayed(store.lastBatchId, store.lineage, batchId, lineage))
      return store // replayed batch: no-op
    GraftExtensions.ensureRegistered(batch.sparkSession)
    // one bounded row: array<struct<item, est, err>> + the batch dropped
    // + the batch token total (the dropped fallback for the all-purged
    // edge — see the class doc's error-accounting note)
    val row = batch
      .select(explode_outer(split(col(textCol), " ")).as("tok"))
      .agg(
        call_function("freq_items", col("tok"), lit(capacity)).as("hh"),
        count(col("tok")).as("n_tokens"))
      .selectExpr("hh.item AS items", "hh.est AS ests",
        "coalesce(hh.err[0], 0L) AS dropped", "n_tokens")
      .head()
    val items = row.getAs[scala.collection.Seq[String]]("items")
    val ests = row.getAs[scala.collection.Seq[Long]]("ests")
    val batchDropped =
      if (items.isEmpty) row.getAs[Long]("n_tokens") // sound over-bound
      else row.getAs[Long]("dropped")
    val folded = fold(store, items.toSeq.zip(ests.toSeq), batchDropped)
      .copy(lastBatchId = batchId, lineage = Some(lineage))
    save(dir, folded)
    folded
  }
}
