package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One tracked counter. `est` is a LOWER bound on the item's true count in
  * the aggregated stream; the undercount is bounded by the buffer's global
  * `dropped`, not per-item (a per-item error cannot survive the decrementing
  * purge: each purge a counter survives shrinks `est` by the purge value,
  * so the only sound per-item bound IS the global subtracted total — the
  * same reason the DataSketches frequent-items sketch carries one offset). */
private[graft] final class FreqCtr(var est: Long)

/** The aggregation buffer: at most `capacity` counters plus `dropped` — the
  * total value ever purge-subtracted from this buffer's counters. Invariants
  * (maintained by every update/merge/purge, pinned by FreqItemsSpec's
  * brute-force referee):
  *   - tracked x:   est(x) <= true(x) <= est(x) + dropped
  *   - untracked x: true(x) <= dropped
  * so every item with true count > dropped is guaranteed tracked. */
final class FreqBuffer(
    val map: java.util.HashMap[UTF8String, FreqCtr],
    var dropped: Long)

/** The buffer operations of the Misra–Gries summary, factored out of the
  * Catalyst aggregate so a DRIVER-side consumer (one folding bounded
  * sketches into a stored one) runs the IDENTICAL math — one
  * implementation, one set of invariants (see [[FreqBuffer]]), property-
  * pinned once in FreqItemsSpec. */
private[graft] object MisraGries {

  /** Subtract `v` from every counter, removing those left <= 0, and
    * account the subtraction in `dropped`. */
  private def subtractAll(buf: FreqBuffer, v: Long): Unit = {
    val it = buf.map.entrySet().iterator()
    while (it.hasNext) {
      val c = it.next().getValue
      if (c.est <= v) it.remove() else c.est -= v
    }
    buf.dropped += v
  }

  /** The k-th smallest est value (0-indexed) of the buffer's counters. */
  private def kthEst(buf: FreqBuffer, k: Int): Long = {
    val counts = new Array[Long](buf.map.size)
    var i = 0
    val vs = buf.map.values.iterator()
    while (vs.hasNext) { counts(i) = vs.next().est; i += 1 }
    java.util.Arrays.sort(counts)
    counts(k)
  }

  /** Add `weight` (> 0) observations of `key`. The key is cloned on
    * first insert (callers may pass re-used UTF8String views). */
  def add(buf: FreqBuffer, key: UTF8String, weight: Long, capacity: Int): Unit = {
    val c = buf.map.get(key)
    if (c != null) c.est += weight
    else {
      // purge by the lower median (>= 1 since every est >= 1): at
      // least half the counters go, amortising the O(cap) walk
      if (buf.map.size >= capacity)
        subtractAll(buf, kthEst(buf, (buf.map.size - 1) / 2))
      buf.map.put(key.clone(), new FreqCtr(weight))
    }
  }

  /** Fold `other` into `buf` (the Agarwal et al. MG merge). `other`'s
    * keys and counters are adopted — the caller must discard it. */
  def merge(buf: FreqBuffer, other: FreqBuffer, capacity: Int): FreqBuffer = {
    val it = other.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = buf.map.get(e.getKey)
      if (c != null) c.est += e.getValue.est
      else buf.map.put(e.getKey, e.getValue)
    }
    buf.dropped += other.dropped
    // over capacity → subtract the (capacity+1)-th largest est so only
    // strictly-larger counters survive (<= capacity by construction)
    if (buf.map.size > capacity)
      subtractAll(buf, kthEst(buf, buf.map.size - 1 - capacity))
    buf
  }
}

/** `freq_items(item, capacity)` — mergeable bounded-memory heavy hitters
  * (frequent items) over a STRING stream: at most `capacity` counters per
  * aggregation buffer regardless of stream cardinality, map-side combine,
  * result `array<struct<item, est, err>>` sorted (est DESC, item ASC) where
  * `err` is the summary's total subtracted mass (identical on every row of
  * a group) and `est <= true_count <= est + err`.
  *
  * This is the Misra–Gries summary (Misra & Gries 1982; equivalently
  * Space-Saving, Metwally et al. 2005) with the batched median purge the
  * Apache DataSketches frequent-items sketch popularised, and the merge
  * rule of Agarwal et al., "Mergeable Summaries" (PODS 2012): summaries
  * built independently per partition combine into a summary of the union
  * stream with the SAME guarantee — exactly the contract a Spark partial
  * aggregate needs. Counting n-gram frequencies over a 100 TB corpus with
  * a plain groupBy shuffles the full distinct-gram cardinality (billions
  * of keys); this aggregate's shuffle carries at most partitions ×
  * capacity counters — constant per partition — and the final merge is
  * one bounded task. The price is approximation, and it is
  * self-describing: `err = 0` (which always holds when no buffer ever
  * exceeded `capacity`, i.e. capacity >= stream cardinality) means the
  * counts are EXACT; otherwise each row carries the bound. The declared
  * q_heavy_terms query runs in the exact regime at oracle scale
  * (capacity > distinct grams) and degrades to guaranteed-lower-bound
  * reporting at 100 TB with the SAME plan — the approx_count_distinct
  * pattern q_profile_orders documents, made per-row-verifiable.
  *
  * The weighted form `freq_items_w(item, weight, capacity)` adds
  * `weight` observations per row (weight 0 is a no-op, negative weight
  * is a loud runtime error — negative mass has no MG semantics): the
  * sketch-of-sketches surface. A stored summary's (item, est) rows
  * re-aggregate with weight = est into a valid summary of the combined
  * stream (plus the stored `dropped`s, added by the caller) — which is
  * how per-day/per-source sketches would merge at
  * 100 TB without ever re-touching the raw streams. Unweighted
  * `freq_items(item, capacity)` is the same aggregate with weight 1.
  *
  * Mechanics (shared with driver-side consumers via [[MisraGries]]):
  *  - update: tracked item → est += weight. New item with a full map → purge:
  *    subtract the lower MEDIAN of est values from every counter, drop
  *    counters <= 0 (at least half of them), `dropped` += median — then
  *    insert the arrival with est = weight (1 in the unweighted form). The
  *    median batch purge makes the
  *    worst case O(1) amortised map operations per row where the textbook
  *    decrement-all-by-1 is O(capacity) per miss. Bound bookkeeping: a
  *    purge lowers every surviving est by the median while raising
  *    `dropped` by it, removed counters had est <= median <= new dropped,
  *    and an arrival's pre-insert occurrences were absorbed by earlier
  *    purges (<= dropped) — all three invariant cases in one step.
  *  - merge: est adds pointwise (absent side contributes 0), dropped
  *    adds; if the union exceeds capacity, subtract the (capacity+1)-th
  *    largest est from all and drop <= 0 — the Agarwal et al. MG merge.
  *  - eval: entries sorted (est DESC, item ASC — UTF8String binary order,
  *    = codepoint order for UTF-8), each row carrying err = dropped.
  *
  * Total-error envelope: each purge/shrink of value v removes or lowers
  * at least capacity/2 counters of mass >= v each, so
  * dropped <= 2·n / capacity over a stream of n rows — any item with
  * true count above that is structurally guaranteed reported
  * (FreqItemsSpec pins it with hot items above the envelope).
  *
  * Determinism: with capacity >= distinct items no purge ever fires,
  * every buffer is an exact count map, and the result is independent of
  * input order and partitioning (FreqItemsSpec pins this). In the lossy
  * regime the tracked SET is partitioning-dependent — inherent to every
  * bounded frequency summary — but the (est, est+err) bounds hold for
  * ANY partitioning, which is the contract callers filter on
  * (`est >= threshold` reports only guaranteed-heavy items). Null items
  * are skipped (the collect convention). Like every
  * TypedImperativeAggregate this evaluates row-based outside whole-stage
  * codegen and pays buffer ser/de at the shuffle — bounded here by
  * capacity, which is the point of the exercise. */
case class FreqItems(
    left: Expression,  // item
    right: Expression, // weight (BIGINT; the unweighted form passes 1L)
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqBuffer] with BinaryLike[Expression] {

  require(capacity >= 1, s"freq_items capacity must be >= 1, got $capacity")

  override def createAggregationBuffer(): FreqBuffer =
    new FreqBuffer(new java.util.HashMap[UTF8String, FreqCtr](), 0L)

  override def update(buf: FreqBuffer, input: InternalRow): FreqBuffer = {
    val v = left.eval(input)
    if (v != null) {
      val w = right.eval(input)
      if (w != null) {
        val weight = w.asInstanceOf[Long]
        // negative mass has no MG semantics (it breaks est <= true);
        // loud failure beats a silently-wrong sketch. Zero is a no-op.
        if (weight < 0)
          throw new IllegalArgumentException(
            s"freq_items weight must be >= 0, got $weight")
        if (weight > 0)
          MisraGries.add(buf, v.asInstanceOf[UTF8String], weight, capacity)
      }
    }
    buf
  }

  override def merge(buf: FreqBuffer, other: FreqBuffer): FreqBuffer =
    MisraGries.merge(buf, other, capacity)

  private object BestFirst extends java.util.Comparator[java.util.Map.Entry[UTF8String, FreqCtr]] {
    override def compare(
        a: java.util.Map.Entry[UTF8String, FreqCtr],
        b: java.util.Map.Entry[UTF8String, FreqCtr]): Int = {
      val c = java.lang.Long.compare(b.getValue.est, a.getValue.est)
      if (c != 0) c else a.getKey.compareTo(b.getKey)
    }
  }

  private def sortedEntries(buf: FreqBuffer): Array[java.util.Map.Entry[UTF8String, FreqCtr]] = {
    val arr = buf.map.entrySet().toArray(
      new Array[java.util.Map.Entry[UTF8String, FreqCtr]](buf.map.size))
    java.util.Arrays.sort(arr, BestFirst)
    arr
  }

  override def eval(buf: FreqBuffer): Any =
    new GenericArrayData(sortedEntries(buf).map(e =>
      InternalRow(e.getKey, e.getValue.est, buf.dropped)))

  // buffer rides the shuffle as one unsafe row: (array<(item, est)>, dropped)
  private val serType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)
  @transient private lazy val bufProjection =
    UnsafeProjection.create(Array[DataType](serType, LongType))
  override def serialize(buf: FreqBuffer): Array[Byte] = {
    val arr = buf.map.entrySet().toArray(
      new Array[java.util.Map.Entry[UTF8String, FreqCtr]](buf.map.size))
    bufProjection.apply(InternalRow(
      new GenericArrayData(arr.map(e => InternalRow(e.getKey, e.getValue.est))),
      buf.dropped)).getBytes
  }
  override def deserialize(bytes: Array[Byte]): FreqBuffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val buf = createAggregationBuffer()
    buf.dropped = row.getLong(1)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getStruct(i, 2)
      buf.map.put(s.getUTF8String(0).clone(), new FreqCtr(s.getLong(1)))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "freq_items"

  // STRICT item type (an implicit any→STRING cast would silently accept
  // non-text columns); the weight is widened from smaller integral types
  // in the SQL builder, so freq_items_w(tok, 2, …) with an INT literal
  // works while freq_items_w(tok, 'x', …) still fails loudly
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"freq_items item must be STRING, got ${left.dataType.sql}")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"freq_items weight must be an integral type, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItems =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItems =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FreqItems =
    copy(left = newLeft, right = newRight)
}
