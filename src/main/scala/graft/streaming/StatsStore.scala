package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, Hll, HllBuffer, QBuffer, QSketch}

/** Persistent corpus-statistics sketches — a batch↔streaming store
  * beside the exact-hash dedup store, LineStore and VectorStore:
  * documents arriving in micro-batches keep the corpus's distinct-token
  * CARDINALITY ([[Hll]] two-regime sketch), token-length DISTRIBUTION
  * ([[QSketch]] two-regime quantiles) and per-source KMV shingle
  * sketches (bottom-k minima → live cross-source overlap estimates)
  * current without re-scanning history — the dataset-card numbers a
  * 100 TB ingest keeps live.
  *
  * Design:
  *  - Per batch, ONE distributed aggregation compresses the batch to a
  *    single bounded row: `distinct_sketch_bin` of the token stream +
  *    `quantile_sketch_bin` of per-doc token counts + doc/token totals.
  *    The only collect is that row (two blobs ≤ ~64 KiB + two longs),
  *    never the stream.
  *  - The driver folds it into the stored sketches with the IDENTICAL
  *    [[Hll.merge]]/[[QSketch.merge]] the Catalyst aggregates use —
  *    mergeable-summaries across TIME instead of across partitions; the
  *    same fold would merge per-day sketches at 100 TB.
  *  - One atomically-replaced json document (PlaneStore idiom); sketch
  *    blobs ride as base64 of the PUBLIC [[Hll.toBytes]]/
  *    [[QSketch.toBytes]] format.
  *  - Exactly-once under foreachBatch replay via (lineage, last_batch_id)
  *    — the checkpoint-lineage-scoped guard [[Streaming.replayed]]: batch
  *    ids restart at 0 when a checkpoint is reset, so a reset
  *    checkpoint's batch 0 folds instead of being dropped as a replay;
  *    within a lineage, replayed ids no-op.
  *    Across a lineage reset the store is at-least-once unless the
  *    caller's file-registry guard (the control plane, which survives
  *    checkpoint resets) filters re-deliveries — as
  *    [[Streaming.releaseLoadStream]]'s does.
  *  - SINGLE-writer per store directory: one stream at a time owns it
  *    (the same ownership contract as the stream's checkpoint dir), since
  *    concurrent writers would interleave read-fold-save and lose counts;
  *    readers always see a complete document. */
object StatsStore {

  final case class Stats(
      precision: Int, qCapacity: Int, lastBatchId: Long,
      nDocs: Long, nTokens: Long,
      hll: HllBuffer, lengths: QBuffer,
      lineage: Option[String] = None,
      kmv: Map[String, Array[Long]] = Map.empty,
      kmvK: Int = 128,
      /** docs in batches folded THROUGH the KMV leg (appended with
        * sourceCol). kmvDocs < nDocs means some batches never opted in,
        * so the overlap readout covers only part of the corpus — readers
        * (Cli corpus-stats) must surface that instead of presenting a
        * partial exact=true matrix as the whole story. Null-source docs
        * inside an opted-in batch count here but carry no sketch: they
        * have no source identity to appear in the matrix under. */
      kmvDocs: Long = 0L) {
    /** The readout: (distinct-token est, exact flag). */
    def distinctTokens: (Long, Boolean) =
      if (hll.regs == null) (hll.sparse.size.toLong, true)
      else (Hll.estimate(hll.regs, precision), false)
    /** The readout: (n, p50, p90, p99, max) over per-doc token counts. */
    def lengthQuantiles: (Long, Long, Long, Long, Long) = QSketch.quantiles(lengths)
    /** Pairwise source-overlap estimates off the stored per-source KMV
      * sketches alone — the driver-side twin of
      * [[graft.TextQueries.kmvOverlapOf]], field-for-field and
      * bit-for-bit (same left-assoc IEEE double order, same floors), so
      * a spec can hold the two to EQUALITY on the same corpus. Pairs
      * ordered (sourceA < sourceB) under UTF-8 BINARY byte order — the
      * ordering Spark's string `<` uses — not Java's UTF-16 compareTo,
      * which disagrees for supplementary characters (surrogates sort
      * low in UTF-16, high in UTF-8); all pairs present. The work is
      * |sources|²·k driver-side longs — key-domain-bounded exactly like
      * the query's broadcast pair frame. */
    def kmvOverlap: Seq[OverlapEst] = {
      val keys = kmv.keys.toSeq.sortWith(utf8Lt)
      for {
        (sa, i) <- keys.zipWithIndex
        sb <- keys.drop(i + 1)
        ma = kmv(sa); mb = kmv(sb)
        if ma.nonEmpty && mb.nonEmpty
      } yield {
        val fu = (ma ++ mb).distinct.sorted
        val ku = fu.take(kmvK)
        val nu = ku.length.toLong
        val inA = ma.toSet; val inB = mb.toSet
        val kBoth = ku.count(h => inA(h) && inB(h)).toLong
        val hK = ku.last
        // exact regime = BOTH sketches unsaturated (each is then its
        // source's complete distinct set) — the query's gate, not |ku|<k
        val exact = ma.length < kmvK && mb.length < kmvK
        val nf = fu.length.toLong
        val interFull = ma.length.toLong + mb.length - nf
        val estUnion =
          if (exact) nf
          else math.floor((kmvK - 1).toDouble * 1152921504606846976.0
            / hK.toDouble).toLong
        val estInter =
          if (exact) interFull
          else math.floor(kBoth.toDouble / nu * estUnion).toLong
        val ppm =
          if (exact) math.floor(interFull.toDouble * 1000000.0 / nf).toLong
          else math.floor(kBoth.toDouble * 1000000.0 / nu).toLong
        OverlapEst(sa, sb, nu, kBoth, hK, exact, estUnion, estInter, ppm)
      }
    }
  }

  /** UTF-8 binary byte order — Spark's UTF8String comparison, which the
    * q_kmv_overlap pair join's `source_a < source_b` uses. Java's
    * String.compareTo (UTF-16 code units) disagrees beyond the BMP. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** One pair row of [[Stats.kmvOverlap]] — the column set of
    * q_kmv_overlap, driver-side. */
  final case class OverlapEst(
      sourceA: String, sourceB: String, nUnionMinima: Long, kBoth: Long,
      hK: Long, exact: Boolean, estUnion: Long, estInter: Long,
      jaccardPpm: Long)

  private def path(dir: String): Path = Paths.get(dir, "_stats_sketch.json")

  def load(dir: String): Option[Stats] = {
    val p = path(dir)
    if (!Files.exists(p)) None
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(Files.readString(p))
      Some(Stats(
        root.get("precision").asInt(), root.get("q_capacity").asInt(),
        root.get("last_batch_id").asLong(),
        root.get("n_docs").asLong(), root.get("n_tokens").asLong(),
        Hll.fromBytes(Base64.getDecoder.decode(root.get("hll").asText())),
        QSketch.fromBytes(Base64.getDecoder.decode(root.get("lengths").asText())),
        Option(root.get("lineage")).filterNot(_.isNull).map(_.asText()),
        Option(root.get("kmv")).filterNot(_.isNull).map { node =>
          val it = node.fields()
          val b = Map.newBuilder[String, Array[Long]]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> unpackLongs(Base64.getDecoder.decode(e.getValue.asText()))
          }
          b.result()
        }.getOrElse(Map.empty),
        Option(root.get("kmv_k")).filterNot(_.isNull).map(_.asInt()).getOrElse(128),
        Option(root.get("kmv_n_docs")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L)))
    }
  }

  private def packLongs(a: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * a.length)
    a.foreach(bb.putLong)
    bb.array()
  }

  private def unpackLongs(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  private def save(dir: String, s: Stats): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("precision", s.precision)
    root.put("q_capacity", s.qCapacity)
    root.put("last_batch_id", s.lastBatchId)
    root.put("n_docs", s.nDocs)
    root.put("n_tokens", s.nTokens)
    root.put("hll", Base64.getEncoder.encodeToString(Hll.toBytes(s.hll)))
    root.put("lengths", Base64.getEncoder.encodeToString(QSketch.toBytes(s.lengths)))
    s.lineage.foreach(root.put("lineage", _))
    root.put("kmv_k", s.kmvK)
    root.put("kmv_n_docs", s.kmvDocs)
    if (s.kmv.nonEmpty) {
      val node = root.putObject("kmv")
      s.kmv.toSeq.sortBy(_._1).foreach { case (src, mins) =>
        node.put(src, Base64.getEncoder.encodeToString(packLongs(mins)))
      }
    }
    graft.control.PlaneStore.atomicWrite(path(dir), mapper.writeValueAsString(root))
  }

  private def empty(precision: Int, qCapacity: Int): Stats =
    Stats(precision, qCapacity, -1L, 0L, 0L,
      new HllBuffer(new java.util.HashSet[java.lang.Long](), null),
      new QBuffer(new java.util.HashMap[java.lang.Long, Array[Long]](), false))

  /** Fold one micro-batch of documents into the stored stats. `textCol`
    * tokenizes by space (the house rule). Returns the updated stats (or
    * the stored ones unchanged on a same-lineage replayed batch id).
    *
    * `sourceCol` opts the batch into per-source KMV shingle sketches
    * ([[graft.TextQueries.kmvSketchOf]]'s exact hashing, so the stored
    * sketches EQUAL the batch engine's over the same corpus): per
    * batch, one `bottomk` aggregation compresses each source's 3-gram
    * stream to its k smallest distinct hashes — |sources| bounded rows
    * collected, never the stream — and the driver folds them with
    * distinct-union-bottom-k, the associative KMV merge (Beyer et al.
    * 2007: the union's sketch IS the bottom-k of the merged minima).
    * That makes [[Stats.kmvOverlap]] a live cross-source contamination
    * readout that never re-touches history — the q_kmv_overlap
    * scaladoc's "sketches persist and re-combine" contract. */
  def appendBatch(
      dir: String, batch: DataFrame, textCol: String, batchId: Long,
      precision: Int = 14, qCapacity: Int = 4096,
      lineage: String = "adhoc", sourceCol: Option[String] = None,
      kmvK: Int = 128): Stats = {
    val store = load(dir).getOrElse(empty(precision, qCapacity))
    require(store.precision == precision && store.qCapacity == qCapacity,
      s"stored sketch params (p=${store.precision}, cap=${store.qCapacity}) != " +
        s"requested (p=$precision, cap=$qCapacity) — a param change needs a new store dir")
    // scoped to calls that actually touch KMV: a sourceCol = None append
    // requests no KMV work, so a store built with a non-default k must
    // stay writable for KMV-agnostic callers
    require(sourceCol.isEmpty || store.kmv.isEmpty || store.kmvK == kmvK,
      s"stored sketch params (kmv_k=${store.kmvK}) != requested (kmv_k=$kmvK)" +
        " — a param change needs a new store dir")
    if (Streaming.replayed(store.lastBatchId, store.lineage, batchId, lineage))
      return store // replay: no-op
    GraftExtensions.ensureRegistered(batch.sparkSession)
    // the fold runs 2 aggregations (3 with KMV) over the same batch; in
    // foreachBatch the frame is typically lake-parquet-backed and
    // re-evaluated per action, so pin it for the fold's duration
    val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendPinned(dir, pinned, textCol, batchId, store, lineage, sourceCol, kmvK)
    finally { pinned.unpersist(blocking = false); () }
  }

  private def appendPinned(
      dir: String, batch: DataFrame, textCol: String, batchId: Long,
      store: Stats, lineage: String, sourceCol: Option[String],
      kmvK: Int): Stats = {
    val precision = store.precision; val qCapacity = store.qCapacity
    // null-text docs sit OUTSIDE the readout — the batch twins
    // (q_length_sketch/q_dataset_card) pin that contract, and without the
    // filter the legs would diverge: size(split(null)) is null under
    // Spark's ANSI default, so a null-text doc would be dropped from the
    // quantile sketch (and its tokens from the HLL) yet still counted by
    // count(lit(1)) into n_docs. One filter up front keeps n_docs, HLL,
    // lengths, and KMV on the identical doc set.
    val clean = batch.filter(col(textCol).isNotNull)
    val toks = split(col(textCol), " ")
    val row = clean
      .select(explode_outer(toks).as("tok"))
      .agg(
        call_function("distinct_sketch_bin", col("tok"), lit(precision)).as("hb"),
        count(col("tok")).as("n_tokens"))
      .head()
    // lengths need per-doc rows, not the exploded stream — second bounded
    // agg over the un-exploded frame (both aggs are one job each over the
    // batch, which is micro-batch-sized by construction)
    val lrow = clean
      .select(size(toks).cast("long").as("len"))
      .agg(
        call_function("quantile_sketch_bin", col("len"), lit(qCapacity)).as("qb"),
        count(lit(1)).as("n_docs"))
      .head()
    val batchHll = Hll.fromBytes(row.getAs[Array[Byte]]("hb"))
    val batchQ = QSketch.fromBytes(lrow.getAs[Array[Byte]]("qb"))
    // per-source KMV sketches: one more bounded aggregation (|sources|
    // rows of k longs), folded via the associative distinct-union-
    // bottom-k merge — identical semantics to the bottomk aggregate's
    // own partition merge, applied across TIME
    val kmvFolded = sourceCol.fold(store.kmv) { src =>
      val batchSketch = graft.TextQueries
        .kmvSketchOf(
          clean.select(col(src).cast("string").as("kmv_src"),
            col(textCol).as("text"))
            // a null source has no identity to sketch under — and a null
            // map key would blow up the json save after the Spark jobs
            // already ran; such docs still count in nDocs/hll/lengths
            .filter(col("kmv_src").isNotNull),
          key = "kmv_src", k = kmvK)
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      batchSketch.foldLeft(store.kmv) { case (acc, (s, mins)) =>
        val merged = acc.get(s) match {
          case Some(old) => (old ++ mins).distinct.sorted.take(kmvK)
          case None      => mins
        }
        acc.updated(s, merged)
      }
    }
    val batchDocs = lrow.getAs[Long]("n_docs")
    val folded = store.copy(
      lastBatchId = batchId,
      nDocs = store.nDocs + batchDocs,
      nTokens = store.nTokens + row.getAs[Long]("n_tokens"),
      hll = Hll.merge(store.hll, batchHll, precision),
      lengths = QSketch.merge(store.lengths, batchQ, qCapacity),
      lineage = Some(lineage),
      kmv = kmvFolded,
      // a sourceCol = None call must not restamp the stored k
      kmvK = if (sourceCol.isDefined) kmvK else store.kmvK,
      kmvDocs = store.kmvDocs + (if (sourceCol.isDefined) batchDocs else 0L))
    save(dir, folded)
    folded
  }
}
