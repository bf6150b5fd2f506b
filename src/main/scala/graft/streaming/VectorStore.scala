package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent cell-partitioned vector store — the streaming leg of the
  * semantic-curation family, composing three proven pieces: the trained
  * k-means quantizer (VectorQueries.trainCentroids), the cell=N
  * partition layout (q_ann_cell_layout), and the probe-before-append
  * streaming contract it shares with FingerprintStore.
  *
  * One lake table, `vectors` (vec_id, embedding; partitioned by `cell`),
  * plus the quantizer persisted beside it (`centroids`) — assignments
  * must be STABLE across stream restarts, so the quantizer is trained
  * once (first append) and every later batch loads the stored copy; a
  * re-trained quantizer would silently re-shard the space and break
  * probe pruning against history.
  *
  * Per-batch flow (probe BEFORE append, so a vector never matches
  * itself): batch vectors → cell assignment via the stored centroids →
  * store scan PRUNED to the batch's touched cells (driver-side isin over
  * the ≤ k cell domain — static partition pruning, never a full-store
  * scan) → within-cell cosine ≥ τ flags (the SemDeDup contract: the
  * quadratic similarity search bounded by the Voronoi partition; a
  * near-dup pair straddling a cell boundary is invisible BY DESIGN, the
  * same recall trade the batch q_semantic_dedup documents) → then the
  * batch appends partition-wise.
  *
  * Join strategy and cosine arithmetic follow the streaming house rules:
  * shuffle_hash (the store side grows with the corpus — never an
  * estimate-dependent broadcast), and the flag cosine is the per-row
  * fixed-order double dot (deterministic per pair; the streaming flags
  * are operational signals, not oracle-hashed outputs — FingerprintStore's
  * hamming verify makes the same call). Duplicate rows from the at-least-once
  * replay window are harmless to the probe (flags are DISTINCT per
  * pair) and fold away in [[compact]]. */
object VectorStore {

  def vecPath(lake: String): String = s"$lake/vectors"
  def centroidPath(lake: String): String = s"$lake/vector_centroids"
  def codebookPath(lake: String): String = s"$lake/vector_codebooks"
  def rotationPath(lake: String): String = s"$lake/vector_rotation"
  def sq8Path(lake: String): String = s"$lake/vector_sq8"

  /** Load the stored quantizer, or train it from `vecs` and persist it
    * (first call). Training delegates to the deterministic
    * fixed-point-exact trainer the batch ANN family uses. */
  def centroidsOf(spark: SparkSession, lake: String, vecs: => DataFrame): Array[Array[Double]] = {
    import spark.implicits._
    graft.ingest.Sink.readOrEmpty(spark, centroidPath(lake)) match {
      case Some(df) =>
        df.select(col("cell"), col("c")).as[(Long, Seq[Double])].collect()
          .sortBy(_._1).map(_._2.toArray)
      case None =>
        val cs = graft.VectorQueries.trainCentroids(vecs, spark)
        cs.zipWithIndex.toSeq.map { case (c, i) => (i.toLong, c.toSeq) }
          .toDF("cell", "c")
          .coalesce(1).write.mode("overwrite").parquet(centroidPath(lake))
        cs
    }
  }

  /** Load the stored residual PQ codebooks (+ the OPQ rotation when the
    * store was trained with one), or train them from `vecs` over the
    * stored/trained coarse quantizer and persist them (first call) —
    * the centroid stability contract extended to the fine quantizer:
    * codes written by later batches MUST come from the same codebooks
    * (and rotation) or the persisted index silently mixes codebook
    * epochs. Returns the full [[graft.VectorQueries.AdcKit]] (ONE
    * spelling of encode/score, shared with the batch q_ann_ivfadc /
    * q_ann_ivf_opq).
    *
    * `opq` applies to the FIRST append only (train-once): it selects
    * the FAISS-style 'OPQ,IVF,PQ' layout — trainOpq's jointly-trained
    * rotation + rotated-residual codebooks — instead of plain residual
    * PQ. Later appends and every probe always follow the STORED
    * artifacts regardless of the flag. The codebook rows carry a
    * `rotated` marker and loading a rotated store REQUIRES the rotation
    * artifact (a partial copy that lost it would otherwise silently
    * score the stored rotated codes unrotated — the mixed-epoch failure
    * the serving contract forbids); the rotation is also written BEFORE
    * the codebooks so the one crash window retrains both
    * deterministically instead of stranding marked codebooks. */
  def kitOf(
      spark: SparkSession, lake: String, vecs: => DataFrame,
      opq: Boolean = false): graft.VectorQueries.AdcKit = {
    import spark.implicits._
    val cs = centroidsOf(spark, lake, vecs)
    val (cbs, rot) = graft.ingest.Sink.readOrEmpty(spark, codebookPath(lake)) match {
      case Some(df) =>
        // the marker rides the codebook collect; a store written before
        // the marker existed reads as not rotated
        val marker =
          if (df.columns.contains("rotated")) coalesce(col("rotated"), lit(false))
          else lit(false)
        val rows = df.select(col("m"), col("cell"), col("c"), marker)
          .as[(Long, Long, Seq[Double], Boolean)].collect()
        val loaded = rows.groupBy(_._1).toArray.sortBy(_._1)
          .map(_._2.sortBy(_._2).map(_._3.toArray))
        val rotated = rows.exists(_._4)
        val storedRot = graft.ingest.Sink.readOrEmpty(spark, rotationPath(lake))
          .map(_.select(col("i"), col("r")).as[(Long, Seq[Double])].collect()
            .sortBy(_._1).map(_._2.toArray))
        require(!rotated || storedRot.isDefined,
          s"vector store at $lake has OPQ-rotated codebooks but no " +
            "persisted rotation (vector_rotation) — scoring the stored " +
            "codes unrotated would mix quantizer epochs; rebuild the " +
            "store (re-append the corpus to a fresh store, or Cli " +
            "vector-index --opq) before using it")
        (loaded, if (rotated) storedRot.orNull else null)
      case None =>
        val (trainedRot, trained) =
          if (opq) {
            val (r, c) = graft.VectorQueries.trainOpq(vecs, spark, res = cs)
            (r, c)
          } else
            (null, graft.VectorQueries.trainPqCodebooks(vecs, spark, res = cs))
        if (trainedRot != null)
          trainedRot.zipWithIndex.toSeq
            .map { case (row, i) => (i.toLong, row.toSeq) }
            .toDF("i", "r")
            .coalesce(1).write.mode("overwrite").parquet(rotationPath(lake))
        (for { m <- trained.indices; j <- trained(m).indices }
          yield (m.toLong, j.toLong, trained(m)(j).toSeq, trainedRot != null))
          .toDF("m", "cell", "c", "rotated")
          .coalesce(1).write.mode("overwrite").parquet(codebookPath(lake))
        (trained, trainedRot)
    }
    graft.VectorQueries.AdcKit(cs, cbs, rot)
  }

  /** Load the stored SQ8 affine kit, or train it from `vecs` and
    * persist it when `enable` (FIRST sq8-enabled append — train-once,
    * the codebook/rotation discipline: the per-dim min/max written here
    * is the store's permanent scalar quantizer, and every later batch
    * encodes with the STORED copy regardless of the flag; a re-trained
    * kit would silently mix quantizer epochs in the sq8 column). Returns
    * None on a store that was never sq8-enabled. */
  private def sq8KitOf(
      spark: SparkSession, lake: String, vecs: => DataFrame,
      enable: Boolean): Option[graft.VectorQueries.Sq8Kit] = {
    import spark.implicits._
    graft.ingest.Sink.readOrEmpty(spark, sq8Path(lake)) match {
      case Some(df) =>
        val rows = df.select(col("i"), col("mn"), col("mx"))
          .as[(Long, Double, Double)].collect().sortBy(_._1)
        Some(graft.VectorQueries.Sq8Kit(rows.map(_._2), rows.map(_._3)))
      case None if !enable => None
      case None =>
        val kit = graft.VectorQueries.trainSq8(vecs, spark)
        kit.mn.indices.map(i => (i.toLong, kit.mn(i), kit.mx(i))).toDF("i", "mn", "mx")
          .coalesce(1).write.mode("overwrite").parquet(sq8Path(lake))
        Some(kit)
    }
  }

  /** The nomination rung of a served k-NN join ([[knnJoin]]): what
    * scores the probed rows before the exact refine. */
  sealed trait Rung
  object Rung {
    /** the exact double cosine over the raw vectors — q_knn_join_ivf's
      * engine over the persisted cell layout */
    case object Exact extends Rung
    /** the 8 stored residual-PQ code bytes (q_knn_join_ivfadc) */
    case object Adc extends Rung
    /** the 64 stored SQ8 scalar codes (q_knn_join_sq8); needs the
      * `--sq8` layout */
    case object Sq8 extends Rung
  }

  /** The training frame of a SERVING load: serving reads the stored
    * quantizers and never trains them — a store whose artifact vanished
    * (partial store copy, deleted dir) while its coded rows survived
    * would otherwise silently retrain and score the OLD persisted codes
    * against a new quantizer epoch. Passed as the `vecs` of the
    * load-or-train helpers, it fails before anything trains. */
  private def neverTrain(lake: String): Nothing =
    throw new IllegalArgumentException(
      s"vector store at $lake has coded rows but no persisted quantizer " +
        "(vector_centroids / vector_codebooks) — retraining at serve time " +
        "would score the stored codes against a different quantizer " +
        "epoch; rebuild the store (re-append the corpus to a fresh store, " +
        "or Cli vector-index) before serving")

  /** The stored ADC kit for SERVING — load-only ([[kitOf]]'s
    * load-or-train fallback is correct at APPEND time only). */
  def servingKitOf(spark: SparkSession, lake: String): graft.VectorQueries.AdcKit =
    kitOf(spark, lake, neverTrain(lake))

  /** The stored SQ8 kit for SERVING — load-only — gated by the stored
    * cells (a full scan probes them all). Fails with the build
    * instruction when the store never enabled the layout. */
  private def servingSq8KitOf(spark: SparkSession, lake: String): graft.VectorQueries.Sq8Kit =
    sq8KitOf(spark, lake, neverTrain(lake), enable = false)
      .getOrElse(throw new IllegalArgumentException(
        s"vector store at $lake has no persisted SQ8 kit (vector_sq8) — " +
          "build the layout (Cli vector-index --sq8, or append with " +
          "sq8 = true from the first batch) before serving SQ8 probes"))
      .copy(cs = centroidsOf(spark, lake, neverTrain(lake)))

  /** The stored layout a rung scores, checked once: the serving kit and
    * the column holding its codes. A lake written before the layout has
    * no such column, and serving it silently would drop stored vectors
    * from every answer, so it fails LOUDLY with the build instruction.
    * The exact rung probes with the ADC kit's cells, which rank like
    * the declared join's probeCellsOf. */
  private def servingLayout(
      spark: SparkSession, lake: String, store: DataFrame,
      rung: Rung): (graft.VectorQueries.Quantizer, String) = rung match {
    case Rung.Sq8 =>
      require(store.columns.contains("sq8"),
        s"vector store at $lake has no sq8 column — build the layout " +
          "(Cli vector-index --sq8, or append with sq8 = true from the " +
          "first batch) before serving SQ8 probes")
      (servingSq8KitOf(spark, lake), "sq8")
    case _ =>
      require(store.columns.contains("codes"),
        s"vector store at $lake predates the coded IVFADC layout — " +
          "rebuild it (re-append the corpus to a fresh store, or Cli " +
          "vector-index) before serving ADC probes")
      (servingKitOf(spark, lake), "codes")
  }

  /** Fails LOUDLY when a row of the probed slice has null `codes` (rows
    * appended before the layout, mixed in by a later append). One job. */
  private def requireCoded(slice: DataFrame, codes: String, lake: String): Unit = {
    val n = slice.filter(col(codes).isNull).count()
    require(n == 0L,
      s"$n stored vectors in the probed cells have no $codes codes " +
        s"(rows appended before that layout mixed into $lake) — rebuild " +
        "the store before serving from it")
  }

  /** Cell + code assignment for append. `znorm` is the codes-side
    * zero-norm marker: a zero-norm vector has no cosine,
    * so every serving path that ranks by cosine must exclude it — but
    * the batched join's ADC nomination reads ONLY the code bytes, which
    * cannot see the norm. Marking the row at append (when the raw
    * vector is in hand anyway) lets the codes-only nomination drop it
    * without touching the embedding column, so the served candidate set
    * matches the declared q_knn_join_ivfadc exactly. */
  private def assigned(
      spark: SparkSession, vecs: DataFrame,
      kit: graft.VectorQueries.AdcKit,
      sq8: Option[graft.VectorQueries.Sq8Kit] = None): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((kit, sq8))
    val rows = vecs.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val (k, s8) = bc.value
        it.map { case (id, v) =>
          val u = k.unitOf(v)
          val cell = k.cellOf(u)
          (id, v, cell.toLong, k.codesOf(u, cell).toSeq, v.forall(_ == 0f),
            s8.map(_.codesOf(u).toSeq))
        }
      }.toDF("vec_id", "embedding", "cell", "codes", "znorm", "sq8")
    // a store without the SQ8 layout grows no sq8 column
    if (sq8.isEmpty) rows.drop("sq8") else rows
  }

  /** Cell assignment WITHOUT codes — the dedup probe's path (the probe
    * only joins on the cell, so encoding 8 residual
    * codes per probe-batch row was pure waste, and worse, a probe on a
    * lake whose codebooks don't exist yet would have TRAINED them from
    * the arbitrary probe batch and persisted that accident as the
    * store's permanent fine quantizer). Centroids only. */
  private def cellAssigned(
      spark: SparkSession, vecs: DataFrame, cs: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cs)
    vecs.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, v) =>
          (id, v, graft.VectorQueries.probeCellsOf(c, v, 1).head)
        }
      }
      .toDF("vec_id", "embedding", "cell")
  }

  /** Append a batch ((vec_id, embedding)) to the store, assigning cells
    * AND residual PQ codes with the stored quantizers (trained on this
    * batch if absent) — every appended row is already indexed, so the
    * store doubles as an incrementally-maintained IVFADC index
    * ([[adcProbe]] serves queries from the codes alone). One narrow
    * shuffle: repartition on cell keeps files-per-batch = touched
    * cells, not tasks × cells. */
  def append(
      spark: SparkSession, lake: String, vecs: DataFrame,
      opq: Boolean = false, sq8: Boolean = false): Unit = {
    // the stored SQ8 artifact wins over the flag (train-once): a store
    // whose first append enabled sq8 keeps encoding the column on every
    // later batch, and a store that never enabled it never grows one
    val sk = sq8KitOf(spark, lake, vecs, enable = sq8)
    assigned(spark, vecs, kitOf(spark, lake, vecs, opq), sk)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(vecPath(lake))
  }

  /** Serve an ANN query FROM THE STORE's persisted codes — the dense
    * twin of [[PostingsStore.probe]] (the serving composition eats its
    * own index): compile the query against the stored kit (probe set,
    * decimal LUT, per-cell constants), statically prune the scan to the
    * probed `cell=` partitions, fold replay duplicates, and ADC-score
    * the 8 stored code bytes per row — the embedding column is never
    * read. Byte-identical to the batch q_ann_ivfadc on the same rows
    * (same kit and scorer; VectorStoreSpec pins it). At 100 TB the probe
    * reads probes/k of the code column only. */
  def adcProbe(
      spark: SparkSession, lake: String, qv: Seq[Float],
      probes: Int, k: Int, exclude: Set[Long] = Set.empty): DataFrame =
    servedTopK(spark, lake, qv, Rung.Adc, probes, k, exclude)

  /** Serve an SQ8 top-k FROM THE STORE's persisted affine codes (the
    * codebook-free serving rung below [[adcProbe]]): reconstruct-and-dot
    * over the stored uint8 column through the shared
    * [[graft.VectorQueries.Sq8Kit]], so the served answer is
    * byte-identical to the declared q_ann_sq8 on the same rows
    * (VectorStoreSpec pins it — same train frame, same codes, same
    * DECIMAL terms, same round-9 ranking). Plain SQ8 prunes nothing: it
    * probes every cell, reading (vec_id, sq8) only — neither the raw
    * embeddings nor the PQ codes. Zero-norm stored rows score like the
    * declared query scores them (SQ8 ranks by reconstructed inner
    * product, not cosine). */
  def sq8Probe(
      spark: SparkSession, lake: String, qv: Seq[Float], k: Int,
      exclude: Set[Long] = Set.empty): DataFrame =
    servedTopK(spark, lake, qv, Rung.Sq8, Int.MaxValue, k, exclude)

  /** The served single-query scan behind [[adcProbe]] and [[sq8Probe]]:
    * the rung's stored layout, pruned to the query's probed cells, scored
    * by [[graft.VectorQueries.scanTopK]] — the scorer the declared
    * queries run over their on-the-fly codes. At-least-once replay rows
    * are byte-identical (same kit, same vector): one survives,
    * whichever. */
  private def servedTopK(
      spark: SparkSession, lake: String, qv: Seq[Float], rung: Rung,
      probes: Int, k: Int, exclude: Set[Long]): DataFrame = {
    import spark.implicits._
    val store = graft.ingest.Sink.readOrEmpty(spark, vecPath(lake), merge = true)
      .getOrElse(return Seq.empty[(Long, Double)].toDF("vec_id", "adc"))
    val (kit, codes) = servingLayout(spark, lake, store, rung)
    val q = kit.query(qv, probes)
    val pruned = store.filter(col("cell").isin(q.probeSet.map(_.toLong).toSeq: _*))
    requireCoded(pruned, codes, lake)
    graft.VectorQueries.scanTopK(
      pruned
        .filter(if (exclude.isEmpty) lit(true)
                else !col("vec_id").isin(exclude.toSeq: _*))
        .select(col("vec_id"), col("cell").cast("int"), col(codes))
        .dropDuplicates("vec_id")
        .as[(Long, Int, Array[Int])],
      q, k)
  }

  /** Serve the BATCHED k-NN join from the store's persisted index — the
    * many-query composition of [[adcProbe]]: `queries` is a bounded
    * (qid, embedding) probe frame (the q_knn_join probe-frame contract —
    * it is collected once to compile each query driver-side).
    * Everything is statically pruned to the UNION of the queries' probed
    * `cell=` partitions, and `nominate` names the rung that picks the r
    * candidates per query:
    *
    *   - [[Rung.Adc]] (the default, the 100 TB serving path) and
    *     [[Rung.Sq8]] (the `--sq8` layout: an order of magnitude finer
    *     reconstruction at 8× the code bytes) nominate from the stored
    *     codes ALONE through [[graft.VectorQueries.nominatedOf]], the
    *     stage the declared q_knn_join_ivfadc / q_knn_join_sq8 run — the
    *     embedding column is never read there. Then the EXACT refine:
    *     only the nominated (qid, vec_id) pairs (broadcast, q × r rows)
    *     pull their raw vectors back from the same pruned partitions,
    *     and [[graft.VectorQueries.knnRefine]] ranks them. A code can
    *     misrank a true neighbor out of the r slots (VectorStoreSpec pins
    *     the structural contracts: exact scores on whatever is served,
    *     recall monotone in r, the exact answer when r covers the probed
    *     cells).
    *   - [[Rung.Exact]] nominates with the exact double cosine over the
    *     store's raw vectors — [[graft.VectorQueries.knnJoinFromCells]],
    *     the engine q_knn_join_ivf runs, over the persisted cell layout.
    *
    * Each is byte-identical to its declared join by shared code, pinned
    * in VectorStoreSpec. `excludeWhere` (over vec_id/cell) drops stored
    * rows from the candidate side — a pushable predicate, not an id
    * list, so the q_knn_join corpus split (`vec_id % 25 <> 0`) costs a
    * scan filter rather than a giant isin. Zero-norm stored vectors
    * never surface, and on a store with the `znorm` marker column
    * (appends since the marker landed) the code nomination drops them
    * BEFORE scoring — the declared joins' exact candidate set, without
    * reading the embedding column. On a pre-marker store the codes alone
    * cannot see the norm, so a zero-norm row can waste one nomination
    * slot there (post-nomination filtering only); rebuild or re-append to
    * remove it.
    *
    * Replay duplicates from the at-least-once window fold once per
    * stage (byte-identical rows — same kit, same vector); the fold is
    * idempotence insurance over the probed slice only, and a store kept
    * [[compact]]ed makes it a no-op. */
  def knnJoin(
      spark: SparkSession, lake: String, queries: DataFrame,
      probes: Int = graft.VectorQueries.KnnProbes,
      r: Int = graft.VectorQueries.KnnR,
      k: Int = graft.VectorQueries.KnnK,
      excludeWhere: Option[org.apache.spark.sql.Column] = None,
      nominate: Rung = Rung.Adc): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val empty = Seq.empty[(Long, Int, Long, Double)]
      .toDF("qid", "knn_rank", "vec_id", "cosine")
    val store = graft.ingest.Sink.readOrEmpty(spark, vecPath(lake), merge = true)
      .getOrElse(return empty)
    val (kit, codes) = servingLayout(spark, lake, store, nominate)
    val compiled = graft.VectorQueries.compiledOf(kit, queries, probes)
    if (compiled.isEmpty) return empty
    val cells = compiled.flatMap(_._2.probeSet).distinct.map(_.toLong)
    val pruned = store.filter(col("cell").isin(cells: _*))
    requireCoded(pruned, codes, lake)
    val candidates = excludeWhere.fold(pruned)(w => pruned.filter(!w))
    if (nominate == Rung.Exact) {
      val probeDf = compiled
        .flatMap { case (qid, q) => q.probeSet.toSeq.sorted.map(c => (qid, c.toLong)) }
        .toDF("qid", "cell")
      return graft.VectorQueries.knnJoinFromCells(
        candidates.select(col("cell"), col("vec_id"), col("embedding"))
          .dropDuplicates("vec_id"),
        probeDf, queries, r, k)
    }
    // drop zero-norm rows from the nomination input via the codes-side
    // marker (null on pre-marker files → not zero-norm as far as the
    // marker knows; the post-refine filter below still excludes them
    // from answers) so nomination stays embedding-free
    val nomInput =
      if (candidates.columns.contains("znorm"))
        candidates.filter(!coalesce(col("znorm"), lit(false)))
      else candidates
    val nomIds = graft.VectorQueries.nominatedOf(
      nomInput
        .select(col("vec_id"), col("cell").cast("int"), col(codes),
          col("vec_id").as("payload"))
        .dropDuplicates("vec_id")
        .as[(Long, Int, Array[Int], Long)],
      compiled, r)
    val nominated = candidates.select(col("vec_id"), col("embedding"))
      .join(broadcast(nomIds.select(col("qid"), col("vec_id"))), Seq("vec_id"))
      .dropDuplicates("qid", "vec_id")
      .filter(call_function("dot_double",
        col("embedding"), col("embedding")) > 0)
      .select(col("qid"), col("vec_id"), col("embedding"))
    graft.VectorQueries.knnRefine(
      nominated, graft.VectorQueries.knnQueryFrameOf(queries), k)
  }

  /** Probe a batch against the store: (vec_id, dup_of, cosine) for each
    * batch vector within cosine ≥ tau of an ALREADY-STORED vector in its
    * own cell (min dup_of on ties — one deterministic flag per batch
    * vector). Empty frame when the store doesn't exist yet. */
  def probeBatch(
      spark: SparkSession, lake: String, vecs: DataFrame, tau: Double): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val empty = Seq.empty[(Long, Long, Double)].toDF("vec_id", "dup_of", "cosine")
    val store = graft.ingest.Sink.readOrEmpty(spark, vecPath(lake), merge = true)
      .getOrElse(return empty)
    val batch =
      cellAssigned(spark, vecs, centroidsOf(spark, lake, vecs)).localCheckpoint()
    // bounded by the quantizer's cell domain (k values), not batch size —
    // the driver-side list is what turns the store scan into static
    // partition pruning
    val touched = batch.select("cell").distinct().as[Long].collect()
    if (touched.isEmpty) return empty
    def dd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("dot_double", a, b)
    store.filter(col("cell").isin(touched: _*))
      .select(col("cell"), col("vec_id").as("dup_of"), col("embedding").as("se"))
      .join(batch.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_id") =!= col("dup_of"))
      .withColumn("cosine",
        dd(col("embedding"), col("se")) /
          (sqrt(dd(col("embedding"), col("embedding"))) * sqrt(dd(col("se"), col("se")))))
      .filter(col("cosine") >= tau)
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("dup_of"), col("cosine")), col("dup_of")).as("m"))
      .select(col("vec_id"), col("m.dup_of").as("dup_of"), col("m.cosine").as("cosine"))
  }

  /** Small-file + duplicate-row maintenance
    * ([[graft.ingest.Sink.compactTable]]); MUST only run against a
    * terminated stream. Returns the retained row count. */
  def compact(spark: SparkSession, lake: String): Long =
    graft.ingest.Sink.compactTable(spark, vecPath(lake), "cell")
}
