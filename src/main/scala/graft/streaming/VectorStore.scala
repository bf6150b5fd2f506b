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
        val rows = df.select(col("m"), col("cell"), col("c"))
          .as[(Long, Long, Seq[Double])].collect()
        val loaded = rows.groupBy(_._1).toArray.sortBy(_._1)
          .map(_._2.sortBy(_._2).map(_._3.toArray))
        val rotated = df.columns.contains("rotated") &&
          df.filter(col("rotated")).limit(1).count() > 0
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

  /** The stored kit for SERVING — load-only, never train:
    * [[kitOf]]'s load-or-train fallback is correct at APPEND time (the
    * first batch trains the store's permanent quantizers) but lethal at
    * probe time — a store whose codebook artifact vanished (partial
    * store copy, deleted dir) while its coded rows survived would
    * silently retrain NEW codebooks and score the OLD persisted code
    * bytes against them, serving mixed-epoch ADC scores with no error.
    * Serving requires both trained artifacts to already exist and fails
    * with the rebuild instruction otherwise. */
  def servingKitOf(spark: SparkSession, lake: String): graft.VectorQueries.AdcKit = {
    def missing(what: String) =
      s"vector store at $lake has coded rows but no persisted $what — " +
        "retraining at serve time would score the stored codes against " +
        "a different quantizer epoch; rebuild the store (re-append the " +
        "corpus to a fresh store, or Cli vector-index) before serving " +
        "ADC probes"
    require(graft.ingest.Sink.readOrEmpty(spark, centroidPath(lake)).isDefined,
      missing("coarse quantizer (vector_centroids)"))
    require(graft.ingest.Sink.readOrEmpty(spark, codebookPath(lake)).isDefined,
      missing("PQ codebooks (vector_codebooks)"))
    kitOf(spark, lake,
      sys.error("unreachable: servingKitOf verified both artifacts exist"))
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

  /** The stored SQ8 kit for SERVING — load-only, never train (the
    * servingKitOf discipline): fails with the rebuild instruction when
    * the artifact is missing. */
  private def servingSq8KitOf(spark: SparkSession, lake: String): graft.VectorQueries.Sq8Kit =
    sq8KitOf(spark, lake,
      sys.error("unreachable: serving never trains"), enable = false)
      .getOrElse(throw new IllegalArgumentException(
        s"vector store at $lake has no persisted SQ8 kit (vector_sq8) — " +
          "build the layout (Cli vector-index --sq8, or append with " +
          "sq8 = true from the first batch) before serving SQ8 probes"))

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
    val bc = spark.sparkContext.broadcast(kit)
    val base = vecs.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
    sq8 match {
      case None =>
        base.mapPartitions { it =>
          val k = bc.value
          it.map { case (id, v) =>
            val u = k.unitOf(v)
            val cell = k.cellOf(u)
            (id, v, cell.toLong, k.codesOf(u, cell).toSeq, v.forall(_ == 0f))
          }
        }.toDF("vec_id", "embedding", "cell", "codes", "znorm")
      case Some(sk) =>
        val bcS = spark.sparkContext.broadcast(sk)
        base.mapPartitions { it =>
          val k = bc.value
          val s8 = bcS.value
          it.map { case (id, v) =>
            val u = k.unitOf(v)
            val cell = k.cellOf(u)
            (id, v, cell.toLong, k.codesOf(u, cell).toSeq, v.forall(_ == 0f),
              s8.codesOf(u).toSeq)
          }
        }.toDF("vec_id", "embedding", "cell", "codes", "znorm", "sq8")
    }
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
    * (same kit arithmetic by construction; VectorStoreSpec pins it).
    * At 100 TB the probe reads probes/k of the code column only. */
  def adcProbe(
      spark: SparkSession, lake: String, qv: Seq[Float],
      probes: Int, k: Int, exclude: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val store = graft.ingest.Sink.readOrEmpty(spark, vecPath(lake), merge = true)
      .getOrElse(return Seq.empty[(Long, Double)].toDF("vec_id", "adc"))
    // a lake written before the coded-index layout has no codes column
    // (or null codes on its old rows after a mixed append): serving it
    // silently would drop stored vectors from every answer, so fail
    // LOUDLY with the rebuild instruction instead
    require(store.columns.contains("codes"),
      s"vector store at $lake predates the coded IVFADC layout — " +
        "rebuild it (re-append the corpus to a fresh store, or Cli " +
        "vector-index) before serving ADC probes")
    val kit = servingKitOf(spark, lake)
    val q = kit.query(qv, probes)
    val cells = q.probeSet.map(_.toLong).toSeq
    val bcQ = spark.sparkContext.broadcast(q)
    val pruned = store.filter(col("cell").isin(cells: _*))
    val nUncoded = pruned.filter(col("codes").isNull).count()
    require(nUncoded == 0L,
      s"$nUncoded stored vectors in the probed cells have no codes " +
        s"(pre-layout rows mixed into $lake) — rebuild the store before " +
        "serving ADC probes")
    pruned
      .filter(if (exclude.isEmpty) lit(true)
              else !col("vec_id").isin(exclude.toSeq: _*))
      // at-least-once replay rows are byte-identical (same kit, same
      // vector) — one survives, whichever
      .dropDuplicates("vec_id")
      .select(col("vec_id"), col("cell"), col("codes"))
      .as[(Long, Long, Seq[Int])]
      .mapPartitions { it =>
        val qq = bcQ.value
        it.map { case (id, cell, codes) =>
          (id, qq.scoreDec(cell.toInt, codes.toArray).doubleValue)
        }
      }
      .toDF("vec_id", "adc")
      .select(col("vec_id"), round(col("adc"), 9).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** Serve an SQ8 top-k FROM THE STORE's persisted affine codes
    * (the codebook-free serving rung below the
    * PQ-family [[adcProbe]]): reconstruct-and-dot over the stored
    * uint8 column through the ONE [[graft.VectorQueries.Sq8Kit]]
    * spelling, so the served answer is byte-identical to the declared
    * q_ann_sq8 on the same rows (VectorStoreSpec pins it — same train
    * frame, same codes, same DECIMAL terms, same round-9 ranking).
    * The scan reads (vec_id, sq8) ONLY — neither the raw embeddings
    * nor the PQ codes; plain SQ8 has no coarse quantizer so there is no
    * cell pruning (q_ann_sq8's full-scan shape, an order of magnitude
    * finer reconstruction than PQ at 8× the bytes — the rate-distortion
    * position AnnRecallSpec pins). Zero-norm stored rows score like the
    * declared query scores them (unit() passes them through raw) —
    * SQ8 ranks by reconstructed inner product, not cosine, so they need
    * no special casing. Replay duplicates fold once (byte-identical
    * rows — same stored kit). Fails LOUDLY on a store without the sq8
    * layout or with pre-layout uncoded rows (the adcProbe contract). */
  def sq8Probe(
      spark: SparkSession, lake: String, qv: Seq[Float], k: Int,
      exclude: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val store = graft.ingest.Sink.readOrEmpty(spark, vecPath(lake), merge = true)
      .getOrElse(return Seq.empty[(Long, Double)].toDF("vec_id", "adc"))
    require(store.columns.contains("sq8"),
      s"vector store at $lake has no sq8 column — build the layout " +
        "(Cli vector-index --sq8, or append with sq8 = true from the " +
        "first batch) before serving SQ8 probes")
    val kit = servingSq8KitOf(spark, lake)
    val nUncoded = store.filter(col("sq8").isNull).count()
    require(nUncoded == 0L,
      s"$nUncoded stored vectors have no sq8 codes (rows appended " +
        s"before the sq8 layout mixed into $lake) — rebuild the store " +
        "before serving SQ8 probes")
    // one query → one LONG LUT, compiled driver-side: scoring a
    // stored row is 64 long lookups + adds, bit-identical to scoreDec
    // (Sq8Kit.scoreLutLong's same-scale argument; the q_ann_sq8
    // byte-identity pin gates it)
    val qu = kit.unitOf(qv)
    val bc = spark.sparkContext.broadcast((kit, qu, kit.lutLongOf(qu)))
    store
      .filter(if (exclude.isEmpty) lit(true)
              else !col("vec_id").isin(exclude.toSeq: _*))
      .select(col("vec_id"), col("sq8"))
      .dropDuplicates("vec_id")
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val (k8, u, lutL) = bc.value
        it.map { case (id, codes) =>
          (id, k8.scoreLutLong(lutL, k8.lutOf(u), codes.toArray).doubleValue)
        }
      }
      .toDF("vec_id", "adc")
      .select(col("vec_id"), round(col("adc"), 9).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** Serve the BATCHED k-NN join from the store's persisted index — the
    * many-query composition of [[adcProbe]] (which serves one query):
    * `queries` is a bounded (qid, embedding) probe frame (the q_knn_join
    * probe-frame contract — it is collected once to compile each
    * query's ADC tables driver-side, exactly [[adcProbe]]'s per-query
    * compilation). Everything is statically pruned to the UNION of the
    * queries' probed `cell=` partitions, and the nomination stage comes
    * in two spellings:
    *
    *   - `adcNominate = true` (the 100 TB serving path): nominate from
    *     the stored code bytes ALONE — the embedding column is never
    *     read in this stage. A driver-built inverted map cell →
    *     queries-probing-it keeps the per-row work at |queries probing
    *     this row's cell|, and the r-bounded topk_pairs partials keep
    *     the one shuffle at q × r rows. Then the EXACT refine: only the
    *     nominated (qid, vec_id) pairs (broadcast — q × r rows) pull
    *     their raw vectors back from the same pruned partitions, and
    *     [[graft.VectorQueries.knnRefine]] — the DECIMAL re-rank
    *     spelling the declared joins use — ranks them. Recall follows
    *     the residual-PQ trade q_ann_ivfadc documents: an 8-byte code
    *     can misrank a true neighbor out of the r nomination slots
    *     (VectorStoreSpec pins the structural contracts — exact scores
    *     on whatever is served, probed-cell containment, and that
    *     nomination recall is monotone in r, reaching the exact answer
    *     when r covers the probed cells).
    *   - `adcNominate = false`: nominate with the exact double cosine
    *     over the store's raw vectors —
    *     [[graft.VectorQueries.knnJoinFromCells]], the SAME engine body
    *     q_knn_join_ivf runs, over the persisted cell layout instead of
    *     a re-derived assignment. Byte-identical to the declared join
    *     by shared code, pinned in VectorStoreSpec; reads the embedding
    *     column of the probed cells.
    *   - `sq8Nominate = true` (requires the `--sq8` layout): the
    *     middle rung — nominate from the stored SCALAR codes
    *     (reconstruct-and-dot through the shared
    *     [[graft.VectorQueries.Sq8Kit]]), an order of magnitude finer
    *     reconstruction than the 8-byte ADC at 8× the code bytes, still
    *     without touching raw embeddings until the exact refine;
    *     VectorStoreSpec pins exact scores on every served pair,
    *     monotone recall in r, and convergence to the exact-nominate
    *     answer at full r.
    *
    * `excludeWhere` (over vec_id/cell) drops stored rows from the
    * candidate side — a pushable predicate, not an id list, so the
    * q_knn_join corpus split (`vec_id % 25 <> 0`) costs a scan filter
    * rather than a giant isin. Zero-norm stored vectors never surface,
    * and on a store with the `znorm` marker column (appends since the
    * marker landed) the ADC nomination drops them BEFORE scoring via
    * the codes-side marker — the declared q_knn_join_ivfadc's exact
    * candidate set, without reading the embedding column. On a
    * pre-marker store the codes alone cannot see the norm, so a
    * zero-norm row can each waste one nomination slot there (the one
    * documented deviation from the declared query, post-nomination
    * filtering only); rebuild or re-append to remove it.
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
      adcNominate: Boolean = true,
      sq8Nominate: Boolean = false): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.ensureRegistered(spark)
    val empty = Seq.empty[(Long, Int, Long, Double)]
      .toDF("qid", "knn_rank", "vec_id", "cosine")
    val store = graft.ingest.Sink.readOrEmpty(spark, vecPath(lake), merge = true)
      .getOrElse(return empty)
    require(store.columns.contains("codes"),
      s"vector store at $lake predates the coded IVFADC layout — " +
        "rebuild it (re-append the corpus to a fresh store, or Cli " +
        "vector-index) before serving ADC probes")
    val kit = servingKitOf(spark, lake)
    // bounded probe frame, compiled driver-side; zero-norm queries are
    // dropped here AND in knnQueryFrameOf (same predicate) so the two
    // legs agree on the query set
    val raw = queries.select(col("qid"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .filter { case (_, v) => v.exists(_ != 0f) }
    val compiled = raw.map { case (qid, v) => (qid, kit.query(v, probes)) }
    if (compiled.isEmpty) return empty
    val cells = compiled.flatMap(_._2.probeSet).distinct.map(_.toLong).toSeq
    val pruned = store.filter(col("cell").isin(cells: _*))
    // ONE validation job for both layout columns: the codes check
    // and (when sq8-nominating) the sq8 check each cost a full pruned-
    // store scan as separate jobs; a single two-column aggregate keeps
    // the identical loud-refusal contract at half the scan count
    val needSq8 = sq8Nominate && store.columns.contains("sq8")
    // coalesce(…, 0): sum() over an EMPTY pruned slice (probed cells with
    // zero stored rows) is SQL NULL, and getLong on a null row field
    // throws; an empty slice must proceed to an empty result, as a
    // per-check count() of 0 would
    val chk = pruned.agg(
      coalesce(sum(when(col("codes").isNull, 1L).otherwise(0L)), lit(0L)).as("nc"),
      (if (needSq8)
         coalesce(sum(when(col("sq8").isNull, 1L).otherwise(0L)), lit(0L))
       else lit(0L)).as("ns")).head()
    val nUncoded = chk.getLong(0)
    require(nUncoded == 0L,
      s"$nUncoded stored vectors in the probed cells have no codes " +
        s"(pre-layout rows mixed into $lake) — rebuild the store before " +
        "serving ADC probes")
    val nUncodedSq8 = chk.getLong(1)
    val candidates = excludeWhere.fold(pruned)(w => pruned.filter(!w))

    if (sq8Nominate) {
      // nominate from the SQ8 scalar codes (the finer-than-PQ
      // rung serving the batched join too): reconstruct-and-dot per
      // (probed row, probing query) through the ONE Sq8Kit spelling,
      // round-9 scores into the same r-bounded partials, then the
      // shared exact refine. The scan reads (vec_id, cell, sq8) — no
      // raw embeddings, no PQ codes; cell pruning and the zero-norm
      // marker behave exactly as the ADC leg.
      require(store.columns.contains("sq8"),
        s"vector store at $lake has no sq8 column — build the layout " +
          "(Cli vector-index --sq8, or append with sq8 = true from the " +
          "first batch) before sq8-nominated serving")
      val kit8 = servingSq8KitOf(spark, lake)
      val qUnits: Map[Long, Array[Double]] =
        raw.map { case (qid, v) => qid -> kit8.unitOf(v) }.toMap
      // per-query LONG LUTs compiled once driver-side, in parallel (the
      // declared knnJoinSq8's spelling — Sq8Kit.lutLongsOf):
      // 128 KB of unscaled longs per query — one broadcast copy per
      // executor replaces the previous per-partition decimal-LUT cache
      // (which re-built ~0.8 MB of BigDecimals per (partition, qid));
      // scoring stays bit-identical (Sq8Kit.scoreLutLong's same-scale
      // argument, gated by the q_knn_join_sq8 byte-identity pins)
      val qLuts: Map[Long, Array[Array[Long]]] = kit8.lutLongsOf(qUnits)
      val byCell8: Map[Int, Array[Long]] = compiled.toSeq
        .flatMap { case (qid, qq) => qq.probeSet.iterator.map(c => (c, qid)) }
        .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).toArray) }
      val bcKit8 = spark.sparkContext.broadcast(kit8)
      val bcQU = spark.sparkContext.broadcast(qUnits)
      val bcQL = spark.sparkContext.broadcast(qLuts)
      val bcByCell8 = spark.sparkContext.broadcast(byCell8)
      val nomBase =
        if (candidates.columns.contains("znorm"))
          candidates.filter(!coalesce(col("znorm"), lit(false)))
        else candidates
      // counted in the shared validation aggregate above (over the
      // probed cells — the adcProbe/sq8Probe whole-layout discipline)
      require(nUncodedSq8 == 0L,
        s"$nUncodedSq8 stored vectors in the probed cells have no sq8 " +
          s"codes (rows appended before the sq8 layout mixed into $lake)" +
          " — rebuild the store before sq8-nominated serving")
      val nomIds8 = nomBase
        .select(col("vec_id"), col("cell"), col("sq8"))
        .dropDuplicates("vec_id")
        .as[(Long, Long, Seq[Int])]
        .mapPartitions { it =>
          val k8 = bcKit8.value
          val qs = bcQU.value
          val ql = bcQL.value
          val m = bcByCell8.value
          it.flatMap { case (id, cell, codes) =>
            m.get(cell.toInt) match {
              case None => Iterator.empty
              case Some(qids) =>
                val arr = codes.toArray
                qids.iterator.map { qid =>
                  (qid, id,
                    k8.scoreLutLong(ql(qid), k8.lutOf(qs(qid)), arr)
                      .doubleValue)
                }
            }
          }
        }
        .toDF("qid", "vec_id", "s8")
        .groupBy("qid")
        .agg(call_function("topk_pairs",
          round(col("s8"), 9), col("vec_id"), col("vec_id"), lit(r)).as("cand"))
        .select(col("qid"), explode(col("cand")).as("c"))
        .select(col("qid"), col("c.id").as("vec_id"))
      val nominated8 = candidates.select(col("vec_id"), col("embedding"))
        .join(broadcast(nomIds8), Seq("vec_id"))
        .dropDuplicates("qid", "vec_id")
        .filter(call_function("dot_double",
          col("embedding"), col("embedding")) > 0)
        .select(col("qid"), col("vec_id"), col("embedding"))
      return graft.VectorQueries.knnRefine(
        nominated8, graft.VectorQueries.knnQueryFrameOf(queries), k)
    }

    if (!adcNominate) {
      // AdcQuery.probeSet ranks cells exactly like probeCellsOf (the
      // declared join's probe derivation) — reuse the compiled sets
      val probeDf = compiled.toSeq
        .flatMap { case (qid, qq) => qq.probeSet.toSeq.sorted.map(c => (qid, c.toLong)) }
        .toDF("qid", "cell")
      return graft.VectorQueries.knnJoinFromCells(
        candidates.select(col("cell"), col("vec_id"), col("embedding"))
          .dropDuplicates("vec_id"),
        probeDf, queries, r, k)
    }

    // cell → the queries probing it: per stored row, only those
    // queries score it (the inverted shape of adcProbe's one probeSet)
    val byCell: Map[Int, Array[(Long, graft.VectorQueries.AdcQuery)]] =
      compiled.toSeq
        .flatMap { case (qid, qq) => qq.probeSet.iterator.map(c => (c, (qid, qq))) }
        .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).toArray) }
    val bcByCell = spark.sparkContext.broadcast(byCell)
    // drop zero-norm rows from the nomination input via the codes-side
    // marker (null on pre-marker files → not zero-norm as far as the
    // marker knows; the post-refine filter below still excludes them
    // from answers) so nomination stays embedding-free
    val nomInput =
      if (candidates.columns.contains("znorm"))
        candidates.filter(!coalesce(col("znorm"), lit(false)))
      else candidates
    val nomIds = nomInput
      .select(col("vec_id"), col("cell"), col("codes"))
      .dropDuplicates("vec_id")
      .as[(Long, Long, Seq[Int])]
      .mapPartitions { it =>
        val m = bcByCell.value
        it.flatMap { case (id, cell, codes) =>
          m.get(cell.toInt) match {
            case None => Iterator.empty
            case Some(qs) =>
              val arr = codes.toArray
              qs.iterator.map { case (qid, qq) =>
                (qid, id, qq.scoreDec(cell.toInt, arr).doubleValue)
              }
          }
        }
      }
      .toDF("qid", "vec_id", "adc")
      .groupBy("qid")
      // round-9 nomination scores — the adcProbe output contract, and
      // the spelling that makes this byte-identical to the declared
      // q_knn_join_ivfadc (whose oracle replays the rounded ordering)
      .agg(call_function("topk_pairs",
        round(col("adc"), 9), col("vec_id"), col("vec_id"), lit(r)).as("cand"))
      .select(col("qid"), explode(col("cand")).as("c"))
      .select(col("qid"), col("c.id").as("vec_id"))
    val nominated = candidates.select(col("vec_id"), col("embedding"))
      .join(broadcast(nomIds), Seq("vec_id"))
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
