package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim).
  *
  * Numeric design: dot products / squared norms are per-element double
  * products (IEEE-deterministic) cast to DECIMAL(38,18) and folded with
  * `aggregate` — decimal addition is exact and order-insensitive, so
  * results are identical across Spark partitionings AND identical to the
  * DuckDB oracle. Only the final cosine = dot / (||a||·||b||) is double.
  *
  * Performance design: the exact decimal fold is ~192 BigDecimal
  * ops per pair — far too slow to run on every candidate pair. Every pair
  * query therefore computes a cheap DOUBLE cosine first (64 fused multiplies)
  * and only pays decimal on pairs within 1e-6 of the threshold boundary; the
  * margin is orders of magnitude wider than 64-term double-dot rounding
  * error (~1e-14 relative), so the surviving set — and hence the exact
  * output — is identical to decimal-everywhere.
  *
  * Candidate generation: both near-dup queries share ONE hyperplane-LSH
  * engine ([[signatures]]/[[bucketPairs]]): random-hyperplane signatures
  * (16 planes, banded 4×4) bucket the table so candidate count scales with
  * similar-pair density, not with any blocking key's cardinality.
  *  - `q_neardup_lsh` buckets on (band_id, band_val) alone — whole-table
  *    near-dup, the pure 100 TB shape;
  *  - `q_neardup_embedding` buckets on (label, band_id, band_val) — the
  *    "near-dups within a group" production shape (e.g. per-language dedup).
  * The hyperplanes derive from a shared integer LCG so the DuckDB oracle
  * reproduces the exact same buckets, candidates and output.
  *
  * Why the LSH queries' contract is "deterministic approximate", verified
  * by an oracle that REBUILDS the blocking, rather than compared against a
  * brute-force all-pairs oracle: LSH recall at these thresholds cannot
  * reach 1. A pair at cosine t agrees with a random hyperplane with
  * probability p = 1 − arccos(t)/π; at t = 0.3, p ≈ 0.60, a 4-bit band
  * matches with p⁴ ≈ 0.13, and B bands miss with (1 − p⁴)^B ≈ 0.58 at
  * B = 4. Driving the miss rate below 1e-6 needs B ≈ 100 bands, whose
  * candidate volume EXCEEDS the n²/2 brute-force pair count (each extra
  * band admits ~n²/16 random pairs). Exact low-threshold all-pairs is
  * inherently quadratic; the scalable operator is approximate with
  * deterministic blocking — what production dedup pipelines ship, and
  * what the oracle hash-checks here, at both test SFs and at 100 TB.
  */
object VectorQueries {

  private val Dim = 64
  private val Dec = DecimalType(38, 18)

  /** Exact decimal dot product of two float vectors, folded in-row:
    * sum_i cast(double(a_i)*double(b_i) as decimal(38,18)).
    *
    * Stays a higher-order `aggregate(zip_with(...))` fold on purpose: a
    * flat expression (64 getItem terms + per-step casts) measured
    * BLEW UP decimal codegen — 2-6× slower across every vector query —
    * while the HOF fold's interpreted lambda is cheap next to BigDecimal
    * arithmetic itself. (The primitive-double prune below is the opposite
    * case and is flat.) The re-cast keeps the accumulator at the zero's
    * DECIMAL(38,18) type (Spark types dec+dec as (38,17)); values are
    * unaffected: each term is ~1e0, so 38 digits never saturate. */
  private def dotDec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast(DoubleType) * y.cast(DoubleType)).cast(Dec)),
      lit(0).cast(Dec),
      (acc, x) => (acc + x).cast(Dec))

  /** Cheap double dot product for pruning (NOT for output: double addition
    * is order-sensitive, so this is never compared across engines).
    * Delegates to the native codegen'd [[graft.functions.DotDouble]]
    * expression — profiling on the 451k-pair verify stream showed the
    * two declarative spellings both interpret: a flat 64-term `reduce`
    * JIT-bails on method size (~12 µs/row) and an `aggregate(zip_with)`
    * HOF walks `Expression.eval` per element (~2 µs/row); the native
    * loop JITs to fused multiply-adds. Callers must have run
    * [[graft.functions.GraftExtensions.ensureRegistered]]. */
  private def dotDouble(a: Column, b: Column): Column =
    call_function("dot_double", a, b)

  /** Final cosine. The decimal sums are exact in both engines, but
    * DECIMAL→DOUBLE conversion can differ by 1 ulp between Spark (string
    * round-trip, correctly rounded) and DuckDB (int128 scale-divide), so the
    * result is rounded to 9 decimals — also used for ordering/thresholding,
    * keeping both engines' row sets and sort orders identical. */
  private def cosineCol(dot: Column, na: Column, nb: Column): Column =
    round(dot.cast(DoubleType) / (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType))), 9)

  /** The exact-cosine scoring CTEs (q/sums/qn/cosd — round-9 cosine of
    * every vector vs vec 0), shared VERBATIM by the q_ann_bruteforce
    * oracle and the q_hybrid_rrf oracle's dense leg: ONE spelling of the
    * decimal-summed cosine, like the Scala side's one [[bruteCosineOf]] —
    * a change here changes both oracles together. */
  private[graft] val CosineOracleCtes: String =
    s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |sums AS (
       |  SELECT e.vec_id,
       |         SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
       |                  AS DECIMAL(38,18))) AS dot_dec,
       |         SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
       |                  AS DECIMAL(38,18))) AS norm_dec
       |  FROM embeddings e, q, generate_series(1, $Dim) t(i)
       |  GROUP BY e.vec_id),
       |qn AS (SELECT norm_dec AS qnorm_dec FROM sums WHERE vec_id = 0),
       |cosd AS (
       |  SELECT sums.vec_id,
       |         round(CAST(dot_dec AS DOUBLE)
       |           / (sqrt(CAST(norm_dec AS DOUBLE)) * sqrt(CAST(qnorm_dec AS DOUBLE))), 9)
       |           AS cosine
       |  FROM sums, qn WHERE sums.vec_id <> 0)""".stripMargin

  /** The lexical rank list both hybrid fusions and the retrieval eval
    * share: BM25 served from the persisted inverted-index store (the
    * serving composition eats its own index): the postings
    * store builds once per dataset through the real PostingsStore write
    * path (shared with q_bm25_indexed via the same materializeDir key),
    * the probe statically prunes to the query terms' token buckets and
    * scores with bm25ScoreExpr — byte-identical to the corpus scan, as
    * q_bm25_indexed proves against q_bm25_topk's oracle — then reduces
    * to its top-`k` (TakeOrdered, bounded-result) and ranks within the k
    * rows via a single-partition window (k-bounded by construction,
    * never corpus-sized). At 100 TB BOTH legs of the fused serving path
    * read indexes: this one the postings buckets, the dense one the
    * probed IVF cells' codes. Mirrored oracle-side by the `lex`/`lexr`
    * CTEs both oracles compose from [[graft.TextQueries.Bm25OracleCtes]]
    * (the oracle re-derives the scores from the corpus — the store IS
    * the corpus's index, so the hashes meet). */
  private def bm25TopKRanks(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = Tables.materializeDir("bm25_store", d) { p =>
      graft.streaming.PostingsStore.appendBatch(
        p, Tables.documents(s, d).select(col("doc_id"), col("text")),
        batchId = 0L)
    }
    graft.streaming.PostingsStore
      .probe(s, store, TextQueries.DefaultQueryTerms)
      .orderBy(col("score_dec").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score_dec").desc, col("doc_id")))
        .cast(LongType).as("rank_lex"))
  }

  /** The RRF-fused oracle CTE over two rank CTEs (`lexCte` must expose
    * (doc_id, rank_lex), `denseCte` (doc_id, rank_dense)) — ONE SQL
    * spelling of [[rrfFuseOf]]'s bit-stable cross-multiplied arithmetic,
    * composed by the q_hybrid_rrf, q_hybrid_rrf_ann and q_retrieval_eval
    * oracles, so the CASE exists once (the shared-oracle-CTE
    * discipline). */
  private def rrfFusedCteSql(name: String, lexCte: String, denseCte: String): String =
    s"""$name AS (
       |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         l.rank_lex, v.rank_dense,
       |         CASE WHEN l.rank_lex IS NOT NULL AND v.rank_dense IS NOT NULL
       |              THEN CAST(120 + l.rank_lex + v.rank_dense AS DOUBLE)
       |                   / CAST((60 + l.rank_lex) * (60 + v.rank_dense) AS DOUBLE)
       |              WHEN l.rank_lex IS NOT NULL
       |              THEN 1.0 / CAST(60 + l.rank_lex AS DOUBLE)
       |              ELSE 1.0 / CAST(60 + v.rank_dense AS DOUBLE) END AS rrf
       |  FROM $lexCte l FULL OUTER JOIN $denseCte v ON l.doc_id = v.doc_id)""".stripMargin

  /** [[rrfFusedCteSql]] per PROBE (the hybrid eval's oracle leg):
    * `lexCte` must expose (qid, doc_id, rank_lex), `denseCte`
    * (qid, doc_id, rank_dense); the fusion keys on (qid, doc_id) and
    * keeps the RAW rrf for the per-qid rank window downstream — the
    * cross-multiplied double is the bit-stable cross-engine value. */
  private def rrfFusedByQidCteSql(
      name: String, lexCte: String, denseCte: String): String =
    s"""$name AS (
       |  SELECT coalesce(l.qid, v.qid) AS qid,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         l.rank_lex, v.rank_dense,
       |         CASE WHEN l.rank_lex IS NOT NULL AND v.rank_dense IS NOT NULL
       |              THEN CAST(120 + l.rank_lex + v.rank_dense AS DOUBLE)
       |                   / CAST((60 + l.rank_lex) * (60 + v.rank_dense) AS DOUBLE)
       |              WHEN l.rank_lex IS NOT NULL
       |              THEN 1.0 / CAST(60 + l.rank_lex AS DOUBLE)
       |              ELSE 1.0 / CAST(60 + v.rank_dense AS DOUBLE) END AS rrf
       |  FROM $lexCte l FULL OUTER JOIN $denseCte v
       |    ON l.qid = v.qid AND l.doc_id = v.doc_id)""".stripMargin

  /** Reciprocal-rank fusion of two bounded rank lists — the q_hybrid_rrf
    * engine over ANY (doc_id, rank_lex) × (doc_id, rank_dense) frames
    * (ranks 1-based; each list at most K rows — the fusion is meant for
    * post-TakeOrdered lists, every stage here is K-bounded). The RRF
    * score 1/(60+r_lex) + 1/(60+r_dense) is computed as ONE double
    * division of exact integers — (120+a+b)/((60+a)(60+b)) by
    * cross-multiplication, the TV-distance idiom — so the fused order is
    * bit-stable cross-engine (two separate divisions would hinge on
    * addition order); a doc absent from one list contributes plain
    * 1/(60+r). The K-row full-outer join is SHUFFLE_HASH-pinned (full
    * outer cannot broadcast; without the hint the plan is an
    * estimate-dependent SMJ). Output: (rank_fused, doc_id, rank_lex,
    * rank_dense, rrf_score), ordered by the fusion. */
  /** The one RRF score spelling both fusion engines share (see
    * [[rrfFuseOf]] for the cross-multiplication rationale). */
  private def rrfScoreExpr: Column =
    when(col("rank_lex").isNotNull && col("rank_dense").isNotNull,
        (lit(120L) + col("rank_lex") + col("rank_dense")).cast(DoubleType)
          / ((lit(60L) + col("rank_lex")) * (lit(60L) + col("rank_dense")))
            .cast(DoubleType))
      .when(col("rank_lex").isNotNull,
        lit(1.0) / (lit(60L) + col("rank_lex")).cast(DoubleType))
      .otherwise(lit(1.0) / (lit(60L) + col("rank_dense")).cast(DoubleType))

  private[graft] def rrfFuseOf(lex: DataFrame, dns: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lex.join(dns.hint("SHUFFLE_HASH"), Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrfScoreExpr)
      .select(
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
          .cast(LongType).as("rank_fused"),
        col("doc_id"), col("rank_lex"), col("rank_dense"),
        round(col("rrf"), 9).as("rrf_score"))
      .orderBy("rank_fused")
  }

  /** [[rrfFuseOf]] per PROBE — the batched fusion (the hybrid eval's
    * engine): `lex` must carry (qid, doc_id, rank_lex), `dns`
    * (qid, doc_id, rank_dense), each qid's lists K-bounded; the
    * full-outer join keys on (qid, doc_id) and the fused rank windows
    * per qid (parallelism = probe count — the frame is probes × 2K
    * rows, bounded by contract). Output: (qid, rank_fused, doc_id,
    * rank_lex, rank_dense, rrf_score), unordered across qids. */
  private[graft] def rrfFuseByQidOf(lex: DataFrame, dns: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lex.join(dns.hint("SHUFFLE_HASH"), Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", rrfScoreExpr)
      .select(col("qid"),
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id")))
          .cast(LongType).as("rank_fused"),
        col("doc_id"), col("rank_lex"), col("rank_dense"),
        round(col("rrf"), 9).as("rrf_score"))
  }

  /** Exact-cosine scores of every vector against the demo query vector
    * (vec 0) — the dense retrieval leg shared by q_ann_bruteforce (top-10)
    * and the hybrid fusion (q_hybrid_rrf, top-K rank list). The query
    * vector broadcasts to every partition; dot + norm are in-row folds, so
    * the scan is one codegen stage feeding straight into the caller's
    * TakeOrderedAndProject — the shape that scales to any table size with
    * a constant-size driver result. Output: (vec_id, cosine), cosine
    * rounded to 9 (see [[cosineCol]] — rounding is part of the ordering
    * contract), unordered. */
  private[graft] def bruteCosineOf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        dotDec(col("embedding"), col("embedding")).as("qnorm_dec"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        cosineCol(
          dotDec(col("embedding"), col("qe")),
          dotDec(col("embedding"), col("embedding")),
          col("qnorm_dec")).as("cosine"))
  }

  // ---- random-hyperplane LSH (q_neardup_lsh) -------------------------------

  // Banding selectivity is the tuning knob: random-pair collision chance is
  // ~Bands × 2^-BandBits. The synthetic table has no true near-dups (max
  // pairwise cosine ≈ 0.55), so 4×4 keeps the demo output non-empty; a real
  // near-dup corpus (cosine ≥ 0.9 pairs) would use 8-16-bit bands, where
  // random collisions vanish and candidate volume tracks near-dup density.
  private val Planes = 16
  private val BandBits = 4 // 4 bands × 4 bits
  private val Bands = Planes / BandBits

  /** ±1 hyperplane weight from a shared LCG — the SQL oracle computes the
    * identical expression, so both engines build the same hyperplanes. */
  private def planeWeight(p: Int, i: Int): Double = {
    val x = (p * Dim + i).toLong
    if ((x * 1103515245L + 12345L) % 2147483648L < 1073741824L) 1.0 else -1.0
  }

  /** SQL fragment for the same weight (DuckDB; i is 1-based there). */
  private def planeWeightSql(p: String, i1: String): String =
    s"CASE WHEN (($p * $Dim + ($i1 - 1)) * 1103515245 + 12345) % 2147483648 < 1073741824 " +
      "THEN 1.0 ELSE -1.0 END"

  /** Margin below which a double projection's sign is not trusted. The
    * weights are ±1, so every product is EXACT in double (only the 63
    * additions round): |error| ≤ 63·ulp·Σ|x_i| < 1e-10 for any sane float
    * embedding, four orders under this margin. Projections genuinely inside
    * the margin (P ≈ 1e-7 per plane for O(1)-scale data) fall back to the
    * exact-decimal fold, so every emitted bit equals the decimal oracle's
    * bit-for-bit — the pair-prune margin trick applied to signatures. */
  private val SignMargin = 1e-6

  /** DOUBLE projection onto plane p — the ±1 weights make every product
    * exact; only the additions round (see [[SignMargin]]). The constant
    * weight array folds to a literal; the dot is the same native
    * [[graft.functions.DotDouble]] loop as [[dotDouble]]. */
  private def dproj(p: Int): Column =
    dotDouble(col("embedding"),
      array((0 until Dim).map(i => lit(planeWeight(p, i))): _*))

  /** One signature bit from a precomputed double projection: trust the
    * double sign beyond [[SignMargin]]; inside it, re-derive the sign from
    * the exact-decimal fold (CaseWhen evaluates branches lazily, so the
    * interpreted decimal fold only ever runs for near-zero projections). */
  private def bitFromProj(proj: Column, p: Int): Column = {
    val w = array((0 until Dim).map(i => lit(planeWeight(p, i))): _*)
    when(abs(proj) > lit(SignMargin), when(proj >= lit(0d), 1).otherwise(0))
      .otherwise(when(dotDec(col("embedding"), w) >= 0, 1).otherwise(0))
  }


  /** Per-row LSH state: `blockCols ++ (vec_id, band_id, band_val)`, one row
    * per band. All 16 hyperplane projections are IN-ROW double HOF folds
    * (sign certified by [[SignMargin]], decimal fallback for near-zero) —
    * no posexplode, no aggregation, no shuffle: the signature stage is one
    * map over the scan. The sign margin makes DOUBLE projections safe,
    * and in-row double folds beat both an exploded SUM aggregation —
    * which pays a groupBy shuffle — and the flat-expression form, which
    * JIT-bails; see [[dotDouble]].
    * Norms are NOT computed here — [[verifyPairs]] folds them in-row. */
  private[graft] def signatures(emb: DataFrame, blockCols: Seq[String]): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(emb.sparkSession)
    val keys = col("vec_id") +: blockCols.map(col)
    val withProj = emb.select(
      (keys :+ col("embedding")) ++
        (0 until Planes).map(p => dproj(p).as(s"proj$p")): _*)
    val bandStructs = (0 until Bands).map { b =>
      val v = (0 until BandBits)
        .map { r =>
          val p = b * BandBits + r
          bitFromProj(col(s"proj$p"), p) * lit(1 << r)
        }
        .reduce(_ + _)
      struct(lit(b).as("band_id"), v.as("band_val"))
    }
    withProj
      .select(keys :+ posexplode(array(bandStructs: _*)).as(Seq("_", "band")): _*)
      .select(keys :+ col("band.band_id") :+ col("band.band_val"): _*)
  }

  /** Bucket-local candidate pairs: collect each (blockCols, band) bucket's
    * ids and emit its pairs directly (one signature pass, no sig self-join);
    * a pair colliding in several bands dedups on the small id-pair BEFORE
    * any vector is carried through a shuffle — candidate volume scales with
    * similar-pair density, not n²/|blocking key|. */
  private[graft] def bucketPairs(sig: DataFrame, blockCols: Seq[String]): DataFrame =
    // shared bounded bucket-local engine (graft.BucketPairs): all-pairs
    // within normal buckets (sorted ids, vec_a < vec_b — the chained-
    // generator shape), star pairs in oversized ones so candidate volume
    // scales with similar-pair density AND stays bounded under adversarial
    // bucket skew
    graft.BucketPairs.pairs(
        sig, blockCols ++ Seq("band_id", "band_val"), "vec_id", blockCols)
      .withColumnRenamed("a", "vec_a")
      .withColumnRenamed("b", "vec_b")
      .dropDuplicates(blockCols :+ "vec_a" :+ "vec_b")

  /** Double-prune then exact-decimal verify at `threshold`: join candidate
    * pairs to their raw vectors, drop pairs clearly below threshold with a
    * cheap all-double cosine (norms included — double norm error is ~1e-13
    * relative, far inside the 1e-6 prune margin), then score ONLY the
    * survivors' pair DOT exactly. The exact-decimal NORMS are per-VECTOR
    * work, computed once in `n` and carried through the joins (16 bytes a
    * side) rather than recomputed per surviving PAIR: the sf1 phase
    * probe (AbEmbProbe) put 4.9 s of q_neardup_embedding's 9.7 s in the
    * survivor decimal scoring, two-thirds of it per-pair norm folds
    * (129k pairs × 2 norms vs 20k vectors × 1). Same expression over the
    * same rows, exact arithmetic ⇒ bit-identical cosines; the "decimal
    * proportional to output" property degrades only by the vector count,
    * which the join touches anyway. */
  private[graft] def verifyPairs(
      cand: DataFrame, emb: DataFrame, threshold: Double): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(emb.sparkSession)
    // the double norm is per-VECTOR work (native codegen'd self-dot),
    // hoisted out of the per-pair filter: candidates outnumber vectors
    // ~200:1 here, so the pair path pays 64 multiply-adds, not 192
    val n = emb.select(col("vec_id"), col("embedding"),
      sqrt(dotDouble(col("embedding"), col("embedding"))).as("len_d"),
      dotDec(col("embedding"), col("embedding")).as("norm_dec"))
    // candidates and vectors both grow with the corpus: SHUFFLE_HASH pins
    // the verify join's strategy independent of size estimates (the same
    // contract as the text-side verify joins — see neardupPairsOf and
    // ScaleShapeSpec's robust-join gate)
    cand
      .join(n.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("len_d").as("len_a"), col("norm_dec").as("norm_a"))
        .hint("shuffle_hash"), Seq("vec_a"))
      .join(n.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("len_d").as("len_b"), col("norm_dec").as("norm_b"))
        .hint("shuffle_hash"), Seq("vec_b"))
      .filter(
        dotDouble(col("emb_a"), col("emb_b")) / (col("len_a") * col("len_b"))
          >= threshold - 1e-6)
      .withColumn("cosine", cosineCol(
        dotDec(col("emb_a"), col("emb_b")),
        col("norm_a"),
        col("norm_b")))
      .filter(col("cosine") >= threshold)
  }

  // ---- IVF family (q_ann_ivf, q_ann_ivf_multiprobe) ------------------------
  // shared quantizer + scoring; the variants differ only in how the query
  // row's probe set joins the table (equality on the cell vs the hamming-1
  // neighborhood), so that is the only injected piece — Spark side as the
  // join builder, oracle side as the probe predicate string.

  /** 16-cell coarse quantizer (first 4 deterministic hyperplane sign bits),
    * exact decimal scoring of the probed rows, top-10. `probeJoin` joins
    * (non-query rows, the query row with columns embedding/cell/norm_dec)
    * into scored candidates carrying (qe, qnorm_dec). */
  private def ivfTopK(
      s: SparkSession, d: String,
      probeJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(s)
    // cells are double-with-margin sign bits (no whole-table decimal); the
    // 4 projections are materialized as columns BELOW the bit derivation so
    // each native dot runs once per row (bitFromProj reads its projection
    // twice — margin predicate and sign — like signatures() does). The
    // table side's exact-decimal norm is folded in-row AFTER the probe
    // join, so decimal arithmetic touches only the probed 1/16 (or 5/16)
    // of the table — the query row's norm is one row, folded up front
    val cellCol = (0 until 4)
      .map(p => bitFromProj(col(s"cproj$p"), p) * lit(1 << p))
      .reduce(_ + _)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id") +: col("embedding") +:
        (0 until 4).map(p => dproj(p).as(s"cproj$p")): _*)
      .select(col("vec_id"), col("embedding"), cellCol.as("cell"))
    val q0 = emb.filter(col("vec_id") === 0)
      .withColumn("norm_dec", dotDec(col("embedding"), col("embedding")))
    probeJoin(emb.filter(col("vec_id") =!= 0), q0)
      .select(
        col("vec_id"),
        cosineCol(
          dotDec(col("embedding"), col("qe")),
          dotDec(col("embedding"), col("embedding")),
          col("qnorm_dec")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  // ---- trained IVF (q_ann_ivf_kmeans) --------------------------------------

  /** Deterministic SPHERICAL k-means over a hash-sample of the embeddings —
    * the trained upgrade of the sign-bit coarse quantizer. Spherical
    * because the retrieval metric is COSINE: every vector is L2-normalized
    * before training/assignment and every centroid is renormalized after
    * its mean update, so nearest-centroid-by-dot partitions by direction —
    * the geometry the query's top-k lives in (plain L2 k-means on
    * unnormalized data splits by magnitude and strands cosine neighbors;
    * measured recall 0.0 on this table). Design for scale AND determinism:
    *  - TRAIN on the `vec_id % 11 == 0` sample (training cost is a few
    *    bounded scans of ~9% of the table; assignment — the per-row work —
    *    still covers every row via a broadcast centroid array);
    *  - init = the k lowest-vec_id sample vectors (no RNG), `iters` FIXED
    *    Lloyd iterations, max-dot assignment with lowest-index tie-break;
    *  - per-cell sums accumulate in FIXED-POINT longs (value × 2^32,
    *    rounded once per element): long addition is exact and commutative,
    *    so the centroids — and therefore every cell assignment — are
    *    bit-identical across partitionings and cluster sizes, where a
    *    double accumulator would drift with partition order. Bounds:
    *    normalized elements are ≤ 1, so a cell of n rows sums to at most
    *    n·2^32 — overflow-safe to n ≈ 2^31 rows per cell, and the 2^-32
    *    quantization (~2e-10 per element) is noise relative to centroid
    *    movement per iteration. */
  private[graft] def trainCentroids(
      emb: DataFrame, s: SparkSession, k: Int = 16, iters: Int = 5): Array[Array[Double]] = {
    import s.implicits._
    // persisted: the init collect + every Lloyd iteration re-reads the
    // sample; without the persist that is iters+1 scans of the table
    val sample = emb.filter(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .persist()
    val srdd = sample.rdd
    var centroids: Array[Array[Double]] = sample.orderBy("vec_id").limit(k)
      .collect().map(r => renorm(r._2.map(_.toDouble).toArray))
    val Scale = 1L << 32
    for (_ <- 0 until iters) {
      val bc = s.sparkContext.broadcast(centroids)
      // one narrow pass: per-partition fixed-point sums per cell, ONE
      // k × (Dim+1) long partial out per partition, tree-folded so the
      // driver never holds every partition's partial at once (driver
      // memory would grow with the sample's partition count, not the
      // contract bound; treeFoldPartials keeps the incremental
      // single-job fold below 64 partitions and adds combine levels
      // beyond). Long addition is exact and
      // commutative, so any fold shape/arrival order is bit-identical
      // and the centroids are unchanged.
      val totals = treeFoldPartials(
        srdd.mapPartitions { it =>
          val cs = bc.value
          val acc = Array.fill(cs.length)(new Array[Long](Dim + 1))
          it.foreach { case (_, v) =>
            val u = unit(v)
            val c = nearestCell(cs, u)
            var i = 0
            while (i < Dim) {
              acc(c)(i) += math.rint(u(i) * Scale).toLong
              i += 1
            }
            acc(c)(Dim) += 1L
          }
          Iterator.single(acc)
        },
        Array.fill(centroids.length)(new Array[Long](Dim + 1)))
      val next = centroids.map(_.clone())
      totals.zipWithIndex.foreach { case (a, ci) =>
        val n = a(Dim)
        if (n > 0) // an empty cell keeps its old centroid
          next(ci) = renorm(Array.tabulate(Dim)(i => a(i).toDouble / Scale / n))
      }
      bc.destroy()
      centroids = next
    }
    sample.unpersist()
    centroids
  }

  /** Merge per-partition trainer partials (one rectangular long array
    * per partition, all same shape) into one total with driver memory
    * bounded at O(one partial), never O(partitions × partial):
    *  - ≤ 64 partitions: `reduce` via treeReduce(depth 1) — ONE job, no
    *    extra stage (a driver fold), but partials merge
    *    INCREMENTALLY as task results arrive instead of being held all
    *    at once by collect();
    *  - beyond 64: one tree combine level per 64× partitions (at
    *    100 TB the 1/11 training sample is 10⁵-10⁶ partitions, so a
    *    collect() would pull GBs of partials per Lloyd iteration to the
    *    driver).
    * Element-wise long addition is exact and commutative, so every fold
    * shape gives bit-identical totals (AnnRecallSpec's partitioning
    * pins). In-place merge into the left argument is safe: each partial
    * is consumed exactly once (mapPartitions emits fresh arrays; tree
    * levels deserialize fresh copies; RDD.fold clones the zero). */
  private[graft] def treeFoldPartials(
      partials: org.apache.spark.rdd.RDD[Array[Array[Long]]],
      zero: Array[Array[Long]]): Array[Array[Long]] = {
    val p = partials.getNumPartitions
    if (p == 0) return zero
    partials.treeReduce({ (a, b) =>
      var r = 0
      while (r < a.length) {
        val ta = a(r); val tb = b(r)
        var i = 0
        while (i < ta.length) { ta(i) += tb(i); i += 1 }
        r += 1
      }
      a
    }, treeFoldDepth(p))
  }

  /** treeReduce depth for a partial-merge over `p` partitions: 1 (plain
    * incremental reduce, no extra stage) through 64 partitions, +1 level
    * per 64× beyond. */
  private def treeFoldDepth(p: Int): Int =
    math.max(1, math.ceil(
      math.log(math.max(p, 2).toDouble) / math.log(64.0)).toInt)

  /** The vector L2-normalized (fixed summation order → deterministic);
    * returned unscaled when the norm is 0. */
  private def unit(v: Seq[Float]): Array[Double] = {
    val out = new Array[Double](Dim)
    var i = 0
    while (i < Dim) { out(i) = v(i).toDouble; i += 1 }
    renorm(out)
  }

  private def renorm(v: Array[Double]): Array[Double] = {
    var n2 = 0.0
    var i = 0
    while (i < Dim) { n2 += v(i) * v(i); i += 1 }
    if (n2 == 0.0) v
    else {
      val inv = 1.0 / math.sqrt(n2)
      val out = new Array[Double](Dim)
      i = 0
      while (i < Dim) { out(i) = v(i) * inv; i += 1 }
      out
    }
  }

  /** Index of the max-dot (= nearest unit-sphere) centroid for a UNIT
    * vector, lowest index on ties. Fixed in-row summation order →
    * deterministic per (centroids, u). */
  private[graft] def nearestCell(cs: Array[Array[Double]], u: Array[Double]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      var d = 0.0
      var i = 0
      while (i < Dim) { d += u(i) * ctr(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Oracle-side artifact for q_ann_ivf_kmeans ([[QueryDef.aux]]): the
    * trained centroids as a 16-row parquet (cell BIGINT, c DOUBLE[]).
    * Training is iterative — not SQL-expressible — but DETERMINISTIC and
    * bit-stable (no RNG, fixed-point-exact sums; AnnRecallSpec asserts
    * identity across partitionings), so materializing its output lets the
    * DuckDB oracle recompute everything downstream — every cell
    * assignment, the probe, and the exact-decimal top-k — from the raw
    * embeddings table plus these 16×64 doubles. */
  /** Aux hooks are shared across QueryDefs (three queries read the k-means
    * centroids, two the PQ codebooks) and Verify runs every query's hook —
    * without this guard the same deterministic training (5 Lloyd
    * iterations of Spark jobs) re-runs per sharing query, rewriting
    * byte-identical parquet. Keyed per (artifact, source dir, aux dir);
    * per-JVM like Tables.materialize's cache. */
  private val auxWritten = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** (vec_id, embedding, cell) assignment frame over the trained centroids
    * — the shared first stage of the semantic-curation queries (SemDeDup
    * dedup, prototype/outlier scoring). Assignment is the broadcast
    * [[nearestCell]] loop over unit vectors: one narrow pass, no shuffle. */
  private def assignedCells(
      s: SparkSession, emb: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(centroids)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, nearestCell(cs, unit(v)).toLong) }
      }
      .toDF("vec_id", "embedding", "cell")
  }

  /** SemDeDup removal threshold (Abbas et al. 2023 use 0.95+ on real
    * corpora; the synthetic table's near-uniform embeddings top out around
    * cosine 0.55, so the demo threshold sits where within-cell neighbor
    * pairs actually exist — the CONTRACT is threshold-independent). */
  private val SemTau = 0.4

  /** The shared unit-normalize + Voronoi-assignment CTE chain of the
    * centroid-artifact oracles (`cent` → … → `cells`), ending ready for
    * more CTEs to be appended. */
  private def cellsCtes: String =
    s"""WITH cent AS (
          SELECT cell, c
          FROM read_parquet('${OracleAux.Token}/kmeans_centroids/*.parquet')),
        dv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        sc AS (
          SELECT vec_id, d, list_inner_product(d, d) AS n2,
                 1.0 / sqrt(list_inner_product(d, d)) AS s
          FROM dv),
        un AS (
          SELECT vec_id,
                 CASE WHEN n2 = 0 THEN d
                      ELSE list_transform(d, x -> x * s) END AS u
          FROM sc),
        cells AS (
          SELECT vec_id, cell FROM (
            SELECT un.vec_id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY un.vec_id
                     ORDER BY list_inner_product(un.u, cent.c) DESC, cent.cell)
                     AS rn
            FROM un CROSS JOIN cent) ranked
          WHERE rn = 1)"""

  private def writeKmeansAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!auxWritten.add(s"kmeans::$d::$auxDir")) return
    import s.implicits._
    val cs = trainCentroids(Tables.embeddings(s, d), s)
    cs.zipWithIndex.toSeq.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/kmeans_centroids")
  }

  /** nDCG binary-relevance discount table:
    * (rank, disc, cum) for rank 1..k with disc = 1/log2(rank+1) and cum
    * its running sum (cum at rank n = IDCG of n relevant docs). The
    * logarithm is the one libm-dependent bit the eval family had
    * excluded — so it is computed ONCE, DRIVER-SIDE, with StrictMath
    * (bit-exact by spec) and shared VERBATIM by both engines: the Spark
    * evals join this k-row frame as a broadcast literal, the oracles
    * read the materialized copy ([[writeNdcgAux]]) — the DSIR
    * aux-artifact idiom. DECIMAL(38,18) terms so the per-probe DCG sum
    * is exact decimal addition on both sides. */
  private def ndcgDiscounts(k: Int): Seq[(Long, java.math.BigDecimal, java.math.BigDecimal)] = {
    var cum = java.math.BigDecimal.ZERO
    (1 to k).map { r =>
      val disc = new java.math.BigDecimal(
        1.0 / (StrictMath.log(r + 1.0) / StrictMath.log(2.0)))
        .setScale(18, java.math.RoundingMode.HALF_UP)
      cum = cum.add(disc)
      (r.toLong, disc, cum)
    }
  }

  /** Oracle-side copy of [[ndcgDiscounts]] — one table at the eval
    * family's largest k serves every eval (smaller ks join a prefix). */
  private def writeNdcgAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!auxWritten.add(s"ndcg::$auxDir")) return
    import s.implicits._
    ndcgDiscounts(LexK).toDF("rank", "disc", "cum")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/ndcg_discounts")
  }

  // ---- product quantization (q_ann_pq) -------------------------------------

  private val PqM = 8 // subspaces
  private val PqSub = Dim / PqM // dims per subspace
  private val PqK = 16 // codewords per subspace

  /** Deterministic per-subspace k-means codebooks over the unit-normalized
    * hash-sample — the PQ upgrade of the single trained quantizer: 64 dims
    * split 8×8, each subspace quantized to 16 codewords, so a vector
    * compresses to 8 code bytes (64-dim float32 → 8 bytes, 32×). Same
    * determinism recipe as [[trainCentroids]]: no RNG (init = the k lowest
    * vec_id sample subvectors), fixed Lloyd iterations, fixed-point-exact
    * long sums, lowest-index tie-breaks. All 8 subspaces train in the same
    * passes (one accumulator per (subspace, codeword)). */
  private[graft] def trainPqCodebooks(
      emb: DataFrame, s: SparkSession, iters: Int = 5,
      rot: Array[Array[Double]] = null,
      init: Array[Array[Array[Double]]] = null,
      res: Array[Array[Double]] = null): Array[Array[Array[Double]]] = {
    import s.implicits._
    // `rot` trains in the ROTATED space (the OPQ alternation's codebook
    // step — vectors pass through the fixed orthogonal rotation after
    // unit-normalization); `init` warm-starts Lloyd from a previous
    // alternation's codebooks instead of the lowest-id sample rows, which
    // is what makes the OPQ error sequence monotone (a from-scratch
    // re-init could regress past the rotation step's gain); `res` trains
    // on COARSE RESIDUALS (the true IVFADC encoding, Jégou et al. 2011
    // §III-C — each sample vector minus its nearest coarse centroid), so
    // the codebooks quantize the low-energy residual space instead of
    // the raw sphere
    def xf(v: Seq[Float]): Array[Double] = {
      val u = unit(v)
      val b = if (res == null) u else residualOf(res, u)
      if (rot == null) b else rotate(rot, b)
    }
    val sample = emb.filter(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .persist()
    val srdd = sample.rdd
    var cbs: Array[Array[Array[Double]]] = if (init != null) init else {
      val rows = sample.orderBy("vec_id").limit(PqK).collect().map(r => xf(r._2))
      require(rows.nonEmpty, "PQ training needs a non-empty embedding sample")
      // a sample smaller than PqK degrades to a shorter codebook (same
      // contract as trainCentroids); nearestCode and the oracle both
      // iterate whatever codewords exist
      val k = math.min(PqK, rows.length)
      Array.tabulate(PqM)(m =>
        Array.tabulate(k)(j => rows(j).slice(m * PqSub, (m + 1) * PqSub)))
    }
    val Scale = 1L << 32
    val bcRot = s.sparkContext.broadcast(rot)
    val bcRes = s.sparkContext.broadcast(res)
    for (_ <- 0 until iters) {
      val bc = s.sparkContext.broadcast(cbs)
      // one (PqM × PqK) × (PqSub+1) long partial per partition,
      // tree-folded like trainCentroids (see [[treeFoldPartials]]: a
      // collect() would hold every partition's partial at once,
      // O(partitions) driver memory; exact commutative long adds keep
      // every fold shape bit-identical, one stage per Lloyd iteration
      // below the tree threshold)
      val merged = treeFoldPartials(
        srdd.mapPartitions { it =>
          val cb = bc.value
          val rr = bcRot.value
          val cs = bcRes.value
          val hn = cb.map(halfNormsOf)
          val acc = Array.fill(PqM, PqK)(new Array[Long](PqSub + 1))
          it.foreach { case (_, v) =>
            val u0 = unit(v)
            val b = if (cs == null) u0 else residualOf(cs, u0)
            val u = if (rr == null) b else rotate(rr, b)
            var m = 0
            while (m < PqM) {
              val a = acc(m)(nearestCode(cb(m), hn(m), u, m * PqSub))
              var i = 0
              while (i < PqSub) {
                a(i) += math.rint(u(m * PqSub + i) * Scale).toLong
                i += 1
              }
              a(PqSub) += 1L
              m += 1
            }
          }
          Iterator.single(Array.tabulate(PqM * PqK)(key =>
            acc(key / PqK)(key % PqK)))
        },
        Array.fill(PqM * PqK)(new Array[Long](PqSub + 1)))
      val next = cbs.map(_.map(_.clone()))
      merged.zipWithIndex.foreach { case (a, key) =>
        val n = a(PqSub)
        if (n > 0) // an empty codeword keeps its old center
          next(key / PqK)(key % PqK) =
            Array.tabulate(PqSub)(i => a(i).toDouble / Scale / n)
      }
      bc.destroy()
      cbs = next
    }
    bcRot.destroy()
    bcRes.destroy()
    sample.unpersist()
    cbs
  }

  /** Coarse residual of a UNIT vector: u minus its nearest (max-dot)
    * centroid — the quantity the true IVFADC's product quantizer encodes
    * (Jégou et al. 2011 §III-C). Element magnitudes stay ≤ 2 (both terms
    * unit-bounded), so the trainer's fixed-point long sums remain
    * overflow-safe to ~2^30 rows per codeword. Deterministic per
    * (centroids, u): [[nearestCell]] tie-breaks by index and the
    * subtraction is one IEEE op per element. */
  private[graft] def residualOf(
      cs: Array[Array[Double]], u: Array[Double]): Array[Double] = {
    val c = cs(nearestCell(cs, u))
    val out = new Array[Double](Dim)
    var i = 0
    while (i < Dim) { out(i) = u(i) - c(i); i += 1 }
    out
  }

  /** Apply a Dim×Dim rotation to a unit vector — ascending-j inner loops,
    * the summation order DuckDB's list_inner_product reproduces (the
    * nearestCell parity discipline). */
  private[graft] def rotate(r: Array[Array[Double]], u: Array[Double]): Array[Double] = {
    val out = new Array[Double](r.length)
    var i = 0
    while (i < r.length) {
      val ri = r(i)
      var sum = 0.0
      var j = 0
      while (j < ri.length) { sum += ri(j) * u(j); j += 1 }
      out(i) = sum
      i += 1
    }
    out
  }

  /** ||c||²/2 per codeword, fixed ascending summation — precomputed once
    * and SHARED between assignment here and the oracle (stored in the aux
    * parquet), so both engines subtract the identical double. */
  private def halfNormsOf(cb: Array[Array[Double]]): Array[Double] =
    cb.map { c =>
      var nn = 0.0
      var i = 0
      while (i < PqSub) { nn += c(i) * c(i); i += 1 }
      0.5 * nn
    }

  /** Index of the codeword minimizing L2 distance to the subvector at
    * `off`, computed as argmax of u_m·c − ||c||²/2 (the ||u_m||² term is
    * constant per row) — lowest index on ties, fixed in-row order. */
  private def nearestCode(
      cb: Array[Array[Double]], hn: Array[Double],
      u: Array[Double], off: Int): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < cb.length) {
      val c = cb(j)
      var ip = 0.0
      var i = 0
      while (i < PqSub) { ip += u(off + i) * c(i); i += 1 }
      val sc = ip - hn(j)
      if (sc > bestScore) { bestScore = sc; best = j }
      j += 1
    }
    best
  }

  /** Oracle-side artifact for q_ann_pq: the trained codebooks as a
    * 128-row parquet (m, cell, c DOUBLE[8], half_norm). Deterministic for
    * the same reasons as [[writeKmeansAux]]. */
  private def writePqAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!auxWritten.add(s"pq::$d::$auxDir")) return
    import s.implicits._
    val cbs = trainPqCodebooks(Tables.embeddings(s, d), s)
    val rows = for {
      m <- 0 until PqM
      j <- cbs(m).indices
    } yield (m.toLong, j.toLong, cbs(m)(j).toSeq, halfNormsOf(cbs(m))(j))
    rows.toDF("m", "cell", "c", "half_norm")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/pq_codebooks")
  }

  /** The PQ-ADC oracle: unit-normalize (exactly like [[kmeansOracleSql]]),
    * slice into 8 subvectors (DuckDB list slicing is 1-based inclusive),
    * assign each to the codeword maximizing `u_m·c − half_norm` (the
    * STORED half-norm — both engines subtract the identical double),
    * then score by summing the query-to-codeword dots of the assigned
    * codes — the asymmetric-distance computation itself. */
  private def pqOracleSql: String =
    s"""WITH cb AS (
          SELECT m, cell, c, half_norm
          FROM read_parquet('${OracleAux.Token}/pq_codebooks/*.parquet')),
        dv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        sc AS (
          SELECT vec_id, d, list_inner_product(d, d) AS n2,
                 1.0 / sqrt(list_inner_product(d, d)) AS s
          FROM dv),
        un AS (
          SELECT vec_id,
                 CASE WHEN n2 = 0 THEN d
                      ELSE list_transform(d, x -> x * s) END AS u
          FROM sc),
        sub AS (
          SELECT vec_id, g.m AS m,
                 u[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS um
          FROM un, generate_series(0, ${PqM - 1}) g(m)),
        codes AS (
          SELECT vec_id, m, cell AS code FROM (
            SELECT s.vec_id, s.m, cb.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY list_inner_product(s.um, cb.c) - cb.half_norm
                       DESC, cb.cell) AS rn
            FROM sub s JOIN cb ON cb.m = s.m) ranked
          WHERE rn = 1),
        lut AS (
          SELECT cb.m, cb.cell, list_inner_product(q.um, cb.c) AS dot
          FROM cb JOIN (SELECT m, um FROM sub WHERE vec_id = 0) q
            ON q.m = cb.m),
        adc AS (
          SELECT c.vec_id,
                 round(CAST(SUM(CAST(l.dot AS DECIMAL(38,18))) AS DOUBLE), 9) AS adc
          FROM codes c JOIN lut l ON l.m = c.m AND l.cell = c.code
          WHERE c.vec_id <> 0
          GROUP BY c.vec_id)
        SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 10"""

  // ---- optimized product quantization (q_ann_opq) ---------------------------

  /** OPQ (Ge et al. 2014, non-parametric): learn one orthogonal rotation
    * R jointly with the PQ codebooks so the 8 subspaces cut along the
    * data's own correlation structure instead of the raw coordinate
    * order — the published next rung of the Jégou-family ladder, same
    * 8 code bytes per vector. Alternation, `opqIters` rounds from
    * R = I and the plain-PQ codebooks:
    *   (1) R-step: with codes/codebooks fixed, the error-minimizing
    *       orthogonal R is the Procrustes solution R = V·Uᵀ from the
    *       SVD U·S·Vᵀ of A = Σ u·yᵀ (u = unit input, y = its current
    *       reconstruction) — A accumulates DISTRIBUTED as
    *       fixed-point-exact longs (one 64×64 frame per partition,
    *       integer-summed, so A is bit-identical under any
    *       partitioning — the trainCentroids discipline), and the 64×64
    *       SVD runs on the driver via breeze (already on Spark's own
    *       classpath; deterministic for identical input);
    *   (2) C-step: Lloyd re-runs in the new rotated space WARM-STARTED
    *       from the previous codebooks ([[trainPqCodebooks]]'s `init`).
    * Each step is an exact (or monotone) argmin given the other, so the
    * training-sample reconstruction error never increases — from the
    * R = I start that means OPQ ≤ plain PQ by construction, the property
    * AnnRecallSpec pins with [[pqReconError]]. Training is iterative
    * (not SQL-expressible) but deterministic, so the oracle reads the
    * MATERIALIZED rotation + codebooks and re-derives every rotated
    * vector, code assignment and the ADC top-k itself. */
  private[graft] def trainOpq(
      emb: DataFrame, s: SparkSession, opqIters: Int = 3,
      res: Array[Array[Double]] = null)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    // `res` trains the rotation + codebooks over COARSE RESIDUALS (the
    // IVF-OPQ composition — FAISS's "OPQ,IVF,PQ" index string): the
    // Procrustes input vector and its accumulation both become the
    // residual, so the alternation minimizes ‖R·r − y‖² from R = I and
    // the residual-PQ codebooks — monotone by the same argument, so
    // IVF-OPQ error ≤ residual-PQ error by construction.
    import s.implicits._
    val sample = emb.filter(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .persist()
    var r = Array.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)
    var cbs = trainPqCodebooks(emb, s, rot = r, res = res)
    val Scale = 1L << 32
    val bcRes = s.sparkContext.broadcast(res)
    for (_ <- 0 until opqIters) {
      val bcR = s.sparkContext.broadcast(r)
      val bcCb = s.sparkContext.broadcast(cbs)
      val a = sample.mapPartitions { it =>
        val rr = bcR.value; val cb = bcCb.value
        val cs0 = bcRes.value
        val hn = cb.map(halfNormsOf)
        val acc = new Array[Long](Dim * Dim)
        it.foreach { case (_, v) =>
          val u0 = unit(v)
          val u = if (cs0 == null) u0 else residualOf(cs0, u0)
          val x = rotate(rr, u)
          val y = new Array[Double](Dim)
          var m = 0
          while (m < PqM) {
            val c = cb(m)(nearestCode(cb(m), hn(m), x, m * PqSub))
            var i = 0
            while (i < PqSub) { y(m * PqSub + i) = c(i); i += 1 }
            m += 1
          }
          var j = 0
          while (j < Dim) {
            val uj = u(j)
            var k = 0
            while (k < Dim) {
              acc(j * Dim + k) += math.rint(uj * y(k) * Scale).toLong
              k += 1
            }
            j += 1
          }
        }
        Iterator.single(acc)
      }.reduce { (x, y) =>
        val out = new Array[Long](Dim * Dim)
        var i = 0
        while (i < Dim * Dim) { out(i) = x(i) + y(i); i += 1 }
        out
      }
      bcR.destroy(); bcCb.destroy()
      val aM = breeze.linalg.DenseMatrix.tabulate(Dim, Dim)(
        (j, k) => a(j * Dim + k).toDouble / Scale)
      val breeze.linalg.svd.SVD(uM, _, vtM) = breeze.linalg.svd(aM)
      // R = V·Uᵀ: R(i)(j) = Σ_k V(i,k)·U(j,k) = Σ_k Vᵀ(k,i)·U(j,k)
      r = Array.tabulate(Dim, Dim) { (i, j) =>
        var sum = 0.0
        var k = 0
        while (k < Dim) { sum += vtM(k, i) * uM(j, k); k += 1 }
        sum
      }
      cbs = trainPqCodebooks(emb, s, rot = r, init = cbs, res = res)
    }
    bcRes.destroy()
    sample.unpersist()
    (r, cbs)
  }

  /** Training-sample reconstruction error Σ‖rot·u − y‖² for a trained
    * (rotation, codebooks) pair — fixed-point-exact accumulation so the
    * AnnRecallSpec monotonicity pin (OPQ ≤ plain PQ) is bit-stable under
    * any partitioning. `rot = null` scores plain PQ (identity rotation). */
  private[graft] def pqReconError(
      emb: DataFrame, s: SparkSession,
      rot: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      res: Array[Array[Double]] = null): Double = {
    import s.implicits._
    val Scale = 1L << 32
    val bcR = s.sparkContext.broadcast(rot)
    val bcCb = s.sparkContext.broadcast(cbs)
    val bcRes = s.sparkContext.broadcast(res)
    val total = emb.filter(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val rr = bcR.value; val cb = bcCb.value
        val cs0 = bcRes.value
        val hn = cb.map(halfNormsOf)
        var acc = 0L
        it.foreach { case (_, v) =>
          val b = if (cs0 == null) unit(v) else residualOf(cs0, unit(v))
          val x = if (rr == null) b else rotate(rr, b)
          var err = 0.0
          var m = 0
          while (m < PqM) {
            val c = cb(m)(nearestCode(cb(m), hn(m), x, m * PqSub))
            var i = 0
            while (i < PqSub) {
              val d = x(m * PqSub + i) - c(i)
              err += d * d
              i += 1
            }
            m += 1
          }
          acc += math.rint(err * Scale).toLong
        }
        Iterator.single(acc)
      }.reduce(_ + _)
    bcR.destroy(); bcCb.destroy(); bcRes.destroy()
    total.toDouble / Scale
  }

  /** Oracle-side artifacts for q_ann_opq: the trained rotation as a
    * 64-row parquet (i BIGINT, r DOUBLE[64]) plus the rotated-space
    * codebooks in the pq_codebooks layout. Deterministic for the same
    * reasons as [[writePqAux]]. */
  private def writeOpqAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!auxWritten.add(s"opq::$d::$auxDir")) return
    import s.implicits._
    val (rot, cbs) = trainOpq(Tables.embeddings(s, d), s)
    rot.zipWithIndex.toSeq.map { case (row, i) => (i.toLong, row.toSeq) }
      .toDF("i", "r")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/opq_rotation")
    val rows = for {
      m <- 0 until PqM
      j <- cbs(m).indices
    } yield (m.toLong, j.toLong, cbs(m)(j).toSeq, halfNormsOf(cbs(m))(j))
    rows.toDF("m", "cell", "c", "half_norm")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/opq_codebooks")
  }

  /** The OPQ-ADC oracle: [[pqOracleSql]]'s chain with ONE extra step —
    * every unit vector (query included) passes through the materialized
    * rotation before the subspace slicing (row i of the rotated vector =
    * list_inner_product(rotation row i, u), rebuilt in i order — the
    * same ascending-index double summation as the engine's [[rotate]]
    * loop, the nearestCell parity discipline). */
  private def opqOracleSql: String =
    s"""WITH rot AS (
          SELECT i, r
          FROM read_parquet('${OracleAux.Token}/opq_rotation/*.parquet')),
        cb AS (
          SELECT m, cell, c, half_norm
          FROM read_parquet('${OracleAux.Token}/opq_codebooks/*.parquet')),
        dv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        sc AS (
          SELECT vec_id, d, list_inner_product(d, d) AS n2,
                 1.0 / sqrt(list_inner_product(d, d)) AS s
          FROM dv),
        un AS (
          SELECT vec_id,
                 CASE WHEN n2 = 0 THEN d
                      ELSE list_transform(d, x -> x * s) END AS u
          FROM sc),
        ru AS (
          SELECT un.vec_id,
                 list(list_inner_product(rot.r, un.u) ORDER BY rot.i) AS u
          FROM un CROSS JOIN rot GROUP BY un.vec_id),
        sub AS (
          SELECT vec_id, g.m AS m,
                 u[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS um
          FROM ru, generate_series(0, ${PqM - 1}) g(m)),
        codes AS (
          SELECT vec_id, m, cell AS code FROM (
            SELECT s.vec_id, s.m, cb.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY list_inner_product(s.um, cb.c) - cb.half_norm
                       DESC, cb.cell) AS rn
            FROM sub s JOIN cb ON cb.m = s.m) ranked
          WHERE rn = 1),
        lut AS (
          SELECT cb.m, cb.cell, list_inner_product(q.um, cb.c) AS dot
          FROM cb JOIN (SELECT m, um FROM sub WHERE vec_id = 0) q
            ON q.m = cb.m),
        adc AS (
          SELECT c.vec_id,
                 round(CAST(SUM(CAST(l.dot AS DECIMAL(38,18))) AS DOUBLE), 9) AS adc
          FROM codes c JOIN lut l ON l.m = c.m AND l.cell = c.code
          WHERE c.vec_id <> 0
          GROUP BY c.vec_id)
        SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 10"""

  /** IVFADC + exact re-ranking — the third stage of the production ANN
    * stack (Jégou et al.): the compressed-domain ADC scan nominates
    * [[RefineR]] candidates, and ONLY those rows' raw vectors are read
    * back and scored exactly. At 100 TB this is the accuracy/IO contract
    * that makes PQ usable: the 8-byte-code scan covers the probed cells,
    * while full-precision vectors are fetched for RefineR rows regardless
    * of corpus size — the candidate list broadcasts to the raw-vector
    * scan, so the refine join is a broadcast hash join by construction,
    * never a shuffle. Returns the RefineR-bounded exact-cosine frame
    * (vec_id, cosine), unordered — the seam shared by q_ann_ivf_pq_refine
    * (top-10) and the hybrid fusion's dense leg (q_hybrid_rrf_ann, the
    * full candidate rank list). */
  private def ivfPqRefinedCosine(
      s: SparkSession, d: String, probes: Int): DataFrame = {
    val adcTop = annTopK(s, d, ivfPqKitOf(s, d), probes, RefineR)
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        dotDec(col("embedding"), col("embedding")).as("qnorm_dec"))
    emb.join(broadcast(adcTop.select("vec_id")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        cosineCol(
          dotDec(col("embedding"), col("qe")),
          dotDec(col("embedding"), col("embedding")),
          col("qnorm_dec")).as("cosine"))
  }

  /** Candidates an IVFADC+refine pass re-ranks exactly (Jégou et al.'s
    * re-ranking stage): top `RefineR` by (adc desc, vec_id) — the vec_id
    * tie-break keeps the truncation deterministic in both engines. */
  private val RefineR = 50

  /** The IVF-PQ oracle: the trained-IVF cells gate WHICH rows score, the
    * PQ codes say HOW they score. Reads BOTH materialized artifacts:
    * cell assignments re-derive from the centroids (exactly like
    * [[kmeansOracleSql]]'s `cells`), the probe set is the `probes`
    * centroids nearest the query (LIMIT 1 = the query's own cell), and
    * the probed rows' ADC comes from the codebook re-derivation (exactly
    * like [[pqOracleSql]]). */
  private def ivfPqOracleSql(probes: Int): String =
    s"""${ivfPqAdcCtes(probes)}
        SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 10"""

  /** The IVFADC CTE chain shared by the plain and refine oracles: ends at
    * `adc` (vec_id, adc) over the probed cells, query row excluded. */
  private def ivfPqAdcCtes(probes: Int): String =
    s"""WITH cent AS (
          SELECT cell, c
          FROM read_parquet('${OracleAux.Token}/kmeans_centroids/*.parquet')),
        cb AS (
          SELECT m, cell, c, half_norm
          FROM read_parquet('${OracleAux.Token}/pq_codebooks/*.parquet')),
        dv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        sc AS (
          SELECT vec_id, d, list_inner_product(d, d) AS n2,
                 1.0 / sqrt(list_inner_product(d, d)) AS s
          FROM dv),
        un AS (
          SELECT vec_id,
                 CASE WHEN n2 = 0 THEN d
                      ELSE list_transform(d, x -> x * s) END AS u
          FROM sc),
        cells AS (
          SELECT vec_id, cell FROM (
            SELECT un.vec_id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY un.vec_id
                     ORDER BY list_inner_product(un.u, cent.c) DESC, cent.cell)
                     AS rn
            FROM un CROSS JOIN cent) ranked
          WHERE rn = 1),
        qc AS (
          SELECT cent.cell
          FROM cent CROSS JOIN (SELECT u FROM un WHERE vec_id = 0) q
          ORDER BY list_inner_product(q.u, cent.c) DESC, cent.cell
          LIMIT $probes),
        sub AS (
          SELECT vec_id, g.m AS m,
                 u[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS um
          FROM un, generate_series(0, ${PqM - 1}) g(m)),
        codes AS (
          SELECT vec_id, m, cell AS code FROM (
            SELECT s.vec_id, s.m, cb.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY list_inner_product(s.um, cb.c) - cb.half_norm
                       DESC, cb.cell) AS rn
            FROM sub s JOIN cb ON cb.m = s.m) ranked
          WHERE rn = 1),
        lut AS (
          SELECT cb.m, cb.cell, list_inner_product(q.um, cb.c) AS dot
          FROM cb JOIN (SELECT m, um FROM sub WHERE vec_id = 0) q
            ON q.m = cb.m),
        adc AS (
          SELECT c.vec_id,
                 round(CAST(SUM(CAST(l.dot AS DECIMAL(38,18))) AS DOUBLE), 9) AS adc
          FROM codes c
          JOIN lut l ON l.m = c.m AND l.cell = c.code
          JOIN cells cl ON cl.vec_id = c.vec_id
          JOIN qc ON cl.cell = qc.cell
          WHERE c.vec_id <> 0
          GROUP BY c.vec_id)"""

  /** The IVFADC+refine oracle: the shared CTE chain's ADC ranking is
    * truncated to the top [[RefineR]] candidates ((adc DESC, vec_id) — the
    * deterministic truncation order), which are then re-scored with the
    * EXACT decimal cosine machinery of [[kmeansOracleSql]] and re-ranked.
    * ADC decides who gets re-ranked; exact cosine decides the final order. */
  private def ivfPqRefineOracleSql(probes: Int): String =
    s"""${ivfPqRefineCtes(probes)}
        SELECT vec_id, cosine FROM ref ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** The refine CTE chain shared by the q_ann_ivf_pq_refine oracle and
    * the q_hybrid_rrf_ann oracle's dense leg (ends at `ref` (vec_id,
    * cosine) — the exact re-scored [[RefineR]] ADC candidates): ONE
    * spelling, mirroring the Scala-side [[ivfPqRefinedCosine]]
    * extraction, per the shared-oracle-CTE discipline. The refine-side
    * CTE names (refcand/refn/refq) avoid the Bm25OracleCtes namespace so
    * the hybrid oracle can compose both chains under one WITH. */
  private def ivfPqRefineCtes(probes: Int): String =
    s"""${ivfPqAdcCtes(probes)},
        refcand AS (
          SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT $RefineR),
        refn AS (
          SELECT e.vec_id, e.embedding,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS norm_dec
          FROM embeddings e, generate_series(1, $Dim) t(i)
          GROUP BY e.vec_id, e.embedding),
        refq AS (
          SELECT refn.embedding AS qe, refn.norm_dec AS qnorm_dec
          FROM refn WHERE refn.vec_id = 0),
        ref AS (
          SELECT refn.vec_id,
                 round(CAST(SUM(CAST(CAST(refn.embedding[i] AS DOUBLE)
                                     * CAST(refq.qe[i] AS DOUBLE)
                                     AS DECIMAL(38,18))) AS DOUBLE)
                   / (sqrt(CAST(refn.norm_dec AS DOUBLE)) * sqrt(CAST(refq.qnorm_dec AS DOUBLE))), 9)
                   AS cosine
          FROM refn
          JOIN refcand c ON c.vec_id = refn.vec_id
          CROSS JOIN refq,
               generate_series(1, $Dim) t(i)
          GROUP BY refn.vec_id, refn.norm_dec, refq.qnorm_dec)"""

  // ---- the quantizer kits and the one scan and nominate stage over them ----

  /** One all-zero cell: the cells of a rung without a coarse quantizer
    * (plain PQ, OPQ, SQ8). Every row falls in cell 0, `u − 0.0` is exact
    * in IEEE arithmetic and the cell constant is dec(0.0), so such a kit
    * codes and scores bit-for-bit like an encoder without cells. */
  private val OneCell: Array[Array[Double]] = Array(new Array[Double](Dim))

  /** Dots of a unit vector with every cell centroid, ascending-index
    * loops (the order the oracles' list_inner_product replays). */
  private def cellDotsOf(cs: Array[Array[Double]], u: Array[Double]): Array[Double] =
    cs.map { c =>
      var dot = 0.0
      var j = 0
      while (j < Dim) { dot += u(j) * c(j); j += 1 }
      dot
    }

  /** The `n` best cells by (dot desc, cell asc) — the probe ranking. */
  private def topCells(dots: Array[Double], n: Int): Seq[Int] =
    dots.indices.sortBy(i => (-dots(i), i)).take(n)

  /** The quantizer surface every rung of the vector ladder scores
    * through. The row side assigns a unit vector its gate cell and its
    * codes; the query side compiles a raw query vector into a
    * [[QuantQuery]]. The declared queries and the persisted
    * [[graft.streaming.VectorStore]] share these kits, so a served answer
    * cannot drift from the declared one. */
  private[graft] sealed trait Quantizer extends Serializable {
    /** the coarse cells that gate a scan ([[OneCell]] when the rung has none) */
    def cs: Array[Array[Double]]
    def unitOf(v: Seq[Float]): Array[Double] = unit(v)
    def cellOf(u: Array[Double]): Int = nearestCell(cs, u)
    def codesOf(u: Array[Double], cell: Int): Array[Int]
    def query(qv: Seq[Float], probes: Int): QuantQuery
  }

  /** A compiled query: the cells it probes, and the exact decimal score
    * of one row's codes. */
  private[graft] sealed trait QuantQuery extends Serializable {
    def probeSet: Set[Int]
    def scoreDec(cell: Int, codes: Array[Int]): java.math.BigDecimal
  }

  /** The product-quantizer kit: cells `cs`, per-subspace codebooks `cbs`
    * and an optional OPQ rotation. With `residual` the codes quantize the
    * coarse residual u − c_cell and the score adds the per-cell constant,
    * the exact decomposition of the true IVFADC (Jégou, Douze & Schmid
    * 2011 §III-C)
    *   q·x̂ = q·c_cell + Σ_m q_m·cw_m(code_m).
    * Without it (IVF-PQ) the cells only gate the scan, the codes quantize
    * u itself and the cell constant is 0. The rotation applies to the
    * residual on the row side and to the query in the LUT, since
    * q·Rᵀŷ = (R·q)·ŷ; the probe set and the cell constants use the
    * unrotated query, because the cells live in the unrotated space.
    * Serializable (arrays only; the half-norms re-derive lazily after
    * deserialization). */
  private[graft] final case class AdcKit(
      cs: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
      rot: Array[Array[Double]] = null, residual: Boolean = true)
      extends Quantizer {
    @transient private lazy val hns = cbs.map(halfNormsOf)
    def codesOf(u: Array[Double], cell: Int): Array[Int] = {
      val r = if (!residual) u else {
        val ctr = cs(cell)
        Array.tabulate(Dim)(i => u(i) - ctr(i))
      }
      val x = if (rot == null) r else rotate(rot, r)
      Array.tabulate(PqM)(m => nearestCode(cbs(m), hns(m), x, m * PqSub))
    }
    /** Driver-side compilation: probe set, the DECIMAL(38,18) LUT of
      * query subvectors × codewords, and the per-cell constants. */
    def query(qv: Seq[Float], probes: Int): AdcQuery = {
      val qu = unit(qv)
      val cellDot = cellDotsOf(cs, qu)
      val lq = if (rot == null) qu else rotate(rot, qu)
      val lut = Array.tabulate(PqM) { m =>
        Array.tabulate(cbs(m).length) { j =>
          var ip = 0.0
          var i = 0
          while (i < PqSub) { ip += lq(m * PqSub + i) * cbs(m)(j)(i); i += 1 }
          ip
        }
      }
      def dec(d: Double) = new java.math.BigDecimal(d)
        .setScale(18, java.math.RoundingMode.HALF_UP)
      AdcQuery(topCells(cellDot, probes).toSet, lut.map(_.map(dec)),
        cellDot.map(d => dec(if (residual) d else 0.0)))
    }
  }

  /** A compiled ADC query: 8 decimal lookups + one add per row.
    *
    * Every table entry is a scale-18 decimal (see [[AdcKit.query]]'s
    * `dec`), and BigDecimal addition of same-scale operands is EXACT
    * unscaled addition — no rounding, any order — so the fold runs on the
    * unscaled longs ([[ltL]]/[[cdL]], derived once per (de)serialized
    * instance) and wraps the one final sum back into a decimal. Fits:
    * every entry is an inner product of unit-bounded vectors, so
    * |unscaled| ≤ ~6e18 and the 9-term sum is bounded by Cauchy–Schwarz
    * over the concatenated codeword at < 9.2e18; `Math.addExact` turns
    * that proof into a loud fallback (the decimal fold, identical by
    * construction) instead of a silent wrap. The long fold keeps the
    * per-pair BigDecimal allocation chain out of the batched joins'
    * nomination hot loop. */
  private[graft] final case class AdcQuery(
      probeSet: Set[Int],
      ltDec: Array[Array[java.math.BigDecimal]],
      cdDec: Array[java.math.BigDecimal]) extends QuantQuery {
    @transient private lazy val ltL: Array[Array[Long]] =
      ltDec.map(_.map(_.unscaledValue().longValueExact()))
    @transient private lazy val cdL: Array[Long] =
      cdDec.map(_.unscaledValue().longValueExact())
    def scoreDec(cell: Int, codes: Array[Int]): java.math.BigDecimal =
      try {
        var acc = cdL(cell)
        var m = 0
        while (m < codes.length) {
          acc = Math.addExact(acc, ltL(m)(codes(m)))
          m += 1
        }
        java.math.BigDecimal.valueOf(acc, 18)
      } catch {
        case _: ArithmeticException =>
          var adc = cdDec(cell)
          var m = 0
          while (m < codes.length) {
            adc = adc.add(ltDec(m)(codes(m)))
            m += 1
          }
          adc
      }
  }

  /** The SQ8 affine kit (FAISS's scalar quantizer): per-dimension
    * min/max over the training unit vectors, codes
    * code_i = round((u_i − mn_i)/(mx_i − mn_i)·255) clamped to uint8,
    * reconstruct-and-dot scoring with DECIMAL-pinned per-dim terms. A
    * degenerate dimension (mx ≤ mn) codes 0 and reconstructs mn. The
    * codes never depend on the cell: `cs` only gates the scan (the
    * trained IVF cells for the cell-pruned joins, [[OneCell]] for the
    * full-scan q_ann_sq8). */
  private[graft] final case class Sq8Kit(
      mn: Array[Double], mx: Array[Double], cs: Array[Array[Double]] = OneCell)
      extends Quantizer {
    def codesOf(u: Array[Double]): Array[Int] = Array.tabulate(Dim) { i =>
      val w = mx(i) - mn(i)
      if (w > 0)
        math.max(0L, math.min(255L,
          math.round((u(i) - mn(i)) / w * 255.0))).toInt
      else 0
    }
    def codesOf(u: Array[Double], cell: Int): Array[Int] = codesOf(u)
    def scoreDec(qu: Array[Double], codes: Array[Int]): java.math.BigDecimal = {
      var adc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < Dim) {
        val w = mx(i) - mn(i)
        val recon = mn(i) + (if (w > 0) codes(i) / 255.0 * w else 0.0)
        adc = adc.add(new java.math.BigDecimal(qu(i) * recon)
          .setScale(18, java.math.RoundingMode.HALF_UP))
        i += 1
      }
      adc
    }

    /** The per-QUERY decimal LUT (the PQ-LUT idiom applied to the scalar
      * rung): lut(i)(c) = the EXACT per-term value [[scoreDec]]
      * constructs for dimension i at code c, precomputed once per query
      * (64 × 256 entries), so scoring a row becomes 64 lookups + adds
      * instead of 64 exact double→decimal conversions. [[scoreLut]] adds
      * the identical values in the identical order, so results are
      * bit-for-bit [[scoreDec]]'s. */
    def lutOf(qu: Array[Double]): Array[Array[java.math.BigDecimal]] =
      Array.tabulate(Dim) { i =>
        val w = mx(i) - mn(i)
        Array.tabulate(256) { c =>
          val recon = mn(i) + (if (w > 0) c / 255.0 * w else 0.0)
          new java.math.BigDecimal(qu(i) * recon)
            .setScale(18, java.math.RoundingMode.HALF_UP)
        }
      }

    /** [[scoreDec]] through a precomputed [[lutOf]] table — bit-identical
      * by construction (same terms, same fold order). */
    def scoreLut(
        lut: Array[Array[java.math.BigDecimal]],
        codes: Array[Int]): java.math.BigDecimal = {
      var adc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < Dim) {
        adc = adc.add(lut(i)(codes(i)))
        i += 1
      }
      adc
    }

    /** [[lutOf]] carried as UNSCALED scale-18 longs: every LUT entry is a
      * scale-18 decimal of a product of unit-bounded values (|qu_i| ≤ 1,
      * recon_i ∈ [mn_i, mx_i] ⊆ [−1, 1]), so |unscaled| ≤ ~1e18 and fits
      * a long exactly ([[java.math.BigDecimal#longValueExact]] is the
      * loud guard). 64 × 256 longs ≈ 128 KB per query, 50× smaller than
      * the decimal table. */
    def lutLongOf(qu: Array[Double]): Array[Array[Long]] =
      lutOf(qu).map(_.map(_.unscaledValue().longValueExact()))

    /** [[scoreLut]] over the long table: same-scale BigDecimal addition
      * is exact unscaled addition, so folding the longs and wrapping the
      * one final sum is bit-for-bit [[scoreLut]] (= [[scoreDec]]).
      * |sum| < 9.2e18 by Cauchy–Schwarz over the unit-bounded vectors
      * (Σ|qu_i·recon_i| ≤ ‖qu‖·‖recon‖ ≤ 8, unscaled ≤ 8e18 + rounding
      * slack); `Math.addExact` + the decimal-fold fallback turn that
      * proof into a loud recovery instead of a silent wrap. */
    def scoreLutLong(
        lutL: Array[Array[Long]], lut: => Array[Array[java.math.BigDecimal]],
        codes: Array[Int]): java.math.BigDecimal =
      try {
        var acc = 0L
        var i = 0
        while (i < Dim) {
          acc = Math.addExact(acc, lutL(i)(codes(i)))
          i += 1
        }
        java.math.BigDecimal.valueOf(acc, 18)
      } catch {
        case _: ArithmeticException => scoreLut(lut, codes)
      }

    def query(qv: Seq[Float], probes: Int): Sq8Query = {
      val qu = unit(qv)
      Sq8Query(this, qu, lutLongOf(qu), topCells(cellDotsOf(cs, qu), probes).toSet)
    }
  }

  /** A compiled SQ8 query: 64 long lookups + adds per row through
    * [[Sq8Kit.scoreLutLong]]; the decimal LUT is built only on the
    * overflow fallback. */
  private[graft] final case class Sq8Query(
      kit: Sq8Kit, qu: Array[Double], lutL: Array[Array[Long]],
      probeSet: Set[Int]) extends QuantQuery {
    def scoreDec(cell: Int, codes: Array[Int]): java.math.BigDecimal =
      kit.scoreLutLong(lutL, kit.lutOf(qu), codes)
  }

  /** Train the [[Sq8Kit]]: exact per-dim min/max over the training
    * frame's unit vectors — bounded partials (two Dim-double arrays per
    * partition), driver merge; min/max is order-insensitive so the
    * artifact is deterministic under any partitioning. */
  private[graft] def trainSq8(vecs: DataFrame, s: SparkSession): Sq8Kit = {
    import s.implicits._
    // per-partition (mn, mx) partials, tree-folded like the Lloyd
    // trainers so the driver never holds one partial per partition;
    // min/max is exact and order-insensitive, so any fold shape gives
    // the identical kit
    val parts = vecs
      .select(col("embedding")).as[Seq[Float]]
      .rdd.mapPartitions { it =>
        val mn = Array.fill(Dim)(Double.PositiveInfinity)
        val mx = Array.fill(Dim)(Double.NegativeInfinity)
        var any = false
        it.foreach { v =>
          val u = unit(v)
          var i = 0
          while (i < Dim) {
            if (u(i) < mn(i)) mn(i) = u(i)
            if (u(i) > mx(i)) mx(i) = u(i)
            i += 1
          }
          any = true
        }
        if (any) Iterator.single(Array(mn, mx)) else Iterator.empty
      }
    val p = parts.getNumPartitions
    require(p > 0, "SQ8 training frame is empty")
    val mm = try parts.treeReduce({ (a, b) =>
        var i = 0
        while (i < Dim) {
          if (b(0)(i) < a(0)(i)) a(0)(i) = b(0)(i)
          if (b(1)(i) > a(1)(i)) a(1)(i) = b(1)(i)
          i += 1
        }
        a
      }, treeFoldDepth(p))
      catch {
        case _: UnsupportedOperationException =>
          throw new IllegalArgumentException("SQ8 training frame is empty")
      }
    Sq8Kit(mm(0), mm(1))
  }

  /** The trained residual IVFADC kit for a dataset — coarse centroids +
    * residual codebooks, both the deterministic trainers above. */
  private[graft] def ivfadcKitOf(s: SparkSession, d: String): AdcKit = {
    val emb = Tables.embeddings(s, d)
    val centroids = trainCentroids(emb, s)
    AdcKit(centroids, trainPqCodebooks(emb, s, res = centroids))
  }

  /** The IVF-PQ kit: the trained cells gate WHICH rows score, the plain
    * PQ codebooks say HOW (codes of the raw unit vector, no residual). */
  private def ivfPqKitOf(s: SparkSession, d: String): AdcKit = {
    val emb = Tables.embeddings(s, d)
    AdcKit(trainCentroids(emb, s), trainPqCodebooks(emb, s), residual = false)
  }

  /** The scan frame of a declared query: raw (vec_id, embedding) rows
    * encoded on the fly through `kit` into (vec_id, cell, codes,
    * embedding). A row whose cell is outside `gate` is never encoded.
    * The persisted store reads the same frame from its stored codes. */
  private def encodedOf(
      rows: DataFrame, kit: Quantizer,
      gate: Set[Int]): Dataset[(Long, Int, Array[Int], Seq[Float])] = {
    val s = rows.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast((kit, gate))
    rows.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val (k, g) = bc.value
        it.flatMap { case (id, v) =>
          val u = k.unitOf(v)
          val cell = k.cellOf(u)
          if (g.contains(cell)) Some((id, cell, k.codesOf(u, cell), v)) else None
        }
      }
  }

  /** The one single-query scorer of the ladder: every (vec_id, cell,
    * codes) row in a probed cell gets `q`'s exact decimal score, rounded
    * to 9 places (the spelling the oracles replay bit-stably), and the
    * top `k` by (adc desc, vec_id) come back as (vec_id, adc). A narrow
    * mapPartitions and a TakeOrdered: no exchange. */
  private[graft] def scanTopK(
      frame: Dataset[(Long, Int, Array[Int])], q: QuantQuery, k: Int): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(q)
    frame
      .mapPartitions { it =>
        val qq = bc.value
        it.collect { case (id, cell, codes) if qq.probeSet.contains(cell) =>
          (id, qq.scoreDec(cell, codes).doubleValue)
        }
      }
      .toDF("vec_id", "adc")
      .select(col("vec_id"), round(col("adc"), 9).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** The single-query rungs: row 0 is the query, every other row is
    * encoded on the fly through `kit` and scored by [[scanTopK]]. At
    * 100 TB the codes are a stored column written at ingest; the
    * persisted VectorStore serves the same scan from them. */
  private def annTopK(
      s: SparkSession, d: String, kit: Quantizer, probes: Int,
      k: Int = 10): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = kit.query(emb.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Seq[Float]].head(), probes)
    scanTopK(encodedOf(emb.filter(col("vec_id") =!= 0), kit, q.probeSet)
      .map { case (id, cell, codes, _) => (id, cell, codes) }, q, k)
  }

  /** Compile a bounded (qid, embedding) probe frame against `kit` on the
    * driver. Zero vectors are dropped: they have no cosine, and
    * [[knnQueryFrameOf]] drops them too. The queries compile in
    * parallel — an SQ8 query is 16,384 exact double→decimal conversions,
    * ~2.6 s serially for an 800-query frame — and each one is a pure
    * function of (kit, vector) that lands by position, so the result is
    * the sequential map's. */
  private[graft] def compiledOf(
      kit: Quantizer, queries: DataFrame, probes: Int): Seq[(Long, QuantQuery)] = {
    val s = queries.sparkSession
    import s.implicits._
    val raw = queries.select(col("qid"), col("embedding")).as[(Long, Seq[Float])]
      .collect().filter { case (_, v) => v.exists(_ != 0f) }
    val out = new Array[QuantQuery](raw.length)
    java.util.stream.IntStream.range(0, raw.length).parallel()
      .forEach(i => out(i) = kit.query(raw(i)._2, probes))
    raw.map(_._1).toSeq.zip(out)
  }

  /** The one batched nominate stage: each (vec_id, cell, codes, payload)
    * row scores against every compiled query probing its cell, and per
    * query the `r` best by (round-9 score desc, vec_id) survive through
    * the bounded topk_pairs partials as (qid, vec_id, payload). A
    * driver-built inverted map cell → probing queries keeps the per-row
    * work at |queries probing this row's cell|, and the one shuffle
    * carries q × r rows per partition. The declared joins carry the
    * embedding as payload, so the corpus is scanned once; the store
    * carries vec_id and reads the nominees' embeddings afterwards. */
  private[graft] def nominatedOf[P](
      frame: Dataset[(Long, Int, Array[Int], P)],
      compiled: Seq[(Long, QuantQuery)], r: Int)(
      implicit enc: Encoder[(Long, Long, Double, P)]): DataFrame = {
    val byCell: Map[Int, Array[(Long, QuantQuery)]] = compiled
      .flatMap { case (qid, q) => q.probeSet.iterator.map(c => (c, (qid, q))) }
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).toArray) }
    val bc = frame.sparkSession.sparkContext.broadcast(byCell)
    frame
      .mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (id, cell, codes, p) =>
          m.getOrElse(cell, Array.empty[(Long, QuantQuery)]).iterator
            .map { case (qid, q) => (qid, id, q.scoreDec(cell, codes).doubleValue, p) }
        }
      }
      .toDF("qid", "vec_id", "score", "payload")
      .groupBy("qid")
      .agg(call_function("topk_pairs",
        round(col("score"), 9), col("vec_id"), col("payload"), lit(r)).as("cand"))
      .select(col("qid"), explode(col("cand")).as("c"))
      .select(col("qid"), col("c.id").as("vec_id"), col("c.payload").as("payload"))
  }

  /** Oracle-side artifact for q_ann_ivfadc: the residual-trained PQ
    * codebooks ([[trainPqCodebooks]] with `res` = the trained coarse
    * centroids) in the pq_codebooks layout. The oracle reads these plus
    * kmeans_centroids and re-derives cells, residuals, codes, the LUT,
    * the per-cell constants and the ADC top-10 from the raw table. */
  private def writeIvfadcAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!auxWritten.add(s"ivfadc::$d::$auxDir")) return
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cbs = trainPqCodebooks(emb, s, res = trainCentroids(emb, s))
    val rows = for {
      m <- 0 until PqM
      j <- cbs(m).indices
    } yield (m.toLong, j.toLong, cbs(m)(j).toSeq, halfNormsOf(cbs(m))(j))
    rows.toDF("m", "cell", "c", "half_norm")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/pq_res_codebooks")
  }

  /** The residual-IVFADC oracle: [[cellsCtes]]' Voronoi assignment, the
    * per-row residual re-derived with a 1-based index lambda (one IEEE
    * subtraction per element, the Scala loop's exact op), residual codes
    * from the materialized pq_res_codebooks (same argmax spelling as the
    * PQ oracle), the LUT from RAW query subvectors, and the per-cell
    * constant q·c as one `list_inner_product` — summed in DECIMAL and
    * rounded like the Scala side's BigDecimal fold. */
  private def ivfadcOracleSql(probes: Int): String =
    s"""$cellsCtes,
        rcb AS (
          SELECT m, cell, c, half_norm
          FROM read_parquet('${OracleAux.Token}/pq_res_codebooks/*.parquet')),
        qp AS (
          SELECT cent.cell
          FROM cent CROSS JOIN (SELECT u FROM un WHERE vec_id = 0) q
          ORDER BY list_inner_product(q.u, cent.c) DESC, cent.cell
          LIMIT $probes),
        res AS (
          SELECT un.vec_id, list_transform(un.u, (x, i) -> x - cent.c[i]) AS r
          FROM un
          JOIN cells cl ON cl.vec_id = un.vec_id
          JOIN cent ON cent.cell = cl.cell
          WHERE un.vec_id <> 0),
        sub AS (
          SELECT vec_id, g.m AS m,
                 r[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS rm
          FROM res, generate_series(0, ${PqM - 1}) g(m)),
        qsub AS (
          SELECT g.m AS m,
                 u[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS qm
          FROM (SELECT u FROM un WHERE vec_id = 0),
               generate_series(0, ${PqM - 1}) g(m)),
        codes AS (
          SELECT vec_id, m, cell AS code FROM (
            SELECT s.vec_id, s.m, rcb.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY list_inner_product(s.rm, rcb.c) - rcb.half_norm
                       DESC, rcb.cell) AS rn
            FROM sub s JOIN rcb ON rcb.m = s.m) ranked
          WHERE rn = 1),
        lut AS (
          SELECT rcb.m, rcb.cell, list_inner_product(q.qm, rcb.c) AS dot
          FROM rcb JOIN qsub q ON q.m = rcb.m),
        cdot AS (
          SELECT cl.vec_id, list_inner_product(q.u, cent.c) AS cd
          FROM cells cl
          JOIN cent ON cent.cell = cl.cell
          CROSS JOIN (SELECT u FROM un WHERE vec_id = 0) q),
        adc AS (
          SELECT c.vec_id,
                 round(CAST(SUM(CAST(l.dot AS DECIMAL(38,18)))
                            + CAST(cd.cd AS DECIMAL(38,18)) AS DOUBLE), 9) AS adc
          FROM codes c
          JOIN lut l ON l.m = c.m AND l.cell = c.code
          JOIN cells cl ON cl.vec_id = c.vec_id
          JOIN qp ON cl.cell = qp.cell
          JOIN cdot cd ON cd.vec_id = c.vec_id
          GROUP BY c.vec_id, cd.cd)
        SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 10"""

  // ---- IVF-OPQ (q_ann_ivf_opq) ----------------------------------------------

  /** The full FAISS-style "OPQ,IVF,PQ" stack: coarse Voronoi cells, then
    * OPQ's jointly-trained orthogonal rotation + codebooks over the
    * COARSE RESIDUALS ([[trainOpq]] with `res` — alternation from R = I
    * and the residual-PQ codebooks, so training-sample reconstruction
    * error ≤ plain residual PQ by the same monotonicity argument, pinned
    * in AnnRecallSpec). Scoring composes both exact decompositions:
    *   q·x̂ = q·c_cell + q·Rᵀŷ = q·c_cell + (R·q)·ŷ
    * — per-cell constants driver-computed, LUT from the ROTATED query
    * subvectors against the residual-space codebooks, so the scan stays
    * the probed-cell pruned 8-lookup ADC (the rotation touches each row
    * once, per-row arithmetic, no shuffle). */
  private def ivfOpqTopK(s: SparkSession, d: String, probes: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val centroids = trainCentroids(emb, s)
    val (rot, cbs) = trainOpq(emb, s, res = centroids)
    annTopK(s, d, AdcKit(centroids, cbs, rot), probes)
  }

  /** Oracle-side artifacts for q_ann_ivf_opq: the residual-space
    * rotation (i, r) plus the rotated-residual codebooks, both from ONE
    * [[trainOpq]] run over the trained coarse centroids. */
  private def writeIvfOpqAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!auxWritten.add(s"ivfopq::$d::$auxDir")) return
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val (rot, cbs) = trainOpq(emb, s, res = trainCentroids(emb, s))
    rot.zipWithIndex.toSeq.map { case (row, i) => (i.toLong, row.toSeq) }
      .toDF("i", "r")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/ivfopq_rotation")
    val rows = for {
      m <- 0 until PqM
      j <- cbs(m).indices
    } yield (m.toLong, j.toLong, cbs(m)(j).toSeq, halfNormsOf(cbs(m))(j))
    rows.toDF("m", "cell", "c", "half_norm")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/ivfopq_codebooks")
  }

  /** The IVF-OPQ oracle: [[cellsCtes]]' Voronoi assignment, the per-row
    * residual (index lambda), the residual ROTATED through the
    * materialized matrix (the opqOracleSql `list(list_inner_product(...)
    * ORDER BY i)` idiom), codes from the rotated-space codebooks, the
    * LUT from the ROTATED query, and the per-cell q·c constant — summed
    * in DECIMAL exactly like the Scala BigDecimal fold. */
  private def ivfOpqOracleSql(probes: Int): String =
    s"""$cellsCtes,
        rot AS (
          SELECT i, r
          FROM read_parquet('${OracleAux.Token}/ivfopq_rotation/*.parquet')),
        ocb AS (
          SELECT m, cell, c, half_norm
          FROM read_parquet('${OracleAux.Token}/ivfopq_codebooks/*.parquet')),
        qp AS (
          SELECT cent.cell
          FROM cent CROSS JOIN (SELECT u FROM un WHERE vec_id = 0) q
          ORDER BY list_inner_product(q.u, cent.c) DESC, cent.cell
          LIMIT $probes),
        res AS (
          SELECT un.vec_id, list_transform(un.u, (x, i) -> x - cent.c[i]) AS r
          FROM un
          JOIN cells cl ON cl.vec_id = un.vec_id
          JOIN cent ON cent.cell = cl.cell
          WHERE un.vec_id <> 0),
        rres AS (
          SELECT res.vec_id,
                 list(list_inner_product(rot.r, res.r) ORDER BY rot.i) AS x
          FROM res CROSS JOIN rot GROUP BY res.vec_id),
        sub AS (
          SELECT vec_id, g.m AS m,
                 x[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS xm
          FROM rres, generate_series(0, ${PqM - 1}) g(m)),
        rq AS (
          SELECT list(list_inner_product(rot.r, q.u) ORDER BY rot.i) AS x
          FROM (SELECT u FROM un WHERE vec_id = 0) q CROSS JOIN rot),
        qsub AS (
          SELECT g.m AS m,
                 x[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS xm
          FROM rq, generate_series(0, ${PqM - 1}) g(m)),
        codes AS (
          SELECT vec_id, m, cell AS code FROM (
            SELECT s.vec_id, s.m, ocb.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY list_inner_product(s.xm, ocb.c) - ocb.half_norm
                       DESC, ocb.cell) AS rn
            FROM sub s JOIN ocb ON ocb.m = s.m) ranked
          WHERE rn = 1),
        lut AS (
          SELECT ocb.m, ocb.cell, list_inner_product(q.xm, ocb.c) AS dot
          FROM ocb JOIN qsub q ON q.m = ocb.m),
        cdot AS (
          SELECT cl.vec_id, list_inner_product(q.u, cent.c) AS cd
          FROM cells cl
          JOIN cent ON cent.cell = cl.cell
          CROSS JOIN (SELECT u FROM un WHERE vec_id = 0) q),
        adc AS (
          SELECT c.vec_id,
                 round(CAST(SUM(CAST(l.dot AS DECIMAL(38,18)))
                            + CAST(cd.cd AS DECIMAL(38,18)) AS DOUBLE), 9) AS adc
          FROM codes c
          JOIN lut l ON l.m = c.m AND l.cell = c.code
          JOIN cells cl ON cl.vec_id = c.vec_id
          JOIN qp ON cl.cell = qp.cell
          JOIN cdot cd ON cd.vec_id = c.vec_id
          GROUP BY c.vec_id, cd.cd)
        SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 10"""

  /** The trained-IVF oracle: re-derives every cell assignment from the
    * materialized centroids with the same arithmetic as [[nearestCell]] —
    * embeddings are unit-normalized (`x * (1/sqrt(Σx²))`, the loop's exact
    * op sequence; zero-norm vectors pass through unscaled), assignment is
    * max-dot with lowest-cell tie-break — then scores the query's cell
    * with the exact-decimal machinery shared with [[ivfOracleSql]].
    * `list_inner_product` folds in list order, matching the Scala loops'
    * left-to-right double accumulation. */
  /** The trained-IVF oracle, parameterized by probe count: `probes` = 1 is
    * the single-probe query (the top-1 cell by query dot IS the query's
    * assigned Voronoi cell), `probes` = P ranks every centroid by its dot
    * with the unit query — the identical (dot DESC, cell) order the
    * Spark side's driver loop uses — and keeps the nearest P. */
  private def kmeansOracleSql(probes: Int): String =
    s"""WITH cent AS (
          SELECT cell, c
          FROM read_parquet('${OracleAux.Token}/kmeans_centroids/*.parquet')),
        dv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        sc AS (
          SELECT vec_id, d, list_inner_product(d, d) AS n2,
                 1.0 / sqrt(list_inner_product(d, d)) AS s
          FROM dv),
        un AS (
          SELECT vec_id,
                 CASE WHEN n2 = 0 THEN d
                      ELSE list_transform(d, x -> x * s) END AS u
          FROM sc),
        cells AS (
          SELECT vec_id, cell FROM (
            SELECT un.vec_id, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY un.vec_id
                     ORDER BY list_inner_product(un.u, cent.c) DESC, cent.cell)
                     AS rn
            FROM un CROSS JOIN cent) ranked
          WHERE rn = 1),
        qprobes AS (
          SELECT cent.cell
          FROM cent CROSS JOIN (SELECT u FROM un WHERE vec_id = 0) q
          ORDER BY list_inner_product(q.u, cent.c) DESC, cent.cell
          LIMIT $probes),
        n AS (
          SELECT e.vec_id, e.embedding,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS norm_dec
          FROM embeddings e, generate_series(1, $Dim) t(i)
          GROUP BY e.vec_id, e.embedding),
        q AS (
          SELECT n.embedding AS qe, n.norm_dec AS qnorm_dec
          FROM n WHERE n.vec_id = 0),
        scored AS (
          SELECT n.vec_id,
                 round(CAST(SUM(CAST(CAST(n.embedding[i] AS DOUBLE)
                                     * CAST(q.qe[i] AS DOUBLE)
                                     AS DECIMAL(38,18))) AS DOUBLE)
                   / (sqrt(CAST(n.norm_dec AS DOUBLE)) * sqrt(CAST(q.qnorm_dec AS DOUBLE))), 9)
                   AS cosine
          FROM n
          JOIN cells c ON c.vec_id = n.vec_id
          JOIN qprobes p ON c.cell = p.cell
          CROSS JOIN q,
               generate_series(1, $Dim) t(i)
          WHERE n.vec_id <> 0
          GROUP BY n.vec_id, n.norm_dec, q.qnorm_dec)
        SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** The IVF oracle with the probe predicate injected (`c` = candidate
    * cells row, `q` = query row with qcell). */
  private def ivfOracleSql(probePred: String): String =
    s"""WITH proj AS (
          SELECT e.vec_id, p.p,
                 SUM(CAST((${planeWeightSql("p.p", "t.i")})
                          * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS dot_dec
          FROM embeddings e,
               generate_series(0, 3) p(p),
               generate_series(1, $Dim) t(i)
          GROUP BY e.vec_id, p.p),
        cells AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN dot_dec >= 0 THEN 1 ELSE 0 END
                          * (1 << p)) AS BIGINT) AS cell
          FROM proj GROUP BY vec_id),
        n AS (
          SELECT e.vec_id, e.embedding,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS norm_dec
          FROM embeddings e, generate_series(1, $Dim) t(i)
          GROUP BY e.vec_id, e.embedding),
        q AS (
          SELECT n.embedding AS qe, n.norm_dec AS qnorm_dec, c.cell AS qcell
          FROM n JOIN cells c ON c.vec_id = n.vec_id WHERE n.vec_id = 0),
        scored AS (
          SELECT n.vec_id,
                 round(CAST(SUM(CAST(CAST(n.embedding[i] AS DOUBLE)
                                     * CAST(q.qe[i] AS DOUBLE)
                                     AS DECIMAL(38,18))) AS DOUBLE)
                   / (sqrt(CAST(n.norm_dec AS DOUBLE)) * sqrt(CAST(q.qnorm_dec AS DOUBLE))), 9)
                   AS cosine
          FROM n
          JOIN cells c ON c.vec_id = n.vec_id
          JOIN q ON $probePred,
               generate_series(1, $Dim) t(i)
          WHERE n.vec_id <> 0
          GROUP BY n.vec_id, n.norm_dec, q.qnorm_dec)
        SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id LIMIT 10"""

  // ---- batched k-NN join (q_knn_join, q_knn_join_ivf) ----------------------

  /** k-NN-join knobs. Queries = the vec_id % 25 hash slice — a stand-in
    * for a REAL probe set (an eval suite, a retrieval batch), which is
    * fixed-size and broadcastable at any corpus scale. KnnR nominates by
    * the cheap double cosine; the exact decimal re-rank then decides the
    * final KnnK — the refine idiom of q_ann_ivf_pq_refine, which makes a
    * double-vs-decimal rank flip matter only if it crosses the #KnnR
    * boundary AND the crosser belongs in the true top-KnnK (a ≥15-place
    * swap on a ~1e-16-relative perturbation — not a reachable state). */
  private[graft] val KnnK = 5
  private[graft] val KnnR = 20
  private[graft] val KnnProbes = 4
  private[graft] val KnnQMod = 25

  // the lexical eval's probe sample (q_retrieval_eval_lex): every
  // doc_id % LexQMod == 0 document is a probe, its query = its first
  // LexNT distinct tokens, graded at BM25 top-LexK
  private val LexQMod = 50
  private[graft] val LexNT = 3
  private[graft] val LexK = 10

  /** The store-served lexical rank lists for a probe sample — the
    * q_retrieval_eval_lex SYSTEM leg, factored so the hybrid eval
    * runs the identical spelling: probes = the doc_id % `qmod` document
    * sample, each probe's query = its first [[LexNT]] DISTINCT tokens
    * in document order, ONE batched bucket-pruned store read for ALL
    * probes ([[graft.streaming.PostingsStore.probeBatch]]), top-[[LexK]]
    * BM25 ranks per probe with probe docs excluded from the candidate
    * side. Returns (qterms, nT, sysRanks); the first two are LOCAL
    * relations — the probe frame is bounded by contract (probes × LexNT
    * rows, the VectorStore.knnJoin precedent), so it is collected ONCE
    * and every probe-side consumer (term fan-out, n_terms, the output
    * domain) plans as a local relation: no per-consumer re-planned
    * stacks, no micro-shuffles of 30-row frames — the exchanges left
    * in the plan all carry corpus- or slice-scale data. */
  private[graft] def lexStoreRanksOf(
      s: SparkSession, d: String, qmod: Int): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftExtensions.ensureRegistered(s)
    import s.implicits._
    val store = Tables.materializeDir("bm25_store", d) { p =>
      graft.streaming.PostingsStore.appendBatch(
        p, Tables.documents(s, d).select(col("doc_id"), col("text")),
        batchId = 0L)
    }
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val qtRows = docs.filter(pmod(col("doc_id"), lit(qmod)) === 0)
      .select(col("doc_id").as("qid"),
        explode(slice(array_distinct(split(col("text"), " ")), 1, LexNT))
          .as("token"))
      .as[(Long, String)].collect()
    val qterms = qtRows.toSeq.toDF("qid", "token")
    val nT = qtRows.groupBy(_._1).toSeq
      .map { case (q, xs) => (q, xs.size.toLong) }
      .toDF("qid", "n_terms")
    val sysRanks = graft.streaming.PostingsStore.probeBatch(s, store, qterms)
      .filter(pmod(col("doc_id"), lit(qmod)) =!= 0)
      .groupBy("qid")
      .agg(call_function("topk_pairs",
        col("score_dec").cast(DoubleType), col("doc_id"), col("doc_id"),
        lit(LexK)).as("cand"))
      .select(col("qid"), posexplode(col("cand")))
      .select(col("qid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("doc_id"))
    (qterms, nT, sysRanks)
  }

  /** The q_retrieval_eval_lex system-leg oracle CTEs (docs → sysr),
    * parameterized by the probe modulus so the hybrid eval's oracle
    * replays the identical lexical leg at its own probe sample — ONE
    * SQL spelling of the exact-rational BM25 rank list (the
    * Bm25OracleCtes discipline). Exposes `sysr(qid, doc_id, rank)`,
    * `qt(qid, token)`, `nt(qid, n_terms)`, `docs`. */
  private def lexBm25SysCtesSql(qmod: Int): String =
    s"""docs AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |         string_split(text, ' ') AS tk
       |  FROM documents),
       |probes AS (SELECT doc_id AS qid, tk FROM docs
       |           WHERE doc_id % $qmod = 0),
       |pu AS (SELECT qid, unnest(tk) AS token,
       |              unnest(generate_series(1, len(tk))) AS ord
       |       FROM probes),
       |pt AS (SELECT qid, token, min(ord) AS ord
       |       FROM pu GROUP BY qid, token),
       |qt AS (SELECT qid, token FROM (
       |         SELECT qid, token, ROW_NUMBER() OVER (
       |           PARTITION BY qid ORDER BY ord) AS rn
       |         FROM pt)
       |       WHERE rn <= $LexNT),
       |nt AS (SELECT qid, count(*) AS n_terms FROM qt GROUP BY qid),
       |tf AS (
       |  SELECT doc_id, dl, token, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(tk) AS token FROM docs)
       |  WHERE token IN (SELECT DISTINCT token FROM qt)
       |  GROUP BY doc_id, dl, token),
       |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |tot AS (SELECT count(*) AS n_docs, sum(dl) AS t_all FROM docs),
       |scored AS (
       |  SELECT q.qid, tf.doc_id,
       |         CAST((CAST(tf.tf * tot.t_all * 22 AS DOUBLE)
       |               / CAST(tf.tf * tot.t_all * 10 + tot.t_all * 3
       |                      + tf.dl * tot.n_docs * 9 AS DOUBLE))
       |              * (CAST(tot.n_docs * 2 - dft.df * 2 + 1 AS DOUBLE)
       |                 / CAST(dft.df * 2 + 1 AS DOUBLE))
       |              AS DECIMAL(38,18)) AS score_dec
       |  FROM tf JOIN dft ON dft.token = tf.token
       |  JOIN qt q ON q.token = tf.token CROSS JOIN tot
       |  WHERE tf.doc_id % $qmod <> 0),
       |sysdoc AS (SELECT qid, doc_id, CAST(sum(score_dec) AS DOUBLE) AS sd
       |           FROM scored GROUP BY qid, doc_id),
       |sysr AS (SELECT qid, doc_id, rn AS rank FROM (
       |           SELECT qid, doc_id, ROW_NUMBER() OVER (
       |             PARTITION BY qid ORDER BY sd DESC, doc_id) AS rn
       |           FROM sysdoc) r
       |         WHERE rn <= $LexK)""".stripMargin

  /** Top-`n` probe cells for a RAW vector: [[nearestCell]]'s
    * (dot DESC, cell ASC) ranking generalized past rank 1, over the
    * unit-normalized vector. A zero-norm vector ranks like assignment
    * does (unit() passes it through raw, every dot is 0, ties resolve to
    * the lowest cells) — the SAME ranking the kmeans oracles replay, so
    * every caller of this helper agrees with every oracle on the
    * degenerate case too (a return-empty special case would silently
    * diverge from the kits' probe sets, which rank the same way).
    * Shared by q_ann_ivf_kmeans_multiprobe, q_ann_cell_layout, the
    * q_knn_join_ivf probe stage and KnnJoinSpec's structural replay. */
  private[graft] def probeCellsOf(
      cs: Array[Array[Double]], v: Seq[Float], n: Int): Seq[Long] =
    topCells(cellDotsOf(cs, unit(v)), n).map(_.toLong)

  /** (qid, qe, qnorm_dec) from an arbitrary (qid, embedding) query
    * batch — the seam the declared joins ([[knnQueries]]' fixed vec_id
    * sample) and the store-served join
    * ([[graft.streaming.VectorStore.knnJoin]], caller-supplied batch)
    * share, so the exact-refine arithmetic cannot drift between them.
    * Zero-norm vectors are dropped on BOTH engines — their cosine is
    * 0/0 and NaN ordering is the one cross-engine hazard in this
    * family. */
  private[graft] def knnQueryFrameOf(queries: DataFrame): DataFrame =
    queries.filter(dotDouble(col("embedding"), col("embedding")) > 0)
      .select(col("qid"), col("embedding").as("qe"),
        dotDec(col("embedding"), col("embedding")).as("qnorm_dec"))

  /** Query-side frame of the declared joins: the deterministic
    * vec_id % [[KnnQMod]] sample. */
  private def knnQueries(emb: DataFrame): DataFrame =
    knnQueryFrameOf(
      emb.filter(pmod(col("vec_id"), lit(KnnQMod)) === 0)
        .select(col("vec_id").as("qid"), col("embedding")))

  /** Nominate-stage double cosine — per-row fixed-order folds, so the
    * value is partitioning-independent and the oracle's sequential
    * list_inner_product replays it. */
  private def knnScore(e: Column, qe: Column): Column =
    dotDouble(e, qe) / (sqrt(dotDouble(e, e)) * sqrt(dotDouble(qe, qe)))

  /** Shared tail of both k-NN joins: bounded nominate (topk_pairs carries
    * each candidate's embedding as payload, so the corpus is scanned
    * EXACTLY once — no second scan to re-fetch vectors by id), then the
    * exact decimal re-rank of the q × KnnR survivors. `scored` must have
    * (qid, vec_id, embedding, dscore). */
  private def knnTopK(
      scored: DataFrame, q: DataFrame,
      r: Int = KnnR, k: Int = KnnK): DataFrame = {
    val nominated = scored.groupBy("qid")
      .agg(call_function("topk_pairs",
        col("dscore"), col("vec_id"), col("embedding"), lit(r)).as("cand"))
      .select(col("qid"), explode(col("cand")).as("c"))
      .select(col("qid"), col("c.id").as("vec_id"), col("c.payload").as("embedding"))
    knnRefine(nominated, q, k)
  }

  /** The cell-pruned EXACT-nominate k-NN join engine over an explicit
    * cell-assigned candidate frame — the one body [[knnJoinIvf]] (cells
    * re-derived from the table each run) and the store-served
    * [[graft.streaming.VectorStore.knnJoin]] (cells persisted in the
    * index layout) share, so the served answer is the declared query's
    * answer by construction, not by claim. `cand` must carry (cell,
    * vec_id, embedding); `probeDf` the per-query probe cells (qid,
    * cell); `queries` the bounded (qid, embedding) batch. */
  private[graft] def knnJoinFromCells(
      cand: DataFrame, probeDf: DataFrame, queries: DataFrame,
      r: Int = KnnR, k: Int = KnnK): DataFrame = {
    val q = knnQueryFrameOf(queries)
    // both sides bounded (q × probes vs q rows) — broadcast explicitly:
    // the probe side has no stats and planned SortMergeJoin without it
    val probeQ = probeDf.join(broadcast(q), Seq("qid"))
    val scored = cand
      .filter(dotDouble(col("embedding"), col("embedding")) > 0)
      .join(broadcast(probeQ), Seq("cell"))
      .select(col("qid"), col("vec_id"), col("embedding"),
        knnScore(col("embedding"), col("qe")).as("dscore"))
    knnTopK(scored, q, r, k)
  }

  /** The exact DECIMAL re-rank tail every k-NN join shares (the batch
    * engines above via [[knnTopK]]; the store-served
    * [[graft.streaming.VectorStore.knnJoin]] directly): `nominated`
    * must have (qid, vec_id, embedding) — the r-bounded candidate set —
    * and `q` the bounded [[knnQueryFrameOf]] frame (broadcast: the
    * probe-frame contract bounds it). Output (qid, knn_rank, vec_id,
    * cosine), round-9, rank ties broken by vec_id — ONE spelling, so
    * the persisted index and the declared queries cannot drift. */
  private[graft] def knnRefine(nominated: DataFrame, q: DataFrame, k: Int): DataFrame =
    nominated.join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        cosineCol(
          dotDec(col("embedding"), col("qe")),
          dotDec(col("embedding"), col("embedding")),
          col("qnorm_dec")).as("cosine"))
      .withColumn("knn_rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("knn_rank") <= k)
      .select(col("qid"), col("knn_rank"), col("vec_id"), col("cosine"))
      .orderBy("qid", "knn_rank")

  /** The exact-decimal re-rank + final top-K CTE tail both oracles share;
    * expects a `nom(qid, vec_id)` CTE upstream. */
  private def knnRerankSql: String =
    s"""sums AS (
          SELECT n.qid, n.vec_id,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS dot_dec,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS cnorm_dec,
                 SUM(CAST(CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS qnorm_dec
          FROM nom n
          JOIN embeddings e ON e.vec_id = n.vec_id
          JOIN embeddings qe ON qe.vec_id = n.qid,
               generate_series(1, $Dim) t(i)
          GROUP BY n.qid, n.vec_id),
        ranked AS (
          SELECT qid, vec_id,
                 round(CAST(dot_dec AS DOUBLE)
                   / (sqrt(CAST(cnorm_dec AS DOUBLE)) * sqrt(CAST(qnorm_dec AS DOUBLE))), 9)
                   AS cosine
          FROM sums),
        fin AS (
          SELECT qid, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cosine DESC, vec_id) AS knn_rank
          FROM ranked)
        SELECT qid, knn_rank, vec_id, cosine
        FROM fin WHERE knn_rank <= $KnnK ORDER BY qid, knn_rank"""

  /** The dense batched k-NN join engine (q_knn_join's body — see that
    * QueryDef's scaladoc for the topk_pairs-vs-window A/B): one corpus
    * pass, bounded per-(partition, query) partials, exact decimal
    * re-rank. Shared with q_retrieval_eval_multi as the TRUTH leg. */
  private[graft] def knnJoinExact(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(s)
    val emb = Tables.embeddings(s, d)
    val q = knnQueries(emb)
    // fanOut below the filters: the corpus side's per-row work is
    // |queries| exact dots + the topk_pairs partials — ~1.1 s of CPU on
    // the single-row-group scan's ONE task (sweep-measured); the
    // round-robin moves the narrow (vec_id, embedding) rows once. Also
    // the truth leg of q_retrieval_eval_multi and both hybrid evals.
    val scored = Tables.fanOut(emb
      .filter(pmod(col("vec_id"), lit(KnnQMod)) =!= 0)
      .filter(dotDouble(col("embedding"), col("embedding")) > 0))
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"), col("embedding"),
        knnScore(col("embedding"), col("qe")).as("dscore"))
    knnTopK(scored, q)
  }

  /** The IVF-pruned k-NN join engine (q_knn_join_ivf's body — see that
    * QueryDef's scaladoc): per-query probe sets, cell equi-join instead
    * of the cross join, shared nominate/re-rank tail. Shared with
    * q_retrieval_eval_multi as the SYSTEM leg. */
  private def knnJoinIvf(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(s)
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val centroids = trainCentroids(emb, s)
    val bc = s.sparkContext.broadcast(centroids)
    // per-query probe set: same (dot DESC, cell ASC) ranking over unit
    // vectors as cell assignment, truncated at KnnProbes — computed
    // distributedly (no driver collect), q × KnnProbes rows out
    val probeDf = emb.filter(pmod(col("vec_id"), lit(KnnQMod)) === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        probeCellsOf(bc.value, v, KnnProbes).iterator.map(c => (id, c))
      }.toDF("qid", "cell")
    val corpusCells = assignedCells(s, emb, centroids)
      .filter(pmod(col("vec_id"), lit(KnnQMod)) =!= 0)
    knnJoinFromCells(corpusCells, probeDf,
      emb.filter(pmod(col("vec_id"), lit(KnnQMod)) === 0)
        .select(col("vec_id").as("qid"), col("embedding")))
  }

  /** q_knn_join's oracle — also embedded verbatim (nested WITH) as the
    * truth leg of the q_retrieval_eval_multi oracle. */
  private def knnJoinExactOracleSql: String =
    s"""WITH dv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        nrm AS (SELECT vec_id, d, list_inner_product(d, d) AS n2 FROM dv),
        q AS (SELECT vec_id AS qid, d AS qd FROM nrm
              WHERE vec_id % $KnnQMod = 0 AND n2 > 0),
        c AS (SELECT vec_id, d FROM nrm
              WHERE vec_id % $KnnQMod <> 0 AND n2 > 0),
        nom AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                     list_inner_product(c.d, q.qd)
                       / (sqrt(list_inner_product(c.d, c.d))
                          * sqrt(list_inner_product(q.qd, q.qd)))
                     DESC, c.vec_id) AS rn
            FROM c CROSS JOIN q) r
          WHERE rn <= $KnnR),
        $knnRerankSql"""

  /** The per-query probe-cell CTE (the sampled queries' top-KnnProbes
    * cells by the assignment ranking) — shared verbatim by the
    * q_knn_join_ivf and q_knn_join_ivfadc oracles. Composes after
    * [[cellsCtes]]. */
  private def knnProbesCteSql: String =
    s"""probes AS (
          SELECT qid, cell FROM (
            SELECT un.vec_id AS qid, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY un.vec_id
                     ORDER BY list_inner_product(un.u, cent.c) DESC, cent.cell)
                     AS rn
            FROM un
            JOIN sc ON sc.vec_id = un.vec_id
            CROSS JOIN cent
            WHERE un.vec_id % $KnnQMod = 0 AND sc.n2 > 0) r
          WHERE rn <= $KnnProbes)"""

  /** q_knn_join_ivf's oracle — also embedded verbatim (nested WITH) as
    * the system leg of the q_retrieval_eval_multi oracle. */
  private def knnJoinIvfOracleSql: String =
    s"""$cellsCtes,
        q AS (
          SELECT sc.vec_id AS qid, sc.d AS qd
          FROM sc WHERE sc.vec_id % $KnnQMod = 0 AND sc.n2 > 0),
        $knnProbesCteSql,
        c AS (
          SELECT sc.vec_id, sc.d, cl.cell
          FROM sc JOIN cells cl ON cl.vec_id = sc.vec_id
          WHERE sc.vec_id % $KnnQMod <> 0 AND sc.n2 > 0),
        nom AS (
          SELECT qid, vec_id FROM (
            SELECT p.qid, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                     list_inner_product(c.d, q.qd)
                       / (sqrt(list_inner_product(c.d, c.d))
                          * sqrt(list_inner_product(q.qd, q.qd)))
                     DESC, c.vec_id) AS rn
            FROM c
            JOIN probes p ON p.cell = c.cell
            JOIN q ON q.qid = p.qid) r
          WHERE rn <= $KnnR),
        $knnRerankSql"""

  /** The quantizer-nominated batched k-NN join — q_knn_join_ivfadc with
    * the residual [[AdcKit]], q_knn_join_sq8 with the cell-gated
    * [[Sq8Kit]] — the rungs between q_knn_join_ivf (exact double
    * nomination over the probed cells) and the single-query scans. Each
    * query probes its KnnProbes nearest cells, [[nominatedOf]] scores
    * every probed corpus row by its codes and keeps KnnR per query with
    * the embedding as payload (one corpus scan), and [[knnRefine]]
    * re-ranks the q × r survivors exactly. A code can misrank a true
    * neighbor out of the r slots; the refine fixes rank order among the
    * nominees, never nomination misses. The batch twin of
    * VectorStore.knnJoin(nominate = Rung.Adc / Rung.Sq8), pinned
    * byte-identical in VectorStoreSpec. */
  private def knnJoinQuantized(s: SparkSession, d: String, kit: Quantizer): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(s)
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(pmod(col("vec_id"), lit(KnnQMod)) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val compiled = compiledOf(kit, queries, KnnProbes)
    val corpus = emb.filter(pmod(col("vec_id"), lit(KnnQMod)) =!= 0)
      .filter(dotDouble(col("embedding"), col("embedding")) > 0)
    val nominated = nominatedOf(
        encodedOf(corpus, kit, compiled.flatMap(_._2.probeSet).toSet), compiled, KnnR)
      .withColumnRenamed("payload", "embedding")
    knnRefine(nominated, knnQueryFrameOf(queries), KnnK)
  }

  /** q_knn_join_ivfadc's oracle: [[cellsCtes]]' assignment + the shared
    * probe CTE, residual codes from the materialized pq_res_codebooks
    * (the q_ann_ivfadc oracle's spellings, per-QUERY this time: the LUT
    * and per-cell constants gain a qid dimension), round-9 ADC
    * nomination per (qid, probed corpus row), then the shared exact
    * decimal re-rank tail. */
  private def knnJoinAdcOracleSql: String =
    s"""$cellsCtes,
        rcb AS (
          SELECT m, cell, c, half_norm
          FROM read_parquet('${OracleAux.Token}/pq_res_codebooks/*.parquet')),
        q AS (
          SELECT sc.vec_id AS qid, sc.d AS qd
          FROM sc WHERE sc.vec_id % $KnnQMod = 0 AND sc.n2 > 0),
        $knnProbesCteSql,
        c AS (
          SELECT sc.vec_id, cl.cell
          FROM sc JOIN cells cl ON cl.vec_id = sc.vec_id
          WHERE sc.vec_id % $KnnQMod <> 0 AND sc.n2 > 0),
        res AS (
          SELECT un.vec_id, c.cell,
                 list_transform(un.u, (x, i) -> x - cent.c[i]) AS r
          FROM un
          JOIN c ON c.vec_id = un.vec_id
          JOIN cent ON cent.cell = c.cell),
        sub AS (
          SELECT vec_id, g.m AS m,
                 r[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS rm
          FROM res, generate_series(0, ${PqM - 1}) g(m)),
        codes AS (
          SELECT vec_id, m, cell AS code FROM (
            SELECT s.vec_id, s.m, rcb.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                     ORDER BY list_inner_product(s.rm, rcb.c) - rcb.half_norm
                       DESC, rcb.cell) AS rn
            FROM sub s JOIN rcb ON rcb.m = s.m) ranked
          WHERE rn = 1),
        qsub AS (
          SELECT q.qid, g.m AS m,
                 un.u[$PqSub * g.m + 1 : $PqSub * g.m + $PqSub] AS qm
          FROM q JOIN un ON un.vec_id = q.qid,
               generate_series(0, ${PqM - 1}) g(m)),
        lut AS (
          SELECT s.qid, rcb.m, rcb.cell,
                 list_inner_product(s.qm, rcb.c) AS dot
          FROM rcb JOIN qsub s ON s.m = rcb.m),
        cdot AS (
          SELECT q.qid, cent.cell, list_inner_product(qu.u, cent.c) AS cd
          FROM q JOIN un qu ON qu.vec_id = q.qid CROSS JOIN cent),
        adcs AS (
          SELECT p.qid, c.vec_id,
                 round(CAST(SUM(CAST(l.dot AS DECIMAL(38,18)))
                            + CAST(cd.cd AS DECIMAL(38,18)) AS DOUBLE), 9) AS adc
          FROM c
          JOIN probes p ON p.cell = c.cell
          JOIN codes co ON co.vec_id = c.vec_id
          JOIN lut l ON l.qid = p.qid AND l.m = co.m AND l.cell = co.code
          JOIN cdot cd ON cd.qid = p.qid AND cd.cell = c.cell
          GROUP BY p.qid, c.vec_id, cd.cd),
        nom AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY adc DESC, vec_id) AS rn
            FROM adcs) r
          WHERE rn <= $KnnR),
        $knnRerankSql"""

  /** q_knn_join_sq8's oracle: [[cellsCtes]]' assignment + the shared
    * probe CTE, the q_ann_sq8 min/max + affine-code spellings with a
    * qid dimension (trained over the FULL table — the store's
    * first-append frame), round-9 SQ8 nomination per (qid, probed
    * corpus row), then the shared exact decimal re-rank tail. Entirely
    * SQL downstream of the materialized centroids — the scalar kit
    * itself re-derives in the mm CTE, no second artifact. */
  private def knnJoinSq8OracleSql: String =
    s"""$cellsCtes,
        mm AS (
          SELECT i, min(u[i]) AS mn, max(u[i]) AS mx
          FROM un, generate_series(1, $Dim) t(i)
          GROUP BY i),
        q AS (
          SELECT sc.vec_id AS qid, sc.d AS qd
          FROM sc WHERE sc.vec_id % $KnnQMod = 0 AND sc.n2 > 0),
        $knnProbesCteSql,
        c AS (
          SELECT sc.vec_id, cl.cell
          FROM sc JOIN cells cl ON cl.vec_id = sc.vec_id
          WHERE sc.vec_id % $KnnQMod <> 0 AND sc.n2 > 0),
        terms AS (
          SELECT p.qid, c.vec_id,
                 CAST(qu.u[mm.i] * (mm.mn + CASE WHEN mm.mx > mm.mn
                   THEN LEAST(255, GREATEST(0,
                          CAST(round((cu.u[mm.i] - mm.mn)
                                 / (mm.mx - mm.mn) * 255.0) AS BIGINT)))
                        / 255.0 * (mm.mx - mm.mn)
                   ELSE 0 END) AS DECIMAL(38,18)) AS term
          FROM c
          JOIN probes p ON p.cell = c.cell
          JOIN un cu ON cu.vec_id = c.vec_id
          JOIN un qu ON qu.vec_id = p.qid, mm),
        s8 AS (
          SELECT qid, vec_id, round(CAST(SUM(term) AS DOUBLE), 9) AS s8
          FROM terms GROUP BY qid, vec_id),
        nom AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY s8 DESC, vec_id) AS rn
            FROM s8) r
          WHERE rn <= $KnnR),
        $knnRerankSql"""


  /** The persisted vector store both hybrid evals serve their dense leg
    * from — built ONCE per dataset with the SQ8 layout enabled, so the
    * same store serves the ADC-nominated leg (codes column; the sq8
    * column is inert there) and the SQ8-nominated leg. */
  private[graft] def hybridEvalStoreOf(s: SparkSession, d: String): String =
    Tables.materializeDir("vector_store", d) { p =>
      graft.streaming.VectorStore.append(s, p,
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        sq8 = true)
    }

  /** The served-path hybrid eval engine (the body of both
    * q_retrieval_eval_hybrid variants, so they share every seam): `dense`
    * names the nomination rung of the dense SYSTEM leg — the
    * store-served ADC-nominated join (byte-identical to
    * q_knn_join_ivfadc) or the store-served SQ8-nominated one
    * (byte-identical to q_knn_join_sq8). TRUTH is the same lexical list
    * fused with the EXACT dense join either way, so the two declared
    * readouts isolate what EACH nomination rung does to the fused
    * ranking. */
  private[graft] def hybridEvalOf(
      s: SparkSession, d: String,
      dense: graft.streaming.VectorStore.Rung): DataFrame = {
        // the HYBRID eval over the SERVED paths (the `Cli hybrid-search`
        // composition grading itself):
        // SYSTEM = per-probe RRF fusion of the store-served BM25 rank
        // list (PostingsStore.probeBatch, ONE bucket-pruned read for all
        // probes — byte-identical to the full-scan BM25 by the postings
        // pins, which is what lets the oracle replay it in SQL) with the
        // store-served ADC-nominated k-NN join (VectorStore.knnJoin,
        // cell-pruned code-bytes nomination — byte-identical to
        // q_knn_join_ivfadc by the VectorStore pins). TRUTH = the same
        // lexical list fused with the EXACT dense join (knnJoinExact),
        // so the readout isolates exactly what the index approximation
        // does to the FUSED ranking. Probes = the dense sample
        // (vec_id % KnnQMod — the id namespace both tables share);
        // metrics are the q_retrieval_eval_multi shape (n_hits,
        // first_rel, recall, MRR, ndcg@k via the driver-materialized
        // discount artifact) over the fused top-LexK lists. Both fused
        // frames are probe-bounded (probes × 2 lists); the heavy legs
        // stay ONE pruned store read + two corpus scans (ADC nominate +
        // exact truth), independent of probe count.
        import s.implicits._
        // overlap independent jobs: the three rank
        // legs are data-independent until fusion, but each one
        // materializes eagerly (the lexical probe collect + checkpoint,
        // the store join's validation scans, the exact truth join), so
        // the engine used to pay them SEQUENTIALLY — phase-probed at
        // sf0.1: lex ~2.9 s, served-dense ~2.8 s, exact truth ~1.5 s of
        // a 7.6-8.0 s query. Each leg now materializes its bounded
        // probes × K rank frame on its own driver thread (Spark actions
        // are thread-safe; job descriptions are thread-local) and the
        // fusion/readout consume the checkpointed frames. Results are
        // unchanged — every leg is deterministic and Await rethrows a
        // leg's failure loudly.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val (lexRanks, denseSys, denseTru) =
          try {
            val fLex = Future {
              val (_, _, lexRanks0) = lexStoreRanksOf(s, d, KnnQMod)
              // the lexical list feeds BOTH fusions — checkpoint the
              // bounded probes × LexK frame once (the multi eval's tru
              // discipline)
              lexRanks0
                .select(col("qid"), col("doc_id"), col("rank").as("rank_lex"))
                .localCheckpoint()
            }
            val fSys = Future {
              val vstore = hybridEvalStoreOf(s, d)
              val queries = Tables.embeddings(s, d)
                .filter(pmod(col("vec_id"), lit(KnnQMod)) === 0)
                .select(col("vec_id").as("qid"), col("embedding"))
              graft.streaming.VectorStore.knnJoin(s, vstore, queries,
                  excludeWhere = Some(pmod(col("vec_id"), lit(KnnQMod)) === 0),
                  nominate = dense)
                .select(col("qid"), col("vec_id").as("doc_id"),
                  col("knn_rank").cast(LongType).as("rank_dense"))
                .localCheckpoint()
            }
            val fTru = Future {
              knnJoinExact(s, d)
                .select(col("qid"), col("vec_id").as("doc_id"),
                  col("knn_rank").cast(LongType).as("rank_dense"))
                .localCheckpoint()
            }
            (Await.result(fLex, Duration.Inf),
              Await.result(fSys, Duration.Inf),
              Await.result(fTru, Duration.Inf))
          } finally pool.shutdown()
        val discDf = ndcgDiscounts(LexK).toDF("rank_fused", "disc", "cum")
        val sysF = rrfFuseByQidOf(lexRanks, denseSys)
          .filter(col("rank_fused") <= LexK)
          .select(col("qid"), col("rank_fused"), col("doc_id"))
        val truF = rrfFuseByQidOf(lexRanks, denseTru)
          .filter(col("rank_fused") <= LexK)
          .select(col("qid"), col("doc_id")).withColumn("rel", lit(1))
          .localCheckpoint()
        val sysEval = sysF
          .join(broadcast(truF), Seq("qid", "doc_id"), "left")
          .join(broadcast(discDf.select(col("rank_fused"), col("disc"))),
            Seq("rank_fused"), "left")
          .groupBy(col("qid"))
          .agg(count(col("rel")).as("n_hits"),
            min(when(col("rel").isNotNull, col("rank_fused")))
              .cast(LongType).as("first_rel"),
            sum(when(col("rel").isNotNull, col("disc"))).as("dcg_dec"))
        truF.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
          .join(broadcast(
            discDf.select(col("rank_fused").as("n_rel"), col("cum"))),
            Seq("n_rel"))
          .join(broadcast(sysEval), Seq("qid"), "left")
          .select(col("qid"), col("n_rel"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            col("first_rel"),
            round(coalesce(col("n_hits").cast(DoubleType), lit(0.0))
              / col("n_rel").cast(DoubleType), 9).as("recall"),
            round(coalesce(
              lit(1.0).cast(DoubleType) / col("first_rel").cast(DoubleType),
              lit(0.0)), 9).as("mrr"),
            round(coalesce(col("dcg_dec").cast(DoubleType), lit(0.0))
              / col("cum").cast(DoubleType), 9).as("ndcg"))
          .orderBy("qid")
      
  }

  /** The hybrid eval's oracle downstream of a dense-system-leg oracle
    * (`denseSysSql` = the ADC or the SQ8 join oracle) — the fusion,
    * top-k, relevance and metric CTEs are ONE spelling for both
    * declared variants. */
  private def hybridEvalOracleSql(denseSysSql: String): String =
    s"""WITH ${lexBm25SysCtesSql(KnnQMod)},
               lexr AS (SELECT qid, doc_id, rank AS rank_lex FROM sysr),
               dsys AS (SELECT qid, vec_id AS doc_id, knn_rank AS rank_dense
                        FROM ($denseSysSql)),
               dtru AS (SELECT qid, vec_id AS doc_id, knn_rank AS rank_dense
                        FROM ($knnJoinExactOracleSql)),
               ${rrfFusedByQidCteSql("fsys", "lexr", "dsys")},
               ${rrfFusedByQidCteSql("ftru", "lexr", "dtru")},
               sysk AS (SELECT qid, doc_id, rank_fused FROM (
                          SELECT qid, doc_id, ROW_NUMBER() OVER (
                            PARTITION BY qid ORDER BY rrf DESC, doc_id)
                            AS rank_fused
                          FROM fsys) f WHERE rank_fused <= $LexK),
               truk AS (SELECT qid, doc_id FROM (
                          SELECT qid, doc_id, ROW_NUMBER() OVER (
                            PARTITION BY qid ORDER BY rrf DESC, doc_id)
                            AS rank_fused
                          FROM ftru) f WHERE rank_fused <= $LexK),
               disc AS (SELECT rank, disc, cum
                        FROM read_parquet('${OracleAux.Token}/ndcg_discounts/*.parquet')),
               agg AS (SELECT s.qid, count(t.doc_id) AS n_hits,
                              min(CASE WHEN t.doc_id IS NOT NULL
                                       THEN s.rank_fused END) AS first_rel,
                              SUM(CASE WHEN t.doc_id IS NOT NULL
                                       THEN dc.disc END) AS dcg
                       FROM sysk s
                       LEFT JOIN truk t ON t.qid = s.qid AND t.doc_id = s.doc_id
                       LEFT JOIN disc dc ON dc.rank = s.rank_fused
                       GROUP BY s.qid),
               nrel AS (SELECT qid, count(*) AS n_rel FROM truk GROUP BY qid)
               SELECT d.qid, CAST(d.n_rel AS BIGINT) AS n_rel,
                      CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
                      CAST(a.first_rel AS BIGINT) AS first_rel,
                      round(CAST(coalesce(a.n_hits, 0) AS DOUBLE)
                        / CAST(d.n_rel AS DOUBLE), 9) AS recall,
                      round(coalesce(CAST(1.0 AS DOUBLE)
                              / CAST(a.first_rel AS DOUBLE), 0.0), 9) AS mrr,
                      round(CAST(coalesce(a.dcg, 0) AS DOUBLE)
                        / CAST(dc2.cum AS DOUBLE), 9) AS ndcg
               FROM nrel d
               JOIN disc dc2 ON dc2.rank = d.n_rel
               LEFT JOIN agg a ON a.qid = d.qid
               ORDER BY d.qid"""

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_ann_bruteforce", Seq("A5", "O5", "J2"),
      (s, d) => bruteCosineOf(s, d)
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10),
      Some(s"""WITH $CosineOracleCtes
               SELECT vec_id, cosine FROM cosd
               ORDER BY cosine DESC, vec_id LIMIT 10"""),
      "Brute-force cosine top-k vs query vector (vec 0) — exact-decimal in-row fold, no shuffle"),

    QueryDef(
      "q_ann_ivf", Seq("A5", "O5", "J2"),
      (s, d) =>
        // IVF-shaped ANN (the similarity-search scale path next to the
        // brute-force baseline): the query probes ONLY its own quantizer
        // cell (single-probe, broadcast hash join on the cell id), then
        // exact-scores the cell's members. At 100 TB the cell id is the
        // partition key — a probe reads 1/16th of the table; the oracle
        // rebuilds identical cells, so the approximation is hash-checked.
        ivfTopK(s, d, (e, q0) =>
          e.join(
            broadcast(q0.select(col("embedding").as("qe"), col("cell").as("qcell"),
              col("norm_dec").as("qnorm_dec"))),
            col("cell") === col("qcell"))),
      Some(ivfOracleSql("c.cell = q.qcell")),
      "IVF-shaped ANN: 16-cell hyperplane coarse quantizer, single-probe of the query's " +
        "cell, exact decimal scoring inside it — probes 1/16th of the table; oracle " +
        "rebuilds identical cells"),

    QueryDef(
      "q_ann_ivf_multiprobe", Seq("A5", "O5", "J2"),
      (s, d) =>
        // multi-probe IVF (the recall knob of the single-probe shape): the
        // query also probes the four hamming-1 neighbor cells — the cells
        // whose quantizer differs by one sign bit, where a near-boundary
        // neighbor most likely fell. 5/16 of the table scanned instead of
        // 1/16 single-probe or 16/16 brute-force; at 100 TB the probe list
        // prunes the cell-partitioned table.
        ivfTopK(s, d, { (e, q0) =>
          val probes = array(
            col("cell") +: (0 until 4).map(b => col("cell").bitwiseXOR(lit(1 << b))): _*)
          e.join(
            broadcast(q0.select(col("embedding").as("qe"), probes.as("probes"),
              col("norm_dec").as("qnorm_dec"))),
            array_contains(col("probes"), col("cell")))
        }),
      Some(ivfOracleSql("bit_count(xor(c.cell, q.qcell)) <= 1")),
      "Multi-probe IVF ANN: query cell + the four hamming-1 neighbor cells (the " +
        "near-boundary spill targets) — 5/16 of the table probed, recall between " +
        "single-probe and brute force; oracle selects the same probe set via " +
        "bit_count(xor(cell, qcell)) <= 1"),

    QueryDef(
      "q_ann_ivf_kmeans", Seq("A5", "O5", "J2"),
      (s, d) => {
        // TRAINED IVF: deterministic k-means centroids (sample-trained,
        // fixed-point-exact sums) replace the sign-bit quantizer; probe =
        // the query's Voronoi cell, exact decimal scoring inside it — the
        // same single-probe contract as q_ann_ivf with a data-adapted
        // partition. k-means TRAINING is iterative and not SQL-expressible,
        // but its output is deterministic, so the oracle reads the
        // materialized centroids (writeKmeansAux) and re-derives every
        // assignment + the probe + the exact top-k itself; AnnRecallSpec
        // additionally gates quality (trained single-probe recall must
        // dominate the deterministic quantizer's at equal probe count).
        // At 100 TB the trained cell id is the partition key exactly like
        // the deterministic one.
        graft.functions.GraftExtensions.ensureRegistered(s)
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val centroids = trainCentroids(emb, s)
        val bc = s.sparkContext.broadcast(centroids)
        val cells = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
          .mapPartitions { it =>
            val cs = bc.value
            it.map { case (id, v) => (id, v, nearestCell(cs, unit(v))) }
          }
          .toDF("vec_id", "embedding", "cell")
        val q0 = cells.filter(col("vec_id") === 0)
          .withColumn("norm_dec", dotDec(col("embedding"), col("embedding")))
        cells.filter(col("vec_id") =!= 0)
          .join(
            broadcast(q0.select(col("embedding").as("qe"), col("cell").as("qcell"),
              col("norm_dec").as("qnorm_dec"))),
            col("cell") === col("qcell"))
          .select(
            col("vec_id"),
            cosineCol(
              dotDec(col("embedding"), col("qe")),
              dotDec(col("embedding"), col("embedding")),
              col("qnorm_dec")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(kmeansOracleSql(1)),
      "Trained-IVF ANN: deterministic sample-trained k-means centroids (fixed-point-" +
        "exact sums, no RNG), single-probe of the query's Voronoi cell, exact decimal " +
        "scoring — training is iterative (not SQL-expressible) but bit-stable, so the " +
        "oracle reads the materialized centroids and recomputes every assignment and " +
        "the top-k itself; AnnRecallSpec additionally gates recall",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_ann_ivf_kmeans_multiprobe", Seq("A5", "O5", "J2"),
      (s, d) => {
        // TRAINED multi-probe: the recall knob of the trained quantizer.
        // Where the sign-bit quantizer's probe set is the hamming-1
        // neighborhood (a structural guess at boundary spill), the trained
        // probe set is the four centroids NEAREST THE QUERY — the actual
        // regions a near-boundary neighbor falls in, ranked by the same
        // max-dot arithmetic assignment uses (ties to the lower cell).
        // 4/16 of the table scanned; at 100 TB the probe list prunes the
        // cell-partitioned table exactly like the deterministic variant,
        // and the probe ranking is k dot products on the driver. Oracle:
        // same materialized-centroid re-derivation, probe set = LIMIT 4
        // over the identical (dot DESC, cell) order.
        graft.functions.GraftExtensions.ensureRegistered(s)
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val centroids = trainCentroids(emb, s)
        val bc = s.sparkContext.broadcast(centroids)
        val cells = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
          .mapPartitions { it =>
            val cs = bc.value
            it.map { case (id, v) => (id, v, nearestCell(cs, unit(v))) }
          }
          .toDF("vec_id", "embedding", "cell")
        // probe ranking on the driver: k=16 dots of the unit query against
        // the centroids, (dot desc, cell asc) — the oracle's qprobes
        // order, via the shared probeCellsOf ranking
        val probes = probeCellsOf(centroids,
          emb.filter(col("vec_id") === 0).select(col("embedding")).as[Seq[Float]].head(), 4)
        val q0 = cells.filter(col("vec_id") === 0)
          .withColumn("norm_dec", dotDec(col("embedding"), col("embedding")))
        cells.filter(col("vec_id") =!= 0)
          .filter(col("cell").isin(probes: _*))
          .crossJoin(broadcast(q0.select(col("embedding").as("qe"),
            col("norm_dec").as("qnorm_dec"))))
          .select(
            col("vec_id"),
            cosineCol(
              dotDec(col("embedding"), col("qe")),
              dotDec(col("embedding"), col("embedding")),
              col("qnorm_dec")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(kmeansOracleSql(4)),
      "Trained multi-probe IVF ANN: probe the 4 centroids nearest the query (the " +
        "trained analogue of the hamming-1 spill set) — 4/16 of the table scanned, " +
        "recall between trained single-probe and brute force; oracle re-derives the " +
        "probe ranking from the materialized centroids with the identical " +
        "(dot DESC, cell) order",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_ann_pq", Seq("A5", "O5", "J2"),
      (s, d) => {
        // PRODUCT QUANTIZATION with asymmetric distance computation (ADC)
        // — the memory-bound scale path of the ANN family: 64-dim float32
        // vectors compress to 8 code bytes (one 16-codeword codebook per
        // 8-dim subspace, 32× smaller), and scoring a row against the
        // query is 8 LUT lookups instead of 64 multiplies. At 100 TB the
        // codes are a stored column written at ingest (the scan here
        // encodes on the fly because the synthetic table stores raw
        // vectors only), the 128-float query LUT broadcasts to every
        // executor, and the whole scan stays narrow — compose with the IVF
        // cell as partition key for the classic IVF-PQ layout. Training is
        // iterative (not SQL-expressible) but deterministic, so the oracle
        // reads the materialized codebooks and re-derives every code
        // assignment and the ADC top-k itself, exactly like
        // q_ann_ivf_kmeans's oracle. One all-zero cell: no coarse
        // quantizer, every row scored.
        annTopK(s, d, AdcKit(OneCell, trainPqCodebooks(Tables.embeddings(s, d), s)),
          probes = 1)
      },
      Some(pqOracleSql),
      "Product-quantization ANN (ADC): 8×16 deterministic per-subspace codebooks " +
        "compress each vector to 8 code bytes; scoring is 8 query-LUT lookups per row — " +
        "the memory-bound ANN scale path next to the IVF probes; oracle re-derives " +
        "every code from the materialized codebooks",
      aux = Some(writePqAux)),

    QueryDef(
      "q_ann_sq8", Seq("A5", "O5", "J2"),
      (s, d) => {
        // SCALAR QUANTIZATION (FAISS's SQ8 rung): each unit vector
        // compresses to 64 uint8 codes via a per-DIMENSION affine map
        // code_i = round((u_i − min_i)/(max_i − min_i)·255) — the
        // simplest published compression rung, 4× smaller than float32
        // with NO trained codebook structure (the train step is one
        // exact per-dim min/max pass, deterministic and order-free, so
        // unlike PQ the oracle re-derives it in plain SQL with no
        // materialized artifact at all). Scoring reconstructs per dim
        // and dots against the query; at 100 TB the codes are a stored
        // column and the scan is a narrow mapPartitions + TakeOrdered —
        // q_ann_pq's exact zero-exchange shape, one rung cheaper to
        // train and one rung coarser than PQ's subspace codebooks.
        // DECIMAL-pinned per-dim terms (the PQ order-insensitivity
        // discipline) so the oracle's SUM replays the fold bit-for-bit.
        // The kit trains on the rows it scores (row 0 is the query).
        annTopK(s, d, trainSq8(Tables.embeddings(s, d).filter(col("vec_id") =!= 0), s),
          probes = 1)
      },
      Some(s"""WITH dv AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
               sc AS (
                 SELECT vec_id, d, list_inner_product(d, d) AS n2,
                        1.0 / sqrt(list_inner_product(d, d)) AS s
                 FROM dv),
               un AS (
                 SELECT vec_id,
                        CASE WHEN n2 = 0 THEN d
                             ELSE list_transform(d, x -> x * s) END AS u
                 FROM sc),
               mm AS (
                 SELECT i, min(u[i]) AS mn, max(u[i]) AS mx
                 FROM un, generate_series(1, $Dim) t(i)
                 WHERE vec_id <> 0 GROUP BY i),
               qv AS (SELECT u FROM un WHERE vec_id = 0),
               terms AS (
                 SELECT c.vec_id,
                        CAST(q.u[mm.i] * (mm.mn + CASE WHEN mm.mx > mm.mn
                          THEN LEAST(255, GREATEST(0,
                                 CAST(round((c.u[mm.i] - mm.mn)
                                        / (mm.mx - mm.mn) * 255.0) AS BIGINT)))
                               / 255.0 * (mm.mx - mm.mn)
                          ELSE 0 END) AS DECIMAL(38,18)) AS term
                 FROM (SELECT vec_id, u FROM un WHERE vec_id <> 0) c, mm, qv q),
               adc AS (
                 SELECT vec_id, round(CAST(SUM(term) AS DOUBLE), 9) AS adc
                 FROM terms GROUP BY vec_id)
               SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 10"""),
      "Scalar-quantization ANN (FAISS SQ8): per-dimension affine uint8 codes from an " +
        "exact one-pass min/max train, reconstruct-and-dot scoring with DECIMAL-pinned " +
        "per-dim terms — the codebook-free compression rung below PQ, 4x smaller than " +
        "float32, zero-exchange scan; the oracle re-derives train, codes and ranking " +
        "entirely in SQL (no materialized artifact)"),

    QueryDef(
      "q_ann_opq", Seq("A5", "O5", "J2"),
      (s, d) => {
        // OPTIMIZED product quantization (see trainOpq): q_ann_pq's exact
        // scan shape — same 8 code bytes per vector, same LUT-ADC scoring,
        // same narrow no-shuffle pass — with every vector (query included)
        // passing through the jointly-trained orthogonal rotation first.
        // The rotation is a per-row 64×64 multiply at encode time; at
        // 100 TB it happens once at ingest next to the code assignment,
        // and queries pay it once per query, not per row. The
        // training-sample reconstruction error is ≤ plain PQ's by
        // construction (AnnRecallSpec pins it); oracle re-derives rotated
        // vectors, codes and the ADC top-k from the two artifacts.
        val (rot, cbs) = trainOpq(Tables.embeddings(s, d), s)
        annTopK(s, d, AdcKit(OneCell, cbs, rot), probes = 1)
      },
      Some(opqOracleSql),
      "Optimized product quantization (Ge et al. 2014): one jointly-trained " +
        "orthogonal rotation ahead of the 8×16 subspace codebooks — same 8 code " +
        "bytes, subspaces cut along the data's correlation structure, training-" +
        "sample reconstruction error ≤ plain PQ by the alternation's monotonicity " +
        "(pinned in AnnRecallSpec); oracle re-derives rotated vectors, codes and " +
        "the ADC top-k from the materialized rotation + codebooks",
      aux = Some(writeOpqAux)),

    QueryDef(
      "q_ann_ivf_pq", Seq("A5", "O5", "J2"),
      // IVF-PQ — the classic billion-scale ANN layout, composed from the
      // two trained pieces: the coarse quantizer (trained IVF) gates
      // WHICH rows score, the PQ codes say HOW they score. At 100 TB
      // the cell is the partition key (the probe prunes partitions) and
      // the 8-byte codes are the only column the probed scan reads —
      // memory-bound ADC over a pruned scan, the IVFADC shape from the
      // Jégou et al. PQ paper. Both trainings are the deterministic
      // recipes above, so the oracle re-derives cell assignments, the
      // probe, every code, and the ADC top-k from the two materialized
      // artifacts.
      (s, d) => annTopK(s, d, ivfPqKitOf(s, d), probes = 1),
      Some(ivfPqOracleSql(1)),
      "IVF-PQ ANN (the IVFADC layout): trained coarse cells prune the scan to the " +
        "query's probe, PQ codes give 8-lookup ADC scoring inside it — cell = " +
        "partition key + 32x-compressed codes at scale; oracle re-derives cells, " +
        "probe, codes, and the ADC top-k from both materialized artifacts",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writePqAux(s, d, a) }),

    QueryDef(
      "q_ann_ivf_pq_multiprobe", Seq("A5", "O5", "J2"),
      // the full production ANN stack: multi-probe recall knob on top of
      // the IVFADC layout — probe the 4 query-nearest trained cells, ADC
      // inside them. 4/16 of the table scanned at 8 LUT lookups per row.
      (s, d) => annTopK(s, d, ivfPqKitOf(s, d), probes = 4),
      Some(ivfPqOracleSql(4)),
      "Multi-probe IVF-PQ: the 4 query-nearest trained cells pruned, 8-lookup ADC " +
        "scoring inside them — the recall knob composed onto the IVFADC layout; " +
        "same dual-artifact oracle re-derivation",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writePqAux(s, d, a) }),

    QueryDef(
      "q_ann_ivf_pq_refine", Seq("A5", "O5", "J1"),
      (s, d) =>
        ivfPqRefinedCosine(s, d, probes = 4)
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10),
      Some(ivfPqRefineOracleSql(4)),
      "IVFADC + exact re-rank: multi-probe PQ scan nominates the top-50 ADC " +
        "candidates, whose raw vectors alone are re-scored with the exact decimal " +
        "cosine — the constant-size refine stage that caps PQ's quantization error; " +
        "oracle re-derives the candidate set and the exact re-ranking",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writePqAux(s, d, a) }),

    QueryDef(
      "q_ann_ivfadc", Seq("A5", "O5", "J2"),
      (s, d) => annTopK(s, d, ivfadcKitOf(s, d), probes = 4),
      Some(ivfadcOracleSql(4)),
      "Residual-encoded IVFADC (Jégou et al. 2011 §III-C — the paper's actual " +
        "encoding): PQ codebooks trained on coarse residuals u − c_cell, scored by " +
        "the exact IP decomposition q·c_cell + Σ q_m·cw_m(code) — same 8 code bytes " +
        "and probed-cell pruned scan as q_ann_ivf_pq_multiprobe, finer quantization " +
        "at equal bytes (recall vs the raw-vector encoding pinned in AnnRecallSpec); " +
        "oracle re-derives cells, residuals, codes, LUT, per-cell constants and the " +
        "ADC top-10 from the two materialized artifacts",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writeIvfadcAux(s, d, a) }),

    QueryDef(
      "q_ann_ivf_opq", Seq("A5", "O5", "J2"),
      (s, d) => ivfOpqTopK(s, d, probes = 4),
      Some(ivfOpqOracleSql(4)),
      "IVF-OPQ — the full FAISS-style 'OPQ,IVF,PQ' stack: coarse Voronoi cells, " +
        "then OPQ's jointly-trained rotation + codebooks over the COARSE RESIDUALS " +
        "(alternation from R = I and the residual-PQ codebooks, so reconstruction " +
        "error ≤ plain residual PQ by construction — pinned in AnnRecallSpec); " +
        "scoring is the exact composition q·c_cell + (R·q)·ŷ, same probed-cell " +
        "pruned 8-lookup ADC scan; oracle re-derives cells, residuals, rotation, " +
        "codes, LUT and per-cell constants from the three materialized artifacts",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writeIvfOpqAux(s, d, a) }),

    QueryDef(
      "q_embed_quantize", Seq("F4", "A4"),
      (s, d) => {
        // int8 scalar quantization of the embedding column — the storage
        // op a 100 TB vector corpus runs at ingest (float32 → 1 byte/dim,
        // 4×; PQ above goes further to 1 byte per 8 dims): per-vector
        // max-abs scale, symmetric round-to-nearest codes, and the
        // per-label mean squared reconstruction error as the quality
        // readout. Entirely per-row arithmetic (no shuffle until the
        // label rollup); the per-row error sum folds DECIMAL(38,18)-cast
        // terms in fixed order, so the label aggregation is exact and the
        // oracle's unnest+SUM matches bit-for-bit. round() ties go away
        // from zero in both engines.
        val e = col("embedding")
        val scale = array_max(transform(e, x => abs(x.cast(DoubleType)))) / lit(127.0)
        val err2 = aggregate(
          transform(e, x => {
            val xd = x.cast(DoubleType)
            val deq = when(col("scale") === 0.0, lit(0.0))
              .otherwise(round(xd / col("scale")) * col("scale"))
            pow(xd - deq, 2).cast(Dec)
          }),
          lit(0).cast(Dec),
          (acc, x) => (acc + x).cast(Dec))
        Tables.embeddings(s, d)
          .select(col("label"), col("embedding"), scale.as("scale"))
          .withColumn("err2", err2)
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_vecs"),
            round(sum(col("err2")).cast(DoubleType) / (count(lit(1)) * Dim), 9)
              .as("mse"))
          .orderBy("label")
      },
      Some(s"""WITH d AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
               sc AS (
                 SELECT vec_id, label, e,
                        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
                 FROM d),
               err AS (
                 SELECT s.vec_id, s.label,
                        SUM(CAST(POWER(u.x - CASE WHEN s.scale = 0 THEN 0
                                               ELSE ROUND(u.x / s.scale) * s.scale END,
                                       2) AS DECIMAL(38,18))) AS err2
                 FROM sc s, unnest(s.e) AS u(x)
                 GROUP BY s.vec_id, s.label)
               SELECT label,
                      COUNT(*) AS n_vecs,
                      round(CAST(SUM(err2) AS DOUBLE) / (COUNT(*) * $Dim), 9) AS mse
               FROM err GROUP BY label ORDER BY label"""),
      "int8 scalar quantization (per-vector max-abs scale, 4x storage cut) with the " +
        "per-label mean-squared reconstruction error readout — per-row arithmetic, " +
        "DECIMAL-exact error sums; oracle re-derives scale, codes, and MSE"),

    QueryDef(
      "q_neardup_embedding", Seq("J1", "A5", "A2"),
      (s, d) => {
        // label-blocked LSH near-dup (the per-group production shape): the
        // SAME signature/bucket engine as q_neardup_lsh, with `label`
        // prepended to the bucket key — within-label candidates track
        // similar-pair density instead of enumerating all n²/|label| pairs
        // (a label-only join would be quadratic within each label)
        val emb = Tables.embeddings(s, d)
        val cand = bucketPairs(signatures(emb, Seq("label")), Seq("label"))
        verifyPairs(cand, emb, 0.3)
          .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
          .orderBy("label", "vec_a", "vec_b")
      },
      Some(s"""WITH proj AS (
                 SELECT e.vec_id, e.label, p.p,
                        SUM(CAST((${planeWeightSql("p.p", "t.i")})
                                 * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS dot_dec
                 FROM embeddings e,
                      generate_series(0, ${Planes - 1}) p(p),
                      generate_series(1, $Dim) t(i)
                 GROUP BY e.vec_id, e.label, p.p),
               bands AS (
                 SELECT vec_id, label, p // $BandBits AS band_id,
                        CAST(SUM(CASE WHEN dot_dec >= 0 THEN 1 ELSE 0 END
                                 * (1 << (p % $BandBits))) AS BIGINT) AS band_val
                 FROM proj GROUP BY vec_id, label, p // $BandBits),
               cand AS (
                 SELECT DISTINCT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM bands a JOIN bands b
                   ON a.label = b.label AND a.band_id = b.band_id
                      AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
               n AS (
                 SELECT e.vec_id, e.embedding,
                        SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                                 AS DECIMAL(38,18))) AS norm_dec
                 FROM embeddings e, generate_series(1, $Dim) t(i)
                 GROUP BY e.vec_id, e.embedding),
               scored AS (
                 SELECT c.label, c.vec_a, c.vec_b,
                        round(CAST(SUM(CAST(CAST(a.embedding[i] AS DOUBLE)
                                            * CAST(b.embedding[i] AS DOUBLE)
                                            AS DECIMAL(38,18))) AS DOUBLE)
                          / (sqrt(CAST(a.norm_dec AS DOUBLE)) * sqrt(CAST(b.norm_dec AS DOUBLE))), 9)
                          AS cosine
                 FROM cand c
                 JOIN n a ON a.vec_id = c.vec_a
                 JOIN n b ON b.vec_id = c.vec_b,
                      generate_series(1, $Dim) t(i)
                 GROUP BY c.label, c.vec_a, c.vec_b, a.norm_dec, b.norm_dec)
               SELECT label, vec_a, vec_b, cosine FROM scored
               WHERE cosine >= 0.3 ORDER BY label, vec_a, vec_b"""),
      "Embedding-cosine near-dup within label: hyperplane-LSH buckets keyed " +
        "(label, band_id, band_val), bucket-local pairs, double-prune + exact-decimal " +
        "verify; oracle rebuilds identical buckets"),

    QueryDef(
      "q_neardup_lsh", Seq("J1", "A5", "A2"),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cand = bucketPairs(signatures(emb, Seq.empty), Seq.empty)
        verifyPairs(cand, emb, 0.35)
          .select(col("vec_a"), col("vec_b"), col("cosine"))
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""WITH proj AS (
                 SELECT e.vec_id, p.p,
                        SUM(CAST((${planeWeightSql("p.p", "t.i")})
                                 * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS dot_dec
                 FROM embeddings e,
                      generate_series(0, ${Planes - 1}) p(p),
                      generate_series(1, $Dim) t(i)
                 GROUP BY e.vec_id, p.p),
               bands AS (
                 SELECT vec_id, p // $BandBits AS band_id,
                        CAST(SUM(CASE WHEN dot_dec >= 0 THEN 1 ELSE 0 END
                                 * (1 << (p % $BandBits))) AS BIGINT) AS band_val
                 FROM proj GROUP BY vec_id, p // $BandBits),
               cand AS (
                 SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM bands a JOIN bands b
                   ON a.band_id = b.band_id AND a.band_val = b.band_val
                      AND a.vec_id < b.vec_id),
               n AS (
                 SELECT e.vec_id, e.embedding,
                        SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                                 AS DECIMAL(38,18))) AS norm_dec
                 FROM embeddings e, generate_series(1, $Dim) t(i)
                 GROUP BY e.vec_id, e.embedding),
               scored AS (
                 SELECT c.vec_a, c.vec_b,
                        round(CAST(SUM(CAST(CAST(a.embedding[i] AS DOUBLE)
                                            * CAST(b.embedding[i] AS DOUBLE)
                                            AS DECIMAL(38,18))) AS DOUBLE)
                          / (sqrt(CAST(a.norm_dec AS DOUBLE)) * sqrt(CAST(b.norm_dec AS DOUBLE))), 9)
                          AS cosine
                 FROM cand c
                 JOIN n a ON a.vec_id = c.vec_a
                 JOIN n b ON b.vec_id = c.vec_b,
                      generate_series(1, $Dim) t(i)
                 GROUP BY c.vec_a, c.vec_b, a.norm_dec, b.norm_dec)
               SELECT vec_a, vec_b, cosine FROM scored
               WHERE cosine >= 0.35 ORDER BY vec_a, vec_b"""),
      "Random-hyperplane LSH near-dup (the 100 TB shape): deterministic ±1 hyperplanes " +
        "from a shared LCG, 4×4-bit band buckets as join key, id-pair dedup, then " +
        "double-prune + exact-decimal verify; the oracle rebuilds identical buckets"),

    QueryDef(
      "q_semantic_dedup", Seq("A5", "J1", "A2"),
      (s, d) => {
        // SemDeDup (Abbas et al. 2023): semantic near-dup removal where the
        // QUADRATIC pair search is bounded by the trained k-means partition
        // — pairwise cosine is only ever computed WITHIN a Voronoi cell.
        // At 100 TB the knob is k: clusters are sized to a bounded member
        // count (the paper uses ~n/1e4 clusters on LAION), so per-cell
        // all-pairs stays constant-cost per cluster and the whole pass is
        // one shuffle of (cell, vec_id) plus the verify joins; the shared
        // BucketPairs engine additionally star-degrades any cell that
        // outgrows its bound (loud, bounded — never C(n,2)). Removal is the
        // engine's deterministic min-keeper idiom: a vector is removed iff
        // a LOWER-id vector in its cell matches at cosine ≥ τ; `keeper`
        // records the lowest such partner, `max_cosine` the strongest
        // match. The oracle re-derives assignments from the materialized
        // centroids and replays the same election in SQL.
        val emb = Tables.embeddings(s, d)
        val cand = BucketPairs
          .pairs(assignedCells(s, emb, trainCentroids(emb, s))
              .select("vec_id", "cell"),
            Seq("cell"), "vec_id", Seq("cell"))
          .withColumnRenamed("a", "vec_a")
          .withColumnRenamed("b", "vec_b")
        verifyPairs(cand, emb, SemTau)
          .groupBy(col("cell"), col("vec_b"))
          .agg(min(col("vec_a")).as("keeper"), max(col("cosine")).as("max_cosine"))
          .select(col("vec_b").as("vec_id"), col("cell"),
            col("keeper"), col("max_cosine"))
          .orderBy("vec_id")
      },
      Some(s"""$cellsCtes,
        cand AS (
          SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id),
        n AS (
          SELECT e.vec_id, e.embedding,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS norm_dec
          FROM embeddings e, generate_series(1, $Dim) t(i)
          GROUP BY e.vec_id, e.embedding),
        scored AS (
          SELECT c.cell, c.vec_a, c.vec_b,
                 round(CAST(SUM(CAST(CAST(a.embedding[i] AS DOUBLE)
                                     * CAST(b.embedding[i] AS DOUBLE)
                                     AS DECIMAL(38,18))) AS DOUBLE)
                   / (sqrt(CAST(a.norm_dec AS DOUBLE)) * sqrt(CAST(b.norm_dec AS DOUBLE))), 9)
                   AS cosine
          FROM cand c
          JOIN n a ON a.vec_id = c.vec_a
          JOIN n b ON b.vec_id = c.vec_b,
               generate_series(1, $Dim) t(i)
          GROUP BY c.cell, c.vec_a, c.vec_b, a.norm_dec, b.norm_dec)
        SELECT vec_b AS vec_id, cell, MIN(vec_a) AS keeper, MAX(cosine) AS max_cosine
        FROM scored WHERE cosine >= $SemTau
        GROUP BY cell, vec_b ORDER BY vec_id"""),
      "SemDeDup semantic near-dup removal: trained k-means cells bound the pair " +
        "search (pairwise cosine only within a Voronoi cell), min-id keeper election " +
        "marks removals — the cluster-bounded answer to quadratic embedding dedup; " +
        "oracle re-derives cells from the materialized centroids and replays the " +
        "election",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_embed_prototypes", Seq("A5", "W2", "J2"),
      (s, d) => {
        // Per-cluster prototype/outlier scoring — the curation signal
        // SemDeDup/D4-style pipelines rank semantic clusters by: each
        // vector's cosine to its OWN assigned centroid. The most
        // prototypical members are a cluster's exemplars (D4 prunes the
        // over-represented ones); the least prototypical are its outliers
        // (boundary/noise candidates). One broadcast join against the k
        // centroids, per-row decimal-exact scoring, and two row_number
        // windows over the cell partition emit each cell's top-2 from both
        // ends. At 100 TB: the centroid table is k rows (always broadcast),
        // the window partitions by cell — one shuffle bounded by k
        // partitions of corpus/k rows each.
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val centroids = trainCentroids(emb, s)
        val cells = assignedCells(s, emb, centroids)
        val centDf = centroids.zipWithIndex.toSeq
          .map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cell", "c")
        val scored = cells.join(broadcast(centDf), Seq("cell"))
          .select(col("cell"), col("vec_id"),
            cosineCol(
              dotDec(col("embedding"), col("c")),
              dotDec(col("embedding"), col("embedding")),
              dotDec(col("c"), col("c"))).as("cos_centroid"))
        val wHi = Window.partitionBy("cell")
          .orderBy(col("cos_centroid").desc, col("vec_id"))
        val wLo = Window.partitionBy("cell")
          .orderBy(col("cos_centroid").asc, col("vec_id"))
        scored
          .withColumn("rank_proto", row_number().over(wHi))
          .withColumn("rank_outlier", row_number().over(wLo))
          .filter(col("rank_proto") <= 2 || col("rank_outlier") <= 2)
          .orderBy("cell", "vec_id")
      },
      Some(s"""$cellsCtes,
        n AS (
          SELECT e.vec_id, e.embedding,
                 SUM(CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          AS DECIMAL(38,18))) AS norm_dec
          FROM embeddings e, generate_series(1, $Dim) t(i)
          GROUP BY e.vec_id, e.embedding),
        cn AS (
          SELECT cell, c,
                 SUM(CAST(c[i] * c[i] AS DECIMAL(38,18))) AS cnorm_dec
          FROM cent, generate_series(1, $Dim) t(i)
          GROUP BY cell, c),
        scored AS (
          SELECT cl.cell, n.vec_id,
                 round(CAST(SUM(CAST(CAST(n.embedding[i] AS DOUBLE) * cn.c[i]
                                     AS DECIMAL(38,18))) AS DOUBLE)
                   / (sqrt(CAST(n.norm_dec AS DOUBLE)) * sqrt(CAST(cn.cnorm_dec AS DOUBLE))), 9)
                   AS cos_centroid
          FROM n
          JOIN cells cl ON cl.vec_id = n.vec_id
          JOIN cn ON cn.cell = cl.cell,
               generate_series(1, $Dim) t(i)
          GROUP BY cl.cell, n.vec_id, n.norm_dec, cn.cnorm_dec),
        ranked AS (
          SELECT cell, vec_id, cos_centroid,
                 ROW_NUMBER() OVER (PARTITION BY cell
                   ORDER BY cos_centroid DESC, vec_id) AS rank_proto,
                 ROW_NUMBER() OVER (PARTITION BY cell
                   ORDER BY cos_centroid ASC, vec_id) AS rank_outlier
          FROM scored)
        SELECT cell, vec_id, cos_centroid, rank_proto, rank_outlier
        FROM ranked
        WHERE rank_proto <= 2 OR rank_outlier <= 2
        ORDER BY cell, vec_id"""),
      "Per-cluster prototype/outlier scoring (the D4-style curation signal): cosine " +
        "of each vector to its assigned trained centroid, top-2 exemplars and top-2 " +
        "outliers per cell via two row_number windows — broadcast centroid join, " +
        "decimal-exact scoring; oracle re-derives assignment and both rankings",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_topic_mix", Seq("J1", "A4", "W1"),
      (s, d) => {
        // trained-cell × source contingency — the topic-balance audit a
        // mix design runs next to q_source_mix's size-based weights and
        // q_source_divergence's token-level shift: the k-means cells
        // stand in for topics (the D4/SemDeDup clustering reused a third
        // time), and each source's distribution over them shows which
        // sources cover which regions of embedding space. The embeddings
        // table carries no source, so the doc join IS the operator: an
        // id-keyed shuffle_hash join (doc_id = vec_id; at 100 TB both
        // tables are id-bucketed and the join co-locates shuffle-free —
        // the summariesCoLocated layout), then one (source, cell)
        // aggregation and a window over the per-source totals for the
        // share. The window partitions the ALREADY-AGGREGATED frame
        // (≤ sources × k rows), not the corpus.
        val emb = Tables.embeddings(s, d)
        val cells = assignedCells(s, emb, trainCentroids(emb, s))
          .select(col("vec_id"), col("cell"))
        val byCell = Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .join(cells.hint("shuffle_hash"), col("doc_id") === col("vec_id"))
          .groupBy("source", "cell")
          .agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("source")
        byCell
          .withColumn("src_total", sum(col("n_docs")).over(w))
          .select(col("source"), col("cell"), col("n_docs"),
            round(col("n_docs").cast(DoubleType) / col("src_total"), 9)
              .as("share"))
          .orderBy("source", "cell")
      },
      Some(s"""$cellsCtes,
        byc AS (
          SELECT d.source, c.cell, count(*) AS n_docs
          FROM documents d JOIN cells c ON d.doc_id = c.vec_id
          GROUP BY d.source, c.cell)
        SELECT source, cell, CAST(n_docs AS BIGINT) AS n_docs,
               round(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY source), 9) AS share
        FROM byc ORDER BY source, cell"""),
      "Trained-cell x source topic-balance audit: k-means cells as topic proxies, " +
        "id-keyed doc join (co-locatable at scale), one (source, cell) aggregation " +
        "+ a window over the aggregated frame for per-source shares; oracle " +
        "re-derives assignments from the materialized centroids",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_knn_join", Seq("A5", "J2", "W2"),
      (s, d) => {
        // batched k-NN similarity join — the missing production shape next
        // to the single-query ANN ladder: EVERY query in a bounded probe
        // set gets its top-k corpus neighbors in one corpus pass. The
        // naive spelling ranks all n×q scored pairs through one window
        // (shuffling the whole scored stream); here the native bounded
        // topk_pairs aggregate keeps per-(partition, query) partials of k
        // entries, so the one shuffle carries ≤ partitions × q × KnnR
        // buffered rows — kilobytes at any corpus size. Candidates carry
        // their embedding through the aggregation as the payload column,
        // so the exact decimal re-rank needs no second corpus scan.
        // A/B vs the window spelling (AbKnnBench, interleaved min-of-5,
        // after the accept-before-copy hot-path fix): topk 0.38 s vs
        // window 0.47 s at sf0.1, 1.80 vs 2.27 s on the 10× replica —
        // the gap is modest at toy SF because the scored stream's own dot
        // products dominate, but the window spelling shuffles every
        // scored row WITH its embedding payload (~n×q×280 B) where topk
        // ships bounded partials; at 100 TB that is the difference
        // between shuffling the cross product and shuffling q×KnnR rows
        // per partition. Body extracted to [[knnJoinExact]] (shared with
        // the retrieval eval's truth leg).
        knnJoinExact(s, d)
      },
      Some(knnJoinExactOracleSql),
      "Batched k-NN similarity join: every query of the bounded probe set gets its " +
        "exact-cosine top-5 corpus neighbors — double-cosine nomination through the " +
        "native bounded topk_pairs aggregate (map-side k-entry partials, candidate " +
        "embeddings carried as payload), exact decimal re-rank of the survivors"),

    QueryDef(
      "q_knn_join_ivf", Seq("A5", "J2", "J1"),
      (s, d) => {
        // the IVF-pruned k-NN join — the 100 TB rung: each query probes
        // only its KnnProbes nearest trained cells, and each corpus row is
        // scored only against the queries probing ITS cell (a broadcast
        // equi-join on the cell id instead of a cross join), so scored-pair
        // volume drops to ~KnnProbes/k of the dense join's while the
        // nominate/re-rank tail is shared verbatim with q_knn_join. At
        // scale the cell id doubles as the partition key — the FAISS IVF
        // sharding layout re-expressed as one Spark join. Body extracted
        // to [[knnJoinIvf]] (shared with the retrieval eval's system leg).
        knnJoinIvf(s, d)
      },
      Some(knnJoinIvfOracleSql),
      "IVF-pruned k-NN join: queries probe their 4 nearest trained cells and corpus " +
        "rows score only against the queries probing their cell (broadcast equi-join " +
        "on cell id — the FAISS IVF sharding layout as one Spark join); shared " +
        "bounded-nominate + exact re-rank tail; oracle re-derives cells, probes and " +
        "both rankings from the materialized centroids",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_knn_join_ivfadc", Seq("A5", "J2", "J1"),
      (s, d) => {
        // the ADC-NOMINATED batched k-NN join — the index-serving rung of
        // the join ladder (see [[knnJoinQuantized]]): nomination costs 8
        // decimal lookups + one add per (probed row, query) instead of
        // the 64-term cosine, the shape the persisted IVFADC store serves
        // at 100 TB (VectorStore.knnJoin — byte-identical by the shared
        // kit, pinned in VectorStoreSpec); exact decimal refine restores
        // true ranks among the nominees.
        knnJoinQuantized(s, d, ivfadcKitOf(s, d))
      },
      Some(knnJoinAdcOracleSql),
      "ADC-nominated batched k-NN join: each probed corpus row scores against its " +
        "cell's probing queries with the 8-byte residual-PQ decimal (one corpus scan, " +
        "r-bounded topk partials carrying the embedding payload), exact decimal " +
        "re-rank of the q x r survivors — the batch twin of the vector store's " +
        "served join; oracle re-derives cells, residual codes, per-query LUTs and " +
        "both rankings from the materialized centroids + codebooks",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writeIvfadcAux(s, d, a) }),

    QueryDef(
      "q_knn_join_sq8", Seq("A5", "J2", "J1"),
      (s, d) => {
        // the SQ8-NOMINATED batched k-NN join — the middle rung of the
        // nomination ladder (see [[knnJoinQuantized]]): 64 uint8 scalar
        // codes reconstruct-and-dot per (probed row, probing query)
        // instead of the 8-LUT ADC or the exact cosine, an order of
        // magnitude finer reconstruction than PQ at 8× the code bytes.
        // The kit trains on the FULL table (the store's first-append
        // frame), gated by the trained cells, so the persisted store
        // serves it as VectorStore.knnJoin(nominate = Rung.Sq8) —
        // byte-identical by the shared Sq8Kit, pinned in VectorStoreSpec;
        // exact decimal refine restores true ranks among the nominees.
        val emb = Tables.embeddings(s, d)
        val cells = trainCentroids(emb, s)
        knnJoinQuantized(s, d, trainSq8(emb, s).copy(cs = cells))
      },
      Some(knnJoinSq8OracleSql),
      "SQ8-nominated batched k-NN join: each probed corpus row scores against its " +
        "cell's probing queries by reconstruct-and-dot over its 64 scalar codes " +
        "(one corpus scan, r-bounded topk partials carrying the embedding payload), " +
        "exact decimal re-rank of the q x r survivors — the batch twin of the vector " +
        "store's sq8-nominated served join; oracle re-derives cells, the per-dim " +
        "affine kit, per-(qid,row) scores and both rankings from the materialized " +
        "centroids alone",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_hard_negatives", Seq("A5", "J2", "W2"),
      (s, d) => {
        // HARD-NEGATIVE MINING — the contrastive-training data op (DPR,
        // Karpukhin et al. 2020; ANCE): for each query of the bounded
        // probe set, the top-k most-similar corpus vectors of a DIFFERENT
        // label (the stored class stands in for "known positives" — same
        // label = positive, excluded BEFORE nomination so negatives can
        // never be crowded out of the candidate list by positives). The
        // whole chain is q_knn_join's machinery with one predicate added:
        // the same bounded topk_pairs nomination (map-side k-entry
        // partials — the label filter rides the scored scan, shuffles
        // nothing extra) and the same exact decimal re-rank tail, so the
        // mined negatives' order is bit-stable cross-engine.
        graft.functions.GraftExtensions.ensureRegistered(s)
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(pmod(col("vec_id"), lit(KnnQMod)) === 0)
          .filter(dotDouble(col("embedding"), col("embedding")) > 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            dotDec(col("embedding"), col("embedding")).as("qnorm_dec"),
            col("label").as("qlabel"))
        val scored = emb
          .filter(pmod(col("vec_id"), lit(KnnQMod)) =!= 0)
          .filter(dotDouble(col("embedding"), col("embedding")) > 0)
          .crossJoin(broadcast(q))
          .filter(col("label") =!= col("qlabel"))
          .select(col("qid"), col("vec_id"), col("embedding"),
            knnScore(col("embedding"), col("qe")).as("dscore"))
        knnTopK(scored, q)
      },
      Some(s"""WITH dv AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
        nrm AS (SELECT vec_id, label, d, list_inner_product(d, d) AS n2 FROM dv),
        q AS (SELECT vec_id AS qid, label AS qlabel, d AS qd FROM nrm
              WHERE vec_id % $KnnQMod = 0 AND n2 > 0),
        c AS (SELECT vec_id, label, d FROM nrm
              WHERE vec_id % $KnnQMod <> 0 AND n2 > 0),
        nom AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                     list_inner_product(c.d, q.qd)
                       / (sqrt(list_inner_product(c.d, c.d))
                          * sqrt(list_inner_product(q.qd, q.qd)))
                     DESC, c.vec_id) AS rn
            FROM c CROSS JOIN q
            WHERE c.label <> q.qlabel) r
          WHERE rn <= $KnnR),
        $knnRerankSql"""),
      "Hard-negative mining for contrastive training (DPR/ANCE): each probe query's " +
        "top-k most-similar corpus vectors of a DIFFERENT label, positives excluded " +
        "before nomination — q_knn_join's bounded topk_pairs nomination and exact " +
        "decimal re-rank with one label predicate riding the scored scan"),

    QueryDef(
      "q_ann_cell_layout", Seq("A5", "O5", "J2"),
      (s, d) => {
        // the PHYSICAL layout behind the trained-IVF family's pruning
        // claims, made real rather than asserted: assignments materialize
        // once as a parquet table PARTITIONED BY cell (Hive-style cell=N
        // directories — at 100 TB, the table layout), and the probe reads
        // it through a partition FILTER, so the scan plans PartitionFilters
        // and touches only the 4 probed directories — 4/16 of the STORAGE,
        // not a post-scan filter over all of it (AnnLayoutSpec pins the
        // pruned file count from the scan's own metrics). Probe set and
        // exact scoring are q_ann_ivf_kmeans_multiprobe's, so results and
        // oracle are shared verbatim; the two queries differ ONLY in
        // whether pruning happens in the engine or in the storage layout.
        graft.functions.GraftExtensions.ensureRegistered(s)
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val centroids = trainCentroids(emb, s)
        val layout = Tables.materializePartitioned(
          "emb_by_cell", d, "cell", assignedCells(s, emb, centroids))
        val qRaw = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).as[Seq[Float]].head()
        val probes = probeCellsOf(centroids, qRaw, 4)
        val q0 = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"),
            dotDec(col("embedding"), col("embedding")).as("qnorm_dec"))
        layout
          .filter(col("cell").isin(probes: _*))
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q0))
          .select(
            col("vec_id"),
            cosineCol(
              dotDec(col("embedding"), col("qe")),
              dotDec(col("embedding"), col("embedding")),
              col("qnorm_dec")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(kmeansOracleSql(4)),
      "Cell-partitioned vector layout: the trained assignments persisted " +
        "partitionBy(cell), probed through a partition filter so the scan reads only " +
        "the 4 probed directories (PartitionFilters, storage-level pruning) — same " +
        "probe set, scoring, results and oracle as q_ann_ivf_kmeans_multiprobe",
      aux = Some(writeKmeansAux)),

    QueryDef(
      "q_hybrid_rrf", Seq("A4", "J2", "O3", "W2"),
      (s, d) => {
        // hybrid retrieval fusion: reciprocal-rank fusion (Cormack et al.
        // 2009) of the sparse leg (BM25 over the shared query-term set —
        // TextQueries.bm25ScoresOf) and the dense leg (exact cosine vs
        // the query vector — bruteCosineOf), doc universe joined on
        // doc_id == vec_id. Each leg reduces to its top-K FIRST
        // (TakeOrdered — the corpus-scale step stays a bounded-result
        // probe), then ranks within the K rows via a single-partition
        // window (K-bounded by construction, never corpus-sized); the
        // K-row lists fuse in [[rrfFuseOf]].
        val K = 100
        import org.apache.spark.sql.expressions.Window
        val dns = bruteCosineOf(s, d)
          .orderBy(col("cosine").desc, col("vec_id")).limit(K)
          .select(col("vec_id").as("doc_id"), row_number()
            .over(Window.orderBy(col("cosine").desc, col("vec_id")))
            .cast(LongType).as("rank_dense"))
        rrfFuseOf(bm25TopKRanks(s, d, K), dns)
      },
      Some(s"""WITH ${TextQueries.Bm25OracleCtes},
               lex AS (
                 SELECT doc_id, sum(score_dec) AS sd FROM scored GROUP BY doc_id),
               lexr AS (
                 SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY sd DESC, doc_id) AS BIGINT)
                          AS rank_lex
                 FROM lex QUALIFY rank_lex <= 100),
               $CosineOracleCtes,
               dnsr AS (
                 SELECT vec_id AS doc_id,
                        CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
                          AS rank_dense
                 FROM cosd QUALIFY rank_dense <= 100),
               ${rrfFusedCteSql("fused", "lexr", "dnsr")}
               SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                        AS rank_fused,
                      doc_id, rank_lex, rank_dense, round(rrf, 9) AS rrf_score
               FROM fused ORDER BY rank_fused"""),
      "Hybrid retrieval fusion: reciprocal-rank fusion of the BM25 lexical top-K and " +
        "the exact-cosine dense top-K over a shared query set — RRF summed as one " +
        "double division of exact cross-multiplied integers so the fused order is " +
        "bit-stable; each leg is a bounded TakeOrdered probe, ranks windowed within " +
        "K rows, K-row lists fused with a SHUFFLE_HASH full-outer join"),

    QueryDef(
      "q_hybrid_rrf_ann", Seq("A4", "J2", "O3", "W2", "A5"),
      (s, d) => {
        // the PRODUCTION hybrid composition:
        // q_hybrid_rrf proves the fusion arithmetic against a brute-force
        // dense leg; here the dense leg is the ANN ladder's top stage —
        // the IVFADC multi-probe scan nominates RefineR candidates, their
        // raw vectors alone re-score exactly (ivfPqRefinedCosine, shared
        // with q_ann_ivf_pq_refine), and THAT bounded candidate list is
        // ranked and fused with the BM25 top-K via the same rrfFuseOf.
        // At 100 TB the dense leg reads 4/16 of the 8-byte-code scan +
        // 50 raw vectors instead of every raw vector — the reason the
        // ANN ladder exists; the fusion stays K-bounded throughout.
        import org.apache.spark.sql.expressions.Window
        val dns = ivfPqRefinedCosine(s, d, probes = 4)
          .select(col("vec_id").as("doc_id"), row_number()
            .over(Window.orderBy(col("cosine").desc, col("vec_id")))
            .cast(LongType).as("rank_dense"))
        rrfFuseOf(bm25TopKRanks(s, d, 100), dns)
      },
      Some(s"""${ivfPqRefineCtes(4)},
               ${TextQueries.Bm25OracleCtes},
               lex AS (
                 SELECT doc_id, sum(score_dec) AS sd FROM scored GROUP BY doc_id),
               lexr AS (
                 SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY sd DESC, doc_id) AS BIGINT)
                          AS rank_lex
                 FROM lex QUALIFY rank_lex <= 100),
               dnsr AS (
                 SELECT vec_id AS doc_id,
                        CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
                          AS rank_dense
                 FROM ref),
               ${rrfFusedCteSql("fused", "lexr", "dnsr")}
               SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                        AS rank_fused,
                      doc_id, rank_lex, rank_dense, round(rrf, 9) AS rrf_score
               FROM fused ORDER BY rank_fused"""),
      "ANN-legged hybrid fusion: the BM25 lexical top-K fused (same rrfFuseOf, same " +
        "bit-stable RRF arithmetic) with the IVFADC+refine nomination instead of the " +
        "brute-force cosine — the dense leg reads the probed cells' 8-byte codes plus " +
        "50 raw vectors, never the corpus; oracle re-derives cells, codes, ADC " +
        "candidates, exact re-ranking AND the BM25 leg from the two materialized " +
        "artifacts and fuses them identically",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writePqAux(s, d, a) }),

    QueryDef(
      "q_retrieval_eval", Seq("A4", "O3", "J2"),
      (s, d) => {
        // retrieval-quality readout as a DECLARED query: recall@10 and MRR of the production rankings against their
        // exact ground truths — AnnRecallSpec measures this in tests, but
        // a production corpus wants it as a monitored dataset-card number
        // recomputed with every index build. Two systems:
        //   ann_refine — the IVFADC+refine top-10 vs the exact-cosine
        //     top-10 (the dense truth);
        //   hybrid_ann — the ANN-legged fused top-10 vs the brute-fused
        //     top-10 (the fused truth; the lexical leg is shared, so the
        //     gap isolates the dense leg's ANN error).
        // Metrics stay exact integers (hit counts, first-relevant rank)
        // until ONE rounded double division each (recall = hits/10,
        // MRR = 1/first_rel) — the TV-distance idiom, no float averaging.
        // Every stage is 10-to-100-row bounded after the probes, and the
        // truth lists broadcast into the hit joins.
        //
        // COST SHAPE: the ANN nomination runs ONCE —
        // the RefineR-bounded ivfPqRefinedCosine result localCheckpoints
        // (50 rows) and both the standalone ranking and the hybrid's
        // dense leg read the materialization, instead of re-running the
        // ADC scan + refine per consumer — and the exact-cosine TRUTH
        // scan runs ONCE: its top-K checkpoints (100 rows) and serves
        // both the dense truth (top-10 prefix) and the brute-fused
        // truth's dense leg. The lexical leg is the postings-store probe
        // (bm25TopKRanks — index-fed, statically bucket-pruned). The
        // 100 TB contract: per probe query, ONE index probe + ONE truth
        // scan; the probe set itself must be a bounded deterministic
        // sample (here the corpus's designated query vector, vec 0 with
        // the shared term set — the whole ANN family's convention), so
        // eval cost grows with |probe sample|, never corpus × corpus.
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val K = 100
        def rankBy(df: DataFrame, score: Column, id: Column, n: Int): DataFrame =
          df.orderBy(score.desc, id).limit(n)
            .select(id.as("doc_id"), row_number()
              .over(Window.orderBy(score.desc, id)).cast(LongType).as("rank"))
        // the three leg materializations are
        // data-independent — overlap them on driver threads exactly like
        // hybridEvalOf (each is deterministic; Await rethrows loudly)
        val (bruteTop, ann, lex) = {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutorService(pool)
          try {
            val fBrute = Future(
              rankBy(bruteCosineOf(s, d), col("cosine"), col("vec_id"), K)
                .localCheckpoint())
            val fAnn = Future(ivfPqRefinedCosine(s, d, probes = 4).localCheckpoint())
            val fLex = Future(bm25TopKRanks(s, d, K).localCheckpoint())
            (Await.result(fBrute, Duration.Inf),
              Await.result(fAnn, Duration.Inf),
              Await.result(fLex, Duration.Inf))
          } finally pool.shutdown()
        }
        val truthD = bruteTop.filter(col("rank") <= 10).select("doc_id")
        val annSys = rankBy(ann, col("cosine"), col("vec_id"), 10)
        val dnsB = bruteTop.withColumnRenamed("rank", "rank_dense")
        val truthH = rrfFuseOf(lex, dnsB)
          .orderBy("rank_fused").limit(10).select("doc_id")
        val dnsA = ann
          .select(col("vec_id").as("doc_id"), row_number()
            .over(Window.orderBy(col("cosine").desc, col("vec_id")))
            .cast(LongType).as("rank_dense"))
        val sysH = rrfFuseOf(lex, dnsA)
          .orderBy("rank_fused").limit(10)
          .select(col("doc_id"), col("rank_fused").as("rank"))
        // ndcg@10 (eval symmetry with the other evals): both truths are exact
        // top-10 lists, so IDCG is the discount table's cum at rank 10 —
        // one driver-side constant; DCG joins the k-row literal
        val discDf = ndcgDiscounts(LexK).toDF("rank", "disc", "cum")
        val idcg10 = ndcgDiscounts(LexK).last._3.doubleValue
        def evalOf(name: String, sys: DataFrame, truth: DataFrame): DataFrame =
          sys.join(broadcast(truth.withColumn("rel", lit(1))), Seq("doc_id"), "left")
            .join(broadcast(discDf.select(col("rank"), col("disc"))),
              Seq("rank"), "left")
            .agg(
              count(col("rel")).as("n_hits"),
              min(when(col("rel").isNotNull, col("rank"))).as("first_rel"),
              sum(when(col("rel").isNotNull, col("disc"))).as("dcg_dec"))
            .select(
              lit(name).as("system"), lit(10L).as("k"),
              col("n_hits"), col("first_rel"),
              round(col("n_hits").cast(DoubleType) / lit(10.0).cast(DoubleType), 9)
                .as("recall"),
              round(coalesce(
                lit(1.0).cast(DoubleType) / col("first_rel").cast(DoubleType),
                lit(0.0)), 9).as("mrr"),
              round(coalesce(col("dcg_dec").cast(DoubleType), lit(0.0))
                / lit(idcg10), 9).as("ndcg"))
        evalOf("ann_refine", annSys, truthD)
          .unionAll(evalOf("hybrid_ann", sysH, truthH))
          .orderBy("system")
      },
      Some(s"""${ivfPqRefineCtes(4)},
               ${TextQueries.Bm25OracleCtes},
               $CosineOracleCtes,
               truthd AS (
                 SELECT vec_id AS doc_id FROM cosd
                 ORDER BY cosine DESC, vec_id LIMIT 10),
               annsys AS (
                 SELECT vec_id AS doc_id,
                        CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
                          AS rank
                 FROM ref QUALIFY rank <= 10),
               lex AS (
                 SELECT doc_id, sum(score_dec) AS sd FROM scored GROUP BY doc_id),
               lexr AS (
                 SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY sd DESC, doc_id) AS BIGINT)
                          AS rank_lex
                 FROM lex QUALIFY rank_lex <= 100),
               bdnsr AS (
                 SELECT vec_id AS doc_id,
                        CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
                          AS rank_dense
                 FROM cosd QUALIFY rank_dense <= 100),
               adnsr AS (
                 SELECT vec_id AS doc_id,
                        CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT)
                          AS rank_dense
                 FROM ref),
               ${rrfFusedCteSql("bfused", "lexr", "bdnsr")},
               truthh AS (
                 SELECT doc_id FROM bfused ORDER BY rrf DESC, doc_id LIMIT 10),
               ${rrfFusedCteSql("afused", "lexr", "adnsr")},
               sysh AS (
                 SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                          AS rank
                 FROM afused QUALIFY rank <= 10),
               disc AS (SELECT rank, disc, cum
                        FROM read_parquet('${OracleAux.Token}/ndcg_discounts/*.parquet')),
               aev AS (
                 SELECT CAST(count(t.doc_id) AS BIGINT) AS n_hits,
                        MIN(CASE WHEN t.doc_id IS NOT NULL THEN a.rank END) AS first_rel,
                        SUM(CASE WHEN t.doc_id IS NOT NULL THEN dc.disc END) AS dcg
                 FROM annsys a LEFT JOIN truthd t ON t.doc_id = a.doc_id
                 LEFT JOIN disc dc ON dc.rank = a.rank),
               hev AS (
                 SELECT CAST(count(t.doc_id) AS BIGINT) AS n_hits,
                        MIN(CASE WHEN t.doc_id IS NOT NULL THEN h.rank END) AS first_rel,
                        SUM(CASE WHEN t.doc_id IS NOT NULL THEN dc.disc END) AS dcg
                 FROM sysh h LEFT JOIN truthh t ON t.doc_id = h.doc_id
                 LEFT JOIN disc dc ON dc.rank = h.rank),
               idcg AS (SELECT CAST(cum AS DOUBLE) AS v FROM disc WHERE rank = 10)
               SELECT * FROM (
                 SELECT 'ann_refine' AS system, CAST(10 AS BIGINT) AS k, n_hits, first_rel,
                        round(CAST(n_hits AS DOUBLE) / CAST(10 AS DOUBLE), 9) AS recall,
                        round(coalesce(CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE), 0), 9) AS mrr,
                        round(CAST(coalesce(dcg, 0) AS DOUBLE) / (SELECT v FROM idcg), 9) AS ndcg
                 FROM aev
                 UNION ALL
                 SELECT 'hybrid_ann' AS system, CAST(10 AS BIGINT) AS k, n_hits, first_rel,
                        round(CAST(n_hits AS DOUBLE) / CAST(10 AS DOUBLE), 9) AS recall,
                        round(coalesce(CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE), 0), 9) AS mrr,
                        round(CAST(coalesce(dcg, 0) AS DOUBLE) / (SELECT v FROM idcg), 9) AS ndcg
                 FROM hev)
               ORDER BY system"""),
      "Retrieval-quality eval as a declared readout: recall@10 + MRR of the " +
        "IVFADC+refine ranking vs the exact-cosine truth and of the ANN-legged " +
        "hybrid vs the brute-fused truth — exact integer hit counts and ranks, one " +
        "rounded double division per metric (no float averaging); the ANN " +
        "nomination and the exact truth scan each run ONCE (checkpointed 50/100-row " +
        "lists serve every consumer), the lexical leg probes the postings store; " +
        "oracle re-derives all four rankings from the materialized artifacts and " +
        "scores identically; ndcg@10 via the driver-materialized discount table " +
        "(both truths are exact top-10 lists, so IDCG is the cum at rank 10)",
      aux = Some { (s, d, a) =>
        writeKmeansAux(s, d, a); writePqAux(s, d, a); writeNdcgAux(s, d, a)
      }),

    QueryDef(
      "q_retrieval_eval_multi", Seq("A4", "J2", "A1"),
      (s, d) => {
        // the SAMPLED-PROBE retrieval eval — q_retrieval_eval generalized
        // from the ANN family's single designated query to the bounded
        // deterministic probe sample (the KnnQMod idiom: every vec_id %
        // 25 == 0 vector is a query), the shape an index build's quality
        // monitor actually runs at 100 TB. Composition is two existing
        // engines VERBATIM: truth = the exact batched k-NN join
        // (knnJoinExact — ONE corpus pass for ALL probes, bounded
        // topk_pairs partials, never per-probe scans) and system = the
        // IVF-pruned k-NN join (knnJoinIvf — the index under eval). Per
        // probe: hits among the exact top-5 and the first relevant rank,
        // exact integers; recall@5 and MRR are each ONE rounded double
        // division (the TV-distance idiom). Cost contract: eval = 2
        // corpus scans + probe-bounded joins, independent of probe count
        // — recall grows per-probe visibility (which probes' neighborhood
        // the cell pruning strands) that the averaged single number
        // hides. Output is per-probe, probe-sample-bounded rows.
        // the truth leg serves TWO consumers (the hit join and the probe
        // DOMAIN: a probe whose probed cells hold zero
        // corpus rows produces no system rows at all, and its
        // recall-0/MRR-0 row is exactly the stranded-neighborhood signal
        // this per-probe readout exists to expose, so the output domain
        // must come from the EXACT leg, not the system leg). Spark
        // shares no common subplan across two frame references —
        // localCheckpoint the probes × KnnK truth rows once.
        import s.implicits._
        // the truth checkpoint and the system leg's
        // eager setup (knnJoinIvf trains the coarse centroids on the
        // driver) are independent — overlap them on driver threads
        val (tru, sysJoin) = {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutorService(pool)
          try {
            val fTru = Future(knnJoinExact(s, d)
              .select(col("qid"), col("vec_id")).withColumn("rel", lit(1))
              .localCheckpoint())
            val fSys = Future(knnJoinIvf(s, d))
            (Await.result(fTru, Duration.Inf), Await.result(fSys, Duration.Inf))
          } finally pool.shutdown()
        }
        // the driver-materialized discount table (ndcg@k joins as a
        // k-row literal — the distributed plan never computes a log)
        val discDf = ndcgDiscounts(LexK).toDF("knn_rank", "disc", "cum")
        val sysEval = sysJoin
          .join(broadcast(tru), Seq("qid", "vec_id"), "left")
          .join(broadcast(discDf.select(col("knn_rank"), col("disc"))),
            Seq("knn_rank"), "left")
          .groupBy(col("qid"))
          .agg(
            count(col("rel")).as("n_hits"),
            min(when(col("rel").isNotNull, col("knn_rank")))
              .cast(LongType).as("first_rel"),
            sum(when(col("rel").isNotNull, col("disc"))).as("dcg_dec"))
        tru.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
          .join(broadcast(
            discDf.select(col("knn_rank").as("n_rel"), col("cum"))),
            Seq("n_rel"))
          .join(broadcast(sysEval), Seq("qid"), "left")
          .select(
            col("qid"), lit(KnnK.toLong).as("k"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            col("first_rel"),
            round(coalesce(col("n_hits").cast(DoubleType), lit(0.0))
              / lit(KnnK.toDouble).cast(DoubleType), 9).as("recall"),
            round(coalesce(
              lit(1.0).cast(DoubleType) / col("first_rel").cast(DoubleType),
              lit(0.0)), 9).as("mrr"),
            // binary-relevance nDCG@k: DCG = Σ disc(rank) over hits,
            // IDCG = cum(n_rel) — n_rel ≤ k here (truth IS a top-k), so
            // the IDCG lookup is a plain inner join on n_rel
            round(coalesce(col("dcg_dec").cast(DoubleType), lit(0.0))
              / col("cum").cast(DoubleType), 9).as("ndcg"))
          .orderBy("qid")
      },
      Some(s"""WITH sys AS (SELECT * FROM ($knnJoinIvfOracleSql)),
               tru AS (SELECT * FROM ($knnJoinExactOracleSql)),
               disc AS (SELECT rank, disc, cum
                        FROM read_parquet('${OracleAux.Token}/ndcg_discounts/*.parquet')),
               j AS (
                 SELECT s.qid, s.knn_rank,
                        t.vec_id IS NOT NULL AS hit
                 FROM sys s
                 LEFT JOIN tru t ON t.qid = s.qid AND t.vec_id = s.vec_id),
               agg AS (
                 SELECT j.qid,
                        count(*) FILTER (WHERE j.hit) AS n_hits,
                        min(CASE WHEN j.hit THEN j.knn_rank END) AS first_rel,
                        SUM(CASE WHEN j.hit THEN dc.disc END) AS dcg
                 FROM j LEFT JOIN disc dc ON dc.rank = j.knn_rank
                 GROUP BY j.qid),
               nrel AS (SELECT qid, count(*) AS n_rel FROM tru GROUP BY qid)
               SELECT d.qid, CAST($KnnK AS BIGINT) AS k,
                      CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
                      CAST(a.first_rel AS BIGINT) AS first_rel,
                      round(CAST(coalesce(a.n_hits, 0) AS DOUBLE)
                        / CAST($KnnK AS DOUBLE), 9) AS recall,
                      round(coalesce(
                        CAST(1.0 AS DOUBLE) / CAST(a.first_rel AS DOUBLE),
                        0.0), 9) AS mrr,
                      round(CAST(coalesce(a.dcg, 0) AS DOUBLE)
                        / CAST(dc2.cum AS DOUBLE), 9) AS ndcg
               FROM nrel d
               JOIN disc dc2 ON dc2.rank = d.n_rel
               LEFT JOIN agg a ON a.qid = d.qid
               ORDER BY d.qid"""),
      "Sampled-probe retrieval eval: recall@5 and MRR of the IVF-pruned k-NN join " +
        "against the exact k-NN join's truth, PER PROBE of the deterministic " +
        "vec_id%25 sample — two corpus scans total regardless of probe count (both " +
        "legs are the existing batched engines verbatim, embedded verbatim in the " +
        "oracle via nested WITH); the per-probe rows expose which probes' " +
        "neighborhoods the cell pruning strands — the output domain is the EXACT " +
        "leg's probe set, so a probe with zero system rows surfaces as an explicit " +
        "recall-0/MRR-0 row instead of vanishing; ndcg@k via the " +
        "driver-materialized StrictMath discount table (the log never runs " +
        "distributed, both engines read one artifact)",
      aux = Some((s, d, out) => { writeKmeansAux(s, d, out); writeNdcgAux(s, d, out) })),

    QueryDef(
      "q_retrieval_eval_lex", Seq("A4", "J2", "A1"),
      (s, d) => {
        // the LEXICAL twin of q_retrieval_eval_multi (eval symmetry):
        // the postings store gets the same per-probe
        // quality readout the dense index has. Probes = the
        // deterministic doc_id % LexQMod document sample; each probe's
        // query = its first LexNT DISTINCT tokens in document order
        // (array_distinct preserves first occurrence — the oracle
        // replays it as min(ordinal) rank). SYSTEM = BM25 top-LexK
        // served from the persisted postings store in ONE batched probe
        // (PostingsStore.probeBatch — bucket-pruned store read shared
        // by all probes, r-bounded topk_pairs rank partials). TRUTH =
        // conjunctive exact term-match over one corpus scan (a doc is
        // relevant iff it contains ALL the probe's terms) — ranked
        // retrieval graded against boolean ground truth, the standard
        // readout a lexical index monitor runs. The probe docs
        // themselves are excluded from the candidate side (they contain
        // their own terms by construction — the q_knn_join corpus-split
        // contract); store totals and df stay corpus-wide, exclusion
        // applies before ranking only. recall = n_hits/n_rel (NULL when
        // the probe has no relevant docs — undefined, surfaced, never
        // invented); mrr coalesces to 0 (the dense eval's spelling).
        // Cost: one pruned store read + one corpus scan, independent of
        // probe count; output is per-probe, probe-sample-bounded rows.
        import s.implicits._
        val (qterms, nT, sysRanks) = lexStoreRanksOf(s, d, LexQMod)
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val truth = docs.filter(pmod(col("doc_id"), lit(LexQMod)) =!= 0)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
          .join(broadcast(qterms), Seq("token"))
          .groupBy(col("qid"), col("doc_id"))
          .agg(count(lit(1)).as("n_match"))
          .join(broadcast(nT), Seq("qid"))
          .filter(col("n_match") === col("n_terms"))
          .select(col("qid"), col("doc_id"))
        // truth grows with the corpus (conjunctive matches of common
        // terms) and serves THREE readouts (n_rel, n_hits, first_rel) —
        // one pass computes all three riding truth's existing (qid,
        // doc_id) grouping, with the probe × LexK bounded rank list
        // broadcast onto it (never the truth side), so the truth stack
        // plans exactly once
        val discDf = ndcgDiscounts(LexK).toDF("rank", "disc", "cum")
        val truthAgg = truth
          .join(broadcast(sysRanks), Seq("qid", "doc_id"), "left")
          .join(broadcast(discDf.select(col("rank"), col("disc"))),
            Seq("rank"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("n_rel"),
            count(col("rank")).as("n_hits"),
            min(col("rank")).as("first_rel"),
            sum(col("disc")).as("dcg_dec"))
        // output domain = ALL probes (a probe with no relevant docs
        // surfaces as an explicit row, never vanishes). IDCG =
        // cum(min(n_rel, k)) — truth here can exceed the k-bounded rank
        // list, unlike the dense eval
        nT.join(broadcast(truthAgg), Seq("qid"), "left")
          .join(broadcast(discDf.select(col("rank").as("idcg_rank"), col("cum"))),
            least(col("n_rel"), lit(LexK.toLong)) === col("idcg_rank"), "left")
          .select(
            col("qid"), col("n_terms"),
            coalesce(col("n_rel"), lit(0L)).as("n_rel"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            col("first_rel"),
            when(coalesce(col("n_rel"), lit(0L)) > 0,
              round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType)
                / col("n_rel").cast(DoubleType), 9)).as("recall"),
            round(coalesce(
              lit(1.0).cast(DoubleType) / col("first_rel").cast(DoubleType),
              lit(0.0)), 9).as("mrr"),
            when(coalesce(col("n_rel"), lit(0L)) > 0,
              round(coalesce(col("dcg_dec").cast(DoubleType), lit(0.0))
                / col("cum").cast(DoubleType), 9)).as("ndcg"))
          .orderBy("qid")
      },
      Some(s"""WITH ${lexBm25SysCtesSql(LexQMod)},
               ctok AS (SELECT DISTINCT doc_id, unnest(tk) AS token
                        FROM docs WHERE doc_id % $LexQMod <> 0),
               truth AS (SELECT m.qid, m.doc_id FROM (
                           SELECT q.qid, c.doc_id, count(*) AS n_match
                           FROM qt q JOIN ctok c USING (token)
                           GROUP BY q.qid, c.doc_id) m
                         JOIN nt USING (qid) WHERE m.n_match = nt.n_terms),
               disc AS (SELECT rank, disc, cum
                        FROM read_parquet('${OracleAux.Token}/ndcg_discounts/*.parquet')),
               hit AS (SELECT s.qid, count(t.doc_id) AS n_hits,
                              min(CASE WHEN t.doc_id IS NOT NULL
                                       THEN s.rank END) AS first_rel,
                              SUM(CASE WHEN t.doc_id IS NOT NULL
                                       THEN dc.disc END) AS dcg
                       FROM sysr s
                       LEFT JOIN truth t ON t.qid = s.qid AND t.doc_id = s.doc_id
                       LEFT JOIN disc dc ON dc.rank = s.rank
                       GROUP BY s.qid),
               nrel AS (SELECT qid, count(*) AS n_rel FROM truth GROUP BY qid),
               dom AS (SELECT DISTINCT qid FROM qt)
               SELECT d.qid, nt.n_terms,
                      CAST(coalesce(r.n_rel, 0) AS BIGINT) AS n_rel,
                      CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                      CAST(h.first_rel AS BIGINT) AS first_rel,
                      CASE WHEN coalesce(r.n_rel, 0) > 0
                           THEN round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
                                  / CAST(r.n_rel AS DOUBLE), 9) END AS recall,
                      round(coalesce(CAST(1.0 AS DOUBLE)
                              / CAST(h.first_rel AS DOUBLE), 0.0), 9) AS mrr,
                      CASE WHEN coalesce(r.n_rel, 0) > 0
                           THEN round(CAST(coalesce(h.dcg, 0) AS DOUBLE)
                                  / CAST(dc2.cum AS DOUBLE), 9) END AS ndcg
               FROM dom d JOIN nt USING (qid)
               LEFT JOIN nrel r ON r.qid = d.qid
               LEFT JOIN hit h ON h.qid = d.qid
               LEFT JOIN disc dc2 ON dc2.rank = LEAST(r.n_rel, $LexK)
               ORDER BY d.qid"""),
      "Sampled-probe LEXICAL retrieval eval (the postings-store twin of " +
        "q_retrieval_eval_multi): per probe of the deterministic doc_id%50 " +
        "document sample, the store-served BM25 top-10 for the probe's first 3 " +
        "distinct tokens is graded against the conjunctive exact term-match " +
        "truth — recall@k, MRR and ndcg@k per probe (the discount table is the " +
        "driver-materialized StrictMath artifact both engines share), one " +
        "bucket-pruned store read for ALL probes (PostingsStore.probeBatch) " +
        "plus one corpus scan for the truth, independent of probe count",
      aux = Some(writeNdcgAux)),

    QueryDef(
      "q_retrieval_eval_hybrid", Seq("A4", "J2", "A1", "O3"),
      (s, d) => {
        // the HYBRID eval over the SERVED paths (the `Cli hybrid-search`
        // composition grading itself); body in [[hybridEvalOf]] (shared
        // with the SQ8 variant): SYSTEM = store-served BM25 ⊕
        // store-served ADC-nominated join, TRUTH = the same lexical list
        // ⊕ the EXACT dense join, per-probe RRF, metrics over the fused
        // top-LexK.
        hybridEvalOf(s, d, graft.streaming.VectorStore.Rung.Adc)
      },
      Some(hybridEvalOracleSql(knnJoinAdcOracleSql)),
      "Hybrid retrieval eval over the SERVED paths: per probe of the dense " +
        "vec_id%25 sample, the store-served BM25 list (one bucket-pruned " +
        "postings read for all probes) RRF-fuses with the store-served " +
        "ADC-nominated k-NN join (cell-pruned code-bytes nomination), graded " +
        "against the same lexical list fused with the EXACT dense join — the " +
        "fused top-k readout isolates what the index approximation does to the " +
        "final ranking; n_hits/first_rel/recall/MRR/ndcg per probe, both store " +
        "reads pruned, cost independent of probe count",
      aux = Some { (s, d, a) =>
        writeKmeansAux(s, d, a); writeIvfadcAux(s, d, a); writeNdcgAux(s, d, a)
      }),

    QueryDef(
      "q_retrieval_eval_hybrid_sq8", Seq("A4", "J2", "A1", "O3"),
      (s, d) => {
        // the hybrid eval with the SQ8-nominated dense leg:
        // `Cli hybrid-search --sq8`'s finer-recall serving path graded
        // through the identical fusion/metric engine —
        // SYSTEM = store-served BM25 ⊕ store-served SQ8-nominated join
        // (byte-identical to q_knn_join_sq8 by the VectorStore pins),
        // TRUTH unchanged, so the two declared hybrid readouts differ
        // ONLY in the nomination rung and their per-probe deltas
        // measure exactly what the finer scalar codes buy the fused
        // ranking. Shares the one materialized store with the ADC
        // variant (built sq8-enabled; each leg reads its own codes).
        hybridEvalOf(s, d, graft.streaming.VectorStore.Rung.Sq8)
      },
      Some(hybridEvalOracleSql(knnJoinSq8OracleSql)),
      "Hybrid retrieval eval over the SQ8-nominated served path: the store-served " +
        "BM25 list RRF-fuses with the store-served SQ8-nominated k-NN join " +
        "(reconstruct-and-dot over the stored scalar codes), graded against the " +
        "same lexical list fused with the EXACT dense join — isolates what the " +
        "finer-than-PQ nomination buys the fused ranking vs the ADC variant; " +
        "same per-probe metric surface, both store reads pruned",
      aux = Some { (s, d, a) => writeKmeansAux(s, d, a); writeNdcgAux(s, d, a) })
  )
}
