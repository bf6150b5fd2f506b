package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + dedup operators over the `documents` table — the
  * LLM-data-pipeline surface (builder prompt / SURVEY.md §7.1 item 10):
  * tokenization, token stats, quality scoring, language-ID heuristic,
  * document fingerprinting, exact dedup and n-gram Jaccard near-dup.
  *
  * All built from codegen'd `functions._` (split / higher-order
  * filter / array ops) — no UDFs in the hot path, so whole-stage codegen
  * spans the full pipeline and each operator scales linearly with
  * documents-per-partition at 100 TB.
  */
object TextQueries {

  private def tokens(c: Column): Column = split(c, " ")

  /** Distinct sorted token set — order-canonical, so downstream md5 /
    * set-arithmetic is deterministic regardless of partitioning. */
  private def tokenSet(c: Column): Column = array_sort(array_distinct(tokens(c)))

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is")

  /** The content-stable 0-99 sampling bucket of a document id: first 15
    * hex chars of md5 as an integer, mod 100 — reproducible across runs,
    * partitionings, and engines (every oracle re-derives it as
    * `('0x' || substr(md5(...), 1, 15))::BIGINT % 100`). Shared by the
    * stratified sampler, the corpus-selection funnel, and the
    * train/val/test split so the bucket definition changes in ONE place
    * (plus the three oracle strings, which the parity gate pins). */
  private def md5Bucket(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % 100

  /** The content-stable 63-bit hash behind the training-export family —
    * the first 15 md5 hex chars of `id || tag` as a long. The tag keeps
    * independent uses (shard assignment, mix order, sampling bucket)
    * decorrelated: reusing one hash for both the shard and the in-shard
    * order would sort each shard by the same value that selected it. */
  private def exportHash(id: Column, tag: String): Column =
    conv(substring(md5(concat(id.cast(StringType), lit(tag))), 1, 15), 16, 10)
      .cast(LongType)

  /** Deterministic shuffled shard export — the write layout a training
    * run reads. Global example order must be (a) shuffled (SGD
    * convergence degrades badly on source-clustered order), (b)
    * reproducible byte-for-byte across reruns and repartitions
    * (resume/debug/ablation all need "the same shuffle"), and (c)
    * produced WITHOUT a driver-side permutation. Spelling:
    * content-stable hash h(doc_id) → shard = h mod N, within-shard
    * sequence = rank by (h, doc_id). The window partitions by shard, so
    * parallelism == shard count — the real knob (a 100 TB export uses
    * O(10k) shards). Never rand() (reassigns every run) and never a
    * global row_number (single-partition window). Output: (shard, seq,
    * doc_id, source[, payloadCols...]), unordered — callers sort or write
    * as they need (`payloadCols` carries e.g. the text through to
    * [[graft.ingest.Sink.writeShards]] without a second join against the
    * corpus). */
  private[graft] def shuffleExportOf(
      docs: DataFrame, nShards: Int,
      payloadCols: Seq[String] = Seq.empty): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id") +: col("source") +: payloadCols.map(col) :+
        exportHash(col("doc_id"), ":shuffle").as("h"): _*)
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("seq", row_number().over(w).cast(LongType))
      .select(col("shard") +: col("seq") +: col("doc_id") +: col("source") +:
        payloadCols.map(col): _*)
  }

  /** Dataset-version diff (CDC between two corpus snapshots) — the
    * readout a training-data refresh runs before re-building: what did
    * the new crawl add, drop, or revise per source? Both inputs carry
    * (doc_id, source, text). Identity = doc_id; change detection = md5
    * of (source, text) computed BELOW the join, so the diff never
    * compares full text across the exchange (at 100 TB the join ships
    * 32-byte digests, not documents). Source is FOLDED INTO the digest
    * (r14 ADVICE): a doc whose source moved between snapshots with
    * identical content reports `changed` — attributed to the PREVIOUS
    * source via the coalesce order — instead of silently reading as
    * `unchanged` under the old source. The FULL OUTER join is
    * SHUFFLE_HASH-pinned: both snapshots are corpus-sized, Spark >= 3.1
    * builds full-outer shuffled-hash, an estimate-based plan would
    * degrade to SortMergeJoin at scale (and broadcast cannot do
    * full-outer at all). Output: per (source, status) counts over
    * added/removed/changed/unchanged, unordered. */
  private[graft] def diffSnapshotsOf(prev: DataFrame, cur: DataFrame): DataFrame = {
    // digests are null-total (null source/text == empty): a null digest
    // on a PRESENT row would misread as added/removed, since presence is
    // detected through the digest columns after the full-outer join;
    // the U+001F unit separator keeps ("ab","") and ("a","b") distinct.
    def dig(src: Column, text: Column): Column =
      md5(concat_ws("\u001F", coalesce(src, lit("")), coalesce(text, lit(""))))
    val a = prev.select(col("doc_id"), col("source").as("src_a"),
      dig(col("source"), col("text")).as("h_a"))
    val b = cur.select(col("doc_id"), col("source").as("src_b"),
      dig(col("source"), col("text")).as("h_b"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("h_a").isNull, lit("added"))
          .when(col("h_b").isNull, lit("removed"))
          .when(col("h_a") =!= col("h_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n"))
  }

  /** Deterministic source-mixture interleave — stride (virtual-time)
    * scheduling, the WFQ idea: a source with weight w occupies every
    * (L/w)-th virtual position (L = the weights' common multiple), so ANY
    * prefix of a shard's schedule realizes the target mixture ratio —
    * unlike concatenation (ratio only at 100%) or sampling (ratio only
    * in expectation). Docs are sharded first (same content-stable hash
    * family as [[shuffleExportOf]]), and the interleave runs PER (shard,
    * source) window — partition count = shards × sources, so the window
    * never bottlenecks on one giant source (a per-source global window
    * would put 90% of a 100 TB corpus in one partition). Integer virtual
    * time: `weightLcm` must be a multiple of every weight `weightExpr`
    * can produce, so positions are exact longs, bit-deterministic in any
    * engine — and that contract is ENFORCED, not assumed (r14 ADVICE): a
    * weight that does not divide `weightLcm` raises per-row instead of
    * silently truncating through the double division, and `weightLcm` is
    * required below 2^53 so the (divisibility-checked) division is exact.
    * Output: (shard, vpos, source, doc_id), unordered — the
    * schedule is the (vpos, source, doc_id) order within a shard. */
  private[graft] def mixScheduleOf(
      docs: DataFrame, weightExpr: Column, weightLcm: Long,
      nShards: Int): DataFrame = {
    require(weightLcm > 0 && weightLcm <= (1L << 53),
      s"weightLcm must be in (0, 2^53] for exact division, got $weightLcm")
    // Spark's `/` on integral types is DOUBLE division; with divisibility
    // asserted (and weightLcm <= 2^53) the quotient is an integer whose
    // nearest double is itself, so the cast below is exact — a weight of
    // 0/negative or a non-divisor fails loudly here, never truncates
    val stride = when(
      weightExpr > 0 && pmod(lit(weightLcm), weightExpr) === 0,
      (lit(weightLcm) / weightExpr).cast(LongType))
      .otherwise(raise_error(concat(
        lit(s"mixScheduleOf: weightLcm=$weightLcm is not divisible by weight "),
        // coalesce: a NULL weight must raise WITH the diagnostic text, not
        // null the whole message away through concat's null propagation
        coalesce(weightExpr.cast(StringType), lit("NULL")))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("source"))
      .orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        exportHash(col("doc_id"), ":mix").as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .select(col("shard"),
        ((col("rn") - 1L) * stride).as("vpos"),
        col("source"), col("doc_id"))
  }

  /** Mixture EPOCH materializer — the missing half between
    * [[sourceMixOf]] (how many examples each source contributes) and
    * [[mixScheduleOf]] (in what order): the concrete epoch a training run
    * consumes, with every source realized at its target count. Three
    * deterministic stages, no RNG anywhere:
    *
    *  1. Targets: the sourceMixOf w ∝ sqrt(n_tokens) draw scaled to
    *     `totalBudget` examples (floor per source — identical spelling to
    *     q_source_mix so the two readouts agree).
    *  2. Selection with wraparound repetition: docs of a source are
    *     totally ordered by the content-stable (bucket, hash, doc_id) key
    *     and the target count is filled round-robin over that order —
    *     doc at rank r emits every epoch index k ≡ r-1 (mod n_s) below
    *     target_s, i.e. deterministic sample-with-replacement where
    *     repetition counts differ by at most one across a source's docs.
    *     The per-source rank is computed DISTRIBUTED (the zipWithIndex
    *     idiom): rank within (source, bucket) windows + broadcast prefix
    *     offsets from a sources × buckets count frame — never one
    *     giant per-source partition.
    *  3. Stride interleave: each emission hashes to a shard; within
    *     (shard, source) the i-th emission lands at virtual time
    *     (2i-1)/(2·target_s) — the WFQ finish-time spelling — so every
    *     shard-prefix realizes the target mixture. Weights here are
    *     data-derived longs, so the mixScheduleOf integer-LCM contract
    *     cannot apply; vtime is instead ONE double division of exact
    *     integers (< 2^53), bit-deterministic cross-engine, the
    *     q_tfidf/q_bm25 ordering precedent.
    *
    * Output: (shard, vtime, source, doc_id, k) — k is the epoch index of
    * the emission within its source (k div n_s = which repetition),
    * unordered. Per-source row count == target count exactly
    * (conservation is pinned in CorpusPipelineSpec).
    *
    * `epochIdx` (r15 VERDICT Next #3) threads into BOTH hash salts
    * (`:epoch:<i>` / `:epoch-shard:<i>`), so multi-epoch training gets
    * deterministic-but-DISTINCT selection and interleave orders per
    * epoch index — same conservation and balance in every epoch, same
    * bytes for the same index, different permutation for a different
    * one (pinned in CorpusPipelineSpec). A fixed salt would make every
    * materialized epoch the SAME permutation, which defeats
    * sample-with-replacement across epochs.
    *
    * Measured (AbEpochRankBench, interleaved min-of-5, 32 cores, the 10×
    * replica at a 1M-row epoch): the distributed rank runs 1.22× faster
    * than the naive one-window-per-source spelling (2.32 vs 2.83 s) even
    * on this corpus's EVEN ten sources, where the global window still
    * gets 10-way parallelism — the gap is structural, not just measured:
    * with a dominant source (real mixtures are Zipfian) the global
    * window serializes that source onto ONE task, while this spelling's
    * parallelism stays sources × buckets regardless of skew. Parity of
    * the two spellings is asserted in the harness before timing. */
  private[graft] def mixEpochOf(
      docs: DataFrame, totalBudget: Long, nShards: Int,
      epochIdx: Long = 0L, curriculum: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Dec = DecimalType(38, 18)
    val per = docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
      .withColumn("w_dec", sqrt(col("n_tokens").cast(DoubleType)).cast(Dec))
    val tot = per.agg(sum(col("w_dec")).cast(Dec).as("w_tot"))
    val share = round(
      col("w_dec").cast(DoubleType) / col("w_tot").cast(DoubleType), 9)
    val targets = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        floor(lit(totalBudget.toDouble) * share).cast(LongType).as("n_target"))
    // curriculum = quality-ANNEALED emission order (the decay-phase
    // upweighting practice): WHICH docs an epoch selects and HOW OFTEN
    // never changes — only the order each source's emissions take within
    // a shard, lowest-quality first, so every shard's tail is its
    // highest-quality slice. q is the integer stopword-density score
    // (the clusterKeepBestOf spelling — cross-multiplied, no float
    // compare); the plain epoch pins q = 0, making the curriculum
    // ordering (q, h2, doc_id, k) collapse to the hash order exactly.
    val toksB = tokens(coalesce(col("text"), lit("")))
    val based = docs.select(col("source"), col("doc_id"),
        exportHash(col("doc_id"), s":epoch:$epochIdx").as("h"),
        size(filter(toksB, t => t.isin(enStop: _*))).cast(LongType).as("st"),
        size(toksB).cast(LongType).as("nt"))
      .withColumn("q",
        if (curriculum) expr("(st * 1000000) div nt") else lit(0L))
      .drop("st", "nt")
      .withColumn("bucket", pmod(col("h"), lit(nShards.toLong)))
    val wLoc = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    // prefix offsets: sources × buckets rows — driver-bounded at any
    // corpus size, so both the window below and the broadcast are safe
    val wOff = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = based.groupBy("source", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("source"), col("bucket"), col("off"))
    val emitted = based
      .withColumn("rl", row_number().over(wLoc).cast(LongType))
      .join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("r", col("rl") + col("off"))
      .join(broadcast(targets), Seq("source"))
      .withColumn("reps",
        expr("CASE WHEN r <= n_target THEN (n_target - r) div n_docs + 1 " +
          "ELSE CAST(0 AS BIGINT) END"))
      .filter(col("reps") > 0)
      .select(col("source"), col("doc_id"), col("q"), col("n_docs"),
        col("n_target"),
        col("r"), explode(expr("sequence(CAST(0 AS BIGINT), reps - 1)")).as("j"))
      .withColumn("k", col("r") - 1 + col("j") * col("n_docs"))
    val sharded = emitted.withColumn("h2",
        exportHash(concat_ws(":", col("doc_id"), col("k")), s":epoch-shard:$epochIdx"))
      .withColumn("shard", pmod(col("h2"), lit(nShards.toLong)))
    val w2 = Window.partitionBy(col("shard"), col("source"))
      .orderBy(col("q"), col("h2"), col("doc_id"), col("k"))
    sharded
      .withColumn("rn2", row_number().over(w2).cast(LongType))
      .select(col("shard"),
        ((col("rn2") * 2 - 1).cast(DoubleType)
          / (col("n_target") * 2).cast(DoubleType)).as("vtime"),
        col("source"), col("doc_id"), col("k"))
  }

  /** [[mixEpochOf]] with the text payload joined back — the frame
    * [[graft.ingest.Sink.writeShards]] materializes as epoch shard files
    * (`Cli export --epoch N`). Text is JOINED on doc_id (SHUFFLE_HASH,
    * both sides corpus-scaled) rather than carried through the epoch
    * pipeline: carrying it would ship every document's full text through
    * the rank window, the repetition explode, and the interleave window —
    * three shuffles of payload — where the join ships it exactly once,
    * after the layout is settled. Repeated docs (k div n_s >= 1) fan the
    * text out per copy, which is precisely what the written epoch must
    * contain. PRECONDITION: doc_id is unique in `docs` (the collectionDocs
    * seam guarantees it — doc_id is a hash of content with identical items
    * collapsed); a duplicate doc_id would fan every matching epoch row out
    * through the join and break the written counts' conservation. */
  private[graft] def mixEpochExportOf(
      docs: DataFrame, totalBudget: Long, nShards: Int,
      epochIdx: Long = 0L, curriculum: Boolean = false): DataFrame =
    mixEpochOf(docs, totalBudget, nShards, epochIdx, curriculum)
      .join(docs.select(col("doc_id"), col("text")).hint("SHUFFLE_HASH"),
        Seq("doc_id"))
      .select(col("shard"), col("vtime"), col("source"), col("doc_id"),
        col("k"), col("text"))

  /** The epoch materializer GENERALIZED to an explicit per-source
    * TOKEN-budget target frame (VERDICT r18 Next #1 — the seam that
    * lets [[unimaxMixOf]]'s allocation actually produce an epoch):
    * `targets` must carry (source, n_docs, n_tokens, n_target), n_target
    * a TOKEN budget over a source totalling n_tokens tokens in n_docs
    * docs — exactly [[unimaxMixOf]]'s output shape. Selection is
    * [[mixEpochOf]]'s hash-ordered wraparound, re-derived in token
    * units:
    *
    *  - full cycles c = n_target div n_tokens — every doc of the source
    *    emits c times (a capped UniMax source has n_target = maxEpochs ×
    *    n_tokens exactly, so it emits each doc exactly maxEpochs times
    *    and never one more — the cap is structural, not approximate);
    *  - the remainder R = n_target mod n_tokens fills one more partial
    *    cycle in the SAME content-stable (bucket, hash, doc_id) order:
    *    a doc joins iff its running token prefix p (through itself) is
    *    ≤ R — whole docs only, so per-source emitted tokens NEVER
    *    exceed n_target (the undershoot rule: overshoot could silently
    *    break a UniMax cap by up to one doc), and maximally so (the
    *    next doc in order would cross the budget). p is monotone in
    *    rank, so the partial cycle is a rank prefix and k stays a
    *    contiguous 0..n_emit-1 permutation per source
    *    (CorpusPipelineSpec pins all of it).
    *
    * The rank AND the token prefix ride the one (source, bucket) window
    * of the distributed-rank idiom (same exchange, one more running
    * sum); per-source emission counts for the WFQ vtime denominator are
    * a count window over the EMISSIONS frame, which is budget-bounded
    * (every doc counts ≥ 1 token, so |emissions| ≤ total budget) — the
    * mix-normalizer bounded-frame precedent, no second pass over the
    * corpus. Output: (shard, vtime, source, doc_id, k), unordered —
    * [[mixEpochOf]]'s contract. */
  private[graft] def mixEpochFromTargets(
      docs: DataFrame, targets: DataFrame, nShards: Int,
      epochIdx: Long = 0L, curriculum: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksB = tokens(coalesce(col("text"), lit("")))
    val based = docs.select(col("source"), col("doc_id"),
        exportHash(col("doc_id"), s":epoch:$epochIdx").as("h"),
        size(filter(toksB, t => t.isin(enStop: _*))).cast(LongType).as("st"),
        size(toksB).cast(LongType).as("wt"))
      .withColumn("q",
        if (curriculum) expr("(st * 1000000) div wt") else lit(0L))
      .drop("st")
      .withColumn("bucket", pmod(col("h"), lit(nShards.toLong)))
    val wLoc = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val wRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // sources × buckets rows — driver-bounded at any corpus size
    val offsets = based.groupBy("source", "bucket")
      .agg(count(lit(1)).as("cnt"), sum(col("wt")).as("wsum"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .withColumn("offw", coalesce(sum(col("wsum")).over(wOff), lit(0L)))
      .select(col("source"), col("bucket"), col("off"), col("offw"))
    val selected = based
      .withColumn("rl", row_number().over(wLoc).cast(LongType))
      .withColumn("pl", sum(col("wt")).over(wRun))
      .join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("r", col("rl") + col("off"))
      .withColumn("p", col("pl") + col("offw"))
      .join(broadcast(
        targets.select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_target"))), Seq("source"))
      // n_tokens >= n_docs >= 1 by construction (tokens('') has size 1),
      // so the integer division cannot hit zero
      .withColumn("reps",
        expr("n_target div n_tokens") +
          when(col("p") <= expr("n_target % n_tokens"), 1L).otherwise(0L))
      .filter(col("reps") > 0)
      .select(col("source"), col("doc_id"), col("q"), col("n_docs"),
        col("r"),
        explode(expr("sequence(CAST(0 AS BIGINT), reps - 1)")).as("j"))
      .withColumn("k", col("r") - 1 + col("j") * col("n_docs"))
    val emitted = selected.withColumn("n_emit",
      count(lit(1)).over(Window.partitionBy(col("source"))))
    val sharded = emitted.withColumn("h2",
        exportHash(concat_ws(":", col("doc_id"), col("k")),
          s":epoch-shard:$epochIdx"))
      .withColumn("shard", pmod(col("h2"), lit(nShards.toLong)))
    val w2 = Window.partitionBy(col("shard"), col("source"))
      .orderBy(col("q"), col("h2"), col("doc_id"), col("k"))
    sharded
      .withColumn("rn2", row_number().over(w2).cast(LongType))
      .select(col("shard"),
        ((col("rn2") * 2 - 1).cast(DoubleType)
          / (col("n_emit") * 2).cast(DoubleType)).as("vtime"),
        col("source"), col("doc_id"), col("k"))
  }

  /** [[unimaxMixOf]]'s allocation realized as a concrete epoch — the
    * composition q_mix_epoch_unimax declares: the UniMax integer
    * water-filling computes per-source token budgets, and
    * [[mixEpochFromTargets]] fills each one with hash-ordered
    * wraparound selection. `totalBudget` and `maxEpochs` are token
    * units, [[unimaxMixOf]]'s contract. */
  private[graft] def mixEpochUnimaxOf(
      docs: DataFrame, totalBudget: Long, maxEpochs: Long, nShards: Int,
      epochIdx: Long = 0L, curriculum: Boolean = false): DataFrame =
    mixEpochFromTargets(
      docs,
      unimaxMixOf(docs, totalBudget, maxEpochs)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_target")),
      nShards, epochIdx, curriculum)

  /** [[mixEpochUnimaxOf]] with the text payload joined back — the
    * UniMax twin of [[mixEpochExportOf]] (same SHUFFLE_HASH join-once
    * rationale and doc_id-uniqueness precondition), the frame
    * `Cli export --epoch B --unimax E` writes as epoch shards. */
  private[graft] def mixEpochUnimaxExportOf(
      docs: DataFrame, totalBudget: Long, maxEpochs: Long, nShards: Int,
      epochIdx: Long = 0L, curriculum: Boolean = false): DataFrame =
    mixEpochUnimaxOf(docs, totalBudget, maxEpochs, nShards, epochIdx,
        curriculum)
      .join(docs.select(col("doc_id"), col("text")).hint("SHUFFLE_HASH"),
        Seq("doc_id"))
      .select(col("shard"), col("vtime"), col("source"), col("doc_id"),
        col("k"), col("text"))

  /** Fixed-budget TRAINING WINDOWS over a materialized mixture epoch —
    * the artifact a training loader consumes directly (VERDICT r15 Next
    * #4: the epoch export shipped raw text; the packed-sequence rung
    * existed but was never composed into it). Composition:
    * [[mixEpochExportOf]] (the epoch layout, text joined once) →
    * `bpe_tokens` (the vendored byte-level BPE — real subword budgets,
    * the q_pack_sequences_bpe leg) → the concat-then-chunk window
    * arithmetic of [[packSequencesOf]] applied PER SHARD in schedule
    * order → one row per (shard, window_id) carrying the window's actual
    * token array.
    *
    * Shape notes for 100 TB: the running sum partitions by shard
    * (parallelism = shard count, the export's own knob — the
    * writeShards contract), and a doc fans out one SLICE row per window
    * it straddles (≤ ntok/B + 1 rows, never per-token), so the heavy
    * explode is bounded by window count, not token count. Window
    * reassembly sorts each window's slices by their docs' start offsets
    * (unique within a shard — cumsum is strictly increasing over ntok>0
    * docs) and flattens — deterministic under any input partitioning,
    * pinned byte-for-byte in SinkSpec. Every window holds exactly `B`
    * tokens except each shard's final (tail) window. Empty-token docs
    * are dropped BEFORE the cumsum (a zero-length doc occupies no window;
    * it would also make Spark's sequence() step backwards). */
  private[graft] def packedEpochExportOf(
      docs: DataFrame, totalBudget: Long, nShards: Int,
      epochIdx: Long = 0L, B: Int = 2048,
      curriculum: Boolean = false,
      mergesSource: String = graft.functions.Bpe.DefaultSource): DataFrame =
    packLaidEpoch(
      mixEpochExportOf(docs, totalBudget, nShards, epochIdx, curriculum),
      B, mergesSource)

  /** [[packedEpochExportOf]] over the UNIMAX epoch (r19 — the pack tail
    * is target-policy-agnostic, so the composition is one seam call):
    * the water-filled token-budget epoch ([[mixEpochUnimaxExportOf]])
    * chunked into fixed-`B` training windows. `Cli export --epoch B
    * --unimax E --packed`. */
  private[graft] def packedEpochUnimaxExportOf(
      docs: DataFrame, totalBudget: Long, maxEpochs: Long, nShards: Int,
      epochIdx: Long = 0L, B: Int = 2048,
      curriculum: Boolean = false,
      mergesSource: String = graft.functions.Bpe.DefaultSource): DataFrame =
    packLaidEpoch(
      mixEpochUnimaxExportOf(docs, totalBudget, maxEpochs, nShards,
        epochIdx, curriculum),
      B, mergesSource)

  /** The packing TAIL shared by every epoch flavor — takes any laid
    * epoch frame ((shard, vtime, source, doc_id, k, text) in schedule
    * order) and emits the fixed-budget windows; extracted r19 so the
    * UniMax epoch packs through the identical spelling instead of a
    * policy-keyed copy. */
  private def packLaidEpoch(
      laid: DataFrame, B: Int, mergesSource: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExtensions.ensureRegistered(laid.sparkSession)
    val wSh = Window.partitionBy(col("shard"))
      .orderBy(col("vtime"), col("source"), col("doc_id"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    laid
      // the merges source is the train-then-pack seam (VERDICT r17 #1):
      // a table trained at runtime (Cli train-bpe) budgets this export
      // without a jar rebuild; empty = the vendored default
      .withColumn("tk",
        call_function("bpe_tokens", col("text"), lit(mergesSource)))
      .withColumn("ntok", size(col("tk")).cast(LongType))
      .filter(col("ntok") > 0)
      .withColumn("cum", sum(col("ntok")).over(wSh))
      .withColumn("start", col("cum") - col("ntok"))
      // one slice row per (doc copy, straddled window)
      .select(col("shard"), col("start"), col("ntok"), col("tk"),
        explode(expr(s"sequence(start div $B, (cum - 1) div $B)")).as("window_id"))
      .withColumn("sfrom", greatest(col("window_id") * B - col("start"), lit(0L)))
      .withColumn("sto", least((col("window_id") + 1) * B - col("start"), col("ntok")))
      .withColumn("piece", expr("slice(tk, sfrom + 1, CAST(sto - sfrom AS INT))"))
      .groupBy(col("shard"), col("window_id"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("start").as("s"), col("piece").as("p")))),
          x => x.getField("p"))).as("tokens"),
        count(lit(1)).as("n_docs"))
      .withColumn("n_tokens", size(col("tokens")).cast(LongType))
  }

  /** The MinHash-LSH → exact-Jaccard verified near-dup pair set
    * (doc_a < doc_b, jaccard >= 0.9) — the shared engine behind
    * q_ngram_jaccard (which emits the pairs) and q_dedup_clusters (which
    * closes them into components). See q_ngram_jaccard's QueryDef for the
    * banding/verification design notes.
    *
    * Negative A/Bs, so they are not retried: (r11) replacing the verify
    * stream's `array_sort(transform(toks, xxhash64))` with a native
    * compiled hash+sort expression measured consistently ~15% SLOWER
    * end-to-end on the q_ngram_jaccard/q_dedup_clusters/q_dedup_payoff
    * trio (8.1 → 9.0-9.4 s, two runs) — unlike the gram-construction HOF
    * (TokenGrams), this one is not the bottleneck; (r11) a fanOut on
    * docsIn measured flat (14.1 vs 14.3 s over the family) — the per-doc
    * signature work below the first exchange is not scan-stage-bound
    * here. */
  private[graft] def minhashJaccardPairs(
      s: SparkSession, d: String,
      maxBucket: Int = BucketPairs.DefaultMaxBucket): DataFrame =
    minhashJaccardPairsOf(Tables.documents(s, d), maxBucket)

  /** (source, doc_id, toks, nt) tokenized frame — the shared front of the
    * MinHash pair-finding and its signature and verification frames. */
  private def tokDocsOf(docsIn: DataFrame): DataFrame = docsIn
    .select(col("source"), col("doc_id"), tokenSet(col("text")).as("toks"))
    .withColumn("nt", size(col("toks")))

  /** Banded MinHash signatures (source, doc_id, band_id, band_hash) over
    * ANY (source, doc_id, text) frame: 64 hash mins in one aggregation,
    * banded 16×4. One narrow groupBy per doc — the LSH bucketing frame of
    * [[minhashJaccardPairsOf]], exposed for the probes that time it. */
  private[graft] def minhashBandSigsOf(docsIn: DataFrame): DataFrame =
    bandSigsOfTok(tokDocsOf(docsIn))

  private def bandSigsOfTok(docs: DataFrame): DataFrame = {
    val NumHashes = 64
    val Bands = 16
    val RowsPerBand = NumHashes / Bands
    val mins = (0 until NumHashes).map(i =>
      min(xxhash64(col("h1"), lit(i.toLong))).as(s"mh$i"))
    val bandHashes = (0 until Bands).map { j =>
      xxhash64((j * RowsPerBand until (j + 1) * RowsPerBand).map(i => col(s"mh$i")): _*)
    }
    docs
      .select(col("source"), col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h1", xxhash64(col("tok")))
      .groupBy(col("source"), col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("source"), col("doc_id"),
        posexplode(array(bandHashes: _*)).as(Seq("band_id", "band_hash")))
  }

  /** (doc_id, nt, hs) verification frame: sorted 64-bit token hashes, the
    * codegen'd sorted-intersect's input of the verify join, exposed for
    * the probes that time it. */
  private[graft] def tokenHashFrameOf(docsIn: DataFrame): DataFrame =
    tokDocsOf(docsIn)
      .withColumn("hs", array_sort(transform(col("toks"), t => xxhash64(t))))
      .select(col("doc_id"), col("nt"), col("hs"))

  /** The same engine over ANY (source, doc_id, text) frame — the seam the
    * CLI's `dedup` command uses to run near-dup analysis over a loaded
    * collection's fact rows instead of the bench documents table. */
  private[graft] def minhashJaccardPairsOf(
      docsIn: DataFrame,
      maxBucket: Int = BucketPairs.DefaultMaxBucket): DataFrame = {
    val s = docsIn.sparkSession
    val docs = tokDocsOf(docsIn)
    val sig = bandSigsOfTok(docs)
    // bounded bucket-local pair generation (all-pairs ≤ maxBucket members,
    // star pairs beyond — see BucketPairs for the 100 TB contract)
    val cand = BucketPairs.pairs(
        sig, Seq("source", "band_id", "band_hash"), "doc_id", Seq.empty, maxBucket)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
    graft.functions.GraftExtensions.ensureRegistered(s)
    val docsH = docs.withColumn(
      "hs", array_sort(transform(col("toks"), t => xxhash64(t))))
    val a = docsH.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"), col("nt").as("nt_a"))
    val b = docsH.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"), col("nt").as("nt_b"))
    // the verify join is unbounded on BOTH sides (candidates and docs both
    // grow with the corpus), so its strategy must not hinge on a small-SF
    // size estimate: SHUFFLE_HASH pins a hash join that streams the pair
    // side and builds from the per-partition docs slice — no sort of the
    // hashed-token arrays, no estimate-driven broadcast that degrades to
    // SortMergeJoin when the estimate crosses the threshold at scale
    // (the q_collection_notes sf1 lesson, gated in ScaleShapeSpec's
    // robust-join probe). Measured sf0.1 cost of giving up the small-SF
    // broadcast (r12 A/B): q_ngram_jaccard 2.5→4.5 s, q_dedup_payoff
    // 3.3→6.1 s, q_neardup_lsh 2.2→3.5 s — the docsH arrays now shuffle
    // instead of broadcasting. At 100 TB the broadcast side is
    // corpus-sized, so the broadcast plan simply does not exist there;
    // paying the shuffle at every SF is the deterministic-strategy trade.
    cand.join(a.hint("shuffle_hash"), "doc_a").join(b.hint("shuffle_hash"), "doc_b")
      .withColumn("inter",
        call_function("intersect_count_sorted", col("hs_a"), col("hs_b")))
      .withColumn(
        "jaccard",
        col("inter").cast(DoubleType) / (col("nt_a") + col("nt_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Connected components by min-label propagation over an undirected edge
    * set (`doc_a`, `doc_b`) — returns one (`doc_id`, `lbl`) row per vertex,
    * `lbl` = the component's minimum doc_id (deterministic; no ordering
    * sensitivity anywhere). The INIT round is free: each vertex starts at
    * min(self, direct neighbors), computed straight off the edge list with
    * no join — only propagation beyond distance 1 pays a join round. Each
    * round is one shuffle-join + hash-agg over the EDGE set, and the
    * convergence check rides the same aggregation (self rows carry their
    * previous label; propagated rows carry MaxValue, so min(old_lbl) IS the
    * previous label) — the round's "changed" count is a narrow filter over
    * the checkpointed output, not a second join job (A/B on sf0.1:
    * 3.96 → 3.51 s; the free init round then 3.51 → 3.27 s).
    * Rounds = component radius; near-dup components are
    * shallow hubs, so 1-3 rounds in practice — for graphs whose diameter
    * or hub degree is unbounded, use [[connectedComponentsContracted]]
    * (large-star/small-star, O(log²) rounds, same output contract). At
    * warehouse scale checkpoint to durable storage. Callers should pass a
    * checkpointed `edges` (it is scanned every round). Property-tested
    * against a union-find oracle over random graphs (DedupClusterSpec). */
  /** Round-boundary materialization for the iterative engines: executor-
    * local blocks by default (fast; lossy on executor death — fine in
    * local mode and for short loops), or DURABLE `checkpoint()` into
    * `dir` when set — the cluster-scale mode (VERDICT r8 Next #9: an
    * executor dying mid-loop under localCheckpoint kills the job; a
    * durable checkpoint recomputes nothing). */
  /** Durable-checkpoint opt-in for the DECLARED queries' iterative
    * engines (VERDICT r11 Next #7): `Cli dedup` threads an explicit dir,
    * but the QueryDefs the bench/Verify surface runs had no seam — on a
    * real cluster an executor death mid-CC-loop under localCheckpoint
    * kills the job with nothing to recompute from. `GRAFT_CKPT_DIR`
    * (env; `graft.ckpt.dir` system property as the in-JVM test seam —
    * env wins) points the round-boundary materialization at durable
    * storage for q_dedup_clusters / q_dedup_payoff without changing the
    * default local-mode behavior. */
  private[graft] def envCheckpointDir: Option[String] =
    sys.env.get("GRAFT_CKPT_DIR").orElse(sys.props.get("graft.ckpt.dir"))
      .filter(_.nonEmpty)

  private def ckpt(df: DataFrame, dir: Option[String]): DataFrame = dir match {
    case Some(d) =>
      val sc = df.sparkSession.sparkContext
      if (!sc.getCheckpointDir.contains(d)) sc.setCheckpointDir(d)
      df.checkpoint()
    case None => df.localCheckpoint()
  }

  /** The verified near-dup EDGE set ((doc_a, doc_b) MinHash-LSH pairs),
    * materialized at a round boundary: the propagation loops scan it every
    * round, so it must never re-run the MinHash pipeline — and in durable
    * mode it must be a reliable `checkpoint()` like the label rounds it
    * feeds (VERDICT r9 #2: an edge block lost to executor death under
    * `localCheckpoint` has nothing to recompute from — the exact failure
    * durable mode exists to survive, one hop upstream). */
  private[graft] def neardupEdgesOf(
      docsIn: DataFrame,
      checkpointDir: Option[String] = None,
      maxBucket: Int = BucketPairs.DefaultMaxBucket): DataFrame =
    ckpt(minhashJaccardPairsOf(docsIn, maxBucket)
      .select(col("doc_a"), col("doc_b")), checkpointDir)

  private[graft] def connectedComponents(
      edges: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    // r21 (guide §2.4 — two operations keyed the same way share one
    // exchange): the loop used to re-shuffle the EDGE set twice per round
    // (a fwd and a bwd shuffle-hash join) plus a third exchange for the
    // union aggregation — ~5 exchanges per round of mostly-identical
    // bytes. Instead, the BIDIRECTIONAL adjacency is hash-partitioned by
    // doc_id ONCE (explicit N so AQE byte-coalescing cannot re-key it —
    // the r20 merge-parallelism argument) and checkpointed; Dataset
    // checkpoints preserve outputPartitioning, so every round's join
    // AND the init aggregation consume it exchange-free, and each round
    // pays exactly ONE exchange (the propagated labels re-keyed by their
    // new vertex). Round results are bit-identical: the (doc_id, lbl)
    // multiset entering each min() is the same as the fwd/bwd spelling's.
    val adj = ckpt(edges
      .select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"))
      .unionByName(edges.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr")))
      .repartition(n, col("doc_id")), checkpointDir)
    // free init round: min(self, direct neighbors), in place on adj's
    // partitioning (no exchange); ckpt'd so the loop reads one bounded
    // frame per round, with the SAME partitioning as adj for the join
    var labels = ckpt(adj
      .groupBy("doc_id")
      .agg(min(least(col("nbr"), col("doc_id"))).as("lbl")), checkpointDir)
    var changed = 1L
    while (changed > 0) {
      // SHUFFLE_HASH pinned: this per-round join runs behind the
      // checkpoint boundary (PlanAuditSpec can't see it), and at scale
      // both sides are big — the default SMJ would pay a per-round sort
      // that a hash join skips; labels (one narrow row per vertex) is
      // the build side. Both sides arrive hash-partitioned by doc_id
      // with the same explicit N, so the join itself adds no exchange.
      val prop = adj.join(labels.hint("shuffle_hash"), "doc_id")
        .select(col("nbr").as("doc_id"), col("lbl"))
      val next = ckpt(labels.withColumn("old_lbl", col("lbl"))
        .unionByName(prop.withColumn("old_lbl", lit(Long.MaxValue)))
        .repartition(n, col("doc_id"))
        .groupBy("doc_id").agg(min("lbl").as("lbl"), min("old_lbl").as("old_lbl")),
        checkpointDir)
      changed = next.filter(col("lbl") < col("old_lbl")).count()
      labels = next.select("doc_id", "lbl")
    }
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the scale path [[connectedComponents]]'s scaladoc points
    * at for graphs whose diameter or hub degree is unbounded: label
    * propagation pays one round per unit of component RADIUS (a
    * 10M-vertex path graph = 10M rounds), while star contraction halves
    * structure every round (O(log²) rounds, in practice a handful).
    *
    *  - large-star(x): every neighbor LARGER than x re-attaches to
    *    m(x) = min(N(x) ∪ {x}) — hubs flatten;
    *  - small-star(x): every neighbor ≤ x (and x) attaches to m(x) —
    *    chains contract.
    *
    * Each half-round is one groupBy + join over the current edge set;
    * edges are kept canonical (u < v, distinct) and checkpointed per
    * round. At fixpoint the edge set IS the star forest (center = the
    * component's min id), so labels read directly off the edges. Same
    * (doc_id, lbl) contract as [[connectedComponents]]; equivalence to a
    * union-find oracle AND to the propagation engine is property-tested
    * over random graphs (DedupClusterSpec). */
  private[graft] def connectedComponentsContracted(
      edges0: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def bidir(e: DataFrame): DataFrame =
      e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
    // m(x) = min over N(x) ∪ {x}, computed once per half-round
    def withM(b: DataFrame): DataFrame =
      b.join(
        b.groupBy("x").agg(min(col("y")).as("mn"))
          .select(col("x"), least(col("x"), col("mn")).as("m"))
          .hint("shuffle_hash"),
        "x")
    var edges = ckpt(
      canon(edges0.select(col("doc_a").as("x"), col("doc_b").as("y"))), checkpointDir)
    var changed = 1L
    while (changed > 0) {
      val ls = ckpt(canon(withM(bidir(edges))
        .filter(col("y") > col("x"))
        .select(col("y").as("x"), col("m").as("y"))), checkpointDir)
      // m over ls feeds BOTH small-star branches; materialize it once
      // instead of re-running its groupBy+join per branch (ADVICE r8) —
      // and ls itself is materialized above because bidir() references it
      // twice inside this very plan
      val lsM = ckpt(withM(bidir(ls)), checkpointDir)
      val ss = ckpt(canon(lsM
        .filter(col("y") <= col("x"))
        .select(col("y").as("x"), col("m").as("y"))
        .unionByName(lsM.select(col("x"), col("m").as("y")))), checkpointDir)
      changed = ss.exceptAll(edges).count() + edges.exceptAll(ss).count()
      edges = ss
    }
    // fixpoint edges are a star forest: v's label is its center u, and
    // each center labels itself
    edges.select(col("v").as("doc_id"), col("u").as("lbl"))
      .unionByName(edges.select(col("u").as("doc_id"), col("u").as("lbl")))
      .groupBy("doc_id").agg(min("lbl").as("lbl"))
  }

  /** The dedup-payoff readout over ANY (source, doc_id, text) frame:
    * MinHash-LSH pairs → connected components → per-cluster keeper
    * election (component-min doc_id) → per-source docs/tokens REMOVED.
    * Shared by q_dedup_payoff (bench documents table) and the CLI's
    * `dedup` command (a loaded collection's fact rows). */
  private[graft] def dedupPayoffOf(
      docsIn: DataFrame, checkpointDir: Option[String] = None,
      maxBucket: Int = BucketPairs.DefaultMaxBucket): DataFrame = {
    val edges = neardupEdgesOf(docsIn, checkpointDir, maxBucket)
    val clusters = connectedComponents(edges, checkpointDir)
    val docs = docsIn
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("tok"))
    // both sides are corpus-sized: pin SHUFFLE_HASH (see neardupPairsOf)
    docs.join(clusters.hint("shuffle_hash"), "doc_id")
      .filter(col("doc_id") =!= col("lbl")) // non-keepers = removals
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_removed"),
        sum(col("tok")).as("tokens_removed"),
        countDistinct(col("lbl")).as("n_clusters"))
      .orderBy("source")
  }

  /** QUALITY-AWARE keeper election over the near-dup clusters — the
    * production variant of [[dedupPayoffOf]]'s min-doc_id rule: within
    * each connected component the KEPT document is the highest-quality
    * member (stopword-ratio score, the corpus's quality axis), not an
    * arbitrary id. Min-id election is reproducible but quality-blind —
    * when a boilerplate-mangled scrape and its clean original land in
    * one cluster, min-id keeps whichever crawled first; real corpus
    * builds (RefinedWeb §3.4's "keep one document per cluster" step)
    * elect the best member. Determinism holds: the score is INTEGER
    * ((stops·10^6) div n_tok — cross-multiplied, no float compare) and
    * ties break on min doc_id, so the keeper is a pure function of the
    * cluster's content.
    *
    * Output per source: docs/tokens REMOVED (the q_dedup_payoff columns
    * under the new election), n_keepers, and keepers_not_minid — how
    * many of this source's elected keepers DIFFER from the min-id rule,
    * the readout that says what quality-aware election actually bought.
    *
    * Shape: labels join the narrow doc projection un-hinted (AQE; the
    * label frame is corpus-fraction-sized at 100 TB — q_dedup_payoff's
    * broadcast-ceiling note), then the election is the groupBy-max +
    * co-keyed SHUFFLE_HASH join-back of [[lineDedupOf]] — cluster sizes
    * are unbounded (a viral page's cluster has millions of members), so
    * the max side map-side-combines and a hot cluster stays inside
    * AQE-splittable join partitions, never a WindowExec partition. */
  private[graft] def clusterKeepBestOf(
      docsIn: DataFrame, checkpointDir: Option[String] = None,
      maxBucket: Int = BucketPairs.DefaultMaxBucket): DataFrame = {
    val edges = neardupEdgesOf(docsIn, checkpointDir, maxBucket)
    val clusters = connectedComponents(edges, checkpointDir)
    val toks = tokens(coalesce(col("text"), lit("")))
    val docs = docsIn.select(
      col("doc_id"), col("source"),
      size(toks).cast(LongType).as("n_tok"),
      size(filter(toks, t => t.isin(enStop: _*))).cast(LongType).as("stops"))
    val scored = docs.join(clusters.hint("shuffle_hash"), "doc_id")
      .withColumn("q", expr("(stops * 1000000) div n_tok"))
      .withColumn("nd", -col("doc_id"))
    val best = scored.groupBy(col("lbl")).agg(
      max(struct(col("q"), col("nd"))).as("best"),
      min(col("doc_id")).as("min_id"))
    scored.join(best.hint("SHUFFLE_HASH"), Seq("lbl"))
      .withColumn("keeper", struct(col("q"), col("nd")) === col("best"))
      .groupBy(col("source"))
      .agg(
        sum(when(!col("keeper"), 1L).otherwise(0L)).as("docs_removed"),
        sum(when(!col("keeper"), col("n_tok")).otherwise(0L)).as("tokens_removed"),
        sum(when(col("keeper"), 1L).otherwise(0L)).as("n_keepers"),
        sum(when(col("keeper") && col("doc_id") =!= col("min_id"), 1L)
          .otherwise(0L)).as("keepers_not_minid"))
      .orderBy("source")
  }

  /** The corpus-selection funnel over ANY (source, doc_id, lang, text)
    * frame (q_corpus_select's engine; see that QueryDef for the design
    * notes): lang-ID gate → quality gate → exact-dedup keeper election
    * among survivors → deterministic hash sampling, with per-source
    * attrition. The CLI's `corpus-select` command feeds it a loaded
    * collection's fact rows. */
  private[graft] def corpusSelectOf(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val nTok = size(toks).cast(LongType)
    val enHits = size(filter(toks, t => t.isin(enStop: _*)))
    val langOk = enHits >= 2
    val stopRatio = enHits.cast(DoubleType) / size(toks).cast(DoubleType)
    val qualityOk = nTok >= 10 && nTok <= 5000 && stopRatio >= 0.02
    val pass = langOk && qualityOk
    val keepRate = when(col("lang") === "en", lit(50)).otherwise(lit(25))
    val sampleOk = md5Bucket(col("doc_id")) < keepRate
    val base = docsIn.select(
      col("source"), col("doc_id"),
      nTok.as("n_tok"),
      pass.as("pass"),
      sampleOk.as("sample_ok"),
      md5(concat_ws(" ", tokenSet(col("text")))).as("fingerprint"))
    val wFp = Window.partitionBy("fingerprint")
    val flagged = base.withColumn(
      "keeper_ok",
      col("pass") &&
        col("doc_id") === min(when(col("pass"), col("doc_id"))).over(wFp))
    flagged.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("keeper_ok"), 1L).otherwise(0L)).as("n_keeper"),
        sum(when(col("keeper_ok") && col("sample_ok"), 1L).otherwise(0L))
          .as("n_selected"),
        sum(when(col("keeper_ok") && col("sample_ok"), col("n_tok"))
          .otherwise(0L)).as("tokens_selected"))
      .orderBy("source")
  }

  /** END-TO-END corpus build manifest over a (source, doc_id, text) frame
    * — the q_corpus_build engine (VERDICT r15 Next #5): the now-complete
    * curation rungs composed in their production order, each stage
    * filtering the previous stage's survivors, with a per-stage,
    * per-source attrition table as the output — the dataset card's "how
    * we got here" half. Stages (all predicates are the standalone
    * operators' own spellings, so the manifest and the per-rung queries
    * cannot disagree — population consistency is pinned in
    * CorpusPipelineSpec):
    *   0 raw            — the input corpus;
    *   1 gopher         — [[gopherRulesOf]]'s six document rules;
    *   2 c4_lines       — the q_c4_lines page derivation; a doc survives
    *                      iff not lorem-dropped and ≥1 line passes (the
    *                      line filter is a TRANSFORM in production; here
    *                      the manifest records its document attrition);
    *   3 line_dedup     — corpus-wide first-occurrence line dedup
    *                      ([[lineDedupOf]]'s election, CCNet's rung
    *                      between the C4 filter and exact dedup — VERDICT
    *                      r16 #3) over the c4-derived page lines of the
    *                      stage-2 survivors; a doc survives iff it owns
    *                      ≥1 elected first-occurrence content line (its
    *                      content does not entirely collapse into
    *                      earlier docs' lines);
    *   4 exact_dedup    — min-doc_id keeper election per content
    *                      fingerprint among the survivors;
    *   5 decontaminate  — drop the eval hash-slice itself and every doc
    *                      sharing a 4-token shingle with it
    *                      (q_decontaminate's broadcast-semi shape);
    *   6 quality_gate   — [[qualityGateOf]]'s per-source bottom-decile
    *                      rank cut among the remaining docs;
    *   7 split_train    — keep the train 90% of the content-stable split;
    *   8 mix_targets    — [[sourceMixOf]]'s sqrt-temperature target draw
    *                      over the final train set (same population as 7;
    *                      n_target non-null only here).
    * Output: (stage_idx, stage, source, n_docs, n_tokens, n_target),
    * ordered (stage_idx, source); a source whose docs all die at a stage
    * simply has no row from that stage on.
    *
    * Shape — the 100 TB constraint that drove the spelling: every stage
    * is a CUMULATIVE per-row flag computed in ONE pass (the
    * corpusSelectOf idiom), so the whole manifest costs one corpus scan
    * + the fingerprint window + the decontamination join + one
    * source-keyed window pair + ONE per-source aggregation — NOT a
    * per-stage re-aggregation of the survivor chain, which would replan
    * the corpus subtree once per stage (8 scans; the first cut of this
    * operator measured 76 exchanges vs this plan's one-scan shape). The
    * line-dedup stage is the one rung that cannot be a per-row flag (its
    * election is corpus-keyed over the LINE domain), so it rides as a
    * second side input next to decontamination's: the elected winner
    * docs distinct to a doc_id set and SHUFFLE_HASH-joined into the flag
    * pipeline ADJACENT to the contamination join, so one doc_id exchange
    * of the corpus serves both joins — "one pass + the line election",
    * exactly the promised growth. The
    * quality-gate rank among survivors is the conditional-sum window
    * (survivor count over (score ASC, doc_id ASC) ROWS UNBOUNDED
    * PRECEDING — bit-identical to row_number over the filtered set since
    * doc_id totalizes the order); the stage rows then EXPLODE from the
    * single sources-bounded aggregate row, and the mix normalizer is a
    * global window over that same bounded frame (never a recompute). */
  /** `mixPolicy` selects the FINAL mix stage's allocation (VERDICT r18
    * Next #8 — a parameter, not a new pass: both policies derive from
    * the same per-source train aggregate the funnel already computes):
    *  - `"sqrt"` (default, q_corpus_build's declared shape) —
    *    [[sourceMixOf]]'s sqrt-temperature draw of 100000 examples;
    *  - `"unimax"` — [[unimaxMixOf]]'s integer water-filling of a
    *    100000-TOKEN budget under a cap of `unimaxMaxEpochs` epochs per
    *    source, run over the sources-bounded aggregate frame (the same
    *    window chain as the declared q_mix_unimax). The stage-8 rows
    *    carry the policy in their stage name (`mix_targets_unimax`), so
    *    a manifest is self-describing; stages 0–7 are policy-independent
    *    (CorpusPipelineSpec pins the shared-funnel equivalence). */
  private[graft] def corpusBuildOf(
      docsIn: DataFrame, mixPolicy: String = "sqrt",
      unimaxMaxEpochs: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(mixPolicy == "sqrt" || mixPolicy == "unimax",
      s"mixPolicy must be 'sqrt' or 'unimax', got '$mixPolicy'")
    graft.functions.GraftExtensions.ensureRegistered(docsIn.sparkSession)
    // fanOut ONCE at the seam (r20): every funnel stage re-derives its
    // per-doc rules (tokenize, Gopher, the C4 page machinery, 4-gram
    // shingles) from docsIn, and each subtree otherwise partial-
    // aggregates directly above the single-row-group scan — the sweep
    // measured 2.0 s + 0.8 s of CPU on ONE task of 32. The round-robin
    // moves the doc rows once per subtree and buys full-core rule
    // evaluation; for the CLI/streaming callers (already-partitioned
    // frames) it is one narrow shuffle against ~µs-per-row rule CPU.
    val docsRR = Tables.fanOut(docsIn)
    // coalesce(text, '') — the unimax targets seam counts tokens the way
    // mixEpochFromTargets does (every doc >= 1 token; ADVICE r19), and
    // the c4 line machinery already coalesces
    val toks = tokens(coalesce(col("text"), lit("")))
    val nw = size(toks).cast(LongType)
    val stops = size(filter(toks, t => t.isin(enStop: _*))).cast(LongType)
    // the SHARED rule spellings (GopherRules / c4DerivedPage + c4LineKeep)
    // — the manifest's stages are the standalone operators' own
    // expressions by construction, not copies that can drift
    val gopherPass = GopherRules.pass
    val mtext = c4DerivedPage
    val c4Pass = !contains(lower(mtext), lit("lorem ipsum")) &&
      size(filter(split(mtext, "\n"), l => c4LineKeep(l))) >= 1
    val base = docsRR.select(
      col("source"), col("doc_id"), nw.as("n_tok"),
      gopherPass.as("g_ok"), c4Pass.as("c4_ok"),
      md5(concat_ws(" ", tokenSet(col("text")))).as("fp"),
      (pmod(col("doc_id"), lit(97)) === 0).as("is_eval"),
      (stops.cast(DoubleType) / size(toks)).as("score"),
      md5Bucket(col("doc_id")).as("bucket"))
    // decontamination side input: q_decontaminate's shape — eval grams
    // stay benchmark-sized (broadcast at any train scale)
    val grams = call_function("token_grams", toks, lit(4))
    val shingled = docsRR.filter(size(toks) >= 4)
      .select(col("doc_id"), explode_outer(grams).as("gram"))
    val evalGrams = shingled.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select("gram").distinct()
    val contaminated = shingled.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .join(broadcast(evalGrams), Seq("gram"))
      .select("doc_id").distinct()
    // line-dedup side input (stage 3): the line election is corpus-keyed
    // over the LINE domain, so it cannot be a per-row flag — it derives
    // the stage-2 survivors' c4 page lines through the SHARED
    // keyedLinesOf spelling and the salted skew-free election
    // (lineWinnersOf), then collapses the winners to the doc_id set that
    // still owns content; everything downstream stays in the one-pass
    // flag pipeline
    val ldDocs = lineWinnersOf(
      keyedLinesOf(docsRR.filter(gopherPass && c4Pass)
          .select(col("source"), col("doc_id"), mtext.as("text")))
        .filter(col("norm") =!= ""))
      .select("doc_id").distinct()
      .withColumn("ld_has", lit(true))
    // cumulative per-row survival flags — one pass, no survivor-chain
    // re-aggregation (see the shape note above)
    val sv2 = col("g_ok") && col("c4_ok")
    val ldOk = sv2 && col("ld_has").isNotNull
    val keeperOk = col("ld_ok") &&
      col("doc_id") ===
        min(when(col("ld_ok"), col("doc_id"))).over(Window.partitionBy("fp"))
    // contaminated and ldDocs grow with the corpus — SHUFFLE_HASH, never
    // an estimate-driven broadcast (the robust-joins house rule); both
    // join on doc_id back-to-back so one exchange of the corpus side
    // serves both
    val wRank = Window.partitionBy("source")
      .orderBy(col("score").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy("source")
    val flagged = base
      .join(ldDocs.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .join(contaminated.withColumn("contam", lit(true)).hint("SHUFFLE_HASH"),
        Seq("doc_id"), "left")
      .withColumn("ld_ok", ldOk)
      .withColumn("keeper_ok", keeperOk)
      .withColumn("decon_ok",
        col("keeper_ok") && !col("is_eval") && col("contam").isNull)
      .withColumn("srank",
        sum(when(col("decon_ok"), 1L).otherwise(0L)).over(wRank))
      .withColumn("nsurv",
        sum(when(col("decon_ok"), 1L).otherwise(0L)).over(wSrc))
      .withColumn("qg_ok", col("decon_ok") && col("srank") > expr("(nsurv + 9) div 10"))
      .withColumn("train_ok", col("qg_ok") && col("bucket") < 90)
    def cnt(c: Column, name: String) = sum(when(c, 1L).otherwise(0L)).as(name)
    def tok(c: Column, name: String) =
      sum(when(c, col("n_tok")).otherwise(0L)).as(name)
    val per = flagged.groupBy(col("source")).agg(
      count(lit(1)).as("n0"), sum(col("n_tok")).as("t0"),
      cnt(col("g_ok"), "n1"), tok(col("g_ok"), "t1"),
      cnt(sv2, "n2"), tok(sv2, "t2"),
      cnt(col("ld_ok"), "n3"), tok(col("ld_ok"), "t3"),
      cnt(col("keeper_ok"), "n4"), tok(col("keeper_ok"), "t4"),
      cnt(col("decon_ok"), "n5"), tok(col("decon_ok"), "t5"),
      cnt(col("qg_ok"), "n6"), tok(col("qg_ok"), "t6"),
      cnt(col("train_ok"), "n7"), tok(col("train_ok"), "t7"))
    val Dec = DecimalType(38, 18)
    // the mix normalizer is a global window over the SOURCES-bounded
    // aggregate frame — never a recompute of the corpus subtree. The
    // zero-total guard is load-bearing for the INCREMENTAL manifest
    // (Streaming.appendCorpusManifest): a collection whose docs all die
    // before split_train has w_tot = 0, and under ANSI the unguarded
    // divide crashes the close drain — every target is simply 0 then.
    val share = when(col("w_tot") > 0, round(
      col("w_dec").cast(DoubleType) / col("w_tot").cast(DoubleType), 9))
      .otherwise(lit(0.0))
    val nullT = lit(null).cast(LongType)
    def st(idx: Long, name: String, n: Column, t: Column, tgt: Column) =
      struct(lit(idx).as("stage_idx"), lit(name).as("stage"),
        n.as("n_docs"), t.as("n_tokens"), tgt.as("n_target"))
    val MixBudget = 100000L
    val targeted = mixPolicy match {
      case "unimax" =>
        // the q_mix_unimax window chain over the SOURCES-bounded `per`
        // frame with n_tokens := the train-stage tokens (t7) — no new
        // pass, the water-filling reads the aggregate the funnel already
        // computed; the all-capped edge never reaches the div branch
        // (CaseWhen short-circuits per row — the unimaxMixOf audit)
        val wAsc = Window.orderBy(col("cap_tokens").asc, col("source").asc)
        val run = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val all = Window.partitionBy()
        per.withColumn("cap_tokens", col("t7") * lit(unimaxMaxEpochs))
          .withColumn("i", row_number().over(wAsc).cast(LongType))
          .withColumn("n_src", count(lit(1)).over(all))
          .withColumn("prefix", sum(col("cap_tokens")).over(run))
          .withColumn("ok",
            col("cap_tokens") * (col("n_src") - col("i") + 1) <=
              lit(MixBudget) - (col("prefix") - col("cap_tokens")))
          .withColumn("capped",
            min(when(col("ok"), 1L).otherwise(0L)).over(run) === 1L)
          .withColumn("spent",
            sum(when(col("capped"), col("cap_tokens")).otherwise(0L)).over(all))
          .withColumn("k", sum(when(col("capped"), 1L).otherwise(0L)).over(all))
          .withColumn("n_target",
            when(col("capped"), col("cap_tokens"))
              .otherwise(expr(s"(${MixBudget}L - spent) div (n_src - k)")))
      case _ =>
        per
          .withColumn("w_dec", sqrt(col("t7").cast(DoubleType)).cast(Dec))
          .withColumn("w_tot",
            sum(col("w_dec")).over(Window.partitionBy()).cast(Dec))
          .withColumn("n_target",
            floor(lit(MixBudget.toDouble) * share).cast(LongType))
    }
    val mixStage = if (mixPolicy == "unimax") "mix_targets_unimax" else "mix_targets"
    targeted
      .select(col("source"), explode(array(
        st(0L, "raw", col("n0"), col("t0"), nullT),
        st(1L, "gopher", col("n1"), col("t1"), nullT),
        st(2L, "c4_lines", col("n2"), col("t2"), nullT),
        st(3L, "line_dedup", col("n3"), col("t3"), nullT),
        st(4L, "exact_dedup", col("n4"), col("t4"), nullT),
        st(5L, "decontaminate", col("n5"), col("t5"), nullT),
        st(6L, "quality_gate", col("n6"), col("t6"), nullT),
        st(7L, "split_train", col("n7"), col("t7"), nullT),
        st(8L, mixStage, col("n7"), col("t7"), col("n_target")))).as("s"))
      .filter(col("s.n_docs") > 0)
      .select(col("s.stage_idx").as("stage_idx"), col("s.stage").as("stage"),
        col("source"), col("s.n_docs").as("n_docs"),
        col("s.n_tokens").as("n_tokens"), col("s.n_target").as("n_target"))
      .orderBy("stage_idx", "source")
  }

  /** Per-source bottom-decile quality gate over a (source, doc_id, text)
    * frame — the q_quality_gate engine, reused by `Cli quality-gate`.
    * Data-driven gating: production pipelines don't use fixed thresholds
    * (corpusSelectOf's demo constants), they cut each source's own bottom
    * decile so a uniformly-noisy source isn't wiped out and a
    * uniformly-clean one still sheds its worst. The cut is RANK-based
    * (drop rows ranked ≤ ceil(n/10) by (score ASC, doc_id)), not
    * threshold-based — exact, tie-stable, and free of the 0.1×n
    * floating-point trap (ceil computed as (n+9) div 10 in INTEGER
    * arithmetic on both engines; 0.1*380 in doubles is
    * 38.000000000000004 and would ceil to 39). One shuffle by source for
    * the per-source rank sort — the same per-key ordered-scan shape as
    * the compile family; the emitted frame is one row per source
    * (threshold + attrition counts), driver-bounded at any corpus size. */
  /** Per-source Gopher rule-filter rollup (Rae et al. 2021 Table A1) —
    * the q_gopher_rules engine, reused by `Cli gopher-rules`. Every rule
    * is a pure per-row predicate with its ratio threshold cross-
    * multiplied into integer arithmetic (no float compares); one
    * map-side-combined per-source aggregation. */
  /** The six Gopher rule fail-flags over `col("text")` — THE one spelling
    * shared by [[gopherRulesOf]] (per-rule counts) and [[corpusBuildOf]]
    * (the combined gate), so the manifest's gopher stage and the
    * standalone rollup cannot drift (the bm25ScoreExpr discipline applied
    * here — code-review r16). */
  private object GopherRules {
    private val toks = tokens(col("text"))
    private val nw = size(toks).cast(LongType)
    // single-space tokenization invariant (the house rule): total
    // token characters = text length minus the nw-1 separators
    private val sumLen = (length(col("text")) - (nw - 1)).cast(LongType)
    private val alpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast(LongType)
    private val stops = size(filter(toks, t => t.isin(enStop: _*))).cast(LongType)
    private val syms = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast(LongType)
    private val uniq = size(array_distinct(toks)).cast(LongType)
    val fWords: Column = !(nw >= 20 && nw <= 100000)
    val fMeanLen: Column = !(nw * 3 <= sumLen && sumLen <= nw * 10)
    val fAlpha: Column = !(alpha * 5 >= nw * 4)
    val fStop: Column = !(stops >= 2)
    val fSymbol: Column = !(syms * 10 < nw)
    val fRep: Column = !(uniq * 2 >= nw)
    val pass: Column = !fWords && !fMeanLen && !fAlpha && !fStop && !fSymbol && !fRep
  }

  private[graft] def gopherRulesOf(docsIn: DataFrame): DataFrame = {
    import GopherRules._
    def cnt(c: Column, name: String) =
      sum(when(c, 1L).otherwise(0L)).as(name)
    docsIn
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        cnt(pass, "n_pass"),
        cnt(fWords, "fail_words"), cnt(fMeanLen, "fail_meanlen"),
        cnt(fAlpha, "fail_alpha"), cnt(fStop, "fail_stop"),
        cnt(fSymbol, "fail_symbol"), cnt(fRep, "fail_rep"))
      .orderBy("source")
  }

  /** C4-style LINE-level boilerplate filter (Raffel et al. 2020 §2.2) —
    * the production rung between [[gopherRulesOf]] (document-level
    * verdicts) and the span-level substring scrub: real corpus builds
    * drop BOILERPLATE LINES (nav bars, cookie banners, code fragments)
    * from pages that are otherwise worth keeping. Per-line rules, each a
    * pure predicate over the line:
    *   - ends in terminal punctuation (. ! ? ");
    *   - carries at least 3 words;
    *   - contains no curly brace (templating/code fragments);
    *   - does not mention "javascript" (noscript warnings);
    *   - does not mention "cookie" (consent banners);
    * plus the one PAGE-level rule in the list — a page containing
    * "lorem ipsum" is dropped whole (every line removed, clean_text '').
    * Survivors re-join as `clean_text` in original line order.
    *
    * Input: (source, doc_id, text) with '\n'-separated lines; CRLF input
    * is normalized — a trailing '\r' is stripped from every line BEFORE
    * the rules run (Java regex `$` matches before a final \r, RE2-family
    * engines don't, so an unstripped \r would both diverge from the
    * documented oracle semantics and leak into clean_text) — and
    * clean_text re-joins with plain '\n'. Null text reads as empty (the
    * null-total house contract). Output, one row per
    * DOC: (source, doc_id, clean_text, n_lines, n_kept, fail_punct,
    * fail_words, fail_brace, fail_js, fail_cookie, doc_lorem) — the
    * per-rule counts are independent (a line can fail several), and they
    * count rule HITS even on lorem-dropped pages, so the rollup separates
    * "dropped by the page rule" from "dropped by line rules". Everything
    * is codegen'd higher-order functions over the split line array — one
    * narrow per-row stage, no shuffle at any corpus size (callers
    * aggregate or write; the q_c4_lines demo rolls up per source). */
  // The five C4 line rules — ONE spelling each, shared by [[c4LinesOf]]
  // (per-rule counts over real \r-stripped lines), the q_c4_lines demo
  // and [[corpusBuildOf]]'s stage gate (code-review r16: the manifest
  // previously copy-pasted them, the exact drift hazard the shared
  // bm25ScoreExpr closes for retrieval).
  private def c4PunctOk(l: Column): Column = l.rlike("[.!?\"]$")
  private def c4WordsOk(l: Column): Column = size(split(l, " ")) >= 3
  private def c4BraceOk(l: Column): Column =
    !(contains(l, lit("{")) || contains(l, lit("}")))
  private def c4JsOk(l: Column): Column = !contains(lower(l), lit("javascript"))
  private def c4CookieOk(l: Column): Column = !contains(lower(l), lit("cookie"))
  private def c4LineKeep(l: Column): Column =
    c4PunctOk(l) && c4WordsOk(l) && c4BraceOk(l) && c4JsOk(l) && c4CookieOk(l)

  /** The deterministic multi-line page derivation over `col("text")`
    * (6-token lines, '.' appended on even character length) the
    * single-line punctuation-free corpus needs before the C4 line rules
    * can bite — shared by the q_c4_lines demo and [[corpusBuildOf]]'s C4
    * stage; every step re-derivable by the oracles. */
  private def c4DerivedPage: Column = {
    val toks = split(coalesce(col("text"), lit("")), " ")
    val mkLine = (i: Column) => array_join(slice(toks, i * 6 + 1, lit(6)), " ")
    val withDot = (i: Column) =>
      when(length(mkLine(i)) % 2 === 0, concat(mkLine(i), lit(".")))
        .otherwise(mkLine(i))
    val nLines = ((size(toks) + lit(5)) / lit(6)).cast(IntegerType)
    array_join(transform(sequence(lit(0), nLines - 1), i => withDot(i)), "\n")
  }

  private[graft] def c4LinesOf(docsIn: DataFrame): DataFrame = {
    val lines = transform(
      split(coalesce(col("text"), lit("")), "\n"),
      l => regexp_replace(l, "\r$", ""))
    val punctOk = c4PunctOk _
    val wordsOk = c4WordsOk _
    val braceOk = c4BraceOk _
    val jsOk = c4JsOk _
    val cookieOk = c4CookieOk _
    val keep = c4LineKeep _
    val lorem = contains(lower(coalesce(col("text"), lit(""))), lit("lorem ipsum"))
    def nFail(name: String, bad: Column => Column): Column =
      size(filter(lines, l => bad(l))).cast(LongType).as(name)
    docsIn.select(
      col("source"), col("doc_id"),
      when(lorem, lit("")).otherwise(array_join(filter(lines, keep), "\n"))
        .as("clean_text"),
      size(lines).cast(LongType).as("n_lines"),
      when(lorem, lit(0L))
        .otherwise(size(filter(lines, keep)).cast(LongType)).as("n_kept"),
      nFail("fail_punct", l => !punctOk(l)),
      nFail("fail_words", l => !wordsOk(l)),
      nFail("fail_brace", l => !braceOk(l)),
      nFail("fail_js", l => !jsOk(l)),
      nFail("fail_cookie", l => !cookieOk(l)),
      lorem.as("doc_lorem"))
  }

  /** Corpus-wide duplicate LINE removal over a (source, doc_id, text)
    * frame — the CCNet paragraph-hash dedup (Wenzek et al. 2020 §3.1;
    * RefinedWeb runs the same pass line-level), the granularity rung
    * BETWEEN exact-document dedup (whole-text fingerprint, q_dedup_exact)
    * and exact-substring scrub (token-gram spans, q_substr_scrub):
    * boilerplate lines — nav bars, footers, cookie banners — repeat
    * across millions of pages that are NOT near-duplicates of each
    * other, so neither neighbour rung catches them.
    *
    * Semantics: each '\n'-line (CRLF-normalized like [[c4LinesOf]]) is
    * keyed by its NORMALIZED form — lowercased, every char outside
    * [a-z0-9 space] stripped, space runs collapsed, trimmed (CCNet's
    * normalization, ASCII-simplified to keep both engines' regex
    * semantics identical) — so "Click here!" and "click  here" collide.
    * A key occurring more than once corpus-wide keeps exactly its FIRST
    * occurrence (min (doc_id, line_idx) — keep-first, the
    * q_substr_scrub_keepfirst election at line granularity); later
    * occurrences drop, and survivors re-join as clean_text in original
    * order. Lines that normalize to EMPTY (whitespace/punctuation-only)
    * carry no content and sit OUTSIDE the dedup domain: kept verbatim,
    * keyed by a per-occurrence singleton key so they neither elect nor
    * pile into one degenerate hash group. Output, one row per doc:
    * (source, doc_id, clean_text, n_lines, n_dup, chars_removed).
    *
    * Shape — CCNet's shard-by-hash / regroup-by-document layout as
    * Catalyst exchanges, with a SKEW-FREE election (VERDICT r16 #1): the
    * r16 spelling was min-over-Window on lkey — one exchange, but one
    * hot key's rows (a cookie banner repeated 10^8 times corpus-wide)
    * land in ONE unsplittable WindowExec partition = one task's buffer,
    * the exact shape [[clusterKeepBestOf]]'s scaladoc forbids. The live
    * spelling is the salted two-level election ([[lineFirstOccOf]]):
    * partial min per (lkey, pmod(xxhash64(doc_id), 32)) — map-side
    * combinable, so a hot key ships ≤ tasks×32 partial rows instead of
    * its full occurrence list — then min over the ≤32-row salt groups,
    * then the elected occurrences join back BY COORDINATE, not by key:
    * the winner set is projected to (doc_id, line_idx) pairs
    * ([[lineWinnersOf]]) and left-joined to the line stream on those —
    * a unique, perfectly uniform long/int key, so no leg of the plan
    * ever groups, windows, or hash-joins on the skewable line key with
    * full rows attached. That coordinate trick is MEASURED, not
    * aesthetic: at sf1 the lkey-keyed SHUFFLE_HASH join-back runs ~20 s
    * against this spelling's 0.8 s and the window's 0.9 s (the md5
    * string hash map is the pathology; AbLineDedupBench keeps all the
    * variants) — at-or-below the window's cost even at uniform data,
    * hot-key immune, with no localCheckpoint materialization of corpus
    * bytes.
    * The derivation (explode → normalize → md5) runs twice (election
    * leg column-pruned to ids+key, stream leg with text) — the classic
    * stateless 2×-CPU trade against checkpointing corpus bytes to
    * executor storage. Broadcast is structurally out: the distinct-line
    * frame grows with the corpus. */
  /** The ONE spelling of the line explode + CCNet normalization + key —
    * shared by [[lineDedupOf]] (the batch pass) and
    * [[graft.streaming.LineStore]] (the incremental registry), so batch
    * and streaming dedup cannot disagree on what "the same line" means.
    * Output: (source, doc_id, line_idx, line, norm, lkey), where lkey is
    * md5(norm) for content lines and a per-occurrence singleton key for
    * empty-normalizing lines (outside the dedup domain — they must
    * neither elect nor pile into one degenerate hash group). */
  private[graft] def keyedLinesOf(docsIn: DataFrame): DataFrame = {
    val lines = docsIn.select(
      col("source"), col("doc_id"),
      posexplode(transform(
        split(coalesce(col("text"), lit("")), "\n"),
        l => regexp_replace(l, "\r$", ""))).as(Seq("line_idx", "line")))
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("line")), "[^a-z0-9 ]", ""), " +", " "))
    lines.withColumn("norm", norm).withColumn(
      "lkey",
      when(col("norm") === "",
        concat(lit("s:"), col("doc_id"), lit(":"), col("line_idx")))
        .otherwise(md5(col("norm"))))
  }

  /** Reassemble keep-flagged lines — (source, doc_id, line_idx, line,
    * keep) — into the per-doc output contract (source, doc_id,
    * clean_text, n_lines, n_dup, chars_removed); shared by the batch and
    * streaming legs like [[keyedLinesOf]]. One doc-keyed shuffle; the
    * collect_list is bounded by the document's own line count. */
  private[graft] def reassembleLines(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("source"), col("doc_id")).agg(
      array_join(
        transform(
          filter(
            array_sort(collect_list(struct(col("line_idx"), col("keep"), col("line")))),
            s => s.getField("keep")),
          s => s.getField("line")),
        "\n").as("clean_text"),
      count(lit(1)).as("n_lines"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dup"),
      sum(when(!col("keep"), length(col("line")).cast(LongType)).otherwise(0L))
        .as("chars_removed"))

  /** Salt-group count for the two-level line election — 32 bounds the
    * second-level groups at 32 rows per key while keeping the partial
    * aggregate's key space (lkey × salt) small enough to combine well. */
  private[graft] val LineElectSalts = 32

  /** Skew-free first-occurrence election over a [[keyedLinesOf]] frame:
    * (lkey → first_occ = min (doc_id, line_idx)) computed as a partial
    * min per (lkey, pmod(xxhash64(doc_id), 32)) — map-side combinable,
    * so a 10^8-occurrence boilerplate key ships bounded partial rows —
    * then a min over the ≤32-row salt groups. Deterministic (xxhash64 of
    * the doc id, no RNG); shared by [[lineDedupOf]] and
    * [[graft.streaming.LineStore]] so batch and streaming legs cannot
    * drift. Callers join the result back on lkey (SHUFFLE_HASH — AQE can
    * split a skewed join partition, unlike a window partition). */
  private[graft] def lineFirstOccOf(keyed: DataFrame): DataFrame =
    keyed
      .groupBy(col("lkey"),
        pmod(xxhash64(col("doc_id")), lit(LineElectSalts.toLong)).as("lsalt"))
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("pmin"))
      .groupBy(col("lkey")).agg(min(col("pmin")).as("first_occ"))

  /** The election's winner set projected to COORDINATES: one
    * (doc_id, line_idx, line_win=true) row per distinct line key — the
    * kept occurrence. Joining this back to the line stream on the
    * unique, uniform (doc_id, line_idx) pair (instead of re-keying on
    * lkey) is what keeps the whole election skew-free AND fast: a given
    * coordinate is one line with one key, so winner coordinates are
    * distinct by construction and the left join is multiplicity-safe;
    * empty-normalizing lines carry singleton keys, win their own
    * election, and come out kept, exactly the batch contract. */
  private[graft] def lineWinnersOf(keyed: DataFrame): DataFrame =
    lineFirstOccOf(keyed).select(
      col("first_occ.doc_id").as("doc_id"),
      col("first_occ.line_idx").as("line_idx"),
      lit(true).as("line_win"))

  private[graft] def lineDedupOf(docsIn: DataFrame): DataFrame = {
    val keyed = keyedLinesOf(docsIn)
    val flagged = keyed
      .join(lineWinnersOf(keyed).hint("SHUFFLE_HASH"),
        Seq("doc_id", "line_idx"), "left")
      .withColumn("keep", col("line_win").isNotNull)
    reassembleLines(flagged)
  }

  private[graft] def qualityGateOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val score = size(filter(toks, t => t.isin(enStop: _*))).cast(DoubleType) / size(toks)
    val sc = docs.select(col("source"), col("doc_id"), score.as("score"))
    val rk = sc
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("score").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    rk.groupBy("source").agg(
      max(col("n")).as("n_total"),
      max(expr("(n + 9) div 10")).as("n_cut"),
      (max(col("n")) - max(expr("(n + 9) div 10"))).as("n_kept"),
      round(max(when(col("rn") === expr("(n + 9) div 10"), col("score"))), 9)
        .as("threshold_score"))
      .orderBy("source")
  }

  /** Per-source token-length distribution readout — exact p50/p90/p99
    * by RANK (the value at row ceil(p·n/100) of the per-source length
    * sort), the q_length_quantiles engine. Length percentiles are the
    * first thing a corpus build inspects (truncation budgets, packing
    * window sizing, outlier hunting), and the house determinism rules
    * apply: percentile targets computed as (n·p + 99) div 100 in
    * INTEGER arithmetic (qualityGateOf's (n+9) div 10 generalised — no
    * 0.01·p·n float trap), values read at exact ranks with doc_id
    * tie-stable ordering, no interpolation (Spark's `percentile` and
    * DuckDB's quantile_cont interpolate with engine-specific float
    * arithmetic and would break the oracle hash). One shuffle by
    * source for the rank sort; the aggregation rides the window's
    * hash partitioning. At 100 TB the documented swap is an
    * approx_percentile/KLL sketch per source (mergeable, bounded
    * buffers — the freq_items/profile pattern) once per-source doc
    * counts outgrow a per-key sort; the rank spelling stays the oracle
    * of record. */
  private[graft] def lengthQuantilesOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null text → null len, which Spark sorts FIRST and DuckDB LAST —
    // rank targets would silently diverge; the contract (shared with
    // q_length_sketch) is that null-text docs sit outside the readout
    val lens = docs.filter(col("text").isNotNull).select(
      col("source"), col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("len"))
    val rk = lens
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("len").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    def atP(p: Int) =
      max(when(col("rn") === expr(s"(n * $p + 99) div 100"), col("len")))
    rk.groupBy("source").agg(
      max(col("n")).as("n_docs"),
      atP(50).as("p50_tokens"),
      atP(90).as("p90_tokens"),
      atP(99).as("p99_tokens"),
      max(col("len")).as("max_tokens"))
      .orderBy("source")
  }

  /** Length-BUCKET padding-efficiency readout — the batching decision
    * next to [[lengthQuantilesOf]]'s distribution readout: training
    * loaders that batch by similar length (power-of-two bucketed
    * batching, the Tensor2Tensor/fairseq practice) pad each sequence
    * only to its BUCKET's capacity instead of the batch-max, and this
    * query quantifies exactly what that buys. Each doc lands in the
    * smallest power-of-two bucket ≥ its token length (docs beyond the
    * top 2^20 bucket clamp into it — the truncation-budget semantics);
    * per (source, bucket): doc/token counts and the padding waste
    * n_docs·cap − n_tokens, plus the per-source waste a SINGLE
    * max-length bucket would pay (src_docs·src_max_cap − src_tokens,
    * repeated on each of the source's rows — the comparison the readout
    * exists for). The bucket is pure integer arithmetic via a bounded
    * literal-array lookup (no float log2 — a 2^k boundary through
    * log2's double rounding is engine-specific), so the oracle
    * hash-matches bit-for-bit.
    *
    * Shape: ONE map-side-combined (source, bucket) aggregation over a
    * narrow per-row projection; the source-level comparison columns are
    * a window over the aggregated sources×21-bounded frame, never a
    * corpus recompute. Null-text docs sit outside the readout (the
    * lengthQuantilesOf contract). */
  private[graft] def lengthBucketsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val caps = (0 to 20).map(i => lit(1L << i))
    val len = size(tokens(col("text"))).cast(LongType)
    val cap = coalesce(
      array_min(filter(array(caps: _*), c => c >= col("len"))),
      lit(1L << 20))
    val wSrc = Window.partitionBy("source")
    docs.filter(col("text").isNotNull)
      .select(col("source"), len.as("len"))
      .withColumn("bucket_cap", cap)
      .groupBy(col("source"), col("bucket_cap"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).as("n_tokens"))
      .withColumn("padding_waste",
        col("n_docs") * col("bucket_cap") - col("n_tokens"))
      .withColumn("src_waste_unbucketed",
        sum(col("n_docs")).over(wSrc) * max(col("bucket_cap")).over(wSrc) -
          sum(col("n_tokens")).over(wSrc))
      .orderBy("source", "bucket_cap")
  }

  /** Bigram language-model fluency scoring — the statistical-LM rung of
    * the quality ladder (production corpus filters score documents with
    * a KenLM n-gram model and drop the high-perplexity tail — CCNet,
    * Wenzek et al. 2020; q_quality_score's ratio heuristics and
    * q_quality_gate's percentile cut are the rungs below). The model is
    * the corpus's own bigram table; the per-document score is the MEAN
    * INVERSE CONDITIONAL FREQUENCY over its bigram positions,
    * mean(c1(prev) / c2(prev, cur)) — 1.0 when every continuation is
    * the only one ever observed after its context, growing with
    * surprise. This is a monotone perplexity surrogate chosen for the
    * house bit-determinism rules: true perplexity needs log(), which is
    * libm-dependent and would break the oracle hash (the tf-idf
    * precedent), while c1/c2 is one IEEE double division of two exact
    * integers, summed through DECIMAL(38,18) (exact, order-insensitive)
    * with only the final mean emitted as a rounded double. `n_novel`
    * (bigrams seen exactly once corpus-wide) rides along — the OOV-rate
    * signal that needs no model at all.
    *
    * Scale shape: the bigram counts are CORPUS-cardinality, so they are
    * computed as `count() OVER (PARTITION BY gram)` — ONE shuffle of
    * the bigram stream annotates every position with its corpus count,
    * where the groupBy-then-join spelling shuffles the same stream
    * TWICE (aggregate build + join probe; the window-vs-groupBy+join
    * adjudication ExactSubstr recorded, applied again — and re-measured
    * in AbFreqBench: 7 vs 9 exchanges, and the gap grows with data,
    * 0.94× time at sf0.1 → 0.78× time / 0.92× shuffle bytes on the 10×
    * replica). Skewed
    * mega-bigrams degrade to WindowExec spill, not OOM, exactly like
    * the substr family. The context table is VOCABULARY-bounded — its
    * aggregation's map-side partials are vocab-sized — and broadcast.
    * At 100 TB the LM tables would be trained once and persisted (the
    * VectorStore pattern), leaving one scoring scan; the
    * one-query spelling keeps the oracle self-contained. */
  private[graft] def lmScoreOf(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Dec = DecimalType(38, 18)
    val toks = tokens(col("text"))
    val stream = docsIn
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode_outer(call_function("token_grams", toks, lit(2))).as("gram"))
    val contexts = stream
      .select(substring_index(col("gram"), " ", 1).as("prev"))
      .groupBy("prev").agg(count(lit(1)).as("c1"))
    stream
      .withColumn("c2", count(lit(1)).over(Window.partitionBy("gram")))
      .withColumn("prev", substring_index(col("gram"), " ", 1))
      .join(broadcast(contexts), Seq("prev"))
      .withColumn("ratio_dec",
        (col("c1").cast(DoubleType) / col("c2").cast(DoubleType)).cast(Dec))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c2") === 1L, 1L).otherwise(0L)).as("n_novel"),
        round(sum(col("ratio_dec")).cast(DoubleType) / count(lit(1)), 9)
          .as("surprisal"))
      .orderBy("doc_id")
  }

  /** Trained language identification — the CLASSIFIER rung of the
    * quality/langid ladder (q_langid is the rule-of-thumb stopword
    * heuristic below it): a Naive-Bayes-flavoured model trained from
    * the corpus's own labels in one pass (per-(lang, token) counts and
    * per-lang totals — the closed-form "training" that needs no
    * gradient loop), scored additively: a document's affinity to a
    * language is the sum over its token positions of the MLE
    * class-conditional frequency ctk/ct. Additive instead of
    * multiplicative on purpose — true NB multiplies (sums logs), and
    * log() is libm-dependent (the tf-idf/lm_score determinism rule);
    * each ratio here is one IEEE double division of exact integers,
    * summed through DECIMAL(38,18), argmax tie-broken lexicographically
    * — bit-identical across engines with no rounding anywhere.
    *
    * Scale shape: the model is (languages × vocabulary)-bounded and
    * BROADCAST, so the scoring scan never shuffles the corpus — the
    * token stream joins the model map-side and pre-aggregates
    * per (doc, candidate) with map-side combine; the per-doc argmax
    * window partitions by doc_id over #languages rows per doc. Output
    * is the confusion matrix against the stored labels — the readout
    * that validates a filter model before it gates a corpus. */
  private[graft] def langidNbOf(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Dec = DecimalType(38, 18)
    val stream = docsIn.select(
      col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
    val classTok = stream.groupBy(col("lang").as("cand"), col("tok"))
      .agg(count(lit(1)).as("ctk"))
    // per-language totals derive from the vocab-bounded classTok result
    // (sum of its counts), NOT from a third corpus scan+explode — the
    // identical one-row-per-language table at near-zero cost
    val classTot = classTok.groupBy(col("cand"))
      .agg(sum(col("ctk")).as("ct"))
    // classTot is one row per language — an explicit broadcast, never an
    // estimate (the robust-join rule: estimate-based broadcasts regress
    // to SMJ at scale)
    val model = classTok.join(broadcast(classTot), Seq("cand"))
      .select(col("tok"), col("cand"),
        (col("ctk").cast(DoubleType) / col("ct").cast(DoubleType)).cast(Dec).as("p"))
    val scored = stream
      .join(broadcast(model), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(sum(col("p")).as("affinity"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("affinity").desc, col("cand").asc)))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("cand"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("cand").as("predicted_lang"), col("n"))
      .orderBy("lang", "predicted_lang")
  }

  /** Temperature-resampled source mix over a (source, doc_id, text)
    * frame — the q_source_mix engine, reused by `Cli source-mix`. The
    * training-mix weights multilingual/clustered corpora train with:
    * proportional sampling drowns small sources, uniform over-trains
    * them, so the mix interpolates with w_s ∝ n_s^α. α is pinned at 0.5
    * because sqrt is the one power IEEE-754 requires CORRECTLY ROUNDED —
    * bit-identical across engines — where pow(n, 0.7) is libm-dependent
    * and would break the oracle hash. The normalizer sums the per-source
    * sqrt weights through DECIMAL(38,18) (exact, order-insensitive — the
    * house rule for cross-row double sums); only the final share division
    * is double, rounded to 9. One map-side-combined aggregation + a 1-row
    * broadcast normalizer. */
  private[graft] def sourceMixOf(docs: DataFrame): DataFrame = {
    val Dec = DecimalType(38, 18)
    val per = docs
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
      .withColumn("w_dec", sqrt(col("n_tokens").cast(DoubleType)).cast(Dec))
    val tot = per.agg(sum(col("w_dec")).cast(Dec).as("w_tot"))
    val share = round(
      col("w_dec").cast(DoubleType) / col("w_tot").cast(DoubleType), 9)
    per.crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        share.as("weight"),
        floor(lit(100000.0) * share).cast(LongType).as("n_target"))
      .orderBy("source")
  }

  /** UNIMAX source mixing (Chung et al. 2023): allocate a token budget
    * across sources as UNIFORMLY as possible subject to a per-source
    * epoch cap — the published alternative to [[sourceMixOf]]'s
    * temperature interpolation, built for the regime where small
    * sources must not be over-repeated (cap = maxEpochs × n_tokens)
    * while the leftover budget spreads evenly over the rest. This is
    * water-filling, spelled EXACTLY (no floats anywhere until the final
    * epochs readout): sort sources ascending by cap, a source is capped
    * iff the remaining budget spread evenly over the remaining sources
    * still covers its cap AT EVERY PREFIX (the running-AND makes the
    * capped set the maximal prefix — the greedy's invariant), and every
    * uncapped source gets the same integer share
    * (B − Σ capped) div (N − k). All comparisons and the share are
    * 64-bit integer arithmetic (at 100 TB cap × n_src stays well inside
    * Long; the oracle's BIGINT `//` replays it bit-for-bit); only the
    * epochs column divides doubles, rounded to 9.
    *
    * Shape: ONE map-side-combined corpus aggregation; everything after
    * is windows over the SOURCES-bounded frame (the mix-normalizer
    * precedent). Output: (source, n_docs, n_tokens, cap_tokens, capped,
    * n_target, epochs), ordered by source. */
  private[graft] def unimaxMixOf(
      docs: DataFrame, totalBudget: Long, maxEpochs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coalesce(text, '') — the SAME token count mixEpochFromTargets uses
    // for its per-doc wt (wt >= 1), so sum(wt) == n_tokens holds even on
    // a null-text doc; size(split(null)) would break the cap/undershoot
    // proof at the targets seam (ADVICE r19)
    val per = docs
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(coalesce(col("text"), lit("")))).cast(LongType))
          .as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * lit(maxEpochs))
    val wAsc = Window.orderBy(col("cap_tokens").asc, col("source").asc)
    val run = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    per
      .withColumn("i", row_number().over(wAsc).cast(LongType))
      .withColumn("n_src", count(lit(1)).over(all))
      .withColumn("prefix", sum(col("cap_tokens")).over(run))
      .withColumn("ok",
        col("cap_tokens") * (col("n_src") - col("i") + 1) <=
          lit(totalBudget) - (col("prefix") - col("cap_tokens")))
      .withColumn("capped",
        min(when(col("ok"), 1L).otherwise(0L)).over(run) === 1L)
      .withColumn("spent",
        sum(when(col("capped"), col("cap_tokens")).otherwise(0L)).over(all))
      .withColumn("k", sum(when(col("capped"), 1L).otherwise(0L)).over(all))
      .withColumn("n_target",
        when(col("capped"), col("cap_tokens"))
          .otherwise(expr(s"(${totalBudget}L - spent) div (n_src - k)")))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("cap_tokens"),
        col("capped"), col("n_target"),
        when(col("n_tokens") > 0,
          round(col("n_target").cast(DoubleType)
            / col("n_tokens").cast(DoubleType), 9)).as("epochs"))
      .orderBy("source")
  }

  /** The fixed demo query-term set shared by q_bm25_topk and the hybrid
    * fusion (q_hybrid_rrf) — the "shared query set" both retrieval legs
    * rank against. */
  private[graft] val DefaultQueryTerms = Seq("dup", "spark", "merge", "key")

  /** The BM25 scoring CTEs (docs/tf/dft/tot/scored — per-(doc, term)
    * DECIMAL scores for [[DefaultQueryTerms]]), shared VERBATIM by the
    * q_bm25_topk oracle and the q_hybrid_rrf oracle's lexical leg: ONE
    * spelling of the exact-rational BM25, like the Scala side's one
    * [[bm25ScoresOf]] — a change here changes both oracles together
    * instead of silently diverging (r15 review). */
  private[graft] val Bm25OracleCtes: String =
    s"""docs AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |         string_split(text, ' ') AS tk
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, dl, token, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(tk) AS token FROM docs)
       |  WHERE token IN (${DefaultQueryTerms.map("'" + _ + "'").mkString(", ")})
       |  GROUP BY doc_id, dl, token),
       |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |tot AS (SELECT count(*) AS n_docs, sum(dl) AS t_all FROM docs),
       |scored AS (
       |  SELECT tf.doc_id,
       |         CAST((CAST(tf.tf * tot.t_all * 22 AS DOUBLE)
       |               / CAST(tf.tf * tot.t_all * 10 + tot.t_all * 3
       |                      + tf.dl * tot.n_docs * 9 AS DOUBLE))
       |              * (CAST(tot.n_docs * 2 - dft.df * 2 + 1 AS DOUBLE)
       |                 / CAST(dft.df * 2 + 1 AS DOUBLE))
       |              AS DECIMAL(38,18)) AS score_dec
       |  FROM tf JOIN dft ON dft.token = tf.token CROSS JOIN tot)""".stripMargin

  /** BM25-scored documents for a query-term set — the sparse half of the
    * retrieval stack (dense = q_knn_join / the ANN ladder), and the
    * scoring rung above q_tfidf_topterms. Exact-rational spelling of
    * Robertson's k1 = 1.2, b = 0.75 so the score is bit-deterministic
    * cross-engine: with T = corpus tokens, N = docs, dl = doc length,
    *   tf-part  = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)   (all integers)
    *   idf-part = (2N − 2df + 1) / (2df + 1)           (the BM25 idf
    *     ratio (N − df + ½)/(df + ½) doubled through — logarithm-free,
    *     the house q_lm_score/q_tfidf precedent: log() bits are
    *     engine-specific, monotone ratios are not)
    * — two exact integer expressions, ONE double division each,
    * multiplied per row, summed in DECIMAL per doc. Plan: the explode
    * FILTERS to the query terms before any shuffle (the token stream
    * that aggregates is |terms|-bounded per doc); df and the scalar
    * totals broadcast back. At 100 TB this is the same shape as an
    * inverted-index probe: scan + filter + bounded agg, never a
    * corpus-wide join.
    *
    * tf·t_all cross-products go through DECIMAL(38,0) (the
    * q_source_divergence discipline): at 100 TB t_all is ~1e13-1e14
    * tokens, so the Long spelling overflows (ANSI throws, legacy
    * silently wraps) — decimal keeps the products exact to 1e38. The
    * idf leg stays Long: 2·n_docs is nowhere near the edge. Oracles
    * keep plain ints (DuckDB sums BIGINT into HUGEINT); both sides'
    * values are identical at verify scale, so the double casts agree
    * bit-for-bit. Output: (doc_id, n_terms, score_dec) for every doc
    * containing at least one query term, unordered — callers rank. */
  private[graft] def bm25ScoresOf(docsIn: DataFrame, qterms: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    val docs = docsIn
      .select(col("doc_id"), size(toks).cast(LongType).as("dl"), toks.as("tk"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("token"))
      .filter(col("token").isin(qterms: _*))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val tot = docs.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("t_all"))
    tf.join(broadcast(dfT), Seq("token"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        bm25ScoreExpr(col("tf"), col("dl"), col("df"),
          col("n_docs"), col("t_all")).as("score_dec"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("score_dec")).as("score_dec"))
  }

  /** The ONE spelling of the per-(doc, term) exact-rational BM25 score —
    * shared by the full-scan engine above and the persisted-index probe
    * ([[graft.streaming.PostingsStore.probe]]), so an indexed search is
    * byte-identical to the scan by construction (the Bm25OracleCtes
    * discipline applied to the Scala side: one expression, two callers).
    * Inputs may be columns or literals; all arithmetic and casts are
    * exactly the expression documented on [[bm25ScoresOf]]. Returns the
    * per-part DECIMAL(38,18) score — callers DECIMAL-sum per doc. */
  private[graft] def bm25ScoreExpr(
      tf: Column, dl: Column, df: Column, nDocs: Column, tAll: Column): Column = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    (((dec(tf) * dec(tAll) * 22).cast(DoubleType)
      / (dec(tf) * dec(tAll) * 10 + dec(tAll) * 3
        + dec(dl) * dec(nDocs) * 9).cast(DoubleType)) *
      ((nDocs * 2 - df * 2 + 1).cast(DoubleType)
        / (df * 2 + 1).cast(DoubleType)))
      .cast(DecimalType(38, 18))
  }

  /** Corpus heavy-hitter n-grams through the bounded mergeable
    * `freq_items` sketch (Misra–Gries / Space-Saving with the Agarwal
    * et al. 2012 merge — see functions/FreqItems.scala): the frequency
    * readout q_token_df computes exactly for TOKENS (vocabulary-bounded,
    * so an exact groupBy is safe at any scale) is NOT safe for n-grams,
    * whose cardinality grows with the corpus — at 100 TB an exact
    * `groupBy(gram)` shuffles billions of distinct keys. This plan's
    * shuffle carries at most partitions × capacity counters instead: one
    * scan, per-partition bounded sketch buffers, one bounded final merge.
    *
    * The `est >= minCount` filter reports only GUARANTEED-heavy grams
    * (est is a lower bound at any scale). On this corpus capacity 2^16
    * exceeds the distinct-gram count (~16k at sf0.01, ~27k at sf0.1), so
    * every buffer stays exact (err = 0), the output IS the exact
    * `HAVING count(*) >= minCount` answer, and the DuckDB oracle checks
    * it hash-exact — the q_profile_orders pattern (exact at oracle
    * scale, the approximation being the documented 100 TB contract),
    * except here the approximation is per-row self-describing rather
    * than a swap. Final merge cost is partitions × capacity entries in
    * ONE task — at 1000 executors × 2^16 counters that is ~65M entry
    * merges, a single-digit-seconds reducer; capacity budgets beyond
    * that would pre-merge per executor first (documented, not needed
    * at any tested scale).
    *
    * Measured (AbFreqBench, min-of-N interleaved, 32 cores): vs the
    * exact `groupBy(gram)` spelling the sketch runs 0.6-0.7× the time
    * at sf0.1 (cardinality 27k < capacity — the sketch's worst case,
    * byte ratio 1.03×) and 0.71× the time at 0.34× the shuffle bytes
    * (19 vs 57 MiB) on the 10× ScaleGen replica, where the per-copy
    * token namespaces push gram cardinality past capacity — the byte
    * gap that keeps growing with the corpus while the sketch side
    * stays fixed. */
  private[graft] def heavyTermsOf(
      docsIn: DataFrame, width: Int = 3, capacity: Int = 1 << 16,
      minCount: Long = 5L): DataFrame = {
    val toks = tokens(col("text"))
    val grams = call_function("token_grams", toks, lit(width))
    // *_outer + explicit size guard: the non-outer explode's implicit
    // size>0 Generate condition gets pushed below fanOut's exchange onto
    // the single-task scan (the r11 audit's pushdown trap)
    docsIn
      .filter(size(toks) >= width)
      .select(explode_outer(grams).as("gram"))
      .agg(call_function("freq_items", col("gram"), lit(capacity)).as("hh"))
      .select(explode(col("hh")).as("e"))
      .filter(col("e.est") >= minCount)
      .select(col("e.item").as("gram"), col("e.est").as("n"))
      .orderBy(col("n").desc, col("gram"))
  }

  /** Per-key KMV sketch frame over the `width`-token shingle stream: one
    * row per key holding the k smallest DISTINCT content-stable shingle
    * hashes ascending (the native bounded `bottomk` aggregate — see
    * [[graft.functions.BottomK]]). The seam shared by q_kmv_overlap
    * (key = source) and `Cli overlap` (key = a collection label): ONE
    * corpus shuffle of k-long buffers regardless of corpus size, where
    * the exact spelling (q_source_overlap) shuffles every distinct
    * shingle. Hash = house md5-60-bit, so any engine re-derives the
    * sketch bit-identically. Callers must have registered
    * GraftExtensions on the session (token_grams / bottomk). */
  private[graft] def kmvSketchOf(
      docs: DataFrame, key: String = "source", k: Int = 128,
      width: Int = 3): DataFrame = {
    val toks = tokens(col("text"))
    val grams = call_function("token_grams", toks, lit(width))
    val h = conv(substring(md5(col("gram")), 1, 15), 16, 10).cast(LongType)
    docs
      .filter(size(toks) >= width)
      .select(col(key), explode_outer(grams).as("gram"))
      .select(col(key), h.as("h"))
      .groupBy(key)
      .agg(call_function("bottomk", col("h"), lit(k)).as("mins"))
  }

  /** Pairwise overlap estimates from per-key KMV sketches ALONE — no
    * second corpus pass. Sketch algebra (Beyer et al. 2007 §4: a KMV
    * union is the bottom-k of the merged minima; the Jaccard estimator
    * is the fraction of union minima present in both sketches):
    * per ordered pair (a < b over the sketch frame's first column),
    *   ku       = bottom-k of fu = distinct(ma ∪ mb) (the union's own
    *              KMV sketch; n_union_minima/k_both/h_k describe it)
    *   exact    = |ma| < k ∧ |mb| < k — BOTH sketches unsaturated, so
    *              each IS its source's complete distinct set and the
    *              pair's algebra is exact over fu even when |fu| ≥ k
    *              (the self-describing regime gate)
    *   est_union = |fu| when exact, else (k-1)·2^60/h_k off the union
    *               sketch's k-th min
    *   est_inter = |ma|+|mb|−|fu| (inclusion–exclusion, exact) when
    *               exact, else the Jaccard estimate k_both/|ku| times
    *               est_union
    *   jaccard_ppm = floor(true_inter·10^6/|fu|) when exact, else
    *               floor(k_both·10^6/|ku|) — integer ppm in BOTH regimes
    * Every column is plain SQL over the kept integer state, so the
    * DuckDB oracle hash-checks the ESTIMATES too (the q_bottomk_sample
    * discipline). All pairs appear — the sketch frame is key-domain-
    * bounded, so the inequality self-join is a broadcast of aggregate
    * output, never a corpus join; contrast q_source_overlap, which
    * emits only overlapping pairs because ITS pair stream is
    * corpus-cardinality. Double arithmetic is ordered identically to
    * the oracle's (left-assoc, one division) for bit-stable floors. */
  private[graft] def kmvOverlapOf(sketches: DataFrame, k: Int = 128): DataFrame = {
    val key = sketches.columns.head
    val a = sketches.select(col(key).as("source_a"), col("mins").as("ma"))
    val b = sketches.select(col(key).as("source_b"), col("mins").as("mb"))
    // the inequality join is explicitly broadcast: the build side is
    // aggregate output (key-domain-bounded, <= |keys| k-long rows), and
    // without the hint a non-equi inner join with estimates unavailable
    // planned a CartesianProduct (the scale gate's robust-joins probe)
    a.join(broadcast(b), col("source_a") < col("source_b"))
      // fu = the full distinct union of the kept minima; ku = ITS bottom-k
      // (the union's own KMV sketch). The exact regime gates on BOTH
      // sketches being unsaturated — each is then its source's complete
      // distinct set, so union/intersection/Jaccard are true set algebra
      // over fu even when fu itself reaches k (review r13: the earlier
      // |ku| < k gate needlessly discarded that exactly-computable middle
      // zone for a ~1/sqrt(k) estimate)
      .withColumn("fu", array_sort(array_union(col("ma"), col("mb"))))
      .withColumn("ku", slice(col("fu"), 1, k))
      .withColumn("n_union_minima", size(col("ku")).cast(LongType))
      .withColumn("k_both", size(filter(col("ku"),
        x => array_contains(col("ma"), x) && array_contains(col("mb"), x)))
        .cast(LongType))
      .withColumn("h_k", element_at(col("ku"), size(col("ku"))))
      .withColumn("exact", size(col("ma")) < k && size(col("mb")) < k)
      .withColumn("n_inter_full",
        (size(col("ma")) + size(col("mb")) - size(col("fu"))).cast(LongType))
      .withColumn("est_union",
        when(col("exact"), size(col("fu")).cast(LongType))
          .otherwise(floor(lit((k - 1).toDouble * 1152921504606846976.0)
            / col("h_k").cast(DoubleType)).cast(LongType)))
      .withColumn("est_inter",
        when(col("exact"), col("n_inter_full"))
          .otherwise(floor(col("k_both").cast(DoubleType)
            / col("n_union_minima") * col("est_union")).cast(LongType)))
      .withColumn("jaccard_ppm",
        when(col("exact"), floor(col("n_inter_full").cast(DoubleType)
          * lit(1000000.0) / size(col("fu"))))
          .otherwise(floor(col("k_both").cast(DoubleType) * lit(1000000.0)
            / col("n_union_minima"))).cast(LongType))
      .select("source_a", "source_b", "n_union_minima", "k_both", "h_k",
        "exact", "est_union", "est_inter", "jaccard_ppm")
      .orderBy("source_a", "source_b")
  }

  // ---- DSIR data selection (q_dsir_select) ----------------------------------

  /** DSIR feature-hash width (Xie et al. 2023 use 10k buckets for hashed
    * unigram+bigram features; 4096 keeps the trained artifact and the
    * oracle's weight join visibly bounded at verify scale — the CONTRACT
    * is B-independent). */
  private val DsirB = 4096L

  /** The hashed-n-gram feature stream of DSIR (Xie et al., NeurIPS 2023
    * §3: "hashed n-gram features" — word unigrams and bigrams hashed into
    * B buckets): one row per feature OCCURRENCE, (doc_id, label, bucket);
    * `label` is whatever readout column the caller wants carried through
    * scoring (lang for the declared query, source for the CLI). Bigrams
    * come from the native [[graft.functions.TokenGrams]] loop (empty
    * below 2 tokens, so the concat degrades to unigrams-only on
    * one-token docs — mirrored oracle-side by the `t[1:-2]` slice), the
    * bucket is the house md5-60-bit hash mod B, re-derivable by any
    * engine. One narrow pass: explode + per-row hash, no shuffle. */
  private def dsirFeats(docsIn: DataFrame, label: Column): DataFrame = {
    val tk = tokens(col("text"))
    val feats = concat(tk, call_function("token_grams", tk, lit(2)))
    docsIn.select(col("doc_id"), label.as("label"), explode(feats).as("f"))
      .select(col("doc_id"), col("label"),
        pmod(conv(substring(md5(col("f")), 1, 15), 16, 10).cast(LongType),
          lit(DsirB)).as("bucket"))
  }

  /** Trained DSIR importance weights — per-bucket log-likelihood ratios
    * log(p_target(b) / p_raw(b)) under Laplace-smoothed hashed-feature
    * unigram models (Xie et al. 2023 eq. 2) over TWO corpora: `raw` (the
    * distribution being selected FROM) and `target` (the distribution
    * being selected TOWARD — a separate curated corpus in the paper's
    * workflow and the CLI's, the table's own lang='en' slice in the
    * declared query's). Returned ascending by bucket, one row per bucket
    * seen in either corpus — a feature that never occurs can never be
    * scored, so the artifact stays ≤ B rows.
    *
    * Determinism contract (the trainCentroids discipline applied to a
    * log-weight model): the counts are exact integers from ONE
    * map-side-combined B-bounded aggregation (collect is ≤ B rows,
    * never the corpus); the only transcendental — the log itself —
    * runs DRIVER-side through StrictMath.log (bit-exact by JVM spec,
    * unlike Math.log) on a 50-significant-digit decimal quotient of
    * the exact BigInt products (no Long overflow at 100 TB token
    * counts, and no per-operand double rounding once the products
    * exceed 2^53 — ADVICE r17: `num.doubleValue / den.doubleValue`
    * rounds TWICE before dividing; the BigDecimal divide carries the
    * exact rational to well past double precision before the single
    * final rounding), rounded half-up to 9 decimals. The oracle never recomputes a log: it
    * reads the materialized weights — the aux-artifact idiom the ANN
    * family uses for trained centroids — so the libm-dependence that
    * rules log() out of SCAN-side scoring (the q_langid_nb/q_tfidf
    * rule) never reaches a distributed plan. */
  private[graft] def dsirWeightsOf(
      raw: DataFrame, target: DataFrame, s: SparkSession): Seq[(Long, Double)] = {
    import s.implicits._
    // fanOut below: the feature stream (tokenize + 2-grams + one md5 per
    // feature, ~200 features/doc) partial-aggregates directly above the
    // single-row-group scan — measured 2.2 s of CPU on ONE task of 32
    // (r20; the q_profile_orders pattern). The round-robin moves the raw
    // doc rows once and buys full-core feature hashing; the streaming
    // dsirScore leg keeps its unfanned spelling (micro-batches are small
    // and already parallel from the load shuffle).
    val counts = dsirFeats(Tables.fanOut(raw), lit("")).select(col("bucket"), lit(0L).as("t"))
      .unionAll(dsirFeats(Tables.fanOut(target), lit("")).select(col("bucket"), lit(1L).as("t")))
      .groupBy("bucket")
      .agg(
        sum(when(col("t") === 0L, 1L).otherwise(0L)).as("cr"),
        sum(col("t")).as("ct"))
      .as[(Long, Long, Long)].collect()
    val tr = BigInt(counts.map(_._2).sum)
    val tt = BigInt(counts.map(_._3).sum)
    counts.sortBy(_._1).toSeq.map { case (b, cr, ct) =>
      val num = (BigInt(ct) + 1) * (tr + DsirB)
      val den = (BigInt(cr) + 1) * (tt + DsirB)
      val q = new java.math.BigDecimal(num.bigInteger)
        .divide(new java.math.BigDecimal(den.bigInteger),
          new java.math.MathContext(50))
      val lw = StrictMath.log(q.doubleValue)
      (b, BigDecimal(lw).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  /** DSIR data selection (Xie et al., NeurIPS 2023): rank the raw corpus
    * by estimated importance weight log(p_target(x)/p_raw(x)) — the sum
    * of its hashed-feature occurrences' trained per-bucket log-ratios —
    * and keep the top `k`. The paper samples via Gumbel-top-k; this
    * spelling takes the deterministic argmax-k (temperature → 0), the
    * same determinism trade q_sample_stratified documents for rand().
    *
    * Plan: feature stream → broadcast join against the ≤ B-row weight
    * table (explicitly broadcast — model-sized, never estimate-based) →
    * ONE per-doc aggregation (map-side combined; the round-9 weight
    * doubles sum through DECIMAL(38,18), exact and order-insensitive) →
    * TakeOrdered k → rank window over the k-bounded result. Two corpus
    * passes total (count pass inside [[dsirWeightsOf]] + scoring pass);
    * at 100 TB the weights train once and persist beside the corpus
    * (the VectorStore pattern — the trained-model store),
    * leaving ONE scoring scan with zero corpus-keyed shuffles beyond
    * the per-doc combine. The lang column rides through for the
    * readout: a selection that works shows the target slice's language
    * dominating the top ranks. */
  private[graft] def dsirSelectOf(
      raw: DataFrame, target: DataFrame, s: SparkSession,
      k: Int = 50, label: String = "lang"): DataFrame =
    dsirSelectWith(raw, dsirWeightsOf(raw, target, s), s, k, label)

  /** Score + select against an ALREADY-TRAINED weight model — the seam
    * that makes the 100 TB "train once, persist, score many" contract
    * real rather than argued: `Cli dsir-select --weights DIR` loads the
    * persisted model here and never touches the target corpus again. */
  /** Per-doc DSIR importance scores against a trained weight model — the
    * SCORING stage alone (no top-k): feature stream → broadcast join
    * against the ≤ B-row weight table → ONE map-side-combined per-doc
    * DECIMAL combine. Output (doc_id, label, n_feats, lw_dec); a doc
    * none of whose features the model ever saw has no score row (it
    * carries zero evidence either way — the paper's estimator is
    * undefined there). Shared verbatim by [[dsirSelectWith]] (batch
    * top-k) and the streaming quality-at-ingest leg
    * ([[graft.streaming.Streaming.releaseLoadStream]] `dsirScore`), so
    * the stream's annotations are byte-equal to the batch's by
    * construction. */
  private[graft] def dsirScoreAll(
      raw: DataFrame, weights: Seq[(Long, Double)], s: SparkSession,
      label: String = "lang"): DataFrame = {
    import s.implicits._
    val Dec = DecimalType(38, 18)
    val w = weights.toDF("bucket", "w")
    dsirFeats(raw, col(label))
      .join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w").cast(Dec)).as("lw_dec"))
  }

  private[graft] def dsirSelectWith(
      raw: DataFrame, weights: Seq[(Long, Double)], s: SparkSession,
      k: Int = 50, label: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dsirScoreAll(Tables.fanOut(raw), weights, s, label)
      .orderBy(col("lw_dec").desc, col("doc_id"))
      .limit(k)
      .select(
        row_number().over(Window.orderBy(col("lw_dec").desc, col("doc_id")))
          .cast(LongType).as("rank"),
        col("doc_id"), col("label").as(label), col("n_feats"),
        round(col("lw_dec").cast(DoubleType), 9).as("logw"))
      .orderBy("rank")
  }

  private val dsirAuxWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Oracle-side artifact for q_dsir_select ([[QueryDef.aux]]): the
    * trained per-bucket weights as a ≤ B-row parquet (bucket BIGINT,
    * w DOUBLE). The DERIVATION holds the only log() in the operator —
    * deterministic but not SQL-expressible bit-for-bit — so the oracle
    * reads the weights and re-derives everything downstream (features,
    * buckets, per-doc decimal sums, the top-k) from the raw table, the
    * kmeans_centroids discipline. */
  private def writeDsirAux(s: SparkSession, d: String, auxDir: String): Unit = {
    if (!dsirAuxWritten.add(s"dsir::$d::$auxDir")) return
    import s.implicits._
    val docs = Tables.documents(s, d)
    dsirWeightsOf(docs, docs.filter(col("lang") === "en"), s)
      .toDF("bucket", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/dsir_weights")
  }

  /** The synthesized media corpus shared by a perceptual near-dup
    * query's BODY and its oracle AUX writer (one spelling, so the two
    * cannot drift): (id, source, content) with content = `synth(source,
    * doc_id)` — the deterministic demo payloads, since the test tables
    * carry no media column. */
  private def synthMediaOf(
      s: SparkSession, d: String,
      synth: (String, Long) => Array[Byte]): DataFrame = {
    import s.implicits._
    // fanOut BEFORE the synth map (r20): the codec encode is ~ms-per-row
    // CPU sitting directly above a single-row-group scan, so without the
    // round-robin repartition the whole corpus encodes on ONE task (the
    // Tables.fanOut contract — the shuffle moves only the narrow
    // (source, id) pairs, the win is per-row CPU × rows across all cores)
    Tables.fanOut(Tables.documents(s, d).select(col("source"), col("doc_id")))
      .as[(String, Long)].mapPartitions { it =>
        it.map { case (src, id) => (id, src, synth(src, id)) }
      }.toDF("id", "source", "content")
  }

  /** The (id_a, source) frame a media near-dup's final rollup joins —
    * read straight off the documents table (r20): synthMediaOf passes
    * id/source through untouched, so joining its output re-ran the
    * whole codec ENCODE a second time just to drop the content column
    * (the typed map is opaque to column pruning). Same rows by
    * construction. */
  private def mediaSourcesOf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id").as("id_a"), col("source"))

  private val mediaAuxWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Materialize a perceptual near-dup query's engine-computed
    * fingerprint table ((id, ahash)) as its oracle's aux artifact
    * (VERDICT r19 Next #1 — the ndcg_discounts/kmeans_centroids idiom):
    * the DECODE is the only SQL-inexpressible step of the media near-dup
    * family, so the oracle reads this table — produced by the SAME
    * hash-stage spelling the operator bands
    * ([[graft.multimodal.Multimodal.imageHashesOf]] and siblings) — and
    * replays the 4×16 banding, the BucketPairs small/star election, the
    * hamming verify and the per-source rollup entirely in SQL. The
    * decode step itself stays pinned by MultimodalSpec (re-encode
    * invariance, perturbation tolerance, CPython-golden rasters). */
  private def writeMediaFpAux(
      s: SparkSession, d: String, auxDir: String, table: String,
      synth: (String, Long) => Array[Byte],
      hashes: (DataFrame, SparkSession) => DataFrame): Unit = {
    if (!mediaAuxWritten.add(s"$table::$d::$auxDir")) return
    hashes(synthMediaOf(s, d, synth).select(col("id"), col("content")), s)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/$table")
  }

  /** The media near-dup oracle downstream of the materialized
    * fingerprint table: replays [[graft.multimodal.Multimodal]]'s
    * hash64Neardup tail — 4×16-bit band values (the shift-and-mask is
    * identical under arithmetic or logical shift semantics because the
    * mask follows the shift), the bounded BucketPairs election (ALL
    * pairs in buckets of 2..256 members, STAR pairs — bucket-min ×
    * member — above; ids are unique so the struct min is the id min),
    * DISTINCT candidates across bands, hamming ≤ 6 verify, then the
    * per-source rollup over id_a's document row. */
  private def mediaNeardupOracleSql(table: String): String =
    s"""WITH fp AS (
          SELECT id, ahash
          FROM read_parquet('${OracleAux.Token}/$table/*.parquet')),
        bands AS (
          SELECT id, ahash, b.band_id,
                 (ahash >> (16 * b.band_id)) & 65535 AS band_val
          FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band_id) b),
        bk AS (
          SELECT band_id, band_val, count(*) AS cnt, min(id) AS mn
          FROM bands GROUP BY band_id, band_val),
        smallp AS (
          SELECT a.id AS id_a, b.id AS id_b, a.ahash AS ha, b.ahash AS hb
          FROM bands a
          JOIN bands b ON a.band_id = b.band_id
            AND a.band_val = b.band_val AND a.id < b.id
          JOIN bk ON bk.band_id = a.band_id AND bk.band_val = a.band_val
          WHERE bk.cnt BETWEEN 2 AND 256),
        bigp AS (
          SELECT bk.mn AS id_a, m.id AS id_b, fa.ahash AS ha, m.ahash AS hb
          FROM bk
          JOIN bands m ON m.band_id = bk.band_id
            AND m.band_val = bk.band_val AND m.id <> bk.mn
          JOIN fp fa ON fa.id = bk.mn
          WHERE bk.cnt > 256),
        cand AS (
          SELECT DISTINCT id_a, id_b, ha, hb FROM (
            SELECT * FROM smallp UNION ALL SELECT * FROM bigp)),
        ham AS (
          SELECT id_a, id_b,
                 CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(ha, hb)) <= 6)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_pairs,
               max(hamming) AS max_hamming
        FROM ham JOIN documents d ON d.doc_id = ham.id_a
        GROUP BY d.source ORDER BY d.source"""

  /** The SCENE-level variant of [[mediaNeardupOracleSql]] — the
    * fingerprint table carries ONE ROW PER DECODED FRAME, so the member
    * identity is the (id, ahash) STRUCT (the engine's sid): bucket
    * minima and pair ordering are lexicographic over the pair, members
    * dedup per bucket (collect_set semantics) while bucket SIZE counts
    * raw rows, a pair's hamming is the MIN over its matching frame
    * pairs, and same-clip frame matches drop. */
  private def mediaSceneNeardupOracleSql(table: String): String =
    s"""WITH fp AS (
          SELECT id, ahash
          FROM read_parquet('${OracleAux.Token}/$table/*.parquet')),
        bands AS (
          SELECT id, ahash, b.band_id,
                 (ahash >> (16 * b.band_id)) & 65535 AS band_val
          FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band_id) b),
        bandsd AS (SELECT DISTINCT id, ahash, band_id, band_val FROM bands),
        bk AS (
          SELECT band_id, band_val, count(*) AS cnt
          FROM bands GROUP BY band_id, band_val),
        mnm AS (
          SELECT band_id, band_val, id AS mn_id, ahash AS mn_hash FROM (
            SELECT band_id, band_val, id, ahash,
                   ROW_NUMBER() OVER (PARTITION BY band_id, band_val
                     ORDER BY id, ahash) AS rn
            FROM bandsd) r WHERE rn = 1),
        smallp AS (
          SELECT a.id AS id_a, b.id AS id_b, a.ahash AS ha, b.ahash AS hb
          FROM bandsd a
          JOIN bandsd b ON a.band_id = b.band_id
            AND a.band_val = b.band_val
            AND (a.id < b.id OR (a.id = b.id AND a.ahash < b.ahash))
          JOIN bk ON bk.band_id = a.band_id AND bk.band_val = a.band_val
          WHERE bk.cnt BETWEEN 2 AND 256),
        bigp AS (
          SELECT mnm.mn_id AS id_a, m.id AS id_b,
                 mnm.mn_hash AS ha, m.ahash AS hb
          FROM mnm
          JOIN bandsd m ON m.band_id = mnm.band_id
            AND m.band_val = mnm.band_val
            AND (m.id <> mnm.mn_id OR m.ahash <> mnm.mn_hash)
          JOIN bk ON bk.band_id = mnm.band_id AND bk.band_val = mnm.band_val
          WHERE bk.cnt > 256),
        cand AS (
          SELECT DISTINCT id_a, id_b, ha, hb FROM (
            SELECT * FROM smallp UNION ALL SELECT * FROM bigp)),
        ham AS (
          SELECT id_a, id_b,
                 CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(ha, hb)) <= 6 AND id_a <> id_b),
        pairm AS (
          SELECT id_a, id_b, min(hamming) AS hamming
          FROM ham GROUP BY id_a, id_b)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_pairs,
               max(hamming) AS max_hamming
        FROM pairm JOIN documents d ON d.doc_id = pairm.id_a
        GROUP BY d.source ORDER BY d.source"""

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_explode_tokens", Seq("F2", "J7", "A5"),
      (s, d) => Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      Some("""SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents)
              GROUP BY token ORDER BY n DESC, token LIMIT 20"""),
      "Lateral array explode + top-k (reference: jsonb_array_elements, querying-data.rst:98-121)"),

    QueryDef(
      "q_token_stats", Seq("F4", "F8"),
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          col("n_chars"),
          (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
            .cast(LongType).as("n_tokens"),
          // BPE-ish pre-tokenizer count: letter runs / digit runs /
          // punctuation singletons (the GPT-2-style split, simplified) —
          // the LLM-pipeline "how many subword-ish units" estimate
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
            .cast(LongType).as("n_bpe_tokens"),
          size(tokenSet(col("text"))).cast(LongType).as("n_unique"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars,
                     CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
                     CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                          AS BIGINT) AS n_bpe_tokens,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique
              FROM documents ORDER BY doc_id"""),
      "Token counting (whitespace + BPE-ish regex pre-tokenizer) + vocabulary size per document"),

    QueryDef(
      "q_token_stats_bpe", Seq("F4", "F8"),
      (s, d) => {
        // the REAL subword rung under q_token_stats's regex estimate
        // (VERDICT r11 Next #4): byte-level BPE over the vendored merges
        // table (see graft.functions.Bpe — published GPT-2 algorithm,
        // offline-trained table, pluggable resource). No DuckDB oracle —
        // SQL can't BPE — so correctness is pinned by BpeSpec's goldens
        // from an independent Python implementation of the same published
        // algorithm, the CanonicalSpec-vs-CPython pattern; the driver
        // records the weaker rows-only check. fanOut: per-row merge-loop
        // CPU that would otherwise run on the single-task scan.
        graft.functions.GraftExtensions.ensureRegistered(s)
        val ws = size(tokens(col("text"))).cast(LongType)
        val bpe = size(call_function("bpe_tokens", col("text"))).cast(LongType)
        Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), ws.as("n_tokens_ws"), bpe.as("n_tokens_bpe"))
          .withColumn("bpe_per_ws",
            round(col("n_tokens_bpe").cast(DoubleType) / col("n_tokens_ws"), 9))
          .orderBy("doc_id")
      },
      None,
      "Byte-level BPE token budget per document (vendored-merges GPT-2-style " +
        "tokenizer as a native codegen'd expression) vs the whitespace count — " +
        "the number a training pipeline actually budgets in",
      pinnedBy = Some("SQL cannot run BPE; pinned by BpeSpec goldens from an " +
        "independent CPython implementation of the published GPT-2 algorithm " +
        "(adjudicated permanent no_oracle, VERDICT r12)")),

    QueryDef(
      "q_quality_score", Seq("F4"),
      (s, d) => {
        val toks = tokens(col("text"))
        val nTok = size(toks).cast(DoubleType)
        val nStop = size(filter(toks, t => t.isin(enStop: _*))).cast(DoubleType)
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            (nStop / nTok).as("stopword_ratio"),
            (length(col("text")).cast(DoubleType) / size(toks)).as("avg_token_span"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
                      CAST(len(list_filter(string_split(text, ' '),
                               t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
                        / len(string_split(text, ' ')) AS stopword_ratio,
                      CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_span
               FROM documents ORDER BY doc_id"""),
      "Quality scoring: stopword ratio + length heuristics (per-row double ops — bit-deterministic)"),

    QueryDef(
      "q_quality_gate", Seq("W2", "A1", "A3"),
      (s, d) => qualityGateOf(Tables.documents(s, d)),
      Some(s"""WITH sc AS (
                 SELECT source, doc_id,
                        CAST(len(list_filter(string_split(text, ' '),
                                 t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
                          / len(string_split(text, ' ')) AS score
                 FROM documents),
               rk AS (
                 SELECT source, doc_id, score,
                        ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY score ASC, doc_id ASC) AS rn,
                        COUNT(*) OVER (PARTITION BY source) AS n
                 FROM sc)
               SELECT source,
                      max(n) AS n_total,
                      max((n + 9) // 10) AS n_cut,
                      max(n) - max((n + 9) // 10) AS n_kept,
                      round(max(CASE WHEN rn = (n + 9) // 10 THEN score END), 9)
                        AS threshold_score
               FROM rk GROUP BY source ORDER BY source"""),
      "Per-source quality percentile gate: each source drops its own bottom decile " +
        "by stopword-ratio rank (exact integer-arithmetic cut, tie-broken by doc_id) " +
        "— the data-driven threshold production gates use instead of fixed constants; " +
        "one rank sort per source, one-row-per-source output"),

    QueryDef(
      "q_gopher_rules", Seq("F4", "A1", "A4"),
      (s, d) => {
        // the Gopher rule-based quality filter (Rae et al. 2021, Table A1)
        // next to q_quality_gate's data-driven percentile cut: fixed
        // per-document rules, each a pure per-row predicate folded into ONE
        // map-side-combined per-source aggregation — no shuffle beyond the
        // source rollup at any corpus size. Every ratio threshold is
        // cross-multiplied into INTEGER arithmetic (alpha/nw >= 0.8 becomes
        // alpha*5 >= nw*4) so the flags are bit-exact cross-engine — the
        // q_quality_gate idiom; no float compare anywhere. Rules kept from
        // the paper (word-count bounds, mean-word-length bounds, stopword
        // floor, symbol-ratio cap, alphabetic-word floor) plus the
        // repetition rule in token form (unique-token fraction >= 0.5, the
        // duplicate-line analogue for single-line documents). A rule that
        // never fires on this synthetic corpus still verifies its
        // arithmetic against the oracle — the rollup counts its zeroes.
        gopherRulesOf(Tables.documents(s, d))
      },
      Some(s"""WITH m AS (
                 SELECT source,
                        len(string_split(text, ' ')) AS nw,
                        length(text) - (len(string_split(text, ' ')) - 1) AS sumlen,
                        len(list_filter(string_split(text, ' '),
                            t -> regexp_matches(t, '[A-Za-z]'))) AS alpha,
                        len(list_filter(string_split(text, ' '),
                            t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS stops,
                        len(regexp_extract_all(text, '#|\\.\\.\\.')) AS syms,
                        len(list_distinct(string_split(text, ' '))) AS uniq
                 FROM documents),
               f AS (
                 SELECT source,
                        NOT (nw BETWEEN 20 AND 100000) AS f_words,
                        NOT (nw * 3 <= sumlen AND sumlen <= nw * 10) AS f_meanlen,
                        NOT (alpha * 5 >= nw * 4) AS f_alpha,
                        NOT (stops >= 2) AS f_stop,
                        NOT (syms * 10 < nw) AS f_symbol,
                        NOT (uniq * 2 >= nw) AS f_rep
                 FROM m)
               SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(CASE WHEN NOT (f_words OR f_meanlen OR f_alpha
                                              OR f_stop OR f_symbol OR f_rep)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                      CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_words,
                      CAST(sum(CASE WHEN f_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_meanlen,
                      CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
                      CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
                      CAST(sum(CASE WHEN f_symbol THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
                      CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep
               FROM f GROUP BY source ORDER BY source"""),
      "Gopher rule-based quality filter (Rae et al. 2021): word-count, mean-word-" +
        "length, alphabetic-word, stopword, symbol-ratio and repetition rules as " +
        "pure per-row integer-arithmetic predicates (ratio thresholds cross-" +
        "multiplied — no float compares), rolled up per source in one map-side-" +
        "combined aggregation"),

    QueryDef(
      "q_c4_lines", Seq("F4", "A1", "A4"),
      (s, d) => {
        // the C4 line-level boilerplate filter (see c4LinesOf) over the
        // documents table. The synthetic corpus is single-line and
        // punctuation-free, so the demo derives a multi-line text
        // deterministically — the q_snapshot_diff idiom, every step
        // re-derivable by the oracle: tokens chunk into 6-token lines,
        // and a '.' lands on lines of even character length (~half pass
        // the terminal-punctuation rule; a short final chunk exercises
        // the >=3-words rule). The brace/javascript/cookie/lorem rules
        // cannot fire on this vocabulary — the rollup counts their
        // zeroes, verifying the arithmetic the q_gopher_rules way. A
        // real run passes its own '\n'-separated pages to c4LinesOf.
        c4LinesOf(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"), c4DerivedPage.as("text")))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_lines")).as("n_lines"),
            sum(col("n_kept")).as("n_kept"),
            sum(col("fail_punct")).as("fail_punct"),
            sum(col("fail_words")).as("fail_words"),
            sum(col("fail_brace")).as("fail_brace"),
            sum(col("fail_js")).as("fail_js"),
            sum(col("fail_cookie")).as("fail_cookie"),
            sum(when(col("doc_lorem"), 1L).otherwise(0L)).as("n_docs_lorem"),
            sum(length(col("clean_text"))).as("clean_chars"))
          .orderBy("source")
      },
      Some("""WITH t AS (
                SELECT source, doc_id,
                       string_split(coalesce(text, ''), ' ') AS toks
                FROM documents),
              m AS (
                SELECT source, doc_id,
                       array_to_string(
                         list_transform(range((len(toks)+5)//6), i ->
                           CASE WHEN length(array_to_string(toks[(i*6+1):(i*6+6)], ' ')) % 2 = 0
                                THEN array_to_string(toks[(i*6+1):(i*6+6)], ' ') || '.'
                                ELSE array_to_string(toks[(i*6+1):(i*6+6)], ' ') END),
                         chr(10)) AS mtext
                FROM t),
              f AS (
                SELECT source,
                       string_split(mtext, chr(10)) AS ls,
                       contains(lower(mtext), 'lorem ipsum') AS lorem
                FROM m),
              k AS (
                SELECT source, lorem,
                       len(ls) AS n_lines,
                       len(list_filter(ls, l ->
                         regexp_matches(l, '[.!?"]$')
                         AND len(string_split(l, ' ')) >= 3
                         AND NOT contains(l, '{') AND NOT contains(l, '}')
                         AND NOT contains(lower(l), 'javascript')
                         AND NOT contains(lower(l), 'cookie'))) AS kept,
                       list_filter(ls, l ->
                         regexp_matches(l, '[.!?"]$')
                         AND len(string_split(l, ' ')) >= 3
                         AND NOT contains(l, '{') AND NOT contains(l, '}')
                         AND NOT contains(lower(l), 'javascript')
                         AND NOT contains(lower(l), 'cookie')) AS kept_ls,
                       len(list_filter(ls, l -> NOT regexp_matches(l, '[.!?"]$'))) AS f_punct,
                       len(list_filter(ls, l -> NOT (len(string_split(l, ' ')) >= 3))) AS f_words,
                       len(list_filter(ls, l -> contains(l, '{') OR contains(l, '}'))) AS f_brace,
                       len(list_filter(ls, l -> contains(lower(l), 'javascript'))) AS f_js,
                       len(list_filter(ls, l -> contains(lower(l), 'cookie'))) AS f_cookie
                FROM f)
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_lines) AS BIGINT) AS n_lines,
                     CAST(sum(CASE WHEN lorem THEN 0 ELSE kept END) AS BIGINT) AS n_kept,
                     CAST(sum(f_punct) AS BIGINT) AS fail_punct,
                     CAST(sum(f_words) AS BIGINT) AS fail_words,
                     CAST(sum(f_brace) AS BIGINT) AS fail_brace,
                     CAST(sum(f_js) AS BIGINT) AS fail_js,
                     CAST(sum(f_cookie) AS BIGINT) AS fail_cookie,
                     CAST(sum(CASE WHEN lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_lorem,
                     CAST(sum(CASE WHEN lorem THEN 0
                              ELSE length(array_to_string(kept_ls, chr(10))) END) AS BIGINT)
                       AS clean_chars
              FROM k GROUP BY source ORDER BY source"""),
      "C4 line-level boilerplate filter (Raffel et al. 2020): terminal-punctuation, " +
        ">=3-words, curly-brace, javascript and cookie line rules plus the " +
        "lorem-ipsum page rule; survivors re-join as clean_text, removals roll up " +
        "per source — the production rung between document-level Gopher rules and " +
        "span-level substring scrub, all codegen'd per-row array functions"),

    QueryDef(
      "q_line_dedup", Seq("S8", "W2", "A4"),
      (s, d) => {
        // corpus-wide duplicate-line removal (see lineDedupOf) over the
        // documents table. The demo derives 3-token lines from the
        // single-line corpus (the q_c4_lines idiom, chunk width chosen so
        // the small vocabulary actually produces cross-document duplicate
        // lines at verify scale — 6-token chunks over a 31-word
        // vocabulary would collide ~never; ~1/3 of 3-token lines sit in
        // duplicate classes at sf0.01), then rolls the per-doc outputs up
        // per source. A real run passes its own '\n'-separated pages.
        val page = {
          val toks = tokens(coalesce(col("text"), lit("")))
          val nLines = ((size(toks) + lit(2)) / lit(3)).cast(IntegerType)
          array_join(
            transform(sequence(lit(0), nLines - 1),
              i => array_join(slice(toks, i * 3 + 1, lit(3)), " ")),
            "\n")
        }
        lineDedupOf(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"), page.as("text")))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_lines")).as("n_lines"),
            sum(col("n_dup")).as("n_dup_lines"),
            sum(col("n_lines") - col("n_dup")).as("n_kept_lines"),
            sum(col("chars_removed")).as("chars_removed"),
            sum(when(col("n_dup") === col("n_lines"), 1L).otherwise(0L))
              .as("docs_emptied"),
            sum(length(col("clean_text")).cast(LongType)).as("clean_chars"))
          .orderBy("source")
      },
      Some("""WITH t AS (
                SELECT source, doc_id,
                       string_split(coalesce(text, ''), ' ') AS toks
                FROM documents),
              m AS (
                SELECT source, doc_id,
                       list_transform(range((len(toks)+2)//3), i ->
                         array_to_string(toks[(i*3+1):(i*3+3)], ' ')) AS ls
                FROM t),
              l AS (
                SELECT source, doc_id,
                       generate_subscripts(ls, 1) - 1 AS line_idx,
                       unnest(ls) AS line
                FROM m),
              n AS (
                SELECT source, doc_id, line_idx, line,
                       trim(regexp_replace(regexp_replace(lower(line),
                         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
                FROM l),
              k AS (
                SELECT source, doc_id, line_idx, line,
                       CASE WHEN norm = '' THEN TRUE
                            ELSE row_number() OVER (PARTITION BY norm
                                   ORDER BY doc_id, line_idx) = 1
                       END AS keep
                FROM n),
              d AS (
                SELECT source, doc_id,
                       count(*) AS n_lines,
                       sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_dup,
                       sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
                       sum(CASE WHEN keep THEN 0 ELSE length(line) END) AS c_rm,
                       sum(CASE WHEN keep THEN length(line) ELSE 0 END) AS c_kp
                FROM k GROUP BY source, doc_id)
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_lines) AS BIGINT) AS n_lines,
                     CAST(sum(n_dup) AS BIGINT) AS n_dup_lines,
                     CAST(sum(n_kept) AS BIGINT) AS n_kept_lines,
                     CAST(sum(c_rm) AS BIGINT) AS chars_removed,
                     CAST(sum(CASE WHEN n_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_emptied,
                     CAST(sum(CASE WHEN n_kept = 0 THEN 0
                              ELSE c_kp + n_kept - 1 END) AS BIGINT) AS clean_chars
              FROM d GROUP BY source ORDER BY source"""),
      "Corpus-wide duplicate-line removal (CCNet paragraph-hash dedup, Wenzek et " +
        "al. 2020): lines keyed by normalized content keep exactly their first " +
        "corpus-wide occurrence, survivors re-join as clean_text — the boilerplate " +
        "rung between document-level exact dedup and token-gram substring scrub; " +
        "salted two-level election joined back by (doc_id, line_idx) coordinate, " +
        "skew-free on every leg (window vs lkey-join vs coordinate-join A/B'd in " +
        "AbLineDedupBench)"),

    QueryDef(
      "q_length_quantiles", Seq("W1", "A3", "A4"),
      (s, d) => lengthQuantilesOf(Tables.documents(s, d)),
      Some("""WITH l AS (
                SELECT source, doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                FROM documents WHERE text IS NOT NULL),
              rk AS (
                SELECT source, len,
                       ROW_NUMBER() OVER (PARTITION BY source
                         ORDER BY len ASC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM l)
              SELECT source,
                     max(n) AS n_docs,
                     max(CASE WHEN rn = (n * 50 + 99) // 100 THEN len END) AS p50_tokens,
                     max(CASE WHEN rn = (n * 90 + 99) // 100 THEN len END) AS p90_tokens,
                     max(CASE WHEN rn = (n * 99 + 99) // 100 THEN len END) AS p99_tokens,
                     max(len) AS max_tokens
              FROM rk GROUP BY source ORDER BY source"""),
      "Per-source token-length quantiles (p50/p90/p99) by exact rank — integer-" +
        "arithmetic percentile targets, no interpolation (cross-engine exact where " +
        "percentile_cont is not); one per-source rank sort, approx_percentile/KLL " +
        "documented as the 100 TB swap"),

    QueryDef(
      "q_length_buckets", Seq("A4", "W2"),
      (s, d) => lengthBucketsOf(Tables.documents(s, d)),
      Some(s"""WITH l AS (
                SELECT source,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                FROM documents WHERE text IS NOT NULL),
              b AS (
                SELECT source, len,
                       CAST(coalesce(list_min(list_filter(
                         [${(0 to 20).map(1L << _).mkString(",")}],
                         c -> c >= len)), 1048576) AS BIGINT) AS bucket_cap
                FROM l),
              g AS (
                SELECT source, bucket_cap,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len) AS BIGINT) AS n_tokens
                FROM b GROUP BY source, bucket_cap)
              SELECT source, bucket_cap, n_docs, n_tokens,
                     n_docs * bucket_cap - n_tokens AS padding_waste,
                     CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
                       * CAST(max(bucket_cap) OVER (PARTITION BY source) AS BIGINT)
                       - CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT)
                       AS src_waste_unbucketed
              FROM g ORDER BY source, bucket_cap"""),
      "Power-of-two length-bucket padding readout (the bucketed-batching decision): " +
        "per (source, bucket) doc/token counts and padding waste vs the single " +
        "max-length bucket's waste — integer bucket lookup over a bounded literal " +
        "array (no float log2), one map-side-combined aggregation + a window over " +
        "the bounded aggregate frame"),

    QueryDef(
      "q_length_sketch", Seq("A3", "A4", "F5"),
      (s, d) => {
        // q_length_quantiles' documented 100 TB swap made REAL: the same
        // per-source p50/p90/p99/max readout through the native mergeable
        // `quantile_sketch` aggregate instead of the per-source rank
        // sort. The exact query shuffles every row to its group's sort;
        // this plan map-side-combines bounded value->count partials (the
        // whole point — see the aggregate's scaladoc for the two-regime
        // contract and why KLL's coin flips are unshippable here). Token
        // lengths have a ~91-value domain, so the sketch is in the exact
        // regime at ANY corpus size for THIS column — the reported
        // quantiles equal the house integer-rank percentiles bit-for-bit
        // and the oracle is q_length_quantiles' own SQL (+ n/exact).
        // Wide-domain columns (byte sizes, latencies) ride the same plan
        // into the gamma-bounded dense regime, QuantileSketchSpec's
        // referee territory.
        graft.functions.GraftExtensions.ensureRegistered(s)
        Tables.documents(s, d)
          // null text ANSI-propagates to a null len, silently vanishing
          // from the sketch's n while COUNT(*) oracles would keep the
          // row — pin the contract explicitly on both sides: null-text
          // docs are outside the length readout
          .filter(col("text").isNotNull)
          .select(col("source"),
            size(tokens(col("text"))).cast(LongType).as("len"))
          .groupBy("source")
          .agg(call_function("quantile_sketch", col("len"), lit(4096)).as("q"))
          .select(col("source"), col("q.n").as("n_docs"),
            col("q.p50").as("p50_tokens"), col("q.p90").as("p90_tokens"),
            col("q.p99").as("p99_tokens"), col("q.max").as("max_tokens"),
            col("q.exact").as("exact"))
          .orderBy("source")
      },
      Some("""WITH l AS (
                SELECT source, doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                FROM documents WHERE text IS NOT NULL),
              rk AS (
                SELECT source, len,
                       ROW_NUMBER() OVER (PARTITION BY source
                         ORDER BY len ASC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM l)
              SELECT source,
                     max(n) AS n_docs,
                     max(CASE WHEN rn = (n * 50 + 99) // 100 THEN len END) AS p50_tokens,
                     max(CASE WHEN rn = (n * 90 + 99) // 100 THEN len END) AS p90_tokens,
                     max(CASE WHEN rn = (n * 99 + 99) // 100 THEN len END) AS p99_tokens,
                     max(len) AS max_tokens,
                     TRUE AS exact
              FROM rk GROUP BY source ORDER BY source"""),
      "Bounded-memory rank quantiles (native mergeable two-regime sketch: exact " +
        "value histogram below the capacity, deterministic ~1% geometric buckets " +
        "above — the DDSketch contract, coin-free where KLL is not): per-source " +
        "token-length p50/p90/p99/max with a self-describing exact flag, " +
        "hash-matching the exact rank-percentile oracle in the exact regime"),

    QueryDef(
      "q_lm_score", Seq("J1", "J2", "A4"),
      (s, d) => {
        graft.functions.GraftExtensions.ensureRegistered(s)
        lmScoreOf(Tables.fanOut(Tables.documents(s, d)))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                         FROM documents
                         WHERE len(string_split(text, ' ')) >= 2),
              st AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
                     FROM d, unnest(generate_series(1, len(t) - 1)) AS s(i)),
              big AS (SELECT gram, count(*) AS c2 FROM st GROUP BY gram),
              ctx AS (SELECT split_part(gram, ' ', 1) AS prev, count(*) AS c1
                      FROM st GROUP BY prev),
              j AS (SELECT st.doc_id, big.c2,
                           CAST(CAST(ctx.c1 AS DOUBLE) / CAST(big.c2 AS DOUBLE)
                                AS DECIMAL(38,18)) AS ratio_dec
                    FROM st
                    JOIN big USING (gram)
                    JOIN ctx ON split_part(st.gram, ' ', 1) = ctx.prev)
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_novel,
                     round(CAST(sum(ratio_dec) AS DOUBLE) / count(*), 9)
                       AS surprisal
              FROM j GROUP BY doc_id ORDER BY doc_id"""),
      "Bigram-LM fluency scoring (the KenLM-perplexity quality rung, CCNet-style): " +
        "mean inverse conditional frequency as a logarithm-free perplexity " +
        "surrogate (bit-exact cross-engine), plus the once-seen-bigram novelty " +
        "count; corpus-cardinality LM table shuffle-hash joined, vocabulary-" +
        "bounded context table broadcast"),

    QueryDef(
      "q_langid", Seq("F4"),
      (s, d) => {
        val toks = tokens(col("text"))
        val enHits = size(filter(toks, t => t.isin(enStop: _*)))
        Tables.documents(s, d)
          .withColumn("en_hits", enHits.cast(LongType))
          .withColumn(
            "predicted_lang",
            when(col("en_hits") >= 2, lit("en")).otherwise(lit("und")))
          .groupBy(col("lang"), col("predicted_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted_lang")
      },
      Some(s"""SELECT lang, predicted_lang, count(*) AS n FROM (
                 SELECT lang,
                        CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) >= 2
                             THEN 'en' ELSE 'und' END AS predicted_lang
                 FROM documents)
               GROUP BY lang, predicted_lang ORDER BY lang, predicted_lang"""),
      "Language-ID heuristic (stopword n-gram hits) confusion rollup vs labeled lang"),

    QueryDef(
      "q_langid_nb", Seq("J2", "A4", "W2"),
      (s, d) => langidNbOf(Tables.documents(s, d)),
      Some("""WITH st AS (SELECT doc_id, lang,
                                 unnest(string_split(text, ' ')) AS tok
                          FROM documents),
              ctk AS (SELECT lang AS cand, tok, count(*) AS ctk
                      FROM st GROUP BY 1, 2),
              ct AS (SELECT lang AS cand, count(*) AS ct FROM st GROUP BY 1),
              model AS (SELECT tok, cand,
                               CAST(CAST(ctk AS DOUBLE) / CAST(ct AS DOUBLE)
                                    AS DECIMAL(38,18)) AS p
                        FROM ctk JOIN ct USING (cand)),
              sc AS (SELECT st.doc_id, st.lang, m.cand, sum(m.p) AS affinity
                     FROM st JOIN model m USING (tok) GROUP BY 1, 2, 3),
              pick AS (SELECT doc_id, lang, cand,
                              ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY affinity DESC, cand ASC) AS rn
                       FROM sc)
              SELECT lang, cand AS predicted_lang,
                     CAST(count(*) AS BIGINT) AS n
              FROM pick WHERE rn = 1
              GROUP BY lang, cand ORDER BY lang, predicted_lang"""),
      "Trained language-ID (Naive-Bayes-flavoured, closed-form one-pass training " +
        "from the corpus's own labels; additive class-conditional frequencies in " +
        "DECIMAL instead of log-products for cross-engine bit-exactness); " +
        "vocabulary-bounded model broadcast, confusion matrix vs stored labels"),

    QueryDef(
      "q_fingerprint", Seq("S8", "F5", "F6"),
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          md5(concat_ws(" ", tokenSet(col("text")))).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                       AS fingerprint
              FROM documents ORDER BY doc_id"""),
      "Document fingerprint: md5 over the canonical (sorted, distinct) token set — the canonical-form hashing idea behind util.py:93-110"),

    QueryDef(
      "q_dedup_exact", Seq("S8", "F5", "A2"),
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(concat_ws(" ", tokenSet(col("text")))).as("fingerprint"))
        .agg(
          count(lit(1)).as("n_members"),
          min(col("doc_id")).as("keeper_id"))
        .filter(col("n_members") > 1)
        .orderBy("fingerprint"),
      Some("""SELECT fingerprint, n_members, keeper_id FROM (
                SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                         AS fingerprint,
                       count(*) AS n_members, min(doc_id) AS keeper_id
                FROM documents GROUP BY 1)
              WHERE n_members > 1 ORDER BY fingerprint"""),
      "Exact dedup: hash-groupBy, min-id keeper election (reference: content-addressed data table)"),

    QueryDef(
      "q_ngram_jaccard", Seq("J1", "F2", "S8"),
      // MinHash LSH banding (the SURVEY §7.1 item-10 scale path; replaces
      // the r2 same-source pair join whose candidate count grew O(n²) in
      // corpus size — VERDICT r2). k=64 min-hashes per doc, banded 16×4:
      // the JOIN KEY is (source, band_id, band_hash), so candidate pairs
      // are bounded by true-similar density, not group size. Recall for a
      // jaccard-0.9 pair is 1-(1-0.9⁴)¹⁶ ≈ 1-4e-8, so the exact-Jaccard
      // verification step reproduces the brute-force oracle's row set;
      // candidates that collide by chance are filtered there.
      //
      // Per-row engineering (all r5/r6 A/B-measured, see git history):
      // each token is string-hashed ONCE (h1 = xxhash64(tok)) and the 64
      // per-seed hashes re-mix h1 with the seed (~10× cheaper, family
      // still uniform per-seed); pair generation is bucket-local (collect
      // each LSH bucket's sorted ids, chained builtin generators — no sig
      // self-join); verification intersects SORTED 64-BIT TOKEN HASHES via
      // the native codegen'd intersect_count_sorted two-pointer merge.
      (s, d) => minhashJaccardPairs(s, d).orderBy("doc_a", "doc_b"),
      Some("""WITH t AS (SELECT source, doc_id,
                                list_sort(list_distinct(string_split(text, ' '))) AS toks
                         FROM documents)
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                       / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                       AS jaccard
              FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
              ORDER BY doc_a, doc_b"""),
      "Near-dup via MinHash LSH banding (candidates from (band_id, band_hash) join) + exact-Jaccard verify; oracle stays brute-force"),

    QueryDef(
      "q_dedup_clusters", Seq("J1", "A2", "W2"),
      (s, d) => {
        // Connected components over the verified near-dup pairs — the step
        // production dedup needs AFTER pair finding: near-duplication is
        // transitive in effect (A~B, B~C ⟹ keep one of {A,B,C}), so the
        // keeper election must run per COMPONENT, not per pair. Algorithm
        // + scale notes on [[connectedComponents]]; the edge set is
        // computed once and round-boundary-materialized (neardupEdgesOf)
        // so the propagation rounds never re-run the MinHash pipeline and
        // the join lineage stays flat.
        // durable-mode opt-in for cluster runs of the declared query
        // (GRAFT_CKPT_DIR; see envCheckpointDir)
        val edges = neardupEdgesOf(Tables.documents(s, d), envCheckpointDir)
        connectedComponents(edges, envCheckpointDir)
          .select(col("doc_id"), col("lbl").as("cluster_id"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE t AS (
                SELECT source, doc_id,
                       list_sort(list_distinct(string_split(text, ' '))) AS toks
                FROM documents),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                        >= 0.9),
              edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
              reach(id, n) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT r.id, e.b FROM reach r JOIN edges e ON e.a = r.n)
              SELECT id AS doc_id, MIN(n) AS cluster_id
              FROM reach GROUP BY id ORDER BY doc_id"""),
      "Near-dup CLUSTERS: connected components (min-label propagation to fixpoint) over " +
        "the verified MinHash pair set — per-component keeper election, the step after " +
        "pair finding in a production dedup; oracle closes the brute-force pair set with " +
        "a recursive CTE"),

    QueryDef(
      "q_dedup_payoff", Seq("J1", "A4", "A2"),
      (s, d) => {
        // what the near-dup pass actually BUYS: per-cluster keeper
        // election (the component's min doc_id — deterministic, matches
        // the exact-dedup keeper rule) rolled up per source into docs
        // and tokens REMOVED. The cluster labels join back to the narrow
        // (doc_id, source, tokens) projection with NO join hint: labels
        // exist for every doc in some near-dup pair, and web-scale corpora
        // run 30–50% near-dup, so at 100 TB the label frame is billions of
        // rows — a mandatory broadcast would die at the broadcast ceiling
        // (VERDICT r8 #2). The frame is two narrow longs; AQE broadcasts
        // it when it is genuinely small and shuffles on doc_id otherwise.
        dedupPayoffOf(Tables.documents(s, d), envCheckpointDir)
      },
      Some("""WITH RECURSIVE t AS (
                SELECT source, doc_id,
                       list_sort(list_distinct(string_split(text, ' '))) AS toks
                FROM documents),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                        >= 0.9),
              edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
              reach(id, n) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT r.id, e.b FROM reach r JOIN edges e ON e.a = r.n),
              clusters AS (
                SELECT id AS doc_id, MIN(n) AS lbl FROM reach GROUP BY id)
              SELECT d.source,
                     COUNT(*) AS docs_removed,
                     CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
                       AS tokens_removed,
                     CAST(COUNT(DISTINCT c.lbl) AS BIGINT) AS n_clusters
              FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
              WHERE c.doc_id <> c.lbl
              GROUP BY d.source ORDER BY d.source"""),
      "Dedup payoff readout: per-cluster keeper election (component-min doc) rolled up " +
        "to docs/tokens REMOVED per source — the attrition number a corpus build " +
        "reports; label join left to AQE (labels can be a large fraction of a web corpus)"),

    QueryDef(
      "q_cluster_keep_best", Seq("J1", "A4", "W2"),
      (s, d) => clusterKeepBestOf(Tables.documents(s, d), envCheckpointDir),
      Some(s"""WITH RECURSIVE t AS (
                SELECT source, doc_id,
                       list_sort(list_distinct(string_split(text, ' '))) AS toks
                FROM documents),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                        >= 0.9),
              edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
              reach(id, n) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT r.id, e.b FROM reach r JOIN edges e ON e.a = r.n),
              clusters AS (
                SELECT id AS doc_id, MIN(n) AS lbl FROM reach GROUP BY id),
              q AS (
                SELECT doc_id, source,
                       CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                         AS n_tok,
                       (CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                          tk -> tk IN (${enStop.map("'" + _ + "'").mkString(",")})))
                          AS BIGINT) * 1000000)
                         // CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                         AS qs
                FROM documents),
              sc AS (SELECT c.lbl, q.* FROM clusters c JOIN q USING (doc_id)),
              k AS (
                SELECT *,
                       row_number() OVER (PARTITION BY lbl
                         ORDER BY qs DESC, doc_id ASC) = 1 AS keeper,
                       min(doc_id) OVER (PARTITION BY lbl) AS min_id
                FROM sc)
              SELECT source,
                     CAST(sum(CASE WHEN keeper THEN 0 ELSE 1 END) AS BIGINT)
                       AS docs_removed,
                     CAST(sum(CASE WHEN keeper THEN 0 ELSE n_tok END) AS BIGINT)
                       AS tokens_removed,
                     CAST(sum(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_keepers,
                     CAST(sum(CASE WHEN keeper AND doc_id <> min_id
                              THEN 1 ELSE 0 END) AS BIGINT) AS keepers_not_minid
              FROM k GROUP BY source ORDER BY source"""),
      "Quality-aware keeper election over near-dup clusters (RefinedWeb's keep-one-" +
        "per-cluster with the BEST member, not min-id): integer stopword-ratio score, " +
        "doc_id tie-break, per-source removed rollup + how many keepers differ from " +
        "the min-id rule; election via groupBy-max + co-keyed SHUFFLE_HASH join so " +
        "unbounded clusters stay AQE-splittable"),

    QueryDef(
      "q_simhash_neardup", Seq("J1", "F5", "S8"),
      (s, d) => {
        // SimHash near-dup (the third dedup family next to MinHash-LSH and
        // embedding-cosine): 60-bit signature = sign of per-bit ±1 sums over
        // the distinct tokens' 60-bit md5-derived hashes; banded 4×15 bits
        // for candidates (blocked by source like the MinHash path — this
        // synthetic corpus is near-dup-dense ACROSS sources, and unblocked
        // output would be ~85k pairs at sf0.1); hamming-distance verify on
        // collisions. Everything is md5/bit arithmetic both engines share,
        // so the DuckDB oracle rebuilds identical signatures and buckets.
        val Bits = 60
        val Bands = 4
        val BandBits = Bits / Bands
        // per-bit ±1 sums as 60 codegen'd SUM aggregates over the exploded
        // token stream (one md5 per token, then flat shift/mask columns —
        // the same one-pass shape as q_ngram_jaccard's minhash; the first
        // cut's nested per-row lambdas ran interpreted and twice)
        val bitSums = (0 until Bits).map(b =>
          sum(shiftright(col("th"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b"))
        val simhashCol = (0 until Bits)
          .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
        val sh = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            explode(tokenSet(col("text"))).as("tok"))
          .withColumn("th",
            conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType))
          .groupBy(col("source"), col("doc_id"))
          .agg(bitSums.head, bitSums.tail: _*)
          .select(col("source"), col("doc_id"), simhashCol.as("simhash"))
        val bandVals = (0 until Bands).map(i =>
          shiftright(col("simhash"), BandBits * i).bitwiseAND(lit((1L << BandBits) - 1)))
        val sig = sh.select(col("source"), col("doc_id"), col("simhash"),
          posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val")))
        // bucket-local pair generation, signatures carried in-row (struct
        // id sorts by doc_id first) — bounded per-bucket cost via the
        // shared BucketPairs engine, like the MinHash path above
        val sigId = sig.select(col("source"), col("band_id"), col("band_val"),
          struct(col("doc_id"), col("simhash")).as("id"))
        val cand = BucketPairs.pairs(
            sigId, Seq("source", "band_id", "band_val"), "id", Seq.empty)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
          .distinct()
        cand
          .withColumn("hamming", expr("cast(bit_count(sim_a ^ sim_b) AS BIGINT)"))
          .filter(col("hamming") <= 4)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                FROM documents),
              h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks),
              bits AS (
                SELECT doc_id, b.b AS b, SUM(((th >> b.b) & 1) * 2 - 1) AS s
                FROM h, generate_series(0, 59) b(b)
                GROUP BY doc_id, b.b),
              sh AS (
                SELECT d.source, d.doc_id,
                       CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                         AS simhash
                FROM bits JOIN documents d ON d.doc_id = bits.doc_id
                GROUP BY d.source, d.doc_id),
              bands AS (
                SELECT source, doc_id, simhash, g.i AS band_id,
                       (simhash >> (15 * g.i)) & 32767 AS band_val
                FROM sh, generate_series(0, 3) g(i)),
              cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.simhash AS sim_a, b.simhash AS sim_b
                FROM bands a JOIN bands b
                  ON a.source = b.source
                     AND a.band_id = b.band_id AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id)
              SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
              FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 4
              ORDER BY doc_a, doc_b"""),
      "SimHash near-dup: 60-bit token-weighted signatures (md5-derived, engine-shared), " +
        "4x15-bit band buckets for candidates, hamming-distance verify — LSH-shaped like " +
        "the MinHash path, so candidates track near-dup density at scale"),

    QueryDef(
      "q_multimodal_meta", Seq("S2", "F5"),
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          octet_length(col("text")).cast(LongType).as("n_bytes"),
          md5(col("text")).as("content_hash"),
          ascii(substring(col("text"), 1, 1)).cast(LongType).as("magic_byte"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
                     md5(text) AS content_hash,
                     CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS magic_byte
              FROM documents ORDER BY doc_id"""),
      "Opaque-blob metadata probe: byte length + content hash + magic byte — the schema/plumbing side of multimodal columns (graft.multimodal decodes image/audio for real via JDK codecs; video is stubbed)"),

    QueryDef(
      "q_multimodal_features", Seq("S2", "F5"),
      (s, d) => {
        // payloads become opaque binary; decode/frame-sample/resize run in
        // graft.multimodal's executor-side batch loop. The oracle recomputes
        // the deterministic stub relationally (the documents are ASCII, so
        // char positions == byte positions on both engines).
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text").cast(BinaryType).as("content"))
        graft.multimodal.Multimodal.features(docs, s).toDF().orderBy("doc_id")
      },
      Some("""WITH d AS (
                SELECT doc_id, text,
                       ascii(substr(text, 1, 1)) AS b0,
                       ascii(substr(text, length(text), 1)) AS bn,
                       length(text) AS n
                FROM documents),
              m AS (
                SELECT doc_id,
                       CASE b0 % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                            ELSE 'video' END AS kind,
                       CAST(16 + b0 % 64 AS BIGINT) AS width,
                       CAST(16 + bn % 64 AS BIGINT) AS height,
                       CAST((n + 255) // 256 AS BIGINT) AS n_frames,
                       md5(substr(text, 1, 256)) AS frame0_hash
                FROM d)
              SELECT doc_id, kind, width, height, n_frames, frame0_hash,
                     CAST(CASE WHEN GREATEST(width, height) > 32
                               THEN (width * 32) // GREATEST(width, height)
                               ELSE width END AS BIGINT) AS thumb_w,
                     CAST(CASE WHEN GREATEST(width, height) > 32
                               THEN (height * 32) // GREATEST(width, height)
                               ELSE height END AS BIGINT) AS thumb_h,
                     CAST(NULL AS VARCHAR) AS thumb_hash
              FROM m ORDER BY doc_id"""),
      "Multimodal feature extraction: binary payload -> stubbed decode (kind/dims), " +
        "256-byte frame sampling, md5 frame hash, integer thumbnail resize — all in one " +
        "executor-side batch pass (the mapInPandas shape on the JVM)"),

    QueryDef(
      "q_image_neardup", Seq("S2", "F5", "A1"),
      (s, d) => {
        // perceptual IMAGE dedup — the pixel-domain member of the near-dup
        // family: re-encodes, mild noise and small edits change every
        // content hash but barely move a perceptual hash. Real end-to-end:
        // the PNGs are deterministically SYNTHESIZED (no image column in
        // the corpus: same-source EVEN docs are tiny perturbations of a
        // shared base raster — the near-dup class — while odd docs repaint
        // half the image), ENCODED with the JDK encoder, then the operator
        // really decodes them (ImageIO), aHash-es real pixels, buckets the
        // 64-bit hash 4×16 through the shared bounded BucketPairs engine
        // and verifies by hamming ≤ 6 — the SimHash pipeline shape in the
        // pixel domain. Oracled since r20 through the materialized
        // fingerprint aux artifact (writeMediaFpAux): only the DECODE is
        // SQL-inexpressible, so DuckDB reads the engine's (id, ahash)
        // table and replays banding, the bounded election, the hamming
        // verify and the rollup; the decode step stays pinned by
        // MultimodalSpec (re-encode invariance, perturbation tolerance,
        // inversion distance).
        val imgs = synthMediaOf(s, d, graft.multimodal.Multimodal.synthPng)
        val pairs = graft.multimodal.Multimodal
          .imageNeardup(imgs.select("id", "content"), s)
        pairs
          .join(mediaSourcesOf(s, d).hint("shuffle_hash"), Seq("id_a"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"), max("hamming").as("max_hamming"))
          .orderBy("source")
      },
      Some(mediaNeardupOracleSql("image_fps")),
      "Perceptual image near-dup (aHash over REAL decoded pixels): deterministic " +
        "synthesized PNGs → ImageIO decode → 64-bit block-mean hash → banded " +
        "BucketPairs candidates → hamming verify; per-source pair rollup; oracle " +
        "replays everything downstream of the decode from the materialized " +
        "fingerprint artifact",
      aux = Some { (s, d, a) =>
        writeMediaFpAux(s, d, a, "image_fps",
          graft.multimodal.Multimodal.synthPng,
          graft.multimodal.Multimodal.imageHashesOf)
      }),

    QueryDef(
      "q_audio_neardup", Seq("S2", "F5", "A1"),
      (s, d) => {
        // perceptual AUDIO dedup (VERDICT r17 #4) — the signal-domain
        // twin of q_image_neardup: re-encodes and small edits change
        // every content hash but barely move a block-energy fingerprint.
        // Real end-to-end: deterministic WAVs are SYNTHESIZED (no audio
        // column in the corpus: same-source EVEN docs silence ≤ 3
        // samples of a shared base signal — the near-dup class — while
        // odd docs re-level the second half), ENCODED with the JDK WAV
        // writer, then the operator really decodes them (javax.sound →
        // PCM), block-energy-hashes the real samples, bands 4×16 through
        // the shared bounded BucketPairs engine and verifies by hamming
        // — the q_image_neardup pipeline shape in the signal domain,
        // sharing its candidate/verify tail verbatim (hash64Neardup).
        // No DuckDB oracle (SQL cannot parse WAV — the same adjudication
        // as the image leg); MultimodalSpec pins the fingerprint
        // contracts and the pair structure.
        // Oracled since r20 through the materialized fingerprint aux
        // artifact (the q_image_neardup pattern); decode stays
        // MultimodalSpec-pinned.
        val wavs = synthMediaOf(s, d, graft.multimodal.Multimodal.synthWav)
        val pairs = graft.multimodal.Multimodal
          .audioNeardup(wavs.select("id", "content"), s)
        pairs
          .join(mediaSourcesOf(s, d).hint("shuffle_hash"), Seq("id_a"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"), max("hamming").as("max_hamming"))
          .orderBy("source")
      },
      Some(mediaNeardupOracleSql("audio_fps")),
      "Perceptual audio near-dup (block-energy hash over REAL decoded PCM): " +
        "deterministic synthesized WAVs → javax.sound decode → 64-block integer " +
        "energy fingerprint → banded BucketPairs candidates → hamming verify; " +
        "per-source pair rollup; oracle replays everything downstream of the " +
        "decode from the materialized fingerprint artifact",
      aux = Some { (s, d, a) =>
        writeMediaFpAux(s, d, a, "audio_fps",
          graft.multimodal.Multimodal.synthWav,
          graft.multimodal.Multimodal.audioHashesOf)
      }),

    QueryDef(
      "q_video_neardup", Seq("S2", "F5", "A1"),
      (s, d) => {
        // perceptual VIDEO dedup (VERDICT r18 Next #6) — the
        // moving-picture member of the near-dup family, WITHIN the
        // signed-off codec boundary: the one video format the JVM can
        // pixel-decode without a codec (MJPEG-in-AVI — every movi chunk
        // a standalone baseline JPEG). Real end-to-end: deterministic
        // two-frame MJPEG AVIs are SYNTHESIZED (no video column in the
        // corpus: same-source EVEN docs perturb ≤ 3 pixels of frame 0 —
        // the near-dup class — while odd docs repaint half; frame 1 is
        // per-doc noise, so detection cannot lean on later frames),
        // frames REALLY encode through the lossy JDK JPEG writer and the
        // operator really container-walks + ImageIO-decodes them, then
        // aHashes the FIRST decoded frame and runs q_image_neardup's
        // banded candidate/verify tail verbatim. No DuckDB oracle (SQL
        // cannot parse AVI or decode JPEG — the image/audio-leg
        // adjudication); MultimodalSpec pins the contracts.
        // Oracled since r20 through the materialized fingerprint aux
        // artifact (the q_image_neardup pattern); the container walk +
        // JPEG decode stays MultimodalSpec-pinned (H.264+ stays the
        // signed-off codec-bitstream stub).
        val vids = synthMediaOf(s, d, graft.multimodal.Multimodal.synthMjpegAvi)
        val pairs = graft.multimodal.Multimodal
          .videoNeardup(vids.select("id", "content"), s)
        pairs
          .join(mediaSourcesOf(s, d).hint("shuffle_hash"), Seq("id_a"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"), max("hamming").as("max_hamming"))
          .orderBy("source")
      },
      Some(mediaNeardupOracleSql("video_fps")),
      "Perceptual video near-dup (first-frame aHash over REALLY decoded " +
        "MJPEG-in-AVI rasters): deterministic synthesized two-frame MJPEG AVIs → " +
        "container walk + ImageIO JPEG decode → 64-bit block-mean hash of frame " +
        "0 → banded BucketPairs candidates → hamming verify; per-source rollup; " +
        "oracle replays everything downstream of the decode from the " +
        "materialized fingerprint artifact",
      aux = Some { (s, d, a) =>
        writeMediaFpAux(s, d, a, "video_fps",
          graft.multimodal.Multimodal.synthMjpegAvi,
          graft.multimodal.Multimodal.videoHashesOf)
      }),

    QueryDef(
      "q_video_neardup_scenes", Seq("S2", "F5", "A1"),
      (s, d) => {
        // SCENE-level video dedup (VERDICT r19 Next #8 stretch): the
        // frame-0 rung above is blind to a clip whose FIRST frame was
        // edited; this one aHashes EVERY decoded frame of the MJPEG
        // prefix and elects a pair when ANY frames of two clips verify
        // (min hamming per pair). The synthesized corpus makes the
        // blindness concrete: every clip's frame 0 is doc-unique noise
        // (the edit), same-source EVEN docs share a perturbed scene on
        // frame 1 — so frame-0 hashing finds NOTHING here while the
        // scene rung recovers the near-dup classes. Oracled through the
        // per-frame fingerprint aux artifact; decode stays
        // MultimodalSpec-pinned (H.264+ stays the codec boundary).
        val vids = synthMediaOf(s, d,
          graft.multimodal.Multimodal.synthMjpegAviScened)
        val pairs = graft.multimodal.Multimodal
          .videoSceneNeardup(vids.select("id", "content"), s)
        pairs
          .join(mediaSourcesOf(s, d).hint("shuffle_hash"), Seq("id_a"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"), max("hamming").as("max_hamming"))
          .orderBy("source")
      },
      Some(mediaSceneNeardupOracleSql("video_scene_fps")),
      "Scene-level video near-dup (per-frame aHash over ALL decoded MJPEG " +
        "frames): catches clips whose first frame was edited but that share a " +
        "later scene — banded (video, frame) hashes through the bounded engine, " +
        "pair elected on ANY matching frames (min hamming), per-source rollup; " +
        "oracle replays banding, the struct-keyed election and the pair fold " +
        "from the materialized per-frame fingerprint artifact",
      aux = Some { (s, d, a) =>
        writeMediaFpAux(s, d, a, "video_scene_fps",
          graft.multimodal.Multimodal.synthMjpegAviScened,
          graft.multimodal.Multimodal.videoSceneHashesOf)
      }),

    QueryDef(
      "q_cdc_chunk_dedup", Seq("F2", "W1", "A4", "A2"),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // Content-defined chunking (the sub-document dedup family next to
        // whole-doc MinHash/SimHash): a token whose md5-derived 60-bit
        // value ≡ 0 (mod 8) STARTS a new chunk, so boundaries move with
        // content, not offsets — an insertion resynchronizes within ~one
        // chunk and shared boilerplate hashes identically across documents.
        // Spark shape: one explode, one per-doc window (partitioned by
        // doc_id — no skew, a doc's tokens fit one partition), two hash
        // aggregations. Everything is builtin/codegen'd; the md5-derived
        // marker is the engine-shared hash family (verify-skill hex cast),
        // so the DuckDB oracle rebuilds identical chunks.
        val tokHash = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType)
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
          .withColumn("marker", (tokHash % 8 === 0).cast(IntegerType))
          .withColumn("chunk_id",
            sum(col("marker")).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        val chunks = toks
          .groupBy(col("doc_id"), col("chunk_id"))
          .agg(md5(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")))).as("chunk_md5"))
        chunks
          .groupBy(col("chunk_md5"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"))
          .filter(col("n_docs") > 1)
          .orderBy(col("n_occ").desc, col("n_docs").desc, col("chunk_md5"))
          .limit(20)
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(l) AS tok,
                       unnest(range(1, len(l) + 1)) AS pos
                FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
              chunked AS (
                SELECT doc_id, tok, pos,
                       SUM(CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 8 = 0
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
                FROM toks),
              chunks AS (
                SELECT doc_id, chunk_id,
                       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
                FROM chunked GROUP BY doc_id, chunk_id)
              SELECT chunk_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                     CAST(COUNT(*) AS BIGINT) AS n_occ
              FROM chunks GROUP BY chunk_md5
              HAVING COUNT(DISTINCT doc_id) > 1
              ORDER BY n_occ DESC, n_docs DESC, chunk_md5 LIMIT 20"""),
      "Content-defined chunk dedup (sub-document boilerplate detection): md5-marker " +
        "token boundaries resynchronize under insertions, per-doc window chunk ids, " +
        "chunk-hash aggregation finds text shared ACROSS documents — the CDC dedup " +
        "family whole-doc fingerprints can't see"),

    QueryDef(
      "q_pii_redact", Seq("F4", "F8"),
      (s, d) => {
        // PII scrubbing (the pre-training privacy pass every corpus needs):
        // the synthetic corpus is clean, so a deterministic email + phone
        // are grafted onto each document first, and the operator under test
        // is the codegen'd regexp pipeline — detect counts + in-place
        // redaction — whose output hash the oracle reproduces. Narrow
        // per-row regex work: no shuffle, scales linearly.
        val phone = concat(lit("555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"))
        val pii = concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com tel "), phone)
        val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
        val phoneRe = "[0-9]{3}-[0-9]{4}"
        Tables.documents(s, d).select(
          col("doc_id"),
          regexp_count(pii, lit(emailRe)).cast(LongType).as("n_emails"),
          regexp_count(pii, lit(phoneRe)).cast(LongType).as("n_phones"),
          md5(regexp_replace(regexp_replace(pii, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_hash"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com tel 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii
                FROM documents)
              SELECT doc_id,
                     CAST(len(regexp_extract_all(pii, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT)
                       AS n_emails,
                     CAST(len(regexp_extract_all(pii, '[0-9]{3}-[0-9]{4}')) AS BIGINT)
                       AS n_phones,
                     md5(regexp_replace(regexp_replace(pii, '[a-z0-9.]+@[a-z0-9.]+',
                           '<EMAIL>', 'g'), '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
                       AS redacted_hash
              FROM p ORDER BY doc_id"""),
      "PII detection + redaction (emails/phones → placeholder tokens): per-row codegen'd " +
        "regex pipeline, counts + redacted-content hash; oracle replays the same regexes " +
        "with global replacement"),

    QueryDef(
      "q_chunk_windows", Seq("J7", "F4", "F5"),
      (s, d) => {
        // context-window chunking (training-example preparation): W-token
        // windows at stride S (overlap W−S) per document, each chunk
        // content-hashed — the explode is the only row expansion and the
        // ORDER key is (doc_id, chunk_idx), so the op is a narrow per-doc
        // lateral at any corpus size
        val W = 32
        val S = 24
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), size(col("toks")) - 1, lit(S))).as("start"))
          .select(
            col("doc_id"),
            (col("start") / S).cast(LongType).as("chunk_idx"),
            least(lit(W), size(col("toks")) - col("start")).cast(LongType).as("n_tokens"),
            md5(array_join(slice(col("toks"), col("start") + 1, lit(W)), " ")).as("chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""SELECT doc_id,
                     CAST(u.start // 24 AS BIGINT) AS chunk_idx,
                     CAST(least(32, len(toks) - u.start) AS BIGINT) AS n_tokens,
                     md5(array_to_string(
                           list_slice(toks, u.start + 1,
                                      u.start + least(32, len(toks) - u.start)), ' '))
                       AS chunk_hash
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
                   unnest(generate_series(0, len(toks) - 1, 24)) AS u(start)
              ORDER BY doc_id, chunk_idx"""),
      "Context-window chunking: 32-token windows at stride 24 (8-token overlap) per " +
        "document with per-chunk content hashes — the training-example slicing pass; " +
        "oracle rebuilds identical windows via generate_series + list_slice"),

    QueryDef(
      "q_pack_sequences", Seq("W1", "A4", "F2"),
      (s, d) => {
        // sequence PACKING (the training-batch preparation step after
        // chunking): concatenate a stream's documents in a deterministic
        // order and cut the token stream into fixed 2048-token windows —
        // the GPT-style concat-then-chunk packing where documents straddle
        // window boundaries, so no padding is ever wasted. A doc's window
        // is the window of its START offset: floor((cumsum − tok)/B) via
        // one running sum — no per-window driver state, unlike true
        // first-fit bin packing (which is inherently sequential). At
        // 100 TB the running sum's per-source ordering is the scale
        // boundary: one source = one sorted partition stream, so packing
        // parallelizes across sources exactly like the compile family
        // across ocids (and a single over-large source pre-shards on a
        // deterministic doc_id range before packing).
        packSequencesOf(Tables.documents(s, d))
      },
      Some("""WITH t AS (
                SELECT source, doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
                FROM documents),
              c AS (
                SELECT source, doc_id, tok,
                       SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
                FROM t)
              SELECT source,
                     CAST(FLOOR((cum - tok) / 2048.0) AS BIGINT) AS window_id,
                     COUNT(*) AS n_docs,
                     CAST(SUM(tok) AS BIGINT) AS n_tokens,
                     MIN(doc_id) AS first_doc,
                     MAX(doc_id) AS last_doc
              FROM c
              GROUP BY source, window_id
              ORDER BY source, window_id"""),
      "Sequence packing: concat-then-chunk a source's token stream into 2048-token " +
        "training windows (docs straddle boundaries — zero padding waste) via one " +
        "per-source running sum; per-window doc/token stats, oracle = the identical " +
        "window arithmetic"),

    QueryDef(
      "q_pack_sequences_bpe", Seq("W1", "A4", "F2", "F8"),
      (s, d) => {
        // the packing arithmetic budgeted in REAL subword tokens
        // (VERDICT r11 Next #4's second leg): same one-window plan, the
        // tok column swaps whitespace counts for bpe_tokens counts. No
        // DuckDB oracle (SQL can't BPE); BpePackSpec pins conservation +
        // contiguity and that windows differ from the ws variant exactly
        // when the budgets differ.
        graft.functions.GraftExtensions.ensureRegistered(s)
        packSequencesOf(Tables.documents(s, d), tokenizer = "bpe")
      },
      None,
      "Sequence packing with the byte-level BPE budget: identical " +
        "concat-then-chunk window arithmetic, token counts from the vendored " +
        "subword tokenizer — what the training batch actually holds",
      pinnedBy = Some("SQL cannot run BPE; the packing arithmetic is oracle-" +
        "checked via q_pack_sequences (whitespace budget) and the BPE counts by " +
        "BpeSpec's independent-CPython goldens (adjudicated permanent no_oracle, " +
        "VERDICT r12)")),

    QueryDef(
      "q_rep_ngrams", Seq("F4", "F8"),
      (s, d) => {
        // repetition quality signal (the Gopher/RefinedWeb duplicate-ngram
        // fraction): per-document 3-gram duplication ratio, all in-row
        // array ops — no explode, no shuffle, linear at any corpus size.
        // Documents here are ≥10 tokens, so the gram list is never empty.
        // fanOut: ~100 interpreted element_at/concat evals + a per-row
        // distinct set is engine CPU that would otherwise run on the
        // single-task scan (6.1 s → sub-second at sf0.1).
        // Docs shorter than one gram are FILTERED on both engines — with
        // start > stop, Spark's sequence() counts DOWN where DuckDB's
        // generate_series returns empty, so the guard must be explicit,
        // not a data assumption
        // native token_grams (r11): the HOF transform form evaluated
        // interpreted; one compiled loop builds the same strings
        graft.functions.GraftExtensions.ensureRegistered(s)
        val toks = tokens(col("text"))
        val grams = call_function("token_grams", toks, lit(3))
        Tables.fanOut(Tables.documents(s, d))
          .filter(size(tokens(col("text"))) >= 3)
          .select(
          col("doc_id"),
          size(grams).cast(LongType).as("n_grams"),
          size(array_distinct(grams)).cast(LongType).as("n_distinct"),
          (lit(1.0) - size(array_distinct(grams)).cast(DoubleType)
            / size(grams)).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
                SELECT doc_id,
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t) - 2)] AS grams
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                      WHERE len(string_split(text, ' ')) >= 3))
              SELECT doc_id,
                     CAST(len(grams) AS BIGINT) AS n_grams,
                     CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
                     1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                       AS dup_frac
              FROM g ORDER BY doc_id"""),
      "Repetition quality signal (duplicate 3-gram fraction, the Gopher-style filter " +
        "for degenerate/looping text): in-row gram construction + distinct ratio, " +
        "no shuffle"),

    QueryDef(
      "q_decontaminate", Seq("J5", "J2", "A1"),
      (s, d) => {
        // benchmark decontamination (the pre-training hygiene pass: drop
        // training documents that share long n-grams with an evaluation
        // set): the "eval set" is the doc_id % 97 hash slice — a stand-in
        // for a REAL benchmark suite, which is fixed-size (MBs of prompts)
        // and stays broadcastable at ANY train scale; a corpus-derived
        // slice like this demo's would not, and would switch to a shuffle
        // join on the gram. 4-token shingles are the overlap unit
        // (production pipelines use 8-13; this synthetic small-vocab
        // corpus only shows real overlap at 4 — the width is the one
        // tuning knob), and the check is a BROADCAST semi-shaped join from
        // exploded train shingles onto the distinct eval shingles: the
        // train side streams through one codegen'd explode+join+aggregate,
        // no shuffle on the big side until the per-doc count
        val W = 4
        val toks = tokens(col("text"))
        // native token_grams + explode_OUTER, for the reasons measured on
        // q_substr_dedup (r11): the HOF transform evaluates interpreted,
        // and the non-outer explode's implicit size>0 filter pushes the
        // whole gram construction below the fanOut exchange onto the
        // single-task scan. The size(toks) >= W guard makes every gram
        // array non-empty, so outer ≡ inner here.
        graft.functions.GraftExtensions.ensureRegistered(s)
        val grams = call_function("token_grams", toks, lit(W))
        def shingled(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), explode_outer(grams).as("gram"))
        // sub-shingle docs filtered on both engines (Spark's descending
        // sequence() vs DuckDB's empty generate_series, as in q_rep_ngrams)
        val docs = Tables.fanOut(Tables.documents(s, d))
          .filter(size(toks) >= W)
        val evalGrams = shingled(docs.filter(pmod(col("doc_id"), lit(97)) === 0))
          .select("gram").distinct()
        shingled(docs.filter(pmod(col("doc_id"), lit(97)) =!= 0))
          .join(broadcast(evalGrams), Seq("gram"))
          .groupBy("doc_id")
          .agg(countDistinct(col("gram")).as("n_shared_grams"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
                SELECT doc_id,
                       unnest([array_to_string(t[i:i+3], ' ')
                               for i in generate_series(1, len(t) - 3)]) AS gram
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                      WHERE len(string_split(text, ' ')) >= 4)),
              ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
              SELECT g.doc_id,
                     CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
              FROM g JOIN ev USING (gram)
              WHERE g.doc_id % 97 <> 0
              GROUP BY g.doc_id ORDER BY g.doc_id"""),
      "Benchmark decontamination: training docs sharing 4-token shingles with the " +
        "eval hash-slice — exploded shingles against a broadcast benchmark-sized " +
        "distinct set, per-doc overlap counts"),

    QueryDef(
      "q_decontaminate_bloom", Seq("J5", "J2", "A1"),
      (s, d) => {
        // q_decontaminate's scale escape hatch: when the reference-set
        // gram dictionary outgrows broadcast (a multi-benchmark suite, or
        // cross-corpus contamination where "eval" is another corpus), the
        // exact verify join must shuffle BOTH sides — and shuffling every
        // training shingle to check membership is the scale killer. The
        // native bloom_agg compresses the eval grams to a fixed-size
        // self-describing filter (built distributively, OR-merged
        // map-side) that always broadcasts; the codegen'd bloom_contains
        // prefilter then drops non-members on the scan, so the shuffled
        // verify join sees only true hits + the FP sliver (~2^-7 here:
        // 1M bits / 7 hashes over ~29k eval grams). False negatives are
        // impossible (BloomSpec pins it), the verify join is EXACT, and
        // the verify side carries a shuffle_hash pin (estimate-free, the
        // q_collection_notes lesson) — so output is IDENTICAL to
        // q_decontaminate and the oracle is shared verbatim.
        val W = 4
        val toks = tokens(col("text"))
        graft.functions.GraftExtensions.ensureRegistered(s)
        val grams = call_function("token_grams", toks, lit(W))
        def shingled(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), explode_outer(grams).as("gram"))
        val docs = Tables.fanOut(Tables.documents(s, d))
          .filter(size(toks) >= W)
        val evalGrams = shingled(docs.filter(pmod(col("doc_id"), lit(97)) === 0))
          .select("gram").distinct()
        val bloom = evalGrams.agg(call_function("bloom_agg",
          xxhash64(col("gram")), lit(1 << 20), lit(7)).as("bf"))
        shingled(docs.filter(pmod(col("doc_id"), lit(97)) =!= 0))
          .crossJoin(broadcast(bloom))
          .filter(call_function("bloom_contains", col("bf"), xxhash64(col("gram"))))
          .join(evalGrams.hint("shuffle_hash"), Seq("gram"), "left_semi")
          .groupBy("doc_id")
          .agg(countDistinct(col("gram")).as("n_shared_grams"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
                SELECT doc_id,
                       unnest([array_to_string(t[i:i+3], ' ')
                               for i in generate_series(1, len(t) - 3)]) AS gram
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                      WHERE len(string_split(text, ' ')) >= 4)),
              ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
              SELECT g.doc_id,
                     CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
              FROM g JOIN ev USING (gram)
              WHERE g.doc_id % 97 <> 0
              GROUP BY g.doc_id ORDER BY g.doc_id"""),
      "Bloom-prefiltered decontamination — the too-big-to-broadcast reference-set " +
        "shape: eval grams compress to a fixed-size native bloom_agg filter " +
        "(broadcast anywhere), the codegen'd bloom_contains drops non-members on " +
        "the scan, and the exact shuffle-hash verify semi-join sees only hits + the " +
        "FP sliver; identical output (and oracle) to q_decontaminate"),

    QueryDef(
      "q_sample_stratified", Seq("A4", "P2", "F5"),
      (s, d) => {
        // deterministic stratified sampling (training-mix construction):
        // per-language keep rates decided by a content-stable md5 hash of
        // the doc id — reproducible across runs, partitionings and
        // engines, no RNG. One pass, one aggregation.
        val h = md5Bucket(col("doc_id"))
        val rate = when(col("lang") === "en", lit(50)).otherwise(lit(25))
        Tables.documents(s, d)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(h < rate, 1L).otherwise(0L)).as("n_sampled"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_total,
                     CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                                        < (CASE WHEN lang = 'en' THEN 50 ELSE 25 END)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
              FROM documents GROUP BY lang ORDER BY lang"""),
      "Deterministic stratified sampling (per-language keep rates from a stable md5 " +
        "hash — the reproducible training-mix sampler, no RNG); oracle recomputes the " +
        "same hash decision"),

    QueryDef(
      "q_source_mix", Seq("A4", "A1", "F5"),
      (s, d) => sourceMixOf(Tables.documents(s, d)),
      Some("""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              w AS (
                SELECT source, n_docs, n_tokens,
                       CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,18)) AS w_dec
                FROM per),
              t AS (SELECT CAST(sum(w_dec) AS DECIMAL(38,18)) AS w_tot FROM w)
              SELECT source, n_docs, n_tokens,
                     round(CAST(w_dec AS DOUBLE) / CAST(w_tot AS DOUBLE), 9) AS weight,
                     CAST(floor(100000.0 * round(CAST(w_dec AS DOUBLE) / CAST(w_tot AS DOUBLE), 9))
                          AS BIGINT) AS n_target
              FROM w, t ORDER BY source"""),
      "Temperature-resampled source mix (w ∝ n_tokens^0.5): the training-mix " +
        "interpolation between proportional and uniform sampling — sqrt because " +
        "IEEE requires it correctly rounded (cross-engine exact where pow is not), " +
        "decimal-summed normalizer, per-source weights and target draws for a " +
        "100k budget"),

    QueryDef(
      "q_mix_unimax", Seq("A4", "A1", "W1"),
      (s, d) => unimaxMixOf(Tables.documents(s, d),
        totalBudget = 50000L, maxEpochs = 2L),
      Some("""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              capd AS (
                SELECT source, n_docs, n_tokens,
                       n_tokens * 2 AS cap_tokens
                FROM per),
              rk AS (
                SELECT *, ROW_NUMBER() OVER w AS i,
                       COUNT(*) OVER () AS n_src,
                       SUM(cap_tokens) OVER (w ROWS UNBOUNDED PRECEDING) AS prefix
                FROM capd WINDOW w AS (ORDER BY cap_tokens, source)),
              fl AS (
                SELECT *, CASE WHEN cap_tokens * (n_src - i + 1)
                                    <= 50000 - (prefix - cap_tokens)
                               THEN 1 ELSE 0 END AS ok
                FROM rk),
              cp AS (
                SELECT *, MIN(ok) OVER (ORDER BY cap_tokens, source
                            ROWS UNBOUNDED PRECEDING) = 1 AS capped
                FROM fl),
              gl AS (
                SELECT *, SUM(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                            OVER () AS spent,
                       SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k
                FROM cp),
              tgt AS (
                SELECT source, n_docs, n_tokens, cap_tokens, capped,
                       CAST(CASE WHEN capped THEN cap_tokens
                                 ELSE (50000 - spent) // (n_src - k)
                            END AS BIGINT) AS n_target
                FROM gl)
              SELECT source, n_docs, n_tokens, cap_tokens, capped, n_target,
                     CASE WHEN n_tokens > 0
                          THEN round(CAST(n_target AS DOUBLE)
                                 / CAST(n_tokens AS DOUBLE), 9) END AS epochs
              FROM tgt ORDER BY source"""),
      "UniMax source mixing (Chung et al. 2023): budget spread as uniformly as " +
        "possible under a per-source epoch cap — exact integer water-filling " +
        "(ascending-cap prefix election, integer-div even share), the published " +
        "alternative to the sqrt-temperature mix for small-source protection; " +
        "one corpus aggregation, sources-bounded windows after"),

    QueryDef(
      "q_corpus_split", Seq("A4", "F5", "P1"),
      (s, d) => {
        // deterministic train/val/test split: assignment decided by the
        // same content-stable md5 bucket as q_sample_stratified — never
        // rand()/mod-on-row-number, which would reassign documents on
        // every rerun, repartition, or upstream insert and leak val/test
        // into training. 90/5/5 on the hash bucket; per (source, split)
        // doc and token counts are the readout a dataset build records.
        // One scan, one map-side-combined aggregation — a pure per-row
        // decision at any corpus size, and the same hash makes the split
        // reproducible in ANY engine that can compute md5 (the oracle
        // re-derives it independently).
        val h = md5Bucket(col("doc_id"))
        val split = when(h < 90, lit("train")).when(h < 95, lit("val"))
          .otherwise(lit("test"))
        Tables.documents(s, d)
          .groupBy(col("source"), split.as("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
          .orderBy("source", "split")
      },
      Some("""SELECT source,
                     CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
                          THEN 'train'
                          WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 95
                          THEN 'val'
                          ELSE 'test' END AS split,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              FROM documents GROUP BY source, split ORDER BY source, split"""),
      "Deterministic train/val/test split (90/5/5 on the content-stable md5 bucket — " +
        "reproducible across reruns/repartitions, no RNG, no row-number dependence); " +
        "per (source, split) doc + token counts"),

    QueryDef(
      "q_shuffle_export", Seq("F5", "W1", "O1"),
      (s, d) => shuffleExportOf(Tables.documents(s, d), nShards = 8)
        .orderBy("shard", "seq"),
      Some("""WITH h AS (
                SELECT doc_id, source,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15))::BIGINT AS h
                FROM documents)
              SELECT h % 8 AS shard,
                     row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS seq,
                     doc_id, source
              FROM h ORDER BY shard, seq"""),
      "Deterministic shuffled shard export (training-data write layout): content-stable " +
        "hash -> shard + within-shard rank, reproducible across reruns/repartitions with " +
        "no RNG and no single-partition global window; shard count is the parallelism knob"),

    QueryDef(
      "q_mix_schedule", Seq("F5", "W1", "O1"),
      // the demo derives weights from the source name (w = id%3+1) so the
      // declared query is data-independent; a real run passes its own
      // mixture table to mixScheduleOf
      (s, d) => mixScheduleOf(Tables.documents(s, d),
        weightExpr = (substring(col("source"), 4, 10).cast(LongType) % 3L) + 1L,
        weightLcm = 6L, nShards = 4)
        .orderBy("shard", "vpos", "source", "doc_id"),
      Some("""WITH h AS (
                SELECT doc_id, source,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))::BIGINT AS h,
                       (CAST(substr(source, 4) AS BIGINT) % 3) + 1 AS wt
                FROM documents),
              r AS (
                SELECT doc_id, source, h % 4 AS shard, wt,
                       row_number() OVER (PARTITION BY h % 4, source
                                          ORDER BY h, doc_id) AS rn
                FROM h)
              SELECT shard, (rn - 1) * (6 // wt) AS vpos, source, doc_id
              FROM r ORDER BY shard, vpos, source, doc_id"""),
      "Deterministic source-mixture interleave (stride/virtual-time scheduling): weight-w " +
        "sources occupy every (L/w)-th position, so every schedule prefix realizes the " +
        "target mixture; per-(shard, source) windows keep the biggest source from " +
        "bottlenecking one partition"),

    QueryDef(
      "q_mix_epoch", Seq("A4", "W1", "J2", "F5"),
      (s, d) => mixEpochOf(Tables.documents(s, d), totalBudget = 2000L, nShards = 4)
        .orderBy(col("shard"), col("vtime"), col("source"), col("doc_id"), col("k"))
        .select(col("shard"), round(col("vtime"), 9).as("vtime"),
          col("source"), col("doc_id"), col("k")),
      Some("""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              w AS (
                SELECT source, n_docs,
                       CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,18)) AS w_dec
                FROM per),
              t AS (SELECT CAST(sum(w_dec) AS DECIMAL(38,18)) AS w_tot FROM w),
              tg AS (
                SELECT source, n_docs,
                       CAST(floor(2000.0 * round(CAST(w_dec AS DOUBLE)
                                                 / CAST(w_tot AS DOUBLE), 9)) AS BIGINT)
                         AS n_target
                FROM w, t),
              hd AS (
                SELECT source, doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch:0'), 1, 15))::BIGINT AS h
                FROM documents),
              rk AS (
                SELECT source, doc_id,
                       CAST(row_number() OVER (PARTITION BY source
                                               ORDER BY h % 4, h, doc_id) AS BIGINT) AS r
                FROM hd),
              em AS (
                SELECT rk.source, rk.doc_id, tg.n_target,
                       rk.r - 1 + unnest(range(CASE WHEN rk.r <= tg.n_target
                         THEN (tg.n_target - rk.r) // tg.n_docs + 1
                         ELSE 0 END)) * tg.n_docs AS k
                FROM rk JOIN tg ON tg.source = rk.source),
              sh AS (
                SELECT source, doc_id, n_target, k,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                           CAST(k AS VARCHAR) || ':epoch-shard:0'), 1, 15))::BIGINT AS h2
                FROM em),
              r2 AS (
                SELECT source, doc_id, n_target, k, h2 % 4 AS shard,
                       CAST(row_number() OVER (PARTITION BY h2 % 4, source
                                               ORDER BY h2, doc_id, k) AS BIGINT) AS rn2
                FROM sh)
              SELECT shard,
                     round(CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_target*2 AS DOUBLE), 9) AS vtime,
                     source, doc_id, CAST(k AS BIGINT) AS k
              FROM r2
              ORDER BY shard, CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_target*2 AS DOUBLE),
                       source, doc_id, k"""),
      "Mixture epoch materializer: sourceMixOf's sqrt-temperature target draws " +
        "realized as a concrete epoch — per-source hash-ordered selection with " +
        "wraparound repetition (deterministic sample-with-replacement, repetition " +
        "counts differ by at most one), then the WFQ finish-time interleave so every " +
        "shard prefix holds the target mixture; per-source rank computed distributed " +
        "(bucket windows + broadcast prefix offsets), no RNG, no global window"),

    QueryDef(
      "q_mix_epoch_curriculum", Seq("A4", "W1", "J2", "F5"),
      (s, d) => mixEpochOf(Tables.documents(s, d), totalBudget = 2000L,
          nShards = 4, curriculum = true)
        .orderBy(col("shard"), col("vtime"), col("source"), col("doc_id"), col("k"))
        .select(col("shard"), round(col("vtime"), 9).as("vtime"),
          col("source"), col("doc_id"), col("k")),
      Some(s"""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              w AS (
                SELECT source, n_docs,
                       CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,18)) AS w_dec
                FROM per),
              t AS (SELECT CAST(sum(w_dec) AS DECIMAL(38,18)) AS w_tot FROM w),
              tg AS (
                SELECT source, n_docs,
                       CAST(floor(2000.0 * round(CAST(w_dec AS DOUBLE)
                                                 / CAST(w_tot AS DOUBLE), 9)) AS BIGINT)
                         AS n_target
                FROM w, t),
              hd AS (
                SELECT source, doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch:0'), 1, 15))::BIGINT AS h,
                       (CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                          tk -> tk IN (${enStop.map("'" + _ + "'").mkString(",")})))
                          AS BIGINT) * 1000000)
                         // CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                         AS q
                FROM documents),
              rk AS (
                SELECT source, doc_id, q,
                       CAST(row_number() OVER (PARTITION BY source
                                               ORDER BY h % 4, h, doc_id) AS BIGINT) AS r
                FROM hd),
              em AS (
                SELECT rk.source, rk.doc_id, rk.q, tg.n_target,
                       rk.r - 1 + unnest(range(CASE WHEN rk.r <= tg.n_target
                         THEN (tg.n_target - rk.r) // tg.n_docs + 1
                         ELSE 0 END)) * tg.n_docs AS k
                FROM rk JOIN tg ON tg.source = rk.source),
              sh AS (
                SELECT source, doc_id, q, n_target, k,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                           CAST(k AS VARCHAR) || ':epoch-shard:0'), 1, 15))::BIGINT AS h2
                FROM em),
              r2 AS (
                SELECT source, doc_id, n_target, k, h2 % 4 AS shard,
                       CAST(row_number() OVER (PARTITION BY h2 % 4, source
                                               ORDER BY q ASC, h2, doc_id, k) AS BIGINT) AS rn2
                FROM sh)
              SELECT shard,
                     round(CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_target*2 AS DOUBLE), 9) AS vtime,
                     source, doc_id, CAST(k AS BIGINT) AS k
              FROM r2
              ORDER BY shard, CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_target*2 AS DOUBLE),
                       source, doc_id, k"""),
      "CURRICULUM epoch: the same mixture epoch (identical selection, repetition " +
        "and per-shard mix — only the emission order changes) with each source's " +
        "in-shard emissions quality-ANNEALED, lowest stopword-density score first, " +
        "so every shard's tail is its highest-quality slice (the decay-phase " +
        "upweighting practice); integer score, hash tie-breaks, fully re-derivable"),

    QueryDef(
      "q_mix_epoch_unimax", Seq("A4", "W1", "J2", "F5"),
      (s, d) => mixEpochUnimaxOf(Tables.documents(s, d),
          totalBudget = 50000L, maxEpochs = 2L, nShards = 4)
        .orderBy(col("shard"), col("vtime"), col("source"), col("doc_id"),
          col("k"))
        .select(col("shard"), round(col("vtime"), 9).as("vtime"),
          col("source"), col("doc_id"), col("k")),
      Some("""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              capd AS (
                SELECT source, n_docs, n_tokens, n_tokens * 2 AS cap_tokens
                FROM per),
              rk AS (
                SELECT *, ROW_NUMBER() OVER w AS i,
                       COUNT(*) OVER () AS n_src,
                       SUM(cap_tokens) OVER (w ROWS UNBOUNDED PRECEDING) AS prefix
                FROM capd WINDOW w AS (ORDER BY cap_tokens, source)),
              fl AS (
                SELECT *, CASE WHEN cap_tokens * (n_src - i + 1)
                                    <= 50000 - (prefix - cap_tokens)
                               THEN 1 ELSE 0 END AS ok
                FROM rk),
              cp AS (
                SELECT *, MIN(ok) OVER (ORDER BY cap_tokens, source
                            ROWS UNBOUNDED PRECEDING) = 1 AS capped
                FROM fl),
              gl AS (
                SELECT *, SUM(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                            OVER () AS spent,
                       SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k
                FROM cp),
              tg AS (
                SELECT source, n_docs, n_tokens,
                       CAST(CASE WHEN capped THEN cap_tokens
                                 ELSE (50000 - spent) // (n_src - k)
                            END AS BIGINT) AS n_target
                FROM gl),
              hd AS (
                SELECT source, doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch:0'), 1, 15))::BIGINT AS h,
                       CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS wt
                FROM documents),
              rkd AS (
                SELECT source, doc_id,
                       CAST(row_number() OVER w2 AS BIGINT) AS r,
                       CAST(sum(wt) OVER (w2 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
                FROM hd WINDOW w2 AS (PARTITION BY source
                                      ORDER BY h % 4, h, doc_id)),
              sel AS (
                SELECT rkd.source, rkd.doc_id, tg.n_docs, rkd.r,
                       (tg.n_target // tg.n_tokens)
                         + (CASE WHEN rkd.p <= tg.n_target % tg.n_tokens
                                 THEN 1 ELSE 0 END) AS reps
                FROM rkd JOIN tg ON tg.source = rkd.source),
              sel2 AS (
                SELECT *, CAST(SUM(reps) OVER (PARTITION BY source) AS BIGINT) AS n_emit
                FROM sel WHERE reps > 0),
              em AS (
                SELECT source, doc_id, n_emit,
                       r - 1 + unnest(range(reps)) * n_docs AS k
                FROM sel2),
              sh AS (
                SELECT source, doc_id, n_emit, k,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                           CAST(k AS VARCHAR) || ':epoch-shard:0'), 1, 15))::BIGINT AS h2
                FROM em),
              r2 AS (
                SELECT source, doc_id, n_emit, k, h2 % 4 AS shard,
                       CAST(row_number() OVER (PARTITION BY h2 % 4, source
                                               ORDER BY h2, doc_id, k) AS BIGINT) AS rn2
                FROM sh)
              SELECT shard,
                     round(CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_emit*2 AS DOUBLE), 9) AS vtime,
                     source, doc_id, CAST(k AS BIGINT) AS k
              FROM r2
              ORDER BY shard, CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_emit*2 AS DOUBLE),
                       source, doc_id, k"""),
      "UniMax-driven mixture epoch: the integer water-filled per-source TOKEN " +
        "budgets (q_mix_unimax) realized as a concrete epoch — full wraparound " +
        "cycles per token quotient, the remainder filled whole-doc in the " +
        "content-stable hash order (token prefix <= remainder, so a source " +
        "NEVER exceeds its cap), then the WFQ finish-time interleave; rank and " +
        "token prefix share one distributed window, emission counts a window " +
        "over the budget-bounded emissions frame — no second corpus pass"),

    QueryDef(
      "q_mix_epoch_unimax_curriculum", Seq("A4", "W1", "J2", "F5"),
      (s, d) =>
        // the annealed UniMax epoch (VERDICT r19 Next #6 stretch):
        // IDENTICAL selection, wraparound repetition and per-shard mix
        // as q_mix_epoch_unimax — only each source's in-shard emission
        // ORDER changes, lowest integer stopword-density score first
        // (the q_mix_epoch_curriculum knob applied to the water-filled
        // budgets; shared-spelling: one mixEpochFromTargets engine)
        mixEpochUnimaxOf(Tables.documents(s, d),
          totalBudget = 50000L, maxEpochs = 2L, nShards = 4,
          curriculum = true)
        .orderBy(col("shard"), col("vtime"), col("source"), col("doc_id"),
          col("k"))
        .select(col("shard"), round(col("vtime"), 9).as("vtime"),
          col("source"), col("doc_id"), col("k")),
      Some(s"""WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
              capd AS (
                SELECT source, n_docs, n_tokens, n_tokens * 2 AS cap_tokens
                FROM per),
              rk AS (
                SELECT *, ROW_NUMBER() OVER w AS i,
                       COUNT(*) OVER () AS n_src,
                       SUM(cap_tokens) OVER (w ROWS UNBOUNDED PRECEDING) AS prefix
                FROM capd WINDOW w AS (ORDER BY cap_tokens, source)),
              fl AS (
                SELECT *, CASE WHEN cap_tokens * (n_src - i + 1)
                                    <= 50000 - (prefix - cap_tokens)
                               THEN 1 ELSE 0 END AS ok
                FROM rk),
              cp AS (
                SELECT *, MIN(ok) OVER (ORDER BY cap_tokens, source
                            ROWS UNBOUNDED PRECEDING) = 1 AS capped
                FROM fl),
              gl AS (
                SELECT *, SUM(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                            OVER () AS spent,
                       SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k
                FROM cp),
              tg AS (
                SELECT source, n_docs, n_tokens,
                       CAST(CASE WHEN capped THEN cap_tokens
                                 ELSE (50000 - spent) // (n_src - k)
                            END AS BIGINT) AS n_target
                FROM gl),
              hd AS (
                SELECT source, doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch:0'), 1, 15))::BIGINT AS h,
                       CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS wt,
                       (CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                          tk -> tk IN (${enStop.map("'" + _ + "'").mkString(",")})))
                          AS BIGINT) * 1000000)
                         // CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                         AS q
                FROM documents),
              rkd AS (
                SELECT source, doc_id, q,
                       CAST(row_number() OVER w2 AS BIGINT) AS r,
                       CAST(sum(wt) OVER (w2 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
                FROM hd WINDOW w2 AS (PARTITION BY source
                                      ORDER BY h % 4, h, doc_id)),
              sel AS (
                SELECT rkd.source, rkd.doc_id, rkd.q, tg.n_docs, rkd.r,
                       (tg.n_target // tg.n_tokens)
                         + (CASE WHEN rkd.p <= tg.n_target % tg.n_tokens
                                 THEN 1 ELSE 0 END) AS reps
                FROM rkd JOIN tg ON tg.source = rkd.source),
              sel2 AS (
                SELECT *, CAST(SUM(reps) OVER (PARTITION BY source) AS BIGINT) AS n_emit
                FROM sel WHERE reps > 0),
              em AS (
                SELECT source, doc_id, q, n_emit,
                       r - 1 + unnest(range(reps)) * n_docs AS k
                FROM sel2),
              sh AS (
                SELECT source, doc_id, q, n_emit, k,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                           CAST(k AS VARCHAR) || ':epoch-shard:0'), 1, 15))::BIGINT AS h2
                FROM em),
              r2 AS (
                SELECT source, doc_id, n_emit, k, h2 % 4 AS shard,
                       CAST(row_number() OVER (PARTITION BY h2 % 4, source
                                               ORDER BY q ASC, h2, doc_id, k) AS BIGINT) AS rn2
                FROM sh)
              SELECT shard,
                     round(CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_emit*2 AS DOUBLE), 9) AS vtime,
                     source, doc_id, CAST(k AS BIGINT) AS k
              FROM r2
              ORDER BY shard, CAST(rn2*2 - 1 AS DOUBLE) / CAST(n_emit*2 AS DOUBLE),
                       source, doc_id, k"""),
      "CURRICULUM UniMax epoch: the water-filled token-budget epoch with each " +
        "source's in-shard emissions quality-ANNEALED (lowest stopword-density " +
        "integer score first, hash tie-breaks) — identical selection, wraparound " +
        "repetition and per-shard mix as q_mix_epoch_unimax, only the emission " +
        "order changes; fully re-derivable, no RNG"),

    QueryDef(
      "q_snapshot_diff", Seq("J1", "A1", "F5"),
      (s, d) => {
        // demo snapshots, derived deterministically from the documents
        // table so the oracle can re-derive them: A (previous crawl) =
        // doc_id % 10 != 7, B (current) = doc_id % 10 != 3, with every
        // fifth doc's text revised in B; a real run passes its two lake
        // snapshots to diffSnapshotsOf
        val docs = Tables.documents(s, d)
        val revised = when(col("doc_id") % 5 === 0,
          concat(coalesce(col("text"), lit("")), lit(" v2")))
          .otherwise(coalesce(col("text"), lit("")))
        diffSnapshotsOf(
          docs.filter(col("doc_id") % 10 =!= 7)
            .select(col("doc_id"), col("source"),
              coalesce(col("text"), lit("")).as("text")),
          docs.filter(col("doc_id") % 10 =!= 3)
            .select(col("doc_id"), col("source"), revised.as("text")))
          .orderBy("source", "status")
      },
      Some("""WITH a AS (
                SELECT doc_id, source,
                       md5(coalesce(source, '') || chr(31) || coalesce(text, '')) AS h
                FROM documents WHERE doc_id % 10 <> 7),
              b AS (
                SELECT doc_id, source,
                       md5(coalesce(source, '') || chr(31) ||
                           CASE WHEN doc_id % 5 = 0
                                THEN coalesce(text, '') || ' v2'
                                ELSE coalesce(text, '') END) AS h
                FROM documents WHERE doc_id % 10 <> 3)
              SELECT coalesce(a.source, b.source) AS source,
                     CASE WHEN a.h IS NULL THEN 'added'
                          WHEN b.h IS NULL THEN 'removed'
                          WHEN a.h <> b.h THEN 'changed'
                          ELSE 'unchanged' END AS status,
                     count(*) AS n
              FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
              GROUP BY 1, 2 ORDER BY source, status"""),
      "Dataset-version diff (CDC between corpus snapshots): full-outer join on doc " +
        "identity comparing (source, text) digests (never full text; source moves " +
        "report as changed), SHUFFLE_HASH-pinned (both sides corpus-sized; broadcast " +
        "cannot full-outer); per (source, status) added/removed/changed/unchanged rollup"),

    QueryDef(
      "q_split_leakage", Seq("J5", "A1", "F5"),
      (s, d) => {
        // the audit a dataset build runs BEFORE shipping q_corpus_split's
        // output: the split hashes doc_id, so two near-identical
        // documents (crawl re-fetches, mirrored pages) can land in
        // different splits — and every shared span is evaluation
        // contamination that inflates held-out metrics. The leak signal
        // is q_decontaminate's shingle overlap pointed ACROSS the split
        // boundary: train-side W-token shingles joined against the
        // held-out (val ∪ test) shingle set, rolled up per source. The
        // verify join is shuffle_hash, not broadcast — the held-out side
        // is a fixed FRACTION of the corpus (10%), so unlike a benchmark
        // suite it grows with the data and an estimate-based broadcast
        // would regress at scale (the q_collection_notes lesson); at
        // 100 TB the bloom_agg prefilter (q_decontaminate_bloom) slots in
        // front of this join unchanged.
        val W = 4
        val toks = tokens(col("text"))
        graft.functions.GraftExtensions.ensureRegistered(s)
        val grams = call_function("token_grams", toks, lit(W))
        val h = md5Bucket(col("doc_id"))
        val docs = Tables.fanOut(Tables.documents(s, d))
          .filter(size(toks) >= W)
          .withColumn("is_train", h < 90)
        def shingled(df: org.apache.spark.sql.DataFrame) =
          df.select(col("source"), col("doc_id"), explode_outer(grams).as("gram"))
        val holdout = shingled(docs.filter(!col("is_train")))
          .select("gram").distinct()
        val leaks = shingled(docs.filter(col("is_train")))
          .join(holdout.hint("shuffle_hash"), Seq("gram"), "left_semi")
          .groupBy("source", "doc_id")
          .agg(countDistinct(col("gram")).as("n_shared"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_leaky_docs"), sum("n_shared").as("shared_grams"))
        docs.filter(col("is_train"))
          .groupBy("source").agg(count(lit(1)).as("n_train_docs"))
          // both sides are per-source rollups; shuffle_hash pins the join
          // without a size estimate OR a boundedness assumption on the
          // source domain (the scale gate caught this one planning SMJ
          // when estimates are unavailable)
          .join(leaks.hint("shuffle_hash"), Seq("source"), "left")
          .select(col("source"), col("n_train_docs"),
            coalesce(col("n_leaky_docs"), lit(0L)).as("n_leaky_docs"),
            coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
          .orderBy("source")
      },
      Some("""WITH t AS (
                SELECT source, doc_id, string_split(text, ' ') AS tk,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
                         AS is_train
                FROM documents
                WHERE len(string_split(text, ' ')) >= 4),
              g AS (
                SELECT source, doc_id, is_train,
                       unnest([array_to_string(tk[i:i+3], ' ')
                               for i in generate_series(1, len(tk) - 3)]) AS gram
                FROM t),
              ho AS (SELECT DISTINCT gram FROM g WHERE NOT is_train),
              leaks AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_leaky_docs,
                       CAST(sum(n_shared) AS BIGINT) AS shared_grams
                FROM (
                  SELECT g.source, g.doc_id, count(DISTINCT g.gram) AS n_shared
                  FROM g SEMI JOIN ho ON g.gram = ho.gram
                  WHERE g.is_train
                  GROUP BY g.source, g.doc_id)
                GROUP BY source)
              SELECT t.source,
                     CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
                     COALESCE(max(leaks.n_leaky_docs), 0) AS n_leaky_docs,
                     COALESCE(max(leaks.shared_grams), 0) AS shared_grams
              FROM t LEFT JOIN leaks ON leaks.source = t.source
              WHERE t.is_train
              GROUP BY t.source ORDER BY t.source"""),
      "Split-leakage audit over q_corpus_split's assignment: train-side shingles " +
        "crossing into the held-out (val+test) shingle set — the doc_id-hashed split " +
        "keeps clones apart, so near-identical docs straddling the boundary are " +
        "evaluation contamination; shuffle_hash verify (the held-out side scales " +
        "with the corpus, never broadcast), per-source leaky-doc + shared-gram rollup"),

    QueryDef(
      "q_source_overlap", Seq("J1", "A2", "A4"),
      (s, d) => {
        // pairwise inter-SOURCE shingle contamination matrix — the
        // redundancy audit a corpus build runs when deciding source
        // weights (two mirrors of the same crawl shouldn't both get full
        // weight) and the cross-source complement of q_split_leakage's
        // train/holdout direction. Per source: its DISTINCT W-token
        // shingle set; per source pair: shared distinct shingles +
        // Jaccard. Plan: the corpus shuffles ONCE — per-gram source SETS
        // via collect_set, whose map-side partials are bounded by the
        // source domain per gram — and everything downstream (per-source
        // gram counts, ordered pairs) derives from that one aggregated
        // frame by IN-ROW set expansion (≤ |sources|² rows per gram),
        // never a second corpus scan or a document self-join. The
        // original self-join spelling was measured in the r13 adaptive
        // final plan: AQE reused the gram exchange across the join sides
        // but the sizes branch re-scanned and re-shuffled the corpus —
        // this spelling removes both. Size joins attach shuffle_hash
        // (per-source rollups carry no size estimate; the scale gate's
        // SMJ lesson). Output rows are only pairs that actually share a
        // shingle — zero-overlap pairs carry no signal and would be
        // |sources|² rows of zeroes at scale.
        val W = 3
        val toks = tokens(col("text"))
        graft.functions.GraftExtensions.ensureRegistered(s)
        val grams = call_function("token_grams", toks, lit(W))
        val ss = Tables.documents(s, d)
          .filter(size(toks) >= W)
          .select(col("source"), explode_outer(grams).as("gram"))
          .groupBy("gram")
          .agg(collect_set(col("source")).as("ss"))
        val sizes = ss
          .select(explode(col("ss")).as("source"))
          .groupBy("source").agg(count(lit(1)).as("n_grams"))
        ss.select(explode(col("ss")).as("source_a"), col("ss"))
          .select(col("source_a"), explode(col("ss")).as("source_b"))
          .filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("shared_grams"))
          .join(sizes.select(col("source").as("source_a"), col("n_grams").as("grams_a"))
            .hint("shuffle_hash"), Seq("source_a"))
          .join(sizes.select(col("source").as("source_b"), col("n_grams").as("grams_b"))
            .hint("shuffle_hash"), Seq("source_b"))
          .select(col("source_a"), col("source_b"),
            col("grams_a"), col("grams_b"), col("shared_grams"),
            round(col("shared_grams").cast(DoubleType)
              / (col("grams_a") + col("grams_b") - col("shared_grams")), 9)
              .as("jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH t AS (
                SELECT source, string_split(text, ' ') AS tk FROM documents
                WHERE len(string_split(text, ' ')) >= 3),
              g AS (
                SELECT DISTINCT source,
                       unnest([array_to_string(tk[i:i+2], ' ')
                               for i in generate_series(1, len(tk) - 2)]) AS gram
                FROM t),
              sizes AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
              pairs AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       count(*) AS shared_grams
                FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
                GROUP BY a.source, b.source)
              SELECT p.source_a, p.source_b,
                     sa.n_grams AS grams_a, sb.n_grams AS grams_b,
                     CAST(p.shared_grams AS BIGINT) AS shared_grams,
                     round(CAST(p.shared_grams AS DOUBLE)
                       / (sa.n_grams + sb.n_grams - p.shared_grams), 9) AS jaccard
              FROM pairs p
              JOIN sizes sa ON sa.source = p.source_a
              JOIN sizes sb ON sb.source = p.source_b
              ORDER BY source_a, source_b"""),
      "Pairwise inter-source shingle overlap (the cross-source contamination / " +
        "mirror-detection audit): per-source distinct 3-gram sets, gram-keyed " +
        "self-join bounded by the source domain per gram, Jaccard per pair; " +
        "shuffle_hash size joins, only overlapping pairs emitted"),

    QueryDef(
      "q_source_divergence", Seq("A4", "J2", "A1"),
      (s, d) => {
        // per-source distribution shift vs the corpus: total-variation
        // distance between each source's unigram distribution and the
        // whole corpus's — the training-mix diagnostic next to
        // q_source_mix's size-based weights (a source can be large AND
        // distributionally redundant, or small and novel). TV instead of
        // KL: KL needs logs (engine-specific bits); TV is 0.5·Σ|p−q| and
        // cross-multiplies into EXACT integer arithmetic —
        // |c_st·T − c_t·T_s| summed in DECIMAL, plus the mass of tokens
        // the source never emits (T·T_s − Σ_{t∈V_s} c_t·T_s), one double
        // division by 2·T·T_s at the very end. Plan: the (source, token)
        // count subtree plans under each derived table; the r13 adaptive
        // FINAL plan (measured, not assumed) shows AQE reusing its
        // exchange for the per-source branch and the token rollup's for
        // the scalar total, leaving one extra column-pruned corpus
        // re-scan on the corpus-count branch. Every exchange in the
        // query ships vocabulary-bounded partials (map-side combine) —
        // the corpus itself never shuffles — so that re-scan is the
        // whole at-scale cost. Corpus table broadcast back
        // (vocabulary-bounded, the q_token_df layout); per-source rollup
        // shuffle_hash.
        val tc = Tables.documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("token"))
          .groupBy("source", "token")
          .agg(count(lit(1)).as("c_st"))
        val ct = tc.groupBy("token").agg(sum(col("c_st")).as("c_t"))
        val ts = tc.groupBy("source").agg(
          sum(col("c_st")).as("t_s"),
          count(lit(1)).as("distinct_tokens"))
        val tot = ct.agg(sum(col("c_t")).as("t_all"))
        val dec = (c: Column) => c.cast(DecimalType(38, 0))
        tc.join(broadcast(ct), Seq("token"))
          .join(ts.hint("shuffle_hash"), Seq("source"))
          .crossJoin(broadcast(tot))
          .groupBy(col("source"), col("t_s"), col("distinct_tokens"), col("t_all"))
          .agg(
            sum(abs(dec(col("c_st")) * dec(col("t_all"))
              - dec(col("c_t")) * dec(col("t_s")))).as("present_dev"),
            sum(dec(col("c_t")) * dec(col("t_s"))).as("covered_mass"))
          .select(col("source"), col("t_s").as("n_tokens"), col("distinct_tokens"),
            round(
              (col("present_dev") + dec(col("t_all")) * dec(col("t_s"))
                - col("covered_mass")).cast(DoubleType)
                / (dec(col("t_all")) * dec(col("t_s")) * 2).cast(DoubleType), 9)
              .as("tv_dist"))
          .orderBy("source")
      },
      Some("""WITH tc AS (
                SELECT source, token, count(*) AS c_st FROM (
                  SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents)
                GROUP BY source, token),
              ct AS (SELECT token, sum(c_st) AS c_t FROM tc GROUP BY token),
              ts AS (SELECT source, sum(c_st) AS t_s,
                            count(*) AS distinct_tokens
                     FROM tc GROUP BY source),
              tot AS (SELECT sum(c_t) AS t_all FROM ct)
              SELECT tc.source,
                     CAST(max(ts.t_s) AS BIGINT) AS n_tokens,
                     CAST(max(ts.distinct_tokens) AS BIGINT) AS distinct_tokens,
                     round(CAST(sum(abs(tc.c_st * tot.t_all - ct.c_t * ts.t_s))
                                + max(tot.t_all) * max(ts.t_s)
                                - sum(ct.c_t * ts.t_s) AS DOUBLE)
                       / CAST(max(tot.t_all) * max(ts.t_s) * 2 AS DOUBLE), 9)
                       AS tv_dist
              FROM tc
              JOIN ct ON ct.token = tc.token
              JOIN ts ON ts.source = tc.source
              CROSS JOIN tot
              GROUP BY tc.source ORDER BY tc.source"""),
      "Per-source total-variation distance from the corpus unigram distribution " +
        "(the distribution-shift half of the training-mix decision): exact " +
        "cross-multiplied integer arithmetic summed in DECIMAL — logarithm-free " +
        "where KL is not — one token shuffle, vocabulary-bounded broadcast back, " +
        "one final double division per source"),

    QueryDef(
      "q_corpus_select", Seq("W1", "A4", "F5", "P2"),
      (s, d) => {
        // the END-TO-END training-set selection funnel — the signals above
        // composed the way a production corpus build chains them, with
        // per-stage attrition reported per source: lang-ID gate (≥2
        // stopword hits, q_langid's heuristic) → quality gate (token count
        // + stopword-ratio bounds, q_quality_score's ratios) → exact-dedup
        // keeper election AMONG SURVIVORS (min(doc_id) per fingerprint
        // over a null-skipping conditional window — dedup runs after
        // filtering, so a filtered-out duplicate can't displace a keeper)
        // → deterministic hash sampling (q_sample_stratified's md5
        // decision). One scan, one fingerprint window shuffle, one
        // per-source aggregation — at 100 TB the fingerprint window IS the
        // dedup shuffle the funnel needs anyway, and everything else is
        // per-row flags folded into the final hash agg.
        corpusSelectOf(Tables.documents(s, d))
      },
      Some(s"""WITH base AS (
                SELECT source, doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                       (len(list_filter(string_split(text, ' '),
                            t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) >= 2
                        AND len(string_split(text, ' ')) BETWEEN 10 AND 5000
                        AND CAST(len(list_filter(string_split(text, ' '),
                                 t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
                              / len(string_split(text, ' ')) >= 0.02) AS pass,
                       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                        < (CASE WHEN lang = 'en' THEN 50 ELSE 25 END)) AS sample_ok,
                       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                         AS fingerprint
                FROM documents),
              flagged AS (
                SELECT *,
                       (pass AND doc_id = MIN(CASE WHEN pass THEN doc_id END)
                          OVER (PARTITION BY fingerprint)) AS keeper_ok
                FROM base)
              SELECT source,
                     COUNT(*) AS n_total,
                     CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                     CAST(SUM(CASE WHEN keeper_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_keeper,
                     CAST(SUM(CASE WHEN keeper_ok AND sample_ok THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_selected,
                     CAST(SUM(CASE WHEN keeper_ok AND sample_ok THEN n_tok ELSE 0 END) AS BIGINT)
                       AS tokens_selected
              FROM flagged GROUP BY source ORDER BY source"""),
      "End-to-end corpus selection funnel: lang-ID gate → quality gate → exact-dedup " +
        "keeper election among survivors (conditional min window) → deterministic " +
        "hash sampling, with per-source attrition and selected-token totals — the " +
        "composed training-set build the individual signal queries feed"),

    QueryDef(
      "q_corpus_build", Seq("W1", "A4", "F5", "J5", "P2"),
      (s, d) => corpusBuildOf(Tables.documents(s, d)),
      Some(s"""WITH base AS (
                 SELECT source, doc_id, text,
                        string_split(coalesce(text, ''), ' ') AS toks,
                        CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
                 FROM documents),
               m AS (
                 SELECT source, doc_id, text, toks, n_tok,
                        len(toks) AS nw,
                        length(text) - (len(toks) - 1) AS sumlen,
                        len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha,
                        len(list_filter(toks,
                            t -> t IN (${enStop.map("'" + _ + "'").mkString(",")}))) AS stops,
                        len(regexp_extract_all(text, '#|\\.\\.\\.')) AS syms,
                        len(list_distinct(toks)) AS uniq
                 FROM base),
               c4m AS (
                 SELECT source, doc_id,
                        array_to_string(
                          list_transform(range((len(toks)+5)//6), i ->
                            CASE WHEN length(array_to_string(toks[(i*6+1):(i*6+6)], ' ')) % 2 = 0
                                 THEN array_to_string(toks[(i*6+1):(i*6+6)], ' ') || '.'
                                 ELSE array_to_string(toks[(i*6+1):(i*6+6)], ' ') END),
                          chr(10)) AS mtext
                 FROM base),
               c4 AS (
                 SELECT source, doc_id,
                        NOT contains(lower(mtext), 'lorem ipsum')
                        AND len(list_filter(string_split(mtext, chr(10)), l ->
                              regexp_matches(l, '[.!?"]$$')
                              AND len(string_split(l, ' ')) >= 3
                              AND NOT contains(l, '{') AND NOT contains(l, '}')
                              AND NOT contains(lower(l), 'javascript')
                              AND NOT contains(lower(l), 'cookie'))) >= 1 AS c4_ok
                 FROM c4m),
               feat AS (
                 SELECT m.source, m.doc_id, m.n_tok,
                        (m.nw BETWEEN 20 AND 100000)
                          AND (m.nw * 3 <= m.sumlen AND m.sumlen <= m.nw * 10)
                          AND (m.alpha * 5 >= m.nw * 4) AND (m.stops >= 2)
                          AND (m.syms * 10 < m.nw) AND (m.uniq * 2 >= m.nw) AS g_ok,
                        c4.c4_ok,
                        md5(array_to_string(list_sort(list_distinct(string_split(m.text, ' '))), ' '))
                          AS fp,
                        m.doc_id % 97 = 0 AS is_eval,
                        CAST(m.stops AS DOUBLE) / m.nw AS score,
                        ('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                          AS bucket
                 FROM m JOIN c4 USING (source, doc_id)),
               g AS (
                 SELECT doc_id,
                        unnest([array_to_string(t[i:i+3], ' ')
                                for i in generate_series(1, len(t) - 3)]) AS gram
                 FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                       WHERE len(string_split(text, ' ')) >= 4)),
               evg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
               cont AS (
                 SELECT DISTINCT g.doc_id FROM g JOIN evg USING (gram)
                 WHERE g.doc_id % 97 <> 0),
               s1 AS (SELECT * FROM feat WHERE g_ok),
               s2 AS (SELECT * FROM s1 WHERE c4_ok),
               ldm AS (
                 SELECT s2.source, s2.doc_id,
                        string_split(c4m.mtext, chr(10)) AS ls
                 FROM s2 JOIN c4m USING (source, doc_id)),
               ldl AS (
                 SELECT source, doc_id,
                        generate_subscripts(ls, 1) - 1 AS line_idx,
                        unnest(ls) AS line
                 FROM ldm),
               ldn AS (
                 SELECT doc_id, line_idx,
                        trim(regexp_replace(regexp_replace(lower(line),
                          '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
                 FROM ldl),
               ldd AS (
                 SELECT DISTINCT doc_id FROM (
                   SELECT doc_id,
                          row_number() OVER (PARTITION BY norm
                            ORDER BY doc_id, line_idx) AS rn
                   FROM ldn WHERE norm <> '')
                 WHERE rn = 1),
               s2d AS (
                 SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ldd)),
               s3 AS (
                 SELECT * FROM (
                   SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM s2d)
                 WHERE doc_id = keeper),
               s4 AS (
                 SELECT * FROM s3
                 WHERE NOT is_eval AND doc_id NOT IN (SELECT doc_id FROM cont)),
               s5 AS (
                 SELECT * FROM (
                   SELECT *,
                          ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score ASC, doc_id ASC) AS rn,
                          COUNT(*) OVER (PARTITION BY source) AS n
                   FROM s4)
                 WHERE rn > (n + 9) // 10),
               s6 AS (SELECT * FROM s5 WHERE bucket < 90),
               p6 AS (
                 SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(n_tok) AS BIGINT) AS n_tokens
                 FROM s6 GROUP BY source),
               w AS (
                 SELECT source, n_docs, n_tokens,
                        CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,18)) AS w_dec
                 FROM p6),
               t2 AS (SELECT CAST(sum(w_dec) AS DECIMAL(38,18)) AS w_tot FROM w),
               st AS (
                 SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage, source,
                        CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                        CAST(NULL AS BIGINT) AS n_target
                 FROM feat GROUP BY source
                 UNION ALL
                 SELECT CAST(1 AS BIGINT), 'gopher', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s1 GROUP BY source
                 UNION ALL
                 SELECT CAST(2 AS BIGINT), 'c4_lines', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s2 GROUP BY source
                 UNION ALL
                 SELECT CAST(3 AS BIGINT), 'line_dedup', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s2d GROUP BY source
                 UNION ALL
                 SELECT CAST(4 AS BIGINT), 'exact_dedup', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s3 GROUP BY source
                 UNION ALL
                 SELECT CAST(5 AS BIGINT), 'decontaminate', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s4 GROUP BY source
                 UNION ALL
                 SELECT CAST(6 AS BIGINT), 'quality_gate', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s5 GROUP BY source
                 UNION ALL
                 SELECT CAST(7 AS BIGINT), 'split_train', source,
                        CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
                        CAST(NULL AS BIGINT)
                 FROM s6 GROUP BY source
                 UNION ALL
                 SELECT CAST(8 AS BIGINT), 'mix_targets', source, n_docs, n_tokens,
                        CAST(floor(100000.0 * round(CAST(w_dec AS DOUBLE)
                                                    / CAST(w_tot AS DOUBLE), 9)) AS BIGINT)
                 FROM w, t2)
               SELECT stage_idx, stage, source, n_docs, n_tokens, n_target
               FROM st ORDER BY stage_idx, source"""),
      "End-to-end corpus BUILD manifest: Gopher doc rules → C4 line filter → " +
        "corpus-wide line dedup (CCNet order) → exact dedup keeper election → " +
        "eval-set decontamination → per-source bottom-decile quality gate → train " +
        "split → sqrt-temperature mix targets, composed in production order with a " +
        "per-stage per-source attrition table — every stage is the standalone " +
        "operator's own spelling, replayed stage-by-stage by the oracle; population " +
        "consistency vs the per-rung queries pinned in CorpusPipelineSpec"),

    QueryDef(
      "q_token_df", Seq("A4", "A1", "J2"),
      (s, d) => {
        // corpus-level token document frequency (boilerplate/stopword
        // discovery, the df side of tf-idf quality filtering): per-doc
        // DISTINCT tokens → one hash aggregation (map-side combined) →
        // keep tokens present in ≥ half the corpus. The doc total rides in
        // as a broadcast single-row frame, not a collected scalar.
        val docs = Tables.documents(s, d)
        val total = docs.agg(count(lit(1)).as("n_docs"))
        docs.select(explode(tokenSet(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(total))
          .filter(col("df") * 2 >= col("n_docs"))
          .select(col("token"), col("df"),
            (col("df").cast(DoubleType) / col("n_docs")).as("doc_frac"))
          .orderBy(col("df").desc, col("token"))
      },
      Some("""WITH df AS (
                SELECT token, count(*) AS df FROM (
                  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
                  FROM documents)
                GROUP BY token),
              n AS (SELECT count(*) AS n_docs FROM documents)
              SELECT token, df, CAST(df AS DOUBLE) / n_docs AS doc_frac
              FROM df, n WHERE df * 2 >= n_docs
              ORDER BY df DESC, token"""),
      "Token document-frequency filter (boilerplate discovery / the df of tf-idf): " +
        "distinct-per-doc explode, one map-side-combined hash aggregation, broadcast " +
        "corpus total — tokens in ≥50% of documents"),

    QueryDef(
      "q_distinct_sketch", Seq("A2", "A4", "F5"),
      (s, d) => {
        // per-source distinct-shingle cardinality through the native
        // mergeable `distinct_sketch` aggregate — the REAL version of the
        // swap the exact-distinct queries document for 100 TB
        // (q_profile_orders' "approx_count_distinct at scale"): a plain
        // COUNT(DISTINCT gram) shuffles the full per-source distinct
        // cardinality (billions of keys corpus-wide); this plan's shuffle
        // carries one <= 2^14-byte buffer per (partition, source). The
        // sketch is self-describing (the freq_items discipline): at
        // verify scale every buffer stays in the exact sparse regime
        // (max ~1.5k distinct grams per source vs the m/4 = 4096 bound),
        // so est IS the exact count, exact = true, and the plain
        // COUNT(DISTINCT) DuckDB oracle hash-matches; the SAME plan past
        // the bound degrades to the HLL estimate with exact = false
        // (relative error ~1.04/sqrt(2^14) ~ 0.8%, referee-bounded in
        // HllSpec — the 5x scale-CI replica's per-copy token namespaces
        // push every source past the bound and exercise that regime).
        graft.functions.GraftExtensions.ensureRegistered(s)
        val toks = tokens(col("text"))
        val grams = call_function("token_grams", toks, lit(3))
        Tables.documents(s, d)
          .filter(size(toks) >= 3)
          .select(col("source"), explode_outer(grams).as("gram"))
          .groupBy("source")
          .agg(call_function("distinct_sketch", col("gram"), lit(14)).as("sk"))
          .select(col("source"), col("sk.est").as("distinct_grams"),
            col("sk.exact").as("exact"))
          .orderBy("source")
      },
      Some("""WITH t AS (
                SELECT source, string_split(text, ' ') AS tk FROM documents
                WHERE len(string_split(text, ' ')) >= 3),
              g AS (
                SELECT source,
                       unnest([array_to_string(tk[i:i+2], ' ')
                               for i in generate_series(1, len(tk) - 2)]) AS gram
                FROM t)
              SELECT source,
                     CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams,
                     TRUE AS exact
              FROM g GROUP BY source ORDER BY source"""),
      "Bounded-memory distinct counting (native mergeable two-regime sketch: " +
        "exact hash set below m/4 distincts, HyperLogLog registers above — " +
        "2^14-byte buffers, register-max combine): per-source distinct shingles " +
        "with a self-describing exact flag; exact regime at verify scale " +
        "hash-matches COUNT(DISTINCT), the same plan estimates at 100 TB"),

    QueryDef(
      "q_bottomk_sample", Seq("A2", "A4", "F5"),
      (s, d) => {
        // per-source KMV (k-minimum-values) sketch over the 3-gram
        // shingle stream through the native bounded `bottomk` aggregate:
        // ONE k-long summary that both estimates distinct cardinality
        // and carries a uniform deterministic sample of the shingle
        // space. The window/ORDER BY spelling of "k smallest distinct
        // hashes" shuffles each source's whole distinct stream to a
        // sort; this plan's map-side partials cap at k longs per
        // (partition, source), so the shuffle ships partitions x sources
        // x 1 KB at any corpus size. Two-regime and self-describing
        // (the freq_items/distinct_sketch discipline) — but unlike
        // distinct_sketch's register-only dense regime, BOTH regimes
        // here are plain SQL over the k kept values, so the DuckDB
        // oracle hash-checks the ESTIMATE too: below k distinct hashes
        // the array IS the distinct hash set (est exact); past it the
        // k-th smallest hash h_k estimates (k-1)·2^60/h_k (Bar-Yossef
        // et al. 2002; Beyer et al. 2007), one double division from
        // integer state on both engines. At verify scale sources carry
        // ~1.3-1.6k distinct grams >> k=128, so the driver's hash gate
        // exercises the estimate path (measured err 0.6-7.5% vs the
        // sigma = 1/sqrt(k-2) ~ 8.9% contract, referee-pinned in
        // BottomKSpec). The hash is the house content-stable md5-60-bit
        // value, so any engine re-derives every column including the
        // sample fingerprint.
        graft.functions.GraftExtensions.ensureRegistered(s)
        val k = 128
        val toks = tokens(col("text"))
        val grams = call_function("token_grams", toks, lit(3))
        val h = conv(substring(md5(col("gram")), 1, 15), 16, 10).cast(LongType)
        Tables.documents(s, d)
          .filter(size(toks) >= 3)
          .select(col("source"), explode_outer(grams).as("gram"))
          .select(col("source"), h.as("h"))
          .groupBy("source")
          .agg(call_function("bottomk", col("h"), lit(k)).as("mins"))
          .select(
            col("source"),
            size(col("mins")).cast(LongType).as("n_sketch"),
            element_at(col("mins"), size(col("mins"))).as("h_k"),
            (size(col("mins")) < k).as("exact"),
            when(size(col("mins")) < k, size(col("mins")).cast(LongType))
              .otherwise(floor(lit((k - 1).toDouble * 1152921504606846976.0) /
                element_at(col("mins"), size(col("mins"))).cast(DoubleType))
                .cast(LongType))
              .as("est_distinct"),
            element_at(col("mins"), 1).as("sample_min"))
          .orderBy("source")
      },
      Some("""WITH t AS (
                SELECT source, string_split(text, ' ') AS tk FROM documents
                WHERE len(string_split(text, ' ')) >= 3),
              g AS (
                SELECT DISTINCT source,
                       ('0x' || substr(md5(array_to_string(tk[i:i+2], ' ')), 1, 15))::BIGINT AS h
                FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
              rk AS (
                SELECT source, h,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS nd
                FROM g)
              SELECT source,
                     CAST(LEAST(nd, 128) AS BIGINT) AS n_sketch,
                     max(CASE WHEN rn = LEAST(nd, 128) THEN h END) AS h_k,
                     (nd < 128) AS exact,
                     CASE WHEN nd < 128 THEN CAST(nd AS BIGINT)
                          ELSE CAST(floor(127.0 * 1152921504606846976.0 /
                                 CAST(max(CASE WHEN rn = LEAST(nd, 128) THEN h END) AS DOUBLE))
                               AS BIGINT) END AS est_distinct,
                     max(CASE WHEN rn = 1 THEN h END) AS sample_min
              FROM rk GROUP BY source, nd ORDER BY source"""),
      "KMV bottom-k sketch (k smallest distinct content-stable hashes, native " +
        "bounded mergeable aggregate): one k-long summary per source that is both " +
        "a distinct-count estimator — (k-1)*2^60/h_k past the bound, exact below " +
        "it, self-describing flag, and the ESTIMATE itself is SQL-replayable so " +
        "the oracle hash-checks it at verify scale — and a uniform deterministic " +
        "sample, the RNG-free reservoir-sample replacement"),

    QueryDef(
      "q_kmv_overlap", Seq("A2", "A4", "J1"),
      (s, d) => {
        // the sketch-only twin of q_source_overlap: the same pairwise
        // source-contamination matrix, estimated ENTIRELY from the
        // per-source k-long KMV sketches — ONE corpus shuffle of bounded
        // buffers, then |sources|-bounded sketch algebra, where the
        // exact matrix shuffles every distinct shingle and expands
        // per-gram source sets. The 100 TB shape: the exact query is
        // the audit you run once; this one is cheap enough to run per
        // ingest batch, and its union sketches compose (merging two
        // sources' sketches = the union's sketch, associative), so
        // per-source sketches persist and re-combine without touching
        // the corpus again — the streaming StatsStore contract. Both
        // regimes are plain SQL over kept integer state (see
        // kmvOverlapOf), so the oracle hash-checks the estimates;
        // KmvOverlapSpec referees them against the TRUE pairwise
        // overlap (union within 1/sqrt(k-2), Jaccard within the
        // binomial bound). All pairs appear, zero-overlap included —
        // the pair stream here is source-domain-bounded, not
        // corpus-cardinality, so the at-scale row-count concern that
        // makes q_source_overlap drop empty pairs does not apply.
        graft.functions.GraftExtensions.ensureRegistered(s)
        kmvOverlapOf(kmvSketchOf(Tables.documents(s, d)))
      },
      Some("""WITH t AS (
                SELECT source, string_split(text, ' ') AS tk FROM documents
                WHERE len(string_split(text, ' ')) >= 3),
              g AS (
                SELECT DISTINCT source,
                       ('0x' || substr(md5(array_to_string(tk[i:i+2], ' ')), 1, 15))::BIGINT AS h
                FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
              rk AS (
                SELECT source, h,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM g),
              kept AS (SELECT source, h FROM rk WHERE rn <= 128),
              pr AS (
                SELECT a.source AS sa, b.source AS sb
                FROM (SELECT DISTINCT source FROM kept) a
                JOIN (SELECT DISTINCT source FROM kept) b ON a.source < b.source),
              uh AS (
                SELECT pr.sa, pr.sb, k.h FROM pr JOIN kept k ON k.source = pr.sa
                UNION
                SELECT pr.sa, pr.sb, k.h FROM pr JOIN kept k ON k.source = pr.sb),
              ur AS (
                SELECT sa, sb, h,
                       ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
                FROM uh),
              uk AS (SELECT sa, sb, h FROM ur WHERE rn <= 128),
              kc AS (
                SELECT source, CAST(count(*) AS BIGINT) AS nk
                FROM kept GROUP BY source),
              fu AS (
                SELECT sa, sb, CAST(count(*) AS BIGINT) AS nf
                FROM uh GROUP BY sa, sb),
              st AS (
                SELECT sa, sb, CAST(count(*) AS BIGINT) AS nu, max(h) AS h_k
                FROM uk GROUP BY sa, sb),
              bo AS (
                SELECT u.sa, u.sb, CAST(count(*) AS BIGINT) AS k_both
                FROM uk u
                JOIN kept ka ON ka.source = u.sa AND ka.h = u.h
                JOIN kept kb ON kb.source = u.sb AND kb.h = u.h
                GROUP BY u.sa, u.sb),
              est AS (
                SELECT st.sa, st.sb, st.nu,
                       COALESCE(bo.k_both, 0) AS k_both, st.h_k,
                       (ka.nk < 128 AND kb.nk < 128) AS exact,
                       fu.nf, ka.nk + kb.nk - fu.nf AS n_inter_full,
                       CASE WHEN ka.nk < 128 AND kb.nk < 128 THEN fu.nf
                            ELSE CAST(floor(127.0 * 1152921504606846976.0 /
                                   CAST(st.h_k AS DOUBLE)) AS BIGINT) END AS est_union
                FROM st
                JOIN fu ON fu.sa = st.sa AND fu.sb = st.sb
                JOIN kc ka ON ka.source = st.sa
                JOIN kc kb ON kb.source = st.sb
                LEFT JOIN bo ON bo.sa = st.sa AND bo.sb = st.sb)
              SELECT sa AS source_a, sb AS source_b,
                     nu AS n_union_minima, k_both, h_k, exact, est_union,
                     CASE WHEN exact THEN n_inter_full
                          ELSE CAST(floor(CAST(k_both AS DOUBLE) / nu * est_union)
                               AS BIGINT) END AS est_inter,
                     CASE WHEN exact
                          THEN CAST(floor(CAST(n_inter_full AS DOUBLE)
                                 * 1000000.0 / nf) AS BIGINT)
                          ELSE CAST(floor(CAST(k_both AS DOUBLE)
                                 * 1000000.0 / nu) AS BIGINT) END AS jaccard_ppm
              FROM est ORDER BY source_a, source_b"""),
      "Pairwise source overlap from KMV sketches ALONE (Beyer et al. 2007 union/" +
        "Jaccard estimators over the native bottomk aggregate): union, " +
        "intersection and Jaccard estimates per source pair from one corpus " +
        "shuffle of k-long buffers — the per-batch-affordable twin of " +
        "q_source_overlap's exact matrix, self-describing two-regime, estimates " +
        "themselves SQL-replayable and oracle-hash-checked"),

    QueryDef(
      "q_dataset_card", Seq("A1", "A2", "A3", "A4", "F5"),
      (s, d) => {
        // the dataset-card readout in ONE aggregation — the batch twin
        // of the streaming StatsStore: per source, doc/token totals,
        // vocabulary through the native two-regime distinct_sketch, and
        // token-length quantiles through the native two-regime
        // quantile_sketch, all riding a single posexplode + hash
        // aggregation (doc-grain stats gated on pos = 0 so the explode
        // does not inflate them). The exact spelling needs one corpus
        // shuffle per grain — a distinct per token plus a rank sort per
        // doc; this plan ships bounded sketch buffers per (partition,
        // source) through ONE exchange. Both sketches sit in their exact
        // regime at verify scale (self-describing flags), so the plain
        // COUNT(DISTINCT) + integer-rank-percentile oracle hash-matches;
        // the SAME plan estimates past the bounds at 100 TB.
        graft.functions.GraftExtensions.ensureRegistered(s)
        val toks = tokens(col("text"))
        // fanOut below the tokenize+posexplode projection (r20): the
        // whole card otherwise partial-aggregates ~1.5 s of CPU on the
        // single-row-group scan's ONE task; both sketches are mergeable
        // and partition-order-insensitive, so the card is unchanged
        Tables.fanOut(Tables.documents(s, d)
          // null text explodes to a (null, null) row whose pos = 0 gate
          // is null → the doc silently vanishes from n_docs while a
          // COUNT(*) oracle keeps it; pin the shared contract (null-text
          // docs are outside the card) explicitly on both sides
          .filter(col("text").isNotNull))
          .select(col("source"), size(toks).cast(LongType).as("len"),
            posexplode_outer(toks).as(Seq("pos", "token")))
          .groupBy("source")
          .agg(
            sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_docs"),
            sum(when(col("pos") === 0, col("len")).otherwise(0L)).as("n_tokens"),
            call_function("distinct_sketch", col("token"), lit(14)).as("dsk"),
            call_function("quantile_sketch",
              when(col("pos") === 0, col("len")), lit(4096)).as("qsk"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("dsk.est").as("vocab"), col("dsk.exact").as("vocab_exact"),
            col("qsk.p50").as("p50_tokens"), col("qsk.p90").as("p90_tokens"),
            col("qsk.max").as("max_tokens"), col("qsk.exact").as("len_exact"))
          .orderBy("source")
      },
      Some("""WITH t AS (
                SELECT source, doc_id, string_split(text, ' ') AS tk
                FROM documents WHERE text IS NOT NULL),
              doc AS (
                SELECT source, doc_id, CAST(len(tk) AS BIGINT) AS len FROM t),
              rk AS (
                SELECT source, len,
                       ROW_NUMBER() OVER (PARTITION BY source
                         ORDER BY len ASC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM doc),
              lens AS (
                SELECT source,
                       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN len END) AS p50_tokens,
                       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN len END) AS p90_tokens,
                       max(len) AS max_tokens
                FROM rk GROUP BY source),
              voc AS (
                SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS vocab
                FROM (SELECT source, unnest(tk) AS tok FROM t)
                GROUP BY source),
              tot AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len) AS BIGINT) AS n_tokens
                FROM doc GROUP BY source)
              SELECT tot.source, n_docs, n_tokens,
                     vocab, TRUE AS vocab_exact,
                     p50_tokens, p90_tokens, max_tokens, TRUE AS len_exact
              FROM tot JOIN voc ON tot.source = voc.source
                       JOIN lens ON tot.source = lens.source
              ORDER BY tot.source"""),
      "The dataset-card readout in ONE bounded aggregation (the batch twin of the " +
        "streaming stats store): per-source docs/tokens, vocabulary via the native " +
        "distinct sketch, length quantiles via the native quantile sketch — one " +
        "posexplode + one shuffle of bounded buffers where the exact spelling " +
        "shuffles the corpus per grain; exact-regime flags make the plain-SQL " +
        "oracle hash-match at verify scale"),

    QueryDef(
      "q_heavy_terms", Seq("A4", "J7", "F5"),
      (s, d) => {
        // heavy-hitter 3-grams via the bounded mergeable freq_items
        // sketch — the n-gram complement of q_token_df's exact token df:
        // gram cardinality grows with the corpus, so the exact groupBy
        // is replaced by a capacity-bounded summary whose shuffle is
        // partitions × capacity regardless of scale. Exact (err = 0) at
        // oracle scale since capacity > distinct grams; guaranteed-
        // lower-bound reporting beyond. See heavyTermsOf.
        graft.functions.GraftExtensions.ensureRegistered(s)
        heavyTermsOf(Tables.fanOut(Tables.documents(s, d)))
      },
      Some("""WITH d AS (SELECT string_split(text, ' ') AS t
                         FROM documents
                         WHERE len(string_split(text, ' ')) >= 3),
              g AS (SELECT array_to_string(t[i:i+2], ' ') AS gram
                    FROM d, unnest(generate_series(1, len(t) - 2)) AS s(i))
              SELECT gram, CAST(count(*) AS BIGINT) AS n
              FROM g GROUP BY gram HAVING count(*) >= 5
              ORDER BY n DESC, gram"""),
      "Heavy-hitter 3-grams via the native mergeable freq_items sketch " +
        "(Misra-Gries/Space-Saving, median batch purge, Agarwal et al. merge): " +
        "bounded buffers make the shuffle partitions x capacity instead of " +
        "distinct-gram cardinality; exact at oracle scale, guaranteed lower " +
        "bounds at 100 TB"),

    QueryDef(
      "q_tfidf_topterms", Seq("J2", "W1", "A5"),
      (s, d) => {
        // per-document characteristic terms — tf-idf's join shape without
        // its logarithm: score = tf × N / (len × df), monotone in tf-idf
        // for a fixed document and PURE field arithmetic (ln() would hinge
        // on libm rounding matching across engines; every factor here is
        // exact integer → one double division, bit-identical). The df side
        // is the q_token_df aggregate, BROADCAST to the per-doc term rows
        // (df fits executor memory at any corpus size — it is vocabulary-
        // bounded); rank-3 per doc via one window over (doc, term) rows.
        val docs = Tables.documents(s, d)
        val total = docs.agg(count(lit(1)).as("n_docs"))
        // fanOut below the tokenize+explode projections (r20): the tf
        // and df partial aggregations otherwise run ~1.6 s of CPU on
        // the single-row-group scan's ONE task; `total` stays on the
        // raw scan (a plain count — the fanOut contract's non-case)
        val docsRR = Tables.fanOut(docs)
        val df = docsRR.select(explode(tokenSet(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("df"))
        val tf = docsRR
          .select(col("doc_id"), size(split(col("text"), " ")).as("len"),
            explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("len"), col("token"))
          .agg(count(lit(1)).as("tf"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("token"))
        tf.join(broadcast(df), "token")
          .crossJoin(broadcast(total))
          .withColumn("score",
            col("tf") * col("n_docs") / (col("len") * col("df")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("token"),
            round(col("score"), 9).as("score"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH docs AS (
                SELECT doc_id, text, len(string_split(text, ' ')) AS len
                FROM documents),
              tf AS (
                SELECT doc_id, len, token, count(*) AS tf FROM (
                  SELECT doc_id, len, unnest(string_split(text, ' ')) AS token
                  FROM docs)
                GROUP BY doc_id, len, token),
              df AS (
                SELECT token, count(*) AS df FROM (
                  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
                  FROM documents)
                GROUP BY token),
              n AS (SELECT count(*) AS n_docs FROM documents),
              ranked AS (
                SELECT tf.doc_id, tf.token,
                       CAST(tf.tf * n.n_docs AS DOUBLE) / (tf.len * df.df) AS score,
                       ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                         ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE)
                                    / (tf.len * df.df) DESC, tf.token) AS rank
                FROM tf JOIN df ON df.token = tf.token CROSS JOIN n)
              SELECT doc_id, CAST(rank AS INT) AS rank, token,
                     round(score, 9) AS score
              FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""),
      "Per-document characteristic terms (tf-idf's join shape, logarithm-free score " +
        "= tf x N / (len x df) for cross-engine bit-determinism): broadcast " +
        "vocabulary-bounded df, one per-doc rank window, top-3 terms"),

    QueryDef(
      "q_bm25_topk", Seq("A4", "J2", "O3"),
      (s, d) =>
        // lexical retrieval next to the ANN ladder — the [[bm25ScoresOf]]
        // engine (design notes there), top-10 on the exact DECIMAL score
        bm25ScoresOf(Tables.documents(s, d), DefaultQueryTerms)
          .orderBy(col("score_dec").desc, col("doc_id"))
          .limit(10)
          .select(col("doc_id"), col("n_terms"),
            round(col("score_dec").cast(DoubleType), 9).as("score")),
      Some(s"""WITH $Bm25OracleCtes
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                     round(CAST(sum(score_dec) AS DOUBLE), 9) AS score
              FROM scored GROUP BY doc_id
              ORDER BY sum(score_dec) DESC, doc_id LIMIT 10"""),
      "BM25 top-k lexical retrieval (the sparse half of the retrieval stack): " +
        "exact-rational k1=1.2/b=0.75 tf saturation + logarithm-free idf ratio, " +
        "one double division per part, DECIMAL-summed per doc and ordered on the " +
        "exact sum; the explode filters to the query terms before any shuffle — " +
        "the inverted-index-probe shape, never a corpus-wide join"),

    QueryDef(
      "q_bm25_indexed", Seq("A4", "J2", "O3", "S7"),
      (s, d) => {
        // the SERVING shape of BM25 retrieval (VERDICT r15 Next #1):
        // q_bm25_topk's scan recomputes tf/df/totals per query — right
        // for a declared analytics pass, wrong for ad-hoc search at
        // 100 TB. Here the postings store is built ONCE through the real
        // PostingsStore write path (token-bucket-partitioned postings +
        // the 2-long totals document) and the query is the store PROBE:
        // a driver-side isin over the query terms' buckets statically
        // prunes the store scan to |terms| buckets of 64, df derives
        // inside the pruned slice (a token's postings are co-located in
        // its bucket by construction), and the totals document supplies
        // n_docs/t_all as literals — no corpus scan at query time. The
        // scoring is bm25ScoreExpr — the scan engine's own expression —
        // so this hash-matches q_bm25_topk against the SAME oracle.
        val store = Tables.materializeDir("bm25_store", d) { p =>
          graft.streaming.PostingsStore.appendBatch(
            p, Tables.documents(s, d).select(col("doc_id"), col("text")),
            batchId = 0L)
        }
        graft.streaming.PostingsStore.probe(s, store, DefaultQueryTerms)
          .orderBy(col("score_dec").desc, col("doc_id"))
          .limit(10)
          .select(col("doc_id"), col("n_terms"),
            round(col("score_dec").cast(DoubleType), 9).as("score"))
      },
      Some(s"""WITH $Bm25OracleCtes
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                     round(CAST(sum(score_dec) AS DOUBLE), 9) AS score
              FROM scored GROUP BY doc_id
              ORDER BY sum(score_dec) DESC, doc_id LIMIT 10"""),
      "BM25 retrieval served from the persisted inverted-index store: the probe " +
        "reads only the query terms' token buckets (static partition pruning via a " +
        "driver-side isin over the 64-value bucket domain), df derives inside the " +
        "co-located slice, corpus totals come from the store's 2-long totals " +
        "document — byte-identical scores to q_bm25_topk's full scan via the shared " +
        "bm25ScoreExpr, checked against the same oracle"),

    QueryDef(
      "q_substr_dedup", Seq("J7", "J5", "A4", "W1"),
      (s, d) => {
        // CROSS-DOCUMENT exact-substring duplication (the ExactSubstr
        // signal of Lee et al. 2022, "Deduplicating Training Data Makes
        // Language Models Better"): any W-token span occurring >= 2 times
        // ANYWHERE in the corpus (other documents or the same one — the
        // suffix-array definition) marks its token positions as
        // duplicated; per document, the union of marked spans yields
        // dup_tokens / dup_frac, the removal signal span-level dedup acts
        // on. This is the cross-doc complement of q_rep_ngrams (within-doc
        // repetition only). W=6: on this corpus 4-token spans collide by
        // chance (369/500 docs) while 6-token hits isolate the true clone
        // structure (47 docs, matching the near-dup family).
        graft.functions.GraftExtensions.ensureRegistered(s)
        substrDedupOf(Tables.fanOut(Tables.documents(s, d)))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                         FROM documents
                         WHERE len(string_split(text, ' ')) >= 6),
              sh AS (SELECT doc_id, unnest(generate_series(1, len(t) - 5)) AS pos, t
                     FROM d),
              sh2 AS (SELECT doc_id, pos, array_to_string(t[pos:pos+5], ' ') AS gram
                      FROM sh),
              dup AS (SELECT gram FROM sh2 GROUP BY gram HAVING count(*) >= 2),
              dp AS (SELECT doc_id, pos FROM sh2 SEMI JOIN dup USING (gram)),
              cov AS (
                SELECT doc_id,
                       sum(CASE WHEN prev IS NULL THEN 6
                                ELSE least(6, pos - prev) END) AS dup_tokens
                FROM (SELECT doc_id, pos,
                             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                      FROM dp)
                GROUP BY doc_id)
              SELECT d.doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                     CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / len(t) AS dup_frac
              FROM d LEFT JOIN cov USING (doc_id)
              ORDER BY doc_id"""),
      "Cross-document exact-substring duplication (ExactSubstr, Lee et al. 2022): " +
        "6-token spans occurring >= 2x corpus-wide mark their positions; per-doc " +
        "interval-union coverage via one lag window — dup_tokens/dup_frac removal signal"),

    QueryDef(
      "q_substr_scrub", Seq("J7", "J5", "A4", "F8"),
      (s, d) => {
        // the REMOVAL action on the q_substr_dedup signal: drop every
        // token position covered by a duplicated 6-span, re-join the
        // survivors into clean_text (whole-doc clones scrub to ''). See
        // substrScrubOf for the scale shape.
        substrScrubOf(Tables.fanOut(Tables.documents(s, d)))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                         FROM documents
                         WHERE len(string_split(text, ' ')) >= 6),
              sh AS (SELECT doc_id, unnest(generate_series(1, len(t) - 5)) AS pos, t
                     FROM d),
              sh2 AS (SELECT doc_id, pos, array_to_string(t[pos:pos+5], ' ') AS gram
                      FROM sh),
              dup AS (SELECT gram FROM sh2 GROUP BY gram HAVING count(*) >= 2),
              dp AS (SELECT doc_id, pos FROM sh2 SEMI JOIN dup USING (gram)),
              cov AS (SELECT DISTINCT doc_id, cpos FROM
                        (SELECT doc_id, unnest(generate_series(pos, pos + 5)) AS cpos
                         FROM dp)),
              tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS tpos, t
                      FROM d),
              tok2 AS (SELECT doc_id, tpos, t[tpos] AS tk FROM tok),
              kept AS (SELECT tok2.doc_id, tok2.tpos, tok2.tk
                       FROM tok2 ANTI JOIN cov
                         ON tok2.doc_id = cov.doc_id AND tok2.tpos = cov.cpos),
              k AS (SELECT doc_id, count(*) AS kept_tokens,
                           string_agg(tk, ' ' ORDER BY tpos) AS clean_text
                    FROM kept GROUP BY doc_id)
              SELECT d.doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
                     coalesce(k.clean_text, '') AS clean_text
              FROM d LEFT JOIN k USING (doc_id)
              ORDER BY doc_id"""),
      "Exact-substring span REMOVAL (the action on q_substr_dedup's signal): covered " +
        "positions dropped per doc, survivors re-joined as clean_text — whole-doc " +
        "clones scrub to empty"),

    QueryDef(
      "q_substr_scrub_keepfirst", Seq("J7", "J5", "A4", "W1", "F8"),
      (s, d) => {
        // KeepFirst policy (VERDICT r11 Next #3): each duplicated gram's
        // global min-(doc_id, pos) occurrence is elected keeper and NOT
        // marked — Lee et al. 2022's training-corpus semantics (clones
        // keep one copy), the exact-dedup min-keeper idiom applied at
        // span granularity. Same engine, one extra within-partition sort.
        substrScrubOf(Tables.fanOut(Tables.documents(s, d)),
          policy = ScrubPolicy.KeepFirst)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                         FROM documents
                         WHERE len(string_split(text, ' ')) >= 6),
              sh AS (SELECT doc_id, unnest(generate_series(1, len(t) - 5)) AS pos, t
                     FROM d),
              sh2 AS (SELECT doc_id, pos, array_to_string(t[pos:pos+5], ' ') AS gram
                      FROM sh),
              dp AS (SELECT doc_id, pos FROM
                       (SELECT doc_id, pos,
                               count(*) OVER (PARTITION BY gram) AS n,
                               row_number() OVER
                                 (PARTITION BY gram ORDER BY doc_id, pos) AS rn
                        FROM sh2)
                     WHERE n >= 2 AND rn > 1),
              cov AS (SELECT DISTINCT doc_id, cpos FROM
                        (SELECT doc_id, unnest(generate_series(pos, pos + 5)) AS cpos
                         FROM dp)),
              tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS tpos, t
                      FROM d),
              tok2 AS (SELECT doc_id, tpos, t[tpos] AS tk FROM tok),
              kept AS (SELECT tok2.doc_id, tok2.tpos, tok2.tk
                       FROM tok2 ANTI JOIN cov
                         ON tok2.doc_id = cov.doc_id AND tok2.tpos = cov.cpos),
              k AS (SELECT doc_id, count(*) AS kept_tokens,
                           string_agg(tk, ' ' ORDER BY tpos) AS clean_text
                    FROM kept GROUP BY doc_id)
              SELECT d.doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
                     coalesce(k.clean_text, '') AS clean_text
              FROM d LEFT JOIN k USING (doc_id)
              ORDER BY doc_id"""),
      "Exact-substring scrub, KeepFirst policy (Lee et al. 2022): per duplicated " +
        "gram the min-(doc_id, pos) occurrence is kept, the rest removed — whole-doc " +
        "clones keep exactly one copy; keeper election rides the same single exchange"),

    QueryDef(
      "q_dsir_select", Seq("A4", "J2", "O3", "F5"),
      (s, d) => {
        val docs = Tables.documents(s, d)
        dsirSelectOf(docs, docs.filter(col("lang") === "en"), s)
      },
      Some(s"""WITH wt AS (
                 SELECT bucket, w
                 FROM read_parquet('${OracleAux.Token}/dsir_weights/*.parquet')),
               tk AS (
                 SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
               feats AS (
                 SELECT doc_id, lang,
                        unnest(list_concat(t,
                          list_transform(t[1:-2], (x, i) -> x || ' ' || t[i + 1])))
                          AS f
                 FROM tk),
               fb AS (
                 SELECT doc_id, lang,
                        ('0x' || substr(md5(f), 1, 15))::BIGINT % $DsirB AS bucket
                 FROM feats),
               scored AS (
                 SELECT fb.doc_id, fb.lang,
                        count(*) AS n_feats,
                        SUM(CAST(wt.w AS DECIMAL(38,18))) AS lw_dec
                 FROM fb JOIN wt ON wt.bucket = fb.bucket
                 GROUP BY fb.doc_id, fb.lang)
               SELECT CAST(row_number() OVER (ORDER BY lw_dec DESC, doc_id)
                        AS BIGINT) AS rank,
                      doc_id, lang, n_feats,
                      round(CAST(lw_dec AS DOUBLE), 9) AS logw
               FROM scored ORDER BY lw_dec DESC, doc_id LIMIT 50"""),
      "DSIR data selection (Xie et al., NeurIPS 2023): per-doc importance weight " +
        "log(p_target/p_raw) summed over hashed unigram+bigram feature occurrences " +
        "under Laplace-smoothed bucket models (target = the lang='en' slice), " +
        "deterministic top-50; the trained per-bucket log-ratios are the materialized " +
        "artifact (the kmeans_centroids idiom — the only log() runs driver-side " +
        "through StrictMath), everything downstream re-derived by the oracle",
      aux = Some((s, d, a) => writeDsirAux(s, d, a)))
  )

  /** Per-document exact-substring duplication coverage over ANY
    * (doc_id, text) frame — the engine behind q_substr_dedup.
    *
    * Scale shape (the suffix-array algorithm re-expressed as key-bounded
    * shuffles, no suffix array needed for fixed span width W):
    *  1. shingle stream: |corpus tokens| rows of (doc_id, pos, gram) —
    *     linear, built by the NATIVE `token_grams` expression (one
    *     compiled loop per row; the HOF `transform(sequence, ...)` form
    *     evaluated interpreted and cost 4.3 s of this query's original
    *     8.5 s at sf0.1) + one codegen'd posexplode, never collected;
    *  2. duplicated positions: `count(*) over (partition by gram) >= 2` —
    *     ONE shuffle+sort of the shingle stream (the groupBy+semi-join
    *     alternative shuffles it twice: once narrow for the count, once
    *     wide for the join — and its build side is corpus-derived, so it
    *     cannot be assumed broadcastable at scale; WindowExec spills, so
    *     a pathological mega-bucket gram degrades to disk, not OOM);
    *  3. coverage: equal-length sorted intervals union in one pass —
    *     covered = W for the first hit + min(W, pos - prev) after (a lag
    *     window per doc over ONLY the duplicated positions, typically a
    *     few % of the corpus), then one per-doc sum and a join back to
    *     per-doc token counts (broadcastable: one narrow row per
    *     duplicated doc; AQE decides).
    * At 100 TB the gram strings are pre-hashed to xxhash64 BIGINTs
    * before the shuffle (`hashedShuffleKeys = true`): 8-byte keys vs
    * W-token strings, so the one wide exchange moves ~corpus×8 bytes
    * instead of ~corpus×W-token bytes. Measured on the 10× sf1 replica
    * (AbSubstrHashBench, W=6 short synthetic tokens — a LOWER bound on
    * the saving; real ~50-token spans shrink far more): total shuffle
    * bytes 0.57× for the dedup readout (98.3→55.8 MiB) and 0.69× for
    * the scrub (138→95.7 MiB), wall time neutral at this scale because
    * local[32] shuffles never leave the page cache — the byte ratio IS
    * the cluster-network claim. Equal output on sf0.01 pinned by
    * SubstrHashParitySpec. Collision odds ~n²/2⁶⁵ corpus-wide —
    * acceptable for a removal SIGNAL; a collision can only ADD a false
    * duplicated position, never drop a true one, and the default stays
    * strings for bit-exact cross-engine comparison with the DuckDB
    * oracle. */
  /** The sequence-packing engine behind q_pack_sequences{,_bpe}: one
    * per-source running sum assigns each doc the window of its START
    * offset (floor((cumsum − tok)/B)) — concat-then-chunk packing where
    * docs straddle boundaries, zero padding waste, no per-window driver
    * state (true first-fit bin packing is inherently sequential). The
    * `tokenizer` picks the budget unit: "ws" (whitespace, the
    * oracle-checkable default) or "bpe" (the vendored byte-level BPE —
    * what the training batch actually holds). At 100 TB the per-source
    * ordering is the scale boundary: one source = one sorted partition
    * stream, packing parallelizes across sources like the compile family
    * across ocids; a single over-large source pre-shards on a
    * deterministic doc_id range first. */
  private[graft] def packSequencesOf(
      docsIn: DataFrame, B: Int = 2048, tokenizer: String = "ws"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = tokenizer match {
      case "ws" => size(split(col("text"), " ")).cast(LongType)
      case "bpe" =>
        graft.functions.GraftExtensions.ensureRegistered(docsIn.sparkSession)
        size(call_function("bpe_tokens", col("text"))).cast(LongType)
      case other => throw new IllegalArgumentException(
        s"tokenizer must be 'ws' or 'bpe', got '$other'")
    }
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsIn
      .select(col("source"), col("doc_id"), tok.as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("window_id",
        floor((col("cum") - col("tok")) / lit(B.toDouble)).cast(LongType))
      .groupBy(col("source"), col("window_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "window_id")
  }

  /** Which marked occurrences [[substrScrubOf]] removes (VERDICT r11
    * Next #3). `RemoveAll` drops every occurrence of a duplicated span —
    * whole-doc clones scrub to empty — the right signal-readout default
    * and the one the DuckDB oracle pins bit-exactly. `KeepFirst` elects
    * the deterministic global min-(doc_id, pos) occurrence of each
    * duplicated gram as keeper and removes only the rest — Lee et al.
    * 2022's actual training-corpus semantics (a cloned document keeps
    * exactly one copy), the same min-keeper election idiom the exact-dedup
    * store uses. A position covered by BOTH a keeper span and a
    * non-keeper span is still removed (the non-keeper span marks it);
    * per document, KeepFirst's marked set is a subset of RemoveAll's, so
    * kept_tokens(KeepFirst) >= kept_tokens(RemoveAll) row-by-row
    * (equality exactly when the doc carries no keeper span). */
  sealed trait ScrubPolicy
  object ScrubPolicy {
    case object RemoveAll extends ScrubPolicy
    case object KeepFirst extends ScrubPolicy
  }

  /** The shared front half of the ExactSubstr engines: (docs, dp) where
    * `docs` = (doc_id, n_tokens, toks) for every input with >= W tokens
    * and `dp` = (doc_id, pos) for every W-token span occurring >= 2 times
    * corpus-wide — minus, under `KeepFirst`, each gram's elected
    * min-(doc_id, pos) keeper occurrence. Consumed by [[substrDedupOf]]
    * (interval-union coverage readout) and [[substrScrubOf]] (span
    * removal). */
  private def dupSpanPositions(
      docsIn: DataFrame, W: Int,
      hashedShuffleKeys: Boolean = false,
      policy: ScrubPolicy = ScrubPolicy.RemoveAll): (DataFrame, DataFrame) = {
    graft.functions.GraftExtensions.ensureRegistered(docsIn.sparkSession)
    val toks = tokens(col("text"))
    val grams = call_function("token_grams", toks, lit(W))
    // sub-W docs filtered on both engines (Spark's descending sequence()
    // vs DuckDB's empty generate_series, as in q_rep_ngrams)
    val docs = docsIn
      .filter(size(toks) >= W)
      .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"),
        toks.as("toks"), grams.as("grams"))
    // posexplode_OUTER, deliberately: the non-outer Generate adds implicit
    // `size(grams) > 0 AND isnotnull(grams)` conditions that Catalyst
    // substitutes through the Project and pushes below the fanOut exchange
    // onto the SINGLE-TASK scan — re-evaluating the whole gram
    // construction twice per row on one core (measured 8.5 s vs 1.3 s at
    // sf0.1 on the interpreted HOF form). The `size(toks) >= W` guard
    // already makes every gram array non-empty, so outer ≡ inner here and
    // no null rows materialize.
    // hashed mode: collapse the gram STRING to its xxhash64 BEFORE the
    // wide exchange — the string is built and hashed map-side (narrow)
    // and never shuffles; only (doc_id, pos, BIGINT) rows do
    val gramKey =
      if (hashedShuffleKeys) xxhash64(col("gram")) else col("gram")
    val sh = docs
      .select(col("doc_id"), posexplode_outer(col("grams")).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), gramKey.as("gram"))
    import org.apache.spark.sql.expressions.Window
    val dp = policy match {
      case ScrubPolicy.RemoveAll =>
        sh.withColumn("n", count(lit(1)).over(Window.partitionBy("gram")))
          .filter(col("n") >= 2).select("doc_id", "pos")
      case ScrubPolicy.KeepFirst =>
        // keeper election rides the SAME single exchange: one extra
        // within-partition sort by (doc_id, pos) and both frames (the
        // running row_number and the whole-partition count) evaluate in
        // one WindowExec — no second shuffle, no join against a keeper
        // table. rn = 1 IS the global min-(doc_id, pos) occurrence.
        val byGram = Window.partitionBy("gram").orderBy("doc_id", "pos")
        sh.withColumn("rn", row_number().over(byGram))
          .withColumn("n", count(lit(1)).over(byGram.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .filter(col("n") >= 2 && col("rn") > 1).select("doc_id", "pos")
    }
    (docs, dp)
  }

  private[graft] def substrDedupOf(
      docsIn: DataFrame, W: Int = 6,
      hashedShuffleKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (docs, dp) = dupSpanPositions(docsIn, W, hashedShuffleKeys)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val cov = dp
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .groupBy("doc_id")
      .agg(sum(when(col("prev").isNull, lit(W))
        .otherwise(least(lit(W), col("pos") - col("prev")))).as("dup_tokens"))
    // left-outer onto the duplicated slice: build side must be cov, and
    // cov scales with the corpus's duplicated fraction — SHUFFLE_HASH, not
    // an estimate-dependent broadcast (ScaleShapeSpec's robust-join gate)
    docs.select(col("doc_id"), col("n_tokens"))
      .join(cov.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast(LongType).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) / col("n_tokens"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** The span-removal ACTION on top of the [[substrDedupOf]] signal:
    * every token position covered by a marked duplicated W-span is
    * dropped and the survivors re-join into `clean_text`. Which
    * occurrences are marked is the [[ScrubPolicy]]: `RemoveAll` (default,
    * oracle-pinned) drops every occurrence; `KeepFirst` elects each
    * gram's global min-(doc_id, pos) occurrence as keeper — Lee et al.
    * 2022's training-corpus semantics, where a whole-doc clone keeps
    * exactly one copy.
    *
    * Scale shape beyond the shared front half: covered positions explode
    * W rows per duplicated span (bounded by W × the duplicated few % of
    * the corpus), distinct + collect into ONE sorted per-doc array
    * (array length <= doc length, the same per-doc bound every per-doc
    * window here lives with), then one join back to `docs` and a per-row
    * index filter rebuilds the text — no token-level shuffle of the full
    * corpus, only of its duplicated slice. */
  private[graft] def substrScrubOf(
      docsIn: DataFrame, W: Int = 6,
      hashedShuffleKeys: Boolean = false,
      policy: ScrubPolicy = ScrubPolicy.RemoveAll): DataFrame = {
    val (docs, dp) = dupSpanPositions(docsIn, W, hashedShuffleKeys, policy)
    val cov = dp
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(W - 1))).as("cpos"))
      .distinct()
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("cpos"))).as("cov"))
    // native two-pointer removal (see DropPositions): the HOF
    // filter+array_contains form re-scans the position array per token —
    // O(n×c) per doc, quadratic on a long mostly-duplicated document
    val covered = coalesce(col("cov"), array().cast("array<int>"))
    val kept = call_function("drop_positions", col("toks"), covered)
    docs.join(cov.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        size(kept).cast(LongType).as("kept_tokens"),
        array_join(kept, " ").as("clean_text"))
      .orderBy("doc_id")
  }
}
