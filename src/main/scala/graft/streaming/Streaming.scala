package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.ocds.{Canonical, RecordCompile}

/** Structured-Streaming side of the engine (SURVEY.md §2 T1/T2/T4/T9;
  * reference: the always-on RabbitMQ dataflow of the
  * `process/management/commands` workers).
  *
  * Two reference semantics matter here:
  *
  *  - **Record packages compile per-file immediately, while the collection
  *    is still loading** (`compiler.py:146-148`): rendered as a file-source
  *    stream over a landing directory with `foreachBatch` — every
  *    micro-batch's records are decision-treed and persisted as they
  *    arrive, no end-of-collection barrier. Exactly-once comes from the
  *    checkpoint + an idempotent sink (each batch owns and overwrites its
  *    own output partition on replay), replacing the reference's
  *    at-least-once queue + dedup errback (T1/T2).
  *  - **Last-write-wins key state** (the core of compile, W2) as live
  *    state: `mapGroupsWithState` keeps one latest-value state per key —
  *    the streaming form of the batch `row_number() = 1` compaction.
  *
  * The landing format is concatenated JSON (one record per line) — one of
  * the reference's physical shapes (S3) — so each streamed value costs
  * O(item) memory, consistent with the batch ingest bound.
  */
object Streaming {

  /** Where a collection's inverted-index store lives — ONE definition
    * shared by the streaming maintenance leg, `Cli index` and
    * `Cli search --indexed`, so the writer and the probes can never
    * disagree on the directory. */
  def bm25IndexPath(lakeDir: String, collectionId: Long): String =
    s"$lakeDir/bm25_index_c$collectionId"

  /** Where a collection's first-occurrence line registry lives (the
    * incremental line-dedup state, [[LineStore]]) — one definition for
    * the same reason as [[bm25IndexPath]]. */
  def lineRegistryPath(lakeDir: String, collectionId: Long): String =
    s"$lakeDir/line_registry_c$collectionId"

  /** Where a lake's trained DSIR weight model lives (bucket BIGINT,
    * w DOUBLE — the artifact `Cli dsir-select --weights` trains and
    * persists) — one definition so the API's planned `dsir_score` step
    * and the CLI trainer can never disagree on the directory. */
  def dsirWeightsPath(lakeDir: String): String = s"$lakeDir/dsir_weights"

  /** THE reader for the streaming DSIR-score table (`<lake>/dsir_score`,
    * written by `releaseLoadStream(dsirScore = ...)`). Same at-least-once
    * raw-append contract as [[cleanDocs]]: replayed batches re-write
    * byte-identical rows (the weight model is train-once and the combine
    * is deterministic), so consumers fold duplicates here. */
  def dsirScores(spark: SparkSession, lakeDir: String): DataFrame =
    graft.ingest.Sink.readOrEmpty(spark, s"$lakeDir/dsir_score")
      .map(_.distinct())
      .getOrElse(spark.emptyDataFrame)

  /** Where the per-collection corpus-build manifest lives (the
    * incremental twin of q_corpus_build — VERDICT r17 #7). */
  def corpusManifestPath(lakeDir: String): String = s"$lakeDir/corpus_manifest"

  /** THE reader for the incremental corpus-build manifest table. Rows are
    * keyed (collection_id, stage_idx, stage, source) and each
    * collection's slice is REPLACED wholesale per close drain (dynamic
    * partition overwrite), so no duplicate folding is needed — a
    * replayed close rewrites byte-identical rows. */
  def corpusManifest(spark: SparkSession, lakeDir: String): DataFrame =
    graft.ingest.Sink.readOrEmpty(spark, corpusManifestPath(lakeDir))
      .getOrElse(spark.emptyDataFrame)

  /** Per-close-drain corpus-build manifest (VERDICT r17 #7): the batch
    * manifest engine ([[graft.TextQueries.corpusBuildOf]] — the 9-stage
    * CCNet-order readout) composed over the control plane's collection
    * slice, refreshed at every close drain so a long-running crawl reads
    * its curation funnel per collection without a separate batch job.
    *
    * Composition with the streaming stores: when the collection planned
    * the `line_dedup` step, each doc's text is the [[cleanDocs]] CLEANED
    * text (the incremental LineStore election's output) where one
    * exists — the manifest then accounts docs by the content that
    * actually survived ingest, and the batch engine's own line-dedup
    * stage re-elects over already-deduped lines (first occurrences only
    * — idempotent by construction). Collections without the step read
    * their raw slice, byte-identical to the batch q_corpus_build over
    * the same docs.
    *
    * Idempotence: the manifest table is partitioned by collection_id
    * and each drain dynamically overwrites ONLY this collection's
    * partition — a replayed close rewrites byte-identical rows, other
    * collections' slices are untouched, so rows ACCRETE per collection
    * across a multi-collection lake. Stage totals of the additive
    * stage-0 (raw) rows reconcile with the batch manifest over the
    * union of the collections' docs (CollectFlowSpec pins it); the
    * corpus-keyed stages (dedup/decontaminate/quality-gate) are
    * per-collection funnels by design — a cross-collection funnel is
    * the batch q_corpus_build over the union.
    *
    * Returns false when the collection has no document rows yet. */
  def appendCorpusManifest(
      spark: SparkSession, lakeDir: String,
      plane: graft.control.Control.Plane, collectionId: Long): Boolean = {
    import org.apache.spark.sql.functions._
    val c = plane.collection(collectionId)
    graft.Pipeline.collectionDocsOf(spark, lakeDir, c) match {
      case None => false
      case Some(raw) =>
        val docs =
          if (!c.steps.contains("line_dedup")) raw
          else {
            val clean = cleanDocs(spark, lakeDir)
            if (clean.isEmpty) raw
            else raw
              .join(
                clean.filter(col("collection_id") === collectionId)
                  .select(col("doc_id"), col("clean_text")),
                Seq("doc_id"), "left")
              .select(col("source"), col("doc_id"),
                coalesce(col("clean_text"), col("text")).as("text"))
          }
        graft.TextQueries.corpusBuildOf(docs)
          .withColumn("collection_id", lit(collectionId))
          .write
          .partitionBy("collection_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(corpusManifestPath(lakeDir))
        true
    }
  }

  /** THE reader for the streaming line-dedup leg's cleaned-document table
    * (`<lake>/clean_doc`, written by `releaseLoadStream(lineDedup =
    * true)`). The table is an at-least-once raw append: a crash-replayed
    * batch re-writes byte-identical rows (the LineStore historical-view
    * invariance), so every consumer must fold duplicates — this helper
    * centralizes that contract (ADVICE r16: a naive
    * spark.read.parquet(clean_doc) double-counts after a replay), the
    * way the sibling stores fold at read. Empty frame when no batch has
    * ever run the leg. */
  def cleanDocs(spark: SparkSession, lakeDir: String): DataFrame =
    graft.ingest.Sink.readOrEmpty(spark, s"$lakeDir/clean_doc")
      .map(_.distinct())
      .getOrElse(spark.emptyDataFrame)

  /** One streamed record's compile outcome. */
  final case class RecordOutcome(
      ocid: String, outcome: String, compiled_id: String, batch_id: Long)

  /** T4 record-package path: compile each micro-batch of landed records
    * immediately and persist the outcomes under `outDir`, partitioned by
    * batch id. The write is IDEMPOTENT — a replayed batch (crash between
    * the sink write and the checkpoint commit) dynamically overwrites its
    * own `batch_id=` partition instead of appending duplicates, which is
    * what upgrades the checkpoint's at-least-once replay to effective
    * exactly-once. A malformed landed line (truncated file, blank line)
    * yields a `malformed` outcome row rather than poisoning the batch
    * forever — the reference marks the file failed and continues. */
  def recordCompileStream(
      spark: SparkSession, landingDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    recordCompileStream(spark, landingDir, outDir, checkpointDir, None)

  /** [[recordCompileStream]] with the control plane threaded through
    * (VERDICT r6 wrong #2): each micro-batch registers its files'
    * collection_file + LOAD step rows, completes the LOAD steps, flips the
    * per-file `compilationStarted` flag the record-package completion gate
    * requires (T2/T3, the compiler's `collection_file.compilation_started`
    * write, `compiler.py:186-189`), latches the collection's data_type
    * format, and persists the plane — so a streamed record collection
    * passes `completable` once closed, exactly like a batch-loaded one.
    * `plane` carries (shared plane ref, collection id, lake dir for the
    * plane save). */
  def recordCompileStream(
      spark: SparkSession, landingDir: String, outDir: String,
      checkpointDir: String,
      plane: Option[(java.util.concurrent.atomic.AtomicReference[graft.control.Control.Plane],
        Long, String)]): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .format("text")
      .load(landingDir)
      .select($"value", $"_metadata.file_path".as("path"))
      .as[(String, String)]
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (withPath: Dataset[(String, String)], batchId: Long) =>
        // collect(): distinct file paths are control-plane-sized
        val files = withPath.select($"path").distinct().as[String].collect().sorted
        val batch = withPath.map(_._1)
        val outcomes = batch.mapPartitions { it =>
          it.flatMap { line =>
            val parsed =
              try Some(Canonical.parse(line))
              catch { case _: Exception => None }
            parsed match {
              case None if line.trim.isEmpty => None // blank separator lines
              case None =>
                Some(RecordOutcome("", "malformed", null, batchId))
              case Some(node) if !node.isObject => None
              case Some(node) =>
                val rec = node.asInstanceOf[ObjectNode]
                val ocid = Option(rec.get("ocid")).filter(_.isTextual)
                  .map(_.asText).getOrElse("")
                val d = RecordCompile.decide(ocid, rec)
                Some(RecordOutcome(
                  ocid, d.outcome,
                  d.compiled.flatMap(c => Option(c.get("id")).map(_.asText)).orNull,
                  batchId))
            }
          }
        }
        outcomes.write
          .partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(outDir)
        // plane bookkeeping AFTER the outcome write commits (same ordering
        // contract as releaseLoadStream: a registered file is a done file);
        // registerFile/markFileCompiled are idempotent under replay
        plane.foreach { case (ref, cid, lakeDir) =>
          var p = ref.get()
          if (!p.collection(cid).dataTypeFormat.contains(
              graft.control.Control.Format.RecordPackage))
            p = p.copy(collections = p.collections.updated(cid,
              p.collection(cid).copy(dataTypeFormat =
                Some(graft.control.Control.Format.RecordPackage))))
          for (f <- files) {
            p = graft.control.Control.registerFile(p, cid, f)
            p = graft.control.Control.completeStep(
              p, cid, graft.control.Control.StepName.Load, Some(f))
            p = graft.control.Control.markFileCompiled(p, cid, f)
          }
          if (p ne ref.get())
            ref.set(graft.control.PlaneStore.save(lakeDir, p))
        }
        () // Unit-returning VoidFunction2 overload
      }
      .start()
  }

  /** S6/T1 release-package path — the api_loader's dataflow
    * (`api_loader.py:28-50`: Collect announces a stored file, the loader
    * registers it and the file_worker loads it) as a Structured Streaming
    * query over a landing directory: each micro-batch's NEW files are
    * registered into the control plane and stream-loaded into the lake by
    * [[graft.Pipeline.loadFilesInto]] (the same engine the batch load
    * runs), with the plane persisted after every batch.
    *
    * Exactly-once is FILE-granular, keyed on the CONTROL PLANE, not the
    * lake: a batch's plane save runs strictly after all of its lake writes
    * commit, so "this file is registered in the saved plane" means "every
    * one of its legs (facts, dedup store, package metadata, upgrade leg,
    * notes) is in the lake". The per-batch idempotence check is therefore a
    * driver-side set lookup — NO lake scan per micro-batch (the r6 design
    * re-read the open collection's partition every batch, which at 100 TB
    * collects millions of filenames per trigger). A checkpoint replay
    * (crash between plane save and checkpoint commit) re-offers registered
    * files and skips them all.
    *
    * The remaining window — a crash partway through a batch's SEVERAL
    * write jobs, leaving some legs of a file in the lake with no plane row
    * — is repaired ONCE at stream start by [[recoverPartialLoads]]: files
    * found in any filename-keyed lake table but absent from the plane have
    * their partial rows purged (a rewrite of just the open collection's
    * partition, on the rare recovery path only) and are reloaded whole.
    * This replaces the reference's at-least-once queue + unique-constraint
    * dedup errback (T1) without its per-row conflict handling.
    *
    * The file source is `binaryFile` pruned to `path` — the stream carries
    * file ARRIVALS, not contents (a queue source in a real deployment);
    * the loader re-opens each file executor-side with the O(item)-memory
    * item reader.
    *
    * `neardupSignatures = true` additionally probes each batch's loaded
    * docs against the persistent MinHash signature store and appends
    * their signatures ([[NeardupStore]]) — near-identical re-arrivals the
    * exact-hash dedup is blind to land in `<lake>/neardup_flag`.
    *
    * `trendingTerms = true` additionally folds each batch's document
    * token stream into the persistent `<lake>/freq_sketch` summary
    * ([[FreqStore]]) — corpus term frequencies kept current per
    * micro-batch, exactly-once via the sketch's stored batch id (a
    * crash between the sketch save and the plane save replays the batch
    * and the sketch skips it).
    *
    * `corpusStats = true` likewise folds each batch into the persistent
    * `<lake>/stats_sketch` document ([[StatsStore]]): distinct-token
    * cardinality + token-length quantiles + doc/token totals — the live
    * dataset-card numbers, same exactly-once contract.
    *
    * `checks = true` runs the V1 structural check over each batch's
    * loaded items (the reference's continuously-running checker,
    * `checker.py:80-131`) and appends cove_output rows to the check lake
    * table — no batch `addchecks` needed for streamed arrivals;
    * duplicate-tolerant under replay via the content-stable check-id
    * anti-join.
    *
    * `bm25Index = true` additionally appends each batch's loaded docs to
    * the collection's persistent inverted-index store
    * (`<lake>/bm25_index_c<id>`, [[PostingsStore]]) — `Cli search
    * --indexed` then probes the terms' token buckets instead of
    * re-scanning the corpus per query. Postings appends ride the load
    * path's file-granular idempotence like the near-dup signatures; the
    * store's totals document is exactly-once via the same lineage-scoped
    * batch-id watermark as the freq/stats sketches.
    *
    * `lineDedup = true` runs each batch's loaded docs through the
    * incremental corpus-wide line dedup ([[LineStore]]): lines already
    * registered by EARLIER batches (or by a smaller in-batch occurrence)
    * drop, the per-doc cleaned rows append to `<lake>/clean_doc`, and
    * the batch's new first occurrences register in
    * `<lake>/line_registry_c<id>`. Both writes are duplicate-tolerant
    * under replay (the store's historical-view invariance makes the
    * replayed rows byte-identical; readers distinct).
    *
    * `dsirScore = Some(weightsDir)` annotates each batch's loaded docs
    * with their DSIR importance weights (VERDICT r17 #2 — quality-AT-
    * INGEST, the production shape: the model trains ONCE offline from a
    * curated target, `Cli dsir-select --weights`, and every arriving
    * micro-batch scores against the persisted ≤ B-row table without
    * ever touching the target corpus again). The weights load once per
    * stream (first scoring batch), the scoring is the batch engine
    * verbatim ([[graft.TextQueries.dsirScoreAll]] — broadcast-weight
    * join + one per-doc DECIMAL combine), and the rows append to
    * `<lake>/dsir_score` duplicate-tolerantly (deterministic scores →
    * byte-identical replays; read via [[dsirScores]]). A missing model
    * fails the stream START loudly — scoring against an accidentally
    * absent model must never silently annotate nothing. */
  /** The binaryFile source's fixed schema, declared explicitly (streaming
    * sources don't infer) — shared by the release loader (which reads
    * only `path`) and the media-fingerprint leg (which reads `content`
    * too). */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))

  def releaseLoadStream(
      spark: SparkSession,
      landingDir: String,
      lakeDir: String,
      collectionId: Long,
      upgradedId: Option[Long],
      plane: java.util.concurrent.atomic.AtomicReference[graft.control.Control.Plane],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1000,
      neardupSignatures: Boolean = false,
      trendingTerms: Boolean = false,
      corpusStats: Boolean = false,
      checks: Boolean = false,
      bm25Index: Boolean = false,
      lineDedup: Boolean = false,
      dsirScore: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    // fail at stream START, not first batch: the scoring leg is
    // meaningless without its train-once model, and a stream that only
    // discovers the missing artifact mid-drain has already committed
    // batches without annotations
    dsirScore.foreach { dir =>
      require(graft.ingest.Sink.readOrEmpty(spark, dir).isDefined,
        s"dsirScore leg needs a trained weight model at $dir — train one " +
          "first (Cli dsir-select <lake> <rawId> <targetId> --weights DIR)")
    }
    recoverPartialLoads(spark, lakeDir, collectionId, upgradedId, plane)
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.json")
      // bound each micro-batch: a first drain of a huge backlog (an
      // AvailableNow over a crawl that landed for hours) must not become
      // one enormous all-or-nothing batch — each batch's plane save is
      // its commit point, so smaller batches mean proportionally less
      // redone work after a crash and bounded per-batch driver state
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(landingDir)
      .select($"path")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        // the query id is immutable for this stream's lifetime; resolve it
        // lazily ONCE on the first batch (the checkpoint metadata exists by
        // then) instead of re-reading + re-parsing the file per store per
        // batch. Closure-scoped, not global: a recreated checkpoint dir in
        // the same JVM is a NEW stream with a new closure, so the
        // lineage-reset semantics the stores rely on stay intact.
        lazy val lineage = streamLineage(checkpointDir)
        // the weight model is train-once and immutable for the stream's
        // lifetime: collect its ≤ B rows ONCE on the first scoring batch,
        // not per batch (the `lineage` lazy-val discipline)
        lazy val dsirWeights: Seq[(Long, Double)] = dsirScore.map { dir =>
          graft.ingest.Sink.readOrEmpty(spark, dir)
            .map(_.select($"bucket", $"w").as[(Long, Double)]
              .collect().sortBy(_._1).toSeq)
            .getOrElse(sys.error(s"dsir weight model vanished from $dir mid-stream"))
        }.getOrElse(Seq.empty)
        (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // collect(): file ARRIVALS are control-plane-sized (paths, not data)
        val arrived = batch.select("path").as[String].collect().toSeq.sorted
        var p = plane.get()
        // idempotence set = the plane's registered files: driver memory,
        // no lake IO (loadFilesInto applies the same filter internally —
        // this guard just skips the call for all-replay batches).
        // Compared scheme-insensitively: the binaryFile source reports
        // "file:/…" URIs while CLI/batch loads register plain paths
        val registered = p.fileKeys(collectionId)
        val fresh = arrived.filterNot(a => registered(graft.control.Control.pathKey(a)))
        if (fresh.nonEmpty) {
          val (p2, _, _) = graft.Pipeline.loadFilesInto(
            spark, fresh, lakeDir, p, collectionId, upgradedId)
          p = p2
          // incremental NEAR-dup (VERDICT r11 Next #5): the exact-hash
          // dedup above is blind to near-identical re-arrivals; probe the
          // batch's docs against the persistent signature store (bucket-
          // pruned, never a full-store scan — see NeardupStore), flag the
          // hits, then append this batch's signatures. Probe-before-append
          // keeps a doc from matching itself; running BEFORE the plane
          // save makes signatures at-least-once (a crash here replays the
          // batch and re-appends; the store and the flags table are
          // duplicate-tolerant — readers distinct) rather than silently
          // losable. Batch-internal pairs are the batch engine's job at
          // compile/report time, not the per-arrival probe's.
          if (neardupSignatures || trendingTerms || corpusStats || bm25Index ||
              lineDedup || dsirScore.nonEmpty) {
            graft.Pipeline
              .collectionDocsOf(spark, lakeDir, p.collection(collectionId), Some(fresh))
              .foreach { docs =>
                if (neardupSignatures) {
                  val flags = NeardupStore
                    .probeBatch(spark, lakeDir, docs)
                    .withColumn("collection_id",
                      org.apache.spark.sql.functions.lit(collectionId))
                  flags.write.mode("append").parquet(s"$lakeDir/neardup_flag")
                  NeardupStore.append(lakeDir, docs)
                }
                // trending terms: the distributed per-batch sketch folds
                // into <lake>/freq_sketch; the stored batch id makes it
                // exactly-once even though it runs before the plane save
                if (trendingTerms)
                  FreqStore.appendBatch(
                    s"$lakeDir/freq_sketch", docs, "text", batchId,
                    lineage = lineage)
                // live dataset-card stats: distinct-token cardinality +
                // length quantiles + per-source KMV shingle sketches
                // (cross-source overlap), the same lineage-scoped
                // exactly-once
                if (corpusStats)
                  StatsStore.appendBatch(
                    s"$lakeDir/stats_sketch", docs, "text", batchId,
                    lineage = lineage,
                    sourceCol = Some("source"))
                // inverted-index maintenance: this batch's postings land
                // in their token buckets, the totals document folds under
                // the lineage watermark — searches over the store never
                // re-scan the corpus (the serving shape; see PostingsStore)
                if (bm25Index)
                  PostingsStore.appendBatch(
                    Streaming.bm25IndexPath(lakeDir, collectionId),
                    docs.select(
                      org.apache.spark.sql.functions.col("doc_id"),
                      org.apache.spark.sql.functions.col("text")),
                    batchId, lineage = lineage)
                // incremental corpus-wide line dedup: drop lines already
                // registered by earlier batches, persist the cleaned
                // docs, register this batch's first occurrences (the
                // q_line_dedup semantics made streaming; see LineStore)
                if (lineDedup) {
                  val cleaned = LineStore.appendCleanBatch(
                    spark,
                    Streaming.lineRegistryPath(lakeDir, collectionId),
                    docs, batchId, lineage = lineage)
                  cleaned
                    .withColumn("collection_id",
                      org.apache.spark.sql.functions.lit(collectionId))
                    .write.mode("append").parquet(s"$lakeDir/clean_doc")
                }
                // quality-at-ingest: annotate this batch's docs with
                // their DSIR importance weights against the stream's
                // train-once model (the batch scoring engine verbatim —
                // a broadcast model join + one per-doc combine, so the
                // leg costs O(batch), never a corpus or target re-scan)
                if (dsirScore.nonEmpty)
                  graft.TextQueries
                    .dsirScoreAll(docs, dsirWeights, spark, label = "source")
                    .select(
                      org.apache.spark.sql.functions.lit(collectionId)
                        .as("collection_id"),
                      org.apache.spark.sql.functions.col("doc_id"),
                      org.apache.spark.sql.functions.col("label").as("source"),
                      org.apache.spark.sql.functions.col("n_feats"),
                      org.apache.spark.sql.functions
                        .round(org.apache.spark.sql.functions.col("lw_dec")
                          .cast(org.apache.spark.sql.types.DoubleType), 9)
                        .as("logw"))
                    .write.mode("append").parquet(s"$lakeDir/dsir_score")
              }
          }
          // streaming structural-check leg (the reference's checker is a
          // CONTINUOUSLY-RUNNING consumer of the loader's output —
          // checker.py:80-131 — not only a batch command): validate THIS
          // batch's files against the extension-patched package schema
          // and append their cove_output rows to the check lake table.
          // Replay-safe like the batch job it shares (runChecks →
          // checkUnchecked): a crash between this append and the plane
          // save replays the batch, and the anti-join on the
          // content-stable check id skips the rows already written — the
          // same duplicate-tolerant at-least-once protocol as the
          // near-dup signature leg above. Restricting to `fresh` keeps
          // the VALIDATION work O(batch) (the expensive part — schema
          // checks per item); the idempotence anti-join still reads the
          // collection's check table per batch, whose scale path is the
          // id-bucketed check table checkUnchecked documents (co-located
          // anti-join, no per-batch re-shuffle). The per-JVM
          // (items_key, extensions) schema cache means no per-row —
          // or even per-batch — schema recompile.
          if (checks)
            graft.Pipeline.runChecks(
              spark, lakeDir, p, collectionId, files = Some(fresh))
        }
        if (p ne plane.get())
          plane.set(graft.control.PlaneStore.save(lakeDir, p))
        ()
      }
      .start()
  }

  /** Where a lake's media-fingerprint dup flags land (written by
    * [[mediaFingerprintStream]]; one row per flagged arrival, keyed ids —
    * join [[mediaFilesPath]] for names). */
  def mediaDupFlagPath(lakeDir: String): String = s"$lakeDir/media_dup_flag"

  /** The lake-wide (id, name) registry of fingerprinted media files —
    * `id = xxhash64(path)`, the join key the flag and store tables use.
    * At-least-once raw append of byte-identical rows; readers distinct. */
  def mediaFilesPath(lakeDir: String): String = s"$lakeDir/media_files"

  /** Fingerprint-at-ingest for MEDIA arrivals (VERDICT r19 Next #3 —
    * [[FingerprintStore]] wired into the production ingest path): a
    * binaryFile stream over the same landing directory the release
    * loader drains, glob-restricted to media payloads, decoding each
    * arrival ONCE ([[FingerprintStore.probeAppend]]) — near-dups of
    * ALREADY-STORED media flag into `<lake>/media_dup_flag` and the
    * batch's fingerprints persist banded for pruning. The store is
    * LAKE-level (cross-collection near-dup detection is the point — the
    * NeardupStore posture); flags and the id→name registry carry the
    * collection id.
    *
    * Exactly-once shape: the probe/append pair is keyed by (stream
    * lineage, batch id) — a crash-replayed batch skips the store append
    * and its probe excludes its own first-attempt rows, so the flags
    * recompute byte-identically (the r20 FingerprintStore watermark) —
    * and the flag/name tables partition by (collection_id, batch_id)
    * with dynamic overwrite, so the replay REWRITES its own partition
    * instead of appending duplicates (the recordCompileStream idiom).
    * Probe-before-append means within-batch near-dups are the batch
    * engines' job (q_image_neardup and siblings), not this leg's — the
    * store flags re-arrivals against HISTORY. */
  def mediaFingerprintStream(
      spark: SparkSession,
      landingDir: String,
      lakeDir: String,
      collectionId: Long,
      checkpointDir: String,
      maxHamming: Int = 6,
      maxFilesPerTrigger: Int = 1000,
      scenes: Boolean = false): StreamingQuery = {
    import org.apache.spark.sql.functions._
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      // the decodable-media surface: the JDK decode engines behind
      // FingerprintStore.fingerprintsOf (ImageIO rasters, javax.sound
      // PCM, MJPEG-in-AVI); undecodable payloads drop inside the store
      // anyway — the glob just keeps the stream from re-reading the
      // loader's *.json arrivals as media
      .option("pathGlobFilter", "*.{png,gif,jpg,jpeg,bmp,wav,au,aiff,avi}")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(landingDir)
      .select(col("path"), col("content"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        lazy val lineage = streamLineage(checkpointDir)
        (batch: DataFrame, batchId: Long) =>
          val media = batch.select(
            xxhash64(col("path")).as("id"), col("path").as("name"),
            col("content")).localCheckpoint()
          val flags = FingerprintStore.probeAppend(
            spark, lakeDir, media.select("id", "content"), maxHamming,
            batchId = batchId, lineage = lineage, scenes = scenes)
          flags
            .withColumn("collection_id", lit(collectionId))
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("collection_id", "batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(mediaDupFlagPath(lakeDir))
          media.select(col("id"), col("name"))
            .withColumn("collection_id", lit(collectionId))
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("collection_id", "batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(mediaFilesPath(lakeDir))
          ()
      }
      .start()
  }

  /** Crash repair for [[releaseLoadStream]]'s multi-write batches, run ONCE
    * at stream start (never per batch). Invariant: the plane is saved only
    * after a batch's every write job commits, so a file REGISTERED in the
    * plane is fully loaded, and a file present in any lake table but absent
    * from the plane belongs to a batch that died mid-write (or after its
    * last write but before the plane save — then the purge merely redoes
    * one file's work). Repair = purge the partial files' rows from every
    * filename-keyed table of this collection tree, then reload the files
    * whole through [[graft.Pipeline.loadFilesInto]]. The purge rewrites
    * only the open collection's partitions and only when a crash actually
    * left partials. */
  def recoverPartialLoads(
      spark: SparkSession,
      lakeDir: String,
      collectionId: Long,
      upgradedId: Option[Long],
      plane: java.util.concurrent.atomic.AtomicReference[graft.control.Control.Plane]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val p0 = plane.get()
    val registered = p0.fileKeys(collectionId)
    val cids = collectionId +: upgradedId.toSeq
    // every filename-keyed table's filenames in ONE distinct-and-collect;
    // compiled_release filenames are non-null only for DIRECT compiled-
    // release loads (the format's only filename-keyed trace), so the
    // isNotNull filter drops the merge-produced rows
    val filenames = Seq("release" -> cids, "record" -> cids,
      "compiled_release" -> cids, "package_data" -> Seq(collectionId))
      .flatMap { case (table, ids) =>
        graft.ingest.Sink.readOrEmpty(spark, s"$lakeDir/$table").map(
          _.filter(col("collection_id").isin(ids: _*) && col("filename").isNotNull)
            .select("filename"))
      }
    val inLake =
      if (filenames.isEmpty) Set.empty[String]
      else filenames.reduce(_ union _).distinct().as[String].collect().toSet
    val partial = inLake.filterNot(f => registered(graft.control.Control.pathKey(f)))
    if (partial.isEmpty) return

    purgeByFilename(spark, s"$lakeDir/release", cids, partial)
    purgeByFilename(spark, s"$lakeDir/record", cids, partial)
    // BOTH cids: compiled-release direct loads with an upgrade leg write
    // filename-keyed rows under the upgraded collection too
    purgeByFilename(spark, s"$lakeDir/compiled_release", cids, partial)
    purgeByFilename(spark, s"$lakeDir/package_data", Seq(collectionId), partial)
    // record collections' per-file compiles are keyed by OCID, not
    // filename, and need no purge: reloading the purged record facts
    // re-runs the compile with its already-compiled-ocid anti-join, so
    // compiled rows written before the crash simply keep their elected
    // record (the AlreadyExists contract) — compiled state converges.
    // Notes converge too: the record batch writes its (ocid-keyed,
    // dedup-anti-joined) notes BEFORE the compiled rows, so a replay
    // re-emits exactly the missing ones (Pipeline.loadRecordBatch)
    // upgrade differs-notes are keyed "<filename>: <warning>" — drop the
    // partial files' notes the same way (the dedup store is content-
    // addressed and append-tolerant; its rows need no purge)
    upgradedId.foreach { uid =>
      purgeWhere(spark, s"$lakeDir/collection_note", Seq(uid),
        partial.foldLeft(org.apache.spark.sql.functions.lit(false))(
          (acc, f) => acc || col("note").startsWith(f + ": ")))
    }
    val (p2, _, _) = graft.Pipeline.loadFilesInto(
      spark, partial.toSeq.sorted, lakeDir, p0, collectionId, upgradedId)
    plane.set(graft.control.PlaneStore.save(lakeDir, p2))
  }

  /** Checkpoint-lineage marker for per-batch exactly-once guards
    * ([[FreqStore.appendBatch]]): the streaming query's persisted id from
    * `<checkpointDir>/metadata` — stable across restarts of the SAME
    * checkpoint (so replayed batch ids still dedupe) but NEW when the
    * checkpoint dir is deleted/recreated (so a fresh lineage's batch 0 is
    * not mistaken for a replay of the old lineage's). The metadata file
    * exists by the time any foreachBatch body runs; the checkpoint path
    * itself is the (weaker) fallback for a nonstandard layout. */
  private[streaming] def streamLineage(checkpointDir: String): String = {
    // resolved through the Hadoop FileSystem API, NOT java.nio local-file
    // reads: an HDFS/S3 checkpoint would throw on a local read and the
    // path-string fallback is IDENTICAL before and after a delete/recreate
    // of the same remote dir — silently re-dropping a reset checkpoint's
    // batch 0 as a replay, the exact bug this marker exists to prevent
    val meta = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    try {
      val conf = org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf()
      val fs = meta.getFileSystem(conf)
      val in = fs.open(meta)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      Option(root.get("id")).filterNot(_.isNull).map(_.asText())
        .getOrElse(checkpointDir)
    } catch { case scala.util.control.NonFatal(_) => checkpointDir }
  }

  private def purgeByFilename(
      spark: SparkSession, path: String, cids: Seq[Long], files: Set[String]): Unit = {
    import org.apache.spark.sql.functions.col
    // null-safe: merge-produced compiled rows carry a NULL filename, and a
    // bare isin would make the keep-filter three-valued (dropping them)
    purgeWhere(spark, path, cids,
      col("filename").isNotNull && col("filename").isin(files.toSeq: _*))
  }

  /** Rewrite the given collection partitions of `path` without the rows
    * matching `doomed`, one atomic partition swap per collection
    * ([[graft.ingest.Sink.swapCollectionPartition]]) — the keep-plan reads
    * the live directory while the replacement is written aside, so there
    * is no cache-and-overwrite-own-source window (ADVICE r7), a reader
    * never sees a half-purged partition, and a partition left empty is
    * dropped. No-op when nothing matches. */
  private def purgeWhere(
      spark: SparkSession, path: String, cids: Seq[Long],
      doomed: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.col
    // restore any mid-swap crash debris BEFORE readOrEmpty snapshots the
    // file listing — a plan built first would omit the restored rows and
    // the rewrite below would drop them (ADVICE r8)
    cids.foreach(graft.ingest.Sink.recoverSwapDebris(path, _))
    graft.ingest.Sink.readOrEmpty(spark, path).foreach { df =>
      val part = df.filter(col("collection_id").isin(cids: _*))
      // one aggregate finds which collections actually hold doomed rows;
      // only those are rewritten — swapping untouched collections would be
      // a needless full-partition rewrite AND a needless crash window each
      // cast: partition discovery can infer collection_id as INT
      val hit = part.filter(doomed).select(col("collection_id").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      for (cid <- cids if hit(cid))
        graft.ingest.Sink.swapCollectionPartition(path, cid,
          df.filter(col("collection_id") === cid).filter(!doomed)
            .repartition(col("collection_id")))
    }
  }

  /** A timestamped event for windowed aggregation. */
  final case class TimedEvent(key: String, ts: java.sql.Timestamp)

  /** T9 extension (SURVEY §2.10: "if we add streaming windows they're
    * built-ins"): watermarked tumbling-window counts per key. The
    * watermark bounds state — windows older than (max event time −
    * `watermark`) finalize, emit (in append mode) and drop their state,
    * so the query runs forever in bounded memory. The reference has no
    * analogue (it buffers everything until an explicit close); this is
    * the monitoring-rollup (q_hourly_rollup) as a live query. */
  def windowedCounts(
      events: Dataset[TimedEvent],
      window: String = "1 hour",
      watermark: String = "10 minutes"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{functions => F}
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(F.window(F.col("ts"), window), F.col("key"))
      .count()
      .select(F.col("window.start").as("window_start"), F.col("key"), F.col("count").as("n"))
  }

  /** A fingerprinted document arrival (streaming ingest dedup input). */
  final case class DocArrival(fingerprint: String, doc_id: Long, ts: java.sql.Timestamp)

  /** S8/T9 as a live query: streaming exact-dedup of re-landed documents by
    * content fingerprint, state BOUNDED by the watermark — the in-flight
    * half of the content-addressed dedup story. The batch path dedups
    * against the persistent store with an anti-join (Ingest.dedupData);
    * unbounded in-stream dedup would grow one state row per distinct
    * fingerprint forever, so this keeps only the watermark horizon in
    * state (crawl re-offers and retry storms land within minutes) and
    * leaves cross-horizon duplicates to the store anti-join downstream —
    * the classic two-tier layout: cheap bounded in-flight suppression,
    * exact persistent-store reconciliation behind it. */
  def dedupArrivals(
      docs: Dataset[DocArrival], watermark: String = "10 minutes"): Dataset[DocArrival] =
    docs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** A funnel-stage event arrival (streaming funnel input). */
  final case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)

  /** A user's current funnel progress (the streaming state row):
    * `stage_reached` stages converted so far, `stage_ts` their chained
    * conversion times t1..t_k, `n_seen` funnel-stage events folded. */
  final case class FunnelProgress(
      user_id: Long, stage_reached: Long, stage_ts: Seq[Long], n_seen: Long)

  /** Internal funnel state: per stage, the user's DISTINCT sorted event
    * times. Distinctness folds at-least-once replays for free (a
    * replayed event changes nothing); keeping the full per-stage time
    * lists — not just the current chain — is what makes LATE data exact:
    * a late stage-1 event with an earlier timestamp lowers t1, which can
    * re-open earlier stage-2 candidates that already streamed past, so
    * the chain must recompute against history, not against its own last
    * value. */
  final case class FunnelState(byStage: Seq[Seq[Long]], nSeen: Long)

  /** The ordered funnel as live per-user state — the streaming twin of
    * [[graft.EventQueries.funnelOf]] (same chained-min semantics, same
    * optional max-gap window; StreamingSpec referees the two over the
    * union of batches, out-of-order arrivals included). Emits the user's
    * new [[FunnelProgress]] whenever a batch touches them (outputMode
    * "update" — the [[lastWriteWins]] shape).
    *
    * State per user = their distinct funnel-stage timestamps. That is
    * the exact-late-data price (see [[FunnelState]]); it is bounded by
    * the user's own funnel activity — the per-user boundedness the batch
    * engine's WindowExec already assumes — and a production deployment
    * caps it with a state TTL (GroupStateTimeout) at the cost of
    * dropping later-than-TTL conversions, the standard trade. */
  def funnelProgress(
      events: Dataset[FunnelEvent],
      stages: Seq[String] = Seq("signup", "click", "purchase"),
      maxGapUs: Option[Long] = None): Dataset[FunnelProgress] = {
    require(stages.nonEmpty, "a funnel needs at least one stage")
    require(maxGapUs.forall(_ > 0), "maxGapUs must be positive")
    import events.sparkSession.implicits._
    val stageIdx: Map[String, Int] = stages.zipWithIndex.toMap
    val nStages = stages.size
    events
      .filter(e => stageIdx.contains(e.event_type))
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val prev = state.getOption
            .getOrElse(FunnelState(Seq.fill(nStages)(Seq.empty), 0L))
          val merged = Array.tabulate(nStages)(i =>
            collection.mutable.SortedSet(prev.byStage(i): _*))
          var seen = prev.nSeen
          rows.foreach { e =>
            seen += 1
            merged(stageIdx(e.event_type)) += e.ts_us
          }
          // recompute the chained minimum against full history — the
          // batch engine's t_{k+1} = min{ts of stage k+1 : ts > t_k
          // (and ≤ t_k + W)} recurrence, over sorted distinct times
          val chain = collection.mutable.ArrayBuffer.empty[Long]
          var prevT: Option[Long] = Some(Long.MinValue)
          for (k <- 0 until nStages if prevT.isDefined) {
            val tk =
              if (k == 0) merged(0).headOption
              else {
                val later = merged(k).iteratorFrom(prevT.get + 1)
                (if (later.hasNext) Some(later.next()) else None)
                  .filter(t => maxGapUs.forall(w => t <= prevT.get + w))
              }
            tk.foreach(chain += _)
            prevT = tk
          }
          val next = FunnelState(merged.map(_.toSeq).toSeq, seen)
          state.update(next)
          FunnelProgress(uid, chain.size.toLong, chain.toSeq, seen)
      }
  }

  /** A user-activity arrival (streaming retention input). */
  final case class RetentionEvent(user_id: Long, ts_us: Long)

  /** Internal retention state: the user's DISTINCT activity periods as
    * epoch days (daily mode: the UTC day; weekly mode: the Monday of the
    * UTC ISO week). Distinctness folds at-least-once replays for free,
    * and keeping the full period set — not (cohort, max offset) — is
    * what makes LATE data exact: a late event with an EARLIER period
    * re-cohorts the user, which re-derives EVERY (cohort, offset) pair
    * they contribute — unrecoverable from last-value state (the
    * [[FunnelState]] argument verbatim). Bounded by the user's distinct
    * active days/weeks, not their event count. */
  final case class RetentionState(periods: Seq[Long])

  /** One signed contribution to the (cohort, offset) → n_users rollup:
    * `delta` = +1 (this user now counts there) or -1 (a late earlier
    * event re-cohorted them away). Summing deltas over all emitted rows
    * reproduces [[graft.EventQueries.retentionOf]] over the union of
    * batches exactly (StreamingSpec referees it). */
  final case class RetentionDelta(
      user_id: Long, cohort: String, offset: Long, delta: Long)

  /** Cohort retention as live per-user state — the streaming twin of
    * [[graft.EventQueries.retentionOf]] (VERDICT r18 Next #2, the
    * [[funnelProgress]] pattern): per user, state is the distinct
    * activity-period set; each batch emits DELTAS against the user's
    * previous (cohort, offset) contribution set, so a downstream
    * aggregation (or a keyed sink) maintains the exact retention matrix
    * incrementally. In-order arrivals only ever ADD pairs; a late
    * EARLIER arrival re-cohorts the user and the emission retracts
    * every moved pair (-1) while asserting the re-derived ones (+1) —
    * exactness under late data, never an approximation.
    *
    * Period arithmetic matches the batch engine bit-for-bit in the UTC
    * session the engine runs in: daily periods are floor(ts_us / 86.4e9)
    * epoch days; weekly periods truncate to Monday (epoch day 4 was a
    * Monday — `d - floorMod(d - 4, 7)`), so week offsets are whole
    * integer weeks by construction, the retentionOf `div 7` contract. */
  def retentionProgress(
      events: Dataset[RetentionEvent],
      weekly: Boolean = false): Dataset[RetentionDelta] = {
    import events.sparkSession.implicits._
    val UsPerDay = 86_400_000_000L
    def periodOf(tsUs: Long): Long = {
      val d = Math.floorDiv(tsUs, UsPerDay)
      if (weekly) d - Math.floorMod(d - 4L, 7L) else d
    }
    def pairsOf(periods: collection.SortedSet[Long]): Set[(Long, Long)] =
      periods.headOption.fold(Set.empty[(Long, Long)]) { cohort =>
        periods.iterator
          .map(p => (cohort, if (weekly) (p - cohort) / 7L else p - cohort))
          .toSet
      }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[RetentionEvent],
         state: GroupState[RetentionState]) =>
          val prev = collection.immutable.SortedSet(
            state.getOption.map(_.periods).getOrElse(Seq.empty): _*)
          val merged = prev ++ rows.map(e => periodOf(e.ts_us))
          if (merged == prev) Iterator.empty
          else {
            state.update(RetentionState(merged.toSeq))
            val before = pairsOf(prev)
            val after = pairsOf(merged)
            ((after -- before).iterator.map(p => (p, 1L)) ++
              (before -- after).iterator.map(p => (p, -1L)))
              .map { case ((cohort, off), d) =>
                RetentionDelta(uid,
                  java.time.LocalDate.ofEpochDay(cohort).toString, off, d)
              }
          }
      }
  }

  /** [[retentionProgress]] composed with its MATERIALIZED downstream
    * sink (VERDICT r19 Next #5): the signed per-batch deltas fold into
    * the persisted [[RetentionStore]] matrix under the lineage-scoped
    * batch-id watermark, so `<store>/matrix_b*` always holds the exact
    * [[graft.EventQueries.retentionOf]] readout over every folded event
    * — late re-cohorts included — and a crash-replayed batch is a
    * no-op. Read it back with [[RetentionStore.matrix]]. */
  def retentionMatrixStream(
      events: Dataset[RetentionEvent], store: String, checkpointDir: String,
      weekly: Boolean = false): StreamingQuery = {
    val spark = events.sparkSession
    retentionProgress(events, weekly)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        lazy val lineage = streamLineage(checkpointDir)
        (batch: Dataset[RetentionDelta], batchId: Long) =>
          RetentionStore.foldBatch(spark, store, batch.toDF(), batchId, lineage)
          ()
      }
      .start()
  }

  /** An event for the stateful compaction. */
  final case class KeyedEvent(key: String, seq: Long, value: String)

  /** The latest value per key (the streaming W2 state row). */
  final case class Latest(key: String, seq: Long, value: String, n_seen: Long)

  /** W2/T9 as live state: one `Latest` per key, updated as events arrive;
    * later `seq` wins, ties keep the earlier arrival. Emits the key's new
    * state each time it changes (use outputMode "update"). */
  def lastWriteWins(events: Dataset[KeyedEvent]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[Latest]) =>
          val prev = state.getOption
          var latest = prev
          var seen = prev.map(_.n_seen).getOrElse(0L)
          rows.foreach { e =>
            seen += 1
            if (latest.forall(_.seq < e.seq))
              latest = Some(Latest(key, e.seq, e.value, seen))
          }
          val out = latest.map(_.copy(n_seen = seen))
            .getOrElse(Latest(key, Long.MinValue, null, seen))
          state.update(out)
          out
      }
  }
}
