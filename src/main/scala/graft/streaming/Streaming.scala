package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming side of the engine (SURVEY.md §2 T1/T2/T4;
  * reference: the always-on RabbitMQ dataflow of the
  * `process/management/commands` workers).
  *
  * Files load, and record packages compile, as they land
  * (`api_loader.py:28-50`, `compiler.py:146-148`): [[releaseLoadStream]]
  * is a file-source stream over a landing directory whose `foreachBatch`
  * hands each micro-batch's new files to [[graft.Pipeline.loadFilesInto]],
  * the batch loader itself, for every package format. A record package
  * therefore compiles per file while its collection is still open, with
  * the batch load's first-record election, notes and replay guard — no
  * end-of-collection barrier. Exactly-once is file-granular and keyed on
  * the control plane, replacing the reference's at-least-once queue +
  * dedup errback (T1/T2).
  *
  * The stream carries file arrivals, not contents: the loader re-opens
  * each file with the O(item)-memory item reader, the batch ingest bound.
  * The per-batch maintenance stores (stats sketch, line registry,
  * fingerprints) share one commit step,
  * [[graft.control.PlaneStore.atomicWrite]], and one lineage-scoped
  * replay guard, [[replayed]].
  */
object Streaming {

  /** Where a collection's inverted-index store lives — ONE definition
    * shared by `Cli index` and `Cli search --indexed`, so the writer and
    * the probe can never disagree on the directory. */
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
    * incremental twin of q_corpus_build, see [[appendCorpusManifest]]). */
  def corpusManifestPath(lakeDir: String): String = s"$lakeDir/corpus_manifest"

  /** THE reader for the incremental corpus-build manifest table. Rows are
    * keyed (collection_id, stage_idx, stage, source) and each
    * collection's slice is REPLACED wholesale per close drain (dynamic
    * partition overwrite), so no duplicate folding is needed — a
    * replayed close rewrites byte-identical rows. */
  def corpusManifest(spark: SparkSession, lakeDir: String): DataFrame =
    graft.ingest.Sink.readOrEmpty(spark, corpusManifestPath(lakeDir))
      .getOrElse(spark.emptyDataFrame)

  /** Per-close-drain corpus-build manifest: the batch
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
    * centralizes that contract (a naive
    * spark.read.parquet(clean_doc) double-counts after a replay), the
    * way the sibling stores fold at read. Empty frame when no batch has
    * ever run the leg. */
  def cleanDocs(spark: SparkSession, lakeDir: String): DataFrame =
    graft.ingest.Sink.readOrEmpty(spark, s"$lakeDir/clean_doc")
      .map(_.distinct())
      .getOrElse(spark.emptyDataFrame)

  /** The binaryFile source's fixed schema, declared explicitly (streaming
    * sources don't infer) — shared by the release loader (which reads
    * only `path`) and the media-fingerprint leg (which reads `content`
    * too). */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))

  /** S6/T1/T4 load path for every package format — the api_loader's dataflow
    * (`api_loader.py:28-50`: Collect announces a stored file, the loader
    * registers it and the file_worker loads it) as a Structured Streaming
    * query over a landing directory: each micro-batch's NEW files are
    * registered into the control plane and stream-loaded into the lake by
    * [[graft.Pipeline.loadFilesInto]] (the same engine the batch load
    * runs), with the plane persisted after every batch. Landed record
    * packages compile per file here (`compiler.py:146-148`), with the
    * batch loader's first-record election, notes and replay guard.
    *
    * Exactly-once is FILE-granular, keyed on the CONTROL PLANE, not the
    * lake: a batch's plane save runs strictly after all of its lake writes
    * commit, so "this file is registered in the saved plane" means "every
    * one of its legs (facts, dedup store, package metadata, upgrade leg,
    * notes) is in the lake". The per-batch idempotence check is therefore a
    * driver-side set lookup — NO lake scan per micro-batch (re-reading
    * the open collection's partition every batch would, at 100 TB, collect
    * millions of filenames per trigger). A checkpoint replay
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
    * The API's close drain (`Api.drainLanding`) turns on each leg below
    * iff the tree planned its step: `corpus_stats`, `check`, `line_dedup`
    * or `dsir_score`.
    *
    * `corpusStats = true` folds each batch's loaded docs into the
    * persistent `<lake>/stats_sketch` document ([[StatsStore]]):
    * distinct-token cardinality + token-length quantiles + doc/token
    * totals + per-source KMV sketches — the live dataset-card numbers
    * that `Cli corpus-stats` and `GET /api/stats/` read. Exactly-once via
    * the sketch's lineage-scoped batch-id watermark: a crash between the
    * sketch save and the plane save replays the batch and the sketch
    * skips it.
    *
    * `checks = true` runs the V1 structural check over each batch's
    * loaded items (the reference's continuously-running checker,
    * `checker.py:80-131`) and appends cove_output rows to the check lake
    * table — no batch `addchecks` needed for streamed arrivals;
    * duplicate-tolerant under replay via the content-stable check-id
    * anti-join.
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
    * with their DSIR importance weights (quality at ingest, the
    * production shape: the model trains ONCE offline from a
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
  def releaseLoadStream(
      spark: SparkSession,
      landingDir: String,
      lakeDir: String,
      collectionId: Long,
      upgradedId: Option[Long],
      plane: java.util.concurrent.atomic.AtomicReference[graft.control.Control.Plane],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1000,
      corpusStats: Boolean = false,
      checks: Boolean = false,
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
          // the document legs read this batch's loaded docs once; each
          // runs BEFORE the plane save, so a crash replays the batch and
          // each leg's own replay rule (sketch watermark, duplicate-
          // tolerant appends) keeps its output exact
          if (corpusStats || lineDedup || dsirScore.nonEmpty) {
            graft.Pipeline
              .collectionDocsOf(spark, lakeDir, p.collection(collectionId), Some(fresh))
              .foreach { docs =>
                // live dataset-card stats: distinct-token cardinality +
                // length quantiles + per-source KMV shingle sketches
                // (cross-source overlap), folded exactly once under the
                // lineage-scoped batch-id watermark
                if (corpusStats)
                  StatsStore.appendBatch(
                    s"$lakeDir/stats_sketch", docs, "text", batchId,
                    lineage = lineage,
                    sourceCol = Some("source"))
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
          // document legs above. Restricting to `fresh` keeps
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

  /** Fingerprint-at-ingest for MEDIA arrivals ([[FingerprintStore]]
    * wired into the production ingest path): a
    * binaryFile stream over the same landing directory the release
    * loader drains, glob-restricted to media payloads, decoding each
    * arrival ONCE ([[FingerprintStore.probeAppend]]) — near-dups of
    * ALREADY-STORED media flag into `<lake>/media_dup_flag` and the
    * batch's fingerprints persist banded for pruning. The store is
    * LAKE-level (cross-collection near-dup detection is the point);
    * flags and the id→name registry carry the collection id.
    *
    * Exactly-once shape: the probe/append pair is keyed by (stream
    * lineage, batch id) — a crash-replayed batch skips the store append
    * and its probe excludes its own first-attempt rows, so the flags
    * recompute byte-identically (the store's lineage-scoped batch-id
    * watermark) — and the flag/name tables partition by (collection_id,
    * batch_id) with dynamic overwrite, so the replay REWRITES its own
    * partition instead of appending duplicates: the batch id, stable
    * across a replay, makes the sink idempotent without reading it back.
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
    * ([[StatsStore.appendBatch]]): the streaming query's persisted id from
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

  /** The streaming stores' replay guard: a batch id at or below the
    * stored watermark is a replay only within the lineage
    * ([[streamLineage]]) that wrote it. A stored lineage that differs
    * means the checkpoint was reset and batch ids restarted, so the batch
    * folds regardless of the old watermark; a legacy store with no stored
    * lineage keeps the plain batch-id guard. */
  private[streaming] def replayed(
      lastBatchId: Long, storedLineage: Option[String],
      batchId: Long, lineage: String): Boolean =
    storedLineage.forall(_ == lineage) && batchId <= lastBatchId

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
    * is no cache-and-overwrite-own-source window, a reader
    * never sees a half-purged partition, and a partition left empty is
    * dropped. No-op when nothing matches. */
  private def purgeWhere(
      spark: SparkSession, path: String, cids: Seq[Long],
      doomed: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.col
    // restore any mid-swap crash debris BEFORE readOrEmpty snapshots the
    // file listing — a plan built first would omit the restored rows and
    // the rewrite below would drop them
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
}
