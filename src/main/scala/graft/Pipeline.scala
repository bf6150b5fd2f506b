package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.check.Checker
import graft.control.{Control, Notes}
import graft.ingest.{Ingest, Sink}
import graft.ingest.FormatDetect.Format
import graft.ocds.{Compile, Upgrade}

/** The `manage.py load … [--upgrade] --compile` flow (SURVEY.md §3.1) as
  * composable batch stages — the entry points a user of the reference would
  * reach for: walk → register → detect → stream-load → [upgrade] →
  * dedup-store → persist → close → gate → compile (+notes) → check →
  * finalize, with the control plane threaded through as an immutable value.
  *
  * The collection DAG matches the loader's (`processors/loader.py:42-105`):
  * original → compiled, or original → upgraded → compiled when the upgrade
  * step is planned; the upgrade itself runs during load as a narrow map
  * over the loaded items (`file_worker.py:330-335`), its differs-warnings
  * persisted as WARNING collection notes (`create_logger_note`), and merge
  * warnings/failures as WARNING/ERROR notes (`compiler.py:75-84`) — all in
  * the `collection_note` lake table.
  *
  * The reference runs this as seven RabbitMQ workers against PostgreSQL;
  * here each stage is one Spark job and the worker hand-offs are the
  * SEAMS between [[load]] and [[compileAndFinish]]: `load(keepOpen=true)`
  * leaves the collection open exactly like `load --keep-open`
  * (`load.py:156-161`), more files arrive via [[loadFilesInto]] (the
  * file_worker's job run inline, driven by the CLI's `addfiles`), a later
  * close releases the compile gate, and [[compileAndFinish]] is the
  * compiler+checker+finisher worker chain as one call, reached through
  * [[finish]], the close chain every entry point shares. [[loadAndCompile]]
  * composes the stages for the common closed-load case. The only
  * cross-node movement is Spark shuffles.
  *
  * On small batches a stage costs about one scheduling latency per Spark
  * job, so the stages run no job beside their real work: every count they
  * report comes from the write of those rows ([[Sink.observedWrite]]), and
  * the lake tables read with declared schemas, which opens no parquet
  * footer ([[Sink.TableSchemas]]).
  */
object Pipeline {

  /** What a full run did, plus the final control plane. */
  final case class LoadReport(
      collectionId: Long,
      upgradedCollectionId: Option[Long],
      compiledCollectionId: Long,
      dataVersion: String,
      files: Int,
      items: Long,
      distinctData: Long,
      compiled: Long,
      checkFailures: Long,
      notes: Long,
      plane: Control.Plane)

  /** What the load stage did. `notes` counts the upgrade differs-warnings
    * persisted so far (compile warnings come later).
    * `compiledCollectionId` is None when the load planned no compile step
    * (`load` without `--compile`, reference load.py:34). */
  final case class LoadStage(
      collectionId: Long,
      upgradedCollectionId: Option[Long],
      compiledCollectionId: Option[Long],
      dataVersion: String,
      files: Int,
      items: Long,
      notes: Long,
      plane: Control.Plane)

  /** What the compile+check+finalize stage did. */
  final case class CompileStage(
      compiledCollectionId: Long,
      compiled: Long,
      checkFailures: Long,
      notes: Long,
      plane: Control.Plane)

  /** Stage 1 (`load.py` + `file_worker.py` inline): create the collection
    * DAG, register and stream-load every file under `inputDir`, optionally
    * upgrading 1.0→1.1 into a derived collection. With `keepOpen` the
    * collection stays open for [[loadFilesInto]] additions (`load
    * --keep-open`); otherwise it is closed with the loaded file count.
    *
    * Step selection is [[Control.newTree]]'s, shared with the API's create
    * and the CLI: `compile` plans the compile step and creates the compiled
    * child, `check` plans the schema-check step on the root. Neither is
    * implied — the reference's "additional processing is not automatically
    * configured" contract (load.py:34). The programmatic default keeps
    * compile=true for the library's own compose-everything callers; the
    * CLI passes the user's explicit flags. */
  def load(
      spark: SparkSession,
      inputDir: String,
      lakeDir: String,
      collectionId: Long = 1L,
      now: String = "1970-01-01 00:00:00",
      upgrade: Boolean = false,
      keepOpen: Boolean = false,
      sourceId: Option[String] = None,
      dataVersionOverride: Option[String] = None,
      compile: Boolean = true,
      check: Boolean = false): LoadStage = {

    // §3.1 steps 1-2: create the collection DAG the loader builds
    // (`loader.py:42-105`) — original [→ upgraded] [→ compiled].
    // `sourceId` is load.py's required -s/--source (defaults to the input
    // path when the caller has no source registry); `dataVersionOverride`
    // is -t/--time, else the earliest file mtime (load.py:89-100)
    val paths = Ingest.walk(spark, Seq(inputDir))
    require(paths.nonEmpty, s"no input files under $inputDir")
    val dataVersion = dataVersionOverride
      .getOrElse(Ingest.dataVersion(spark, paths))
    val tree = Control.newTree(Control.Plane(Map.empty), collectionId,
      sourceId.getOrElse(inputDir), dataVersion, upgrade, compile, check)
      .fold(errs => throw new IllegalArgumentException(s"invalid transform: $errs"), identity)
    val upgradedId = tree.upgradedChild(collectionId).map(_.id)
    val compiledId = tree.compiledChild(tree.compileBase(collectionId)).map(_.id)

    // steps 3-4: register + stream-load (+ upgrade leg)
    val (loaded, nItems, nNotes) =
      loadFilesInto(spark, paths, lakeDir, tree, collectionId, upgradedId)
    val plane =
      if (keepOpen) loaded else Control.closeTree(loaded, collectionId, now, paths.size)
    LoadStage(collectionId, upgradedId, compiledId, dataVersion, paths.size,
      nItems, nNotes, plane)
  }

  /** The file_worker's job for a batch of `paths`, run inline against an
    * OPEN collection tree: register each file (S6), sniff the batch's
    * format once, and ROUTE it like `_store_data` (`file_worker.py:
    * 322-386`) — release packages → release facts (+ upgrade leg), record
    * packages → record facts + per-file immediate compile
    * (`compiler.py:146-148`), compiled releases → compiled_release facts
    * directly — then complete the LOAD steps. The reference's `addfiles`
    * merely enqueues this work for its workers; in a worker-less engine the
    * command that accepts the files performs them — the same disposition as
    * `load` itself. Returns (plane, items loaded, notes written). */
  def loadFilesInto(
      spark: SparkSession,
      rawPaths: Seq[String],
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long]): (Control.Plane, Long, Long) = {

    // file-level replay dedup (T1): a path already registered against this
    // collection was (or is being) loaded — re-loading it would append
    // duplicate fact rows, the exact duplication registerFile's
    // at-least-once dedup exists to prevent. An all-duplicates batch is a
    // clean no-op. Compared by [[Control.pathKey]], the identity the
    // streaming guard uses, so a stream-loaded "file:/x/a.json" is not
    // re-loaded when the CLI's addfiles offers "/x/a.json"
    val already = plane0.fileKeys(collectionId)
    val paths = rawPaths.filterNot(p => already(Control.pathKey(p)))
    if (paths.isEmpty) return (plane0, 0L, 0L)

    // detect once per batch (the reference sniffs once per COLLECTION,
    // set_data_type; a collection's later batches must keep its format)
    val dt = Ingest.detectDataType(spark, paths.head)
    plane0.collection(collectionId).dataTypeFormat.foreach { f =>
      require(dt.format == f,
        s"collection $collectionId is '$f' but batch detected '${dt.format}' " +
          "(a collection has a single format, file_worker.py:211-214)")
    }
    val plane = batchLoaded(plane0, collectionId, paths, dt.format)
    dt.format match {
      case Format.RecordPackage =>
        loadRecordBatch(spark, paths, lakeDir, plane, collectionId, upgradedId, dt)
      case Format.CompiledRelease =>
        loadCompiledBatch(spark, paths, lakeDir, plane, collectionId, upgradedId, dt)
      case _ =>
        loadReleaseBatch(spark, paths, lakeDir, plane, collectionId, upgradedId, dt)
    }
  }

  /** A loaded batch's control rows on collection `id`: each file registered
    * (S6) with its LOAD step completed (T2), and the batch's format latched
    * (`set_data_type`). */
  private def batchLoaded(
      plane: Control.Plane, id: Long, paths: Seq[String], format: String): Control.Plane = {
    val p = paths.foldLeft(plane)((p, f) => Control.completeStep(
      Control.registerFile(p, id, f), id, Control.StepName.Load, Some(f)))
    p.copy(collections = p.collections.updated(id,
      p.collection(id).copy(dataTypeFormat = Some(format))))
  }

  /** The upgraded collection's share of a batch, the same for every format
    * once its facts are written: the upgrade differs-warnings of `up`
    * persisted as WARNING notes on it (`create_logger_note`), then its own
    * file rows, LOAD steps and format latch. Returns (plane, notes
    * written). */
  private def upgradedLoaded(
      lakeDir: String, plane: Control.Plane, up: DataFrame, uid: Long,
      paths: Seq[String], format: String): (Control.Plane, Long) = {
    val nNotes = Sink.countedWrite(Notes.fromUpgradeWarnings(up, uid))(
      Sink.writeByCollection(_, s"$lakeDir/collection_note"))
    (batchLoaded(plane, uid, paths, format), nNotes)
  }

  /** Retry-idempotent note append for collection `cid`: `fresh` is
    * anti-joined on (code, note, data) against the rows already in the
    * collection's note partition, so a replayed batch or compile re-emits
    * only what is missing — neither loss nor duplication, whichever side
    * of a crash window it lands on. An append, never a partition
    * overwrite: the partition also holds notes no compile wrote, such as
    * the creation note the API persists on every created collection.
    * Returns the notes written, counted by the write itself. */
  private def appendNotes(
      spark: SparkSession, lakeDir: String, cid: Long, fresh: DataFrame): Long = {
    val notes = Sink.readOrEmpty(spark, s"$lakeDir/collection_note") match {
      case Some(existing) => fresh.join(
        existing.filter(col("collection_id") === cid).select("code", "note", "data"),
        Seq("code", "note", "data"), "left_anti")
      case None => fresh
    }
    Sink.countedWrite(notes)(Sink.writeByCollection(_, s"$lakeDir/collection_note"))
  }

  /** Release-package leg of [[loadFilesInto]]: stream-load items into the
    * partitioned lake + content-addressed dedup store, persist package
    * metadata, and apply the tree's upgrade leg when present. */
  private def loadReleaseBatch(
      spark: SparkSession,
      paths: Seq[String],
      lakeDir: String,
      plane: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long],
      dt: graft.ingest.FormatDetect.DataType): (Control.Plane, Long, Long) = {
    // persisted: the fact write and the dedup-store write both consume it —
    // without the persist each would re-open and re-parse every input file
    val items = Ingest.loadItems(spark, paths, dt).toDF()
      .withColumn("collection_id", lit(collectionId))
      .persist()
    val nItems = Sink.countedWrite(items)(Sink.writeFacts(_, s"$lakeDir/release"))
    Sink.writeDedupStore(Ingest.dedupData(items), s"$lakeDir/data")
    val pkgs = Ingest.loadPackageData(spark, paths, dt).toDF()
    // persisted so later jobs (compile checks, addchecks, metadata) can
    // rebuild envelopes without re-reading the source files
    Sink.writeByCollection(
      pkgs.withColumn("collection_id", lit(collectionId)), s"$lakeDir/package_data")

    // optional upgrade leg, applied during load like `file_worker.py:
    // 330-335`: a narrow map re-content-addressing each item.
    // NOTE: `up` (and therefore `items`) must stay persisted until the
    // notes frame derived from it is materialized — unpersisting earlier
    // would silently re-run the whole load+upgrade from the source files
    // when the collection_note write finally evaluates
    val (p2, nNotes) = upgradedId.fold((plane, 0L)) { uid =>
      val up = Upgrade.upgradeItems(items, spark).toDF().persist()
      Sink.writeFacts(
        up.drop("upgrade_warnings").withColumn("collection_id", lit(uid)),
        s"$lakeDir/release")
      val done = upgradedLoaded(lakeDir, plane, up, uid, paths, dt.format)
      up.unpersist()
      done
    }
    items.unpersist()
    (p2, nItems, nNotes)
  }

  /** Record-package leg (`file_worker.py:351-360` Record rows +
    * `compiler.py:146-189` / `record_compiler.py`): records land in the
    * `record` fact table and compile PER FILE IMMEDIATELY, while the
    * collection is still open — no end-of-collection barrier. Each batch's
    * new ocids are decision-treed ([[Compile.recordSummariesAndNotes]]);
    * ocids compiled by an earlier batch are skipped (the AlreadyExists
    * guard, `record_compiler.py:52-56` — their first-loaded record already
    * won), and each file's plane row flips `compilationStarted`, the flag
    * the completion gate requires per file (T3). */
  private def loadRecordBatch(
      spark: SparkSession,
      paths: Seq[String],
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long],
      dt: graft.ingest.FormatDetect.DataType): (Control.Plane, Long, Long) = {
    var plane = plane0
    val records = Ingest.loadRecords(spark, paths, dt).toDF()
      .withColumn("collection_id", lit(collectionId))
      .persist()
    val nItems = Sink.countedWrite(records)(Sink.writeFacts(_, s"$lakeDir/record"))
    Sink.writeDedupStore(Ingest.dedupData(records), s"$lakeDir/data")
    val pkgs = Ingest.loadPackageData(spark, paths, dt).toDF()
    Sink.writeByCollection(
      pkgs.withColumn("collection_id", lit(collectionId)), s"$lakeDir/package_data")

    // upgrade leg (`file_worker.py:330-335` applies upgrade_10_11 to
    // records too): each record's embedded releases upgrade in a narrow
    // map, and the per-file compile below consumes the UPGRADED records.
    // `up` stays persisted until that compile has consumed its projection
    // — unpersisting here would silently re-run the whole upgrade when the
    // compile plan finally evaluates
    var nNotes = 0L
    val upgraded = upgradedId.map { uid =>
      val up = Upgrade.upgradeRecords(records, spark).toDF().persist()
      val upFacts = up.drop("upgrade_warnings").withColumn("collection_id", lit(uid))
      Sink.writeFacts(upFacts, s"$lakeDir/record")
      val (p, n) = upgradedLoaded(lakeDir, plane, up, uid, paths, dt.format)
      plane = p
      nNotes += n
      (up, upFacts)
    }
    val compileSrc = upgraded.fold(records)(_._2)

    // per-file immediate compile off the tree's compile BASE (the upgraded
    // collection when present, else the original)
    val baseId = upgradedId.getOrElse(collectionId)
    plane.compiledChild(plane.collection(baseId)).foreach { compiledC =>
      val compiledId = compiledC.id
      plane = Control.startCompilation(plane, compiledId).getOrElse(plane)
      // AlreadyExists guard: anti-join against ocids an earlier batch
      // compiled (partition-pruned to this compiled collection)
      val fresh = Sink.readOrEmpty(spark, s"$lakeDir/compiled_release") match {
        case Some(existing) => compileSrc.join(
          existing.filter(col("collection_id") === compiledId).select("ocid"),
          Seq("ocid"), "left_anti")
        case None => compileSrc
      }
      val out = Compile.recordSummariesAndNotes(
        fresh.select(col("ocid"), col("filename"), col("record_seq"),
          col("data").as("record")), spark)
        .toDF().persist()
      // NOTES FIRST: a crash between the two writes then re-emits the
      // notes on replay and the append drops the already-written ones. The
      // ocid rides in `data` (the reference's note context JSON) so
      // repeated follow-up TEXTS across ocids stay distinct rows.
      nNotes += appendNotes(spark, lakeDir, compiledId,
        out.filter(col("note").isNotNull).select(
          lit(compiledId).as("collection_id"), col("note.code").as("code"),
          col("note.note").as("note"),
          to_json(struct(col("note.ocid").as("ocid"))).as("data")))
      Sink.writeFacts(
        out.filter(col("summary").isNotNull).select(col("summary.*"))
          .withColumn("filename", lit(null).cast(StringType))
          .withColumn("collection_id", lit(compiledId)),
        s"$lakeDir/compiled_release")
      out.unpersist()
      // the completion gate tracks per-file compile on the compile BASE
      // (finisher checks the compiled child's PARENT's files)
      paths.foreach(f => plane = Control.markFileCompiled(plane, baseId, f))
    }
    upgraded.foreach(_._1.unpersist())
    records.unpersist()
    (plane, nItems, nNotes)
  }

  /** Compiled-release leg (`file_worker.py:371-380`): already-compiled
    * releases land DIRECTLY in the loading collection's own
    * `compiled_release` facts — no package envelope (`process_file`:
    * package = None), no derived compile later (the compiler returns for
    * this format, `compiler.py:81-83`). Each document is summarized into
    * the same row shape the merge engine emits (n_releases=1: the document
    * IS the compiled release; n_warnings=0). */
  private def loadCompiledBatch(
      spark: SparkSession,
      paths: Seq[String],
      lakeDir: String,
      plane: Control.Plane,
      collectionId: Long,
      upgradedId: Option[Long],
      dt: graft.ingest.FormatDetect.DataType): (Control.Plane, Long, Long) = {
    import spark.implicits._
    val items = Ingest.loadItems(spark, paths, dt).toDF().persist()
    Sink.writeDedupStore(Ingest.dedupData(items), s"$lakeDir/data")
    // filename rides along (the reference's CompiledRelease keeps its
    // collection_file FK): it is this format's ONLY filename-keyed trace
    // in the lake, which the streaming loader's crash repair keys on
    def writeSummaries(src: DataFrame, cid: Long): Long =
      Sink.countedWrite(
        src.select("filename", "ocid", "data")
          .as[(String, String, String)]
          .mapPartitions(_.map { case (filename, ocid, data) =>
            (filename, Compile.summarizeDoc(ocid, graft.ocds.Canonical.parse(data),
              nReleases = 1L, nWarnings = 0L))
          })
          .toDF("filename", "summary")
          .select(col("summary.*"), col("filename"))
          .withColumn("collection_id", lit(cid)))(
        Sink.writeFacts(_, s"$lakeDir/compiled_release"))
    val nItems = writeSummaries(items, collectionId)

    // upgrade leg: a compiled release IS a release, so `upgrade_10_11`
    // applies exactly as for release packages (`file_worker.py:330-335`
    // routes the upgraded collection's compiled-release rows through the
    // same _store_data)
    val (p2, nNotes) = upgradedId.fold((plane, 0L)) { uid =>
      val up = Upgrade.upgradeItems(items, spark).toDF().persist()
      writeSummaries(up, uid)
      val done = upgradedLoaded(lakeDir, plane, up, uid, paths, dt.format)
      up.unpersist()
      done
    }
    items.unpersist()
    (p2, nItems, nNotes)
  }

  /** The close chain — the one entry point `Cli load`, `Cli compile` and
    * the API's ingest close share. A tree with a compile-releases child
    * runs [[compileAndFinish]]. A tree that planned no compile step (`load`
    * without `--compile`, reference load.py:34: additional processing is
    * opt-in) has no merge to run, so it only completes, leaf-first, with
    * its cached counts: it ends completed ("closed" in reference terms) but
    * uncompiled, and `addchecks`, a later compile collection, or analytics
    * over the raw facts all remain possible. Throws
    * IllegalArgumentException / IllegalStateException when a gate
    * refuses. Returns the finished plane, and the compile stage when one
    * ran. */
  def finish(
      spark: SparkSession,
      lakeDir: String,
      plane: Control.Plane,
      collectionId: Long,
      now: String): (Control.Plane, Option[CompileStage]) =
    if (plane.compiledChild(plane.compileBase(collectionId)).isEmpty)
      (completeTree(plane, collectionId, now,
        itemCount(spark, lakeDir, plane, collectionId), None), None)
    else {
      val stage = compileAndFinish(spark, lakeDir, plane, collectionId, now)
      (stage.plane, Some(stage))
    }

  /** Stage 2 (the compiler → checker → finisher worker chain as one call),
    * routed on the collection's sniffed format like the compiler worker
    * (`compiler.py:69-83`):
    *  - release packages: compile gate (T4) on the collection that PLANS
    *    compile (the upgraded one when present), run-once flip on the
    *    compiled collection (T5, `compiler.py:59-62`), ONE merge pass
    *    emitting compiled rows and notes together, and the enqueued latch
    *    (`compiler.py:106-108`);
    *  - record packages already compiled per file during load
    *    ([[loadRecordBatch]]); the compiled child completes once every
    *    parent file's `compilationStarted` flag is set (T3);
    *  - compiled releases: the loaded rows already ARE the compiled facts
    *    ([[loadCompiledBatch]]). The compiler only flips the compiled
    *    child's run-once latch (`compiler.py:81-83`), so that child
    *    completes EMPTY and the root completes with its own compiled
    *    count. The reference's checker checks only release and record
    *    rows, so this format has no check pass.
    * Then a count-only V1 structural check of the original rows (items
    * and failures in one aggregate) and the completion gates + cached
    * counts, leaf-first ([[completeTree]]). A release tree's compiled
    * count is the merge write's; a tree with no file registered on its
    * compile base is closed-empty and completes with zeros.
    * Reads everything it needs from the lake, so it composes with any load
    * history (keep-open loads, addfiles batches) — the worker hand-off
    * seam. */
  def compileAndFinish(
      spark: SparkSession,
      lakeDir: String,
      plane0: Control.Plane,
      collectionId: Long,
      now: String): CompileStage = {
    val format = plane0.collection(collectionId).dataTypeFormat
    val base = plane0.compileBase(collectionId)
    val compiledChild = plane0.compiledChild(base)
    if (format.contains(Format.CompiledRelease)) {
      val plane = compiledChild.fold(plane0)(c =>
        Control.startCompilation(plane0, c.id).getOrElse(plane0))
      val n = itemCount(spark, lakeDir, plane, collectionId)
      return CompileStage(collectionId, n, 0L, 0L,
        completeTree(plane, collectionId, now, n, compiledChild.map(_.id -> 0L)))
    }
    val compiledId = compiledChild
      .getOrElse(throw new IllegalArgumentException(
        s"collection $collectionId has no compile-releases child"))
      .id
    require(Control.compilable(plane0, base), "collection failed the compile gate")
    val isRecord = format.contains(Format.RecordPackage)
    // a record tree's first batch already flipped the run-once latch
    var plane = Control.startCompilation(plane0, compiledId)
      .orElse(Option.when(isRecord)(plane0))
      .getOrElse(throw new IllegalStateException("compilation already started"))
    // closed-EMPTY tree (expected_files_count=0, trivially compilable,
    // `compiler._collection_is_empty`): no file was ever registered on the
    // compile base, so no facts were written for this tree — nothing to
    // merge or check, finalize the chain with zeros
    if (plane.fileCount(base.id) == 0)
      return CompileStage(compiledId, 0L, 0L, 0L,
        completeTree(plane, collectionId, now, 0L, Some(compiledId -> 0L)))
    // a record tree compiled batch by batch during load, so its compiled
    // count is the table's; a release tree's is the merge write's
    val (nCompiled, nNotes) =
      if (isRecord) (Sink.readOrEmpty(spark, s"$lakeDir/compiled_release")
        .map(_.filter(col("collection_id") === compiledId).count()).getOrElse(0L), 0L)
      else mergeCompile(spark, lakeDir, base.id, compiledId)
    if (!isRecord)
      plane = plane.copy(collections = plane.collections.updated(compiledId,
        plane.collection(compiledId).copy(compilationEnqueued = true)))

    // V1 structural checks of the ORIGINAL rows, counted only (the
    // persisted pass is [[runChecks]]) — items and failures in one
    // aggregate; the checker's kind is the name of the format's fact table
    val (nItems, checkFailures) = factsOf(spark, lakeDir, plane, collectionId)
      .fold((0L, 0L)) { facts =>
        val r = Checker.checkItems(
          checkRows(spark, lakeDir, plane, collectionId, facts),
          factTable(format), spark)
          .agg(count(lit(1)), count_if(!col("ok"))).head()
        (r.getLong(0), r.getLong(1))
      }
    CompileStage(compiledId, nCompiled, checkFailures, nNotes,
      completeTree(plane, collectionId, now, nItems, Some(compiledId -> nCompiled)))
  }

  /** The release-package merge: ONE pass over the compile base's facts
    * emitting compiled rows and merge warnings together. Returns the
    * compiled rows and the warning notes written on the compiled
    * collection, both counted by their writes. */
  private def mergeCompile(
      spark: SparkSession, lakeDir: String, baseId: Long, compiledId: Long): (Long, Long) = {
    // Bucket once at the compile boundary, compile with ZERO exchanges:
    // `writeFacts` already ocid-clustered the lake files at load, so this
    // write re-materializes that distribution WITH catalog metadata, and
    // the co-located compile (plan-asserted in PipelineSpec/SinkSpec) then
    // satisfies its grouping from the bucketed scan — no shuffle in the
    // compile itself, and the bucketed artifact serves every later
    // recompile or per-ocid analytic pass shuffle-free (S7's
    // bucket-once-compile-many warehouse shape). Bucket count mirrors the
    // local shuffle parallelism; a cluster deployment sizes it like
    // spark.sql.shuffle.partitions.
    val baseFacts = Sink.readFacts(spark, s"$lakeDir/release")
      .filter(col("collection_id") === baseId)
    val tbl = bucketedCompileTable(lakeDir)
    Sink.writeFactsBucketed(
      baseFacts.select(col("ocid"), col("release_date").as("date"),
        col("release_id").as("tiebreak"), col("data").as("release")),
      tbl, buckets = 32)
    val compileOut = Compile.summariesAndWarningsCoLocated(spark.table(tbl), spark)
      .toDF()
      .persist()
    val compiled = compileOut.filter(col("summary").isNotNull)
      .select(col("summary.*"))
      // merge-produced rows span many source files — no single filename
      // (the direct compiled-release load is the filename-keyed case)
      .withColumn("filename", lit(null).cast(StringType))
      .withColumn("collection_id", lit(compiledId))
    // dynamic partition OVERWRITE, not append: a compile retried after a
    // mid-write crash (the run-once latch only persists on success) must
    // replace its own partition, never duplicate it (T5's idempotence at
    // the storage layer)
    val nCompiled = Sink.countedWrite(compiled)(
      Sink.overwriteCollectionPartitions(_, s"$lakeDir/compiled_release"))
    val nNotes = appendNotes(spark, lakeDir, compiledId, Notes.fromCompileWarnings(
      compileOut.filter(col("warning").isNotNull).select(col("warning.*")),
      compiledId))
    compileOut.unpersist()
    (nCompiled, nNotes)
  }

  /** The finisher's completion gates and cached counts (`finisher.py:
    * 100-113`), leaf-first: the compiled child with its compiled count,
    * then the upgraded child and the root, which share the root's `items`
    * in the count of its format (the upgrade maps items one to one). Each
    * completion is the optimistic `completed_at IS NULL` guard; a refused
    * gate is an IllegalStateException. */
  private def completeTree(
      plane: Control.Plane, rootId: Long, now: String, items: Long,
      compiled: Option[(Long, Long)]): Control.Plane = {
    val (releases, records, compiledReleases) =
      plane.collection(rootId).dataTypeFormat match {
        case Some(Format.RecordPackage) => (0L, items, 0L)
        case Some(Format.CompiledRelease) => (0L, 0L, items)
        case _ => (items, 0L, 0L)
      }
    def done(p: Control.Plane, id: Long, what: String, counts: (Long, Long, Long)) =
      Control.complete(p, id, now, counts._1, counts._2, counts._3)
        .getOrElse(throw new IllegalStateException(s"$what not completable"))
    val leaf = compiled.fold(plane) { case (id, n) =>
      done(plane, id, "compiled collection", (0L, 0L, n)) }
    val mid = plane.upgradedChild(rootId).fold(leaf)(u =>
      done(leaf, u.id, "upgraded collection", (releases, records, compiledReleases)))
    done(mid, rootId, "collection", (releases, records, compiledReleases))
  }

  /** The session-catalog name of a lake's ocid-bucketed compile-input
    * table — one per lake directory, rebuilt by [[compileAndFinish]] and
    * reusable shuffle-free by any later per-ocid pass. */
  def bucketedCompileTable(lakeDir: String): String =
    "graft_compile_in_" + graft.ocds.Canonical.md5hex(lakeDir).take(12)

  /** The fact table holding a collection's items, by its format. */
  private def factTable(format: Option[String]): String = format match {
    case Some(Format.RecordPackage) => "record"
    case Some(Format.CompiledRelease) => "compiled_release"
    case _ => "release"
  }

  /** Collection `cid`'s item rows from the fact table of its format; None
    * while that table does not exist. */
  private def factsOf(
      spark: SparkSession, lakeDir: String, plane: Control.Plane,
      cid: Long): Option[DataFrame] =
    Sink.readOrEmpty(spark,
      s"$lakeDir/${factTable(plane.collection(cid).dataTypeFormat)}")
      .map(_.filter(col("collection_id") === cid))

  private def itemCount(
      spark: SparkSession, lakeDir: String, plane: Control.Plane, cid: Long): Long =
    factsOf(spark, lakeDir, plane, cid).map(_.count()).getOrElse(0L)

  /** The `(id, data, package_data)` rows a schema check validates, built
    * from collection `cid`'s fact rows as the caller sliced them. Each
    * item's envelope is rebuilt from its file's package metadata
    * (`checker.py:101-108`), stored under the ROOT collection because the
    * upgraded collection's rows come from the same files. package_data can
    * be legitimately absent (crash remnants, older lakes): the checker
    * treats a missing envelope as null. The id is the fact row's stable
    * content key — deterministic across runs and partitionings (the
    * reference keys release_check on the release row's PK), unlike
    * monotonically_increasing_id. */
  private def checkRows(
      spark: SparkSession, lakeDir: String, plane: Control.Plane, cid: Long,
      facts: DataFrame): DataFrame = {
    val rootId = plane.rootParent(plane.collection(cid)).id
    val isRecord = plane.collection(cid).dataTypeFormat.contains(Format.RecordPackage)
    val keyed = facts.select(col("filename"), col("ocid"),
      (if (isRecord) lit("") else col("release_id")).as("release_id"),
      col("hash_md5"), col("data"))
    val withPkg = Sink.readOrEmpty(spark, s"$lakeDir/package_data") match {
      case Some(p) => keyed.join(
        p.filter(col("collection_id") === rootId).select("filename", "package_data"),
        Seq("filename"), "left")
      case None => keyed.withColumn("package_data", lit(null).cast(StringType))
    }
    withPkg.select(Checker.checkId.as("id"), col("data"), col("package_data"))
  }

  /** The checker pass (the `addchecks` command AND the load-planned
    * `--check` step run the same code): validate every item of `cid`
    * against the official schema, persist one check row per item into
    * release_check / record_check (incremental — rows already checked are
    * anti-joined away), and return Some((checked, failed)), counted by the
    * check write itself, so a replay that finds every row already checked
    * reports Some((0, 0)). None when the collection's format has no check
    * pass at all (compiled releases — the reference's checker handles only
    * Release and Record rows) or the fact table is absent. */
  def runChecks(
      spark: SparkSession,
      lakeDir: String,
      plane: Control.Plane,
      cid: Long,
      // restricts the check to one micro-batch's files (the streaming
      // checker leg); None = the whole collection (CLI addchecks)
      files: Option[Seq[String]] = None): Option[(Long, Long)] = {
    val table = factTable(plane.collection(cid).dataTypeFormat)
    if (table == "compiled_release") return None
    val allFacts = Sink.readOrEmpty(spark, s"$lakeDir/$table")
      .getOrElse(return None)
      .filter(col("collection_id") === cid)
    val rows0 = checkRows(spark, lakeDir, plane, cid,
      files.fold(allFacts)(fs => allFacts.filter(col("filename").isin(fs: _*))))
    // the streaming slice feeds rows TWICE — the driver-side touched-
    // bucket collect and the anti-join probe; persist so the md5-heavy
    // check-id projection and the package join run once per batch, not
    // twice. Whole-collection passes read rows once.
    val rows = if (files.isDefined) rows0.persist() else rows0
    try {
      // whole-collection passes anti-join the full slice; a files-restricted
      // (streaming) pass prunes it to the batch ids' buckets — O(batch
      // share), not O(stream lifetime)
      val checkTable = s"${table}_check"
      val existing = checkedSlice(spark, lakeDir, checkTable, cid,
        if (files.isDefined) Some(rows) else None)
      val checks = Checker.checkUnchecked(rows, existing, table, spark)
        .toDF().withColumn("collection_id", lit(cid))
      val Seq(checked, failed) = Sink.observedWrite(checks, count(lit(1)), count_if(!col("ok")))(
        Sink.writeChecks(_, s"$lakeDir/$checkTable"))
      Some((checked, failed))
    } finally {
      if (files.isDefined) { rows.unpersist(); () }
    }
  }

  /** The already-checked slice a check pass anti-joins against. With
    * `batchRows` (the streaming leg), the scan statically prunes to the
    * batch ids' `check_bucket` partitions — the driver-side isin is
    * bounded by the `Sink.CheckBuckets` domain,
    * so a micro-batch's idempotence read costs O(batch's bucket share of
    * one collection), never the whole check history. The filter folds
    * the directory value through `pmod(_, CheckBuckets)`: check tables
    * written with 64 buckets hold `id mod 64`, and because 16 divides 64,
    * `(id mod 64) mod 16 = id mod 16`, so their rows prune to the same
    * buckets and a replay still anti-joins them away. Exposed at package
    * level so StreamingSpec can pin the PartitionFilters. */
  private[graft] def checkedSlice(
      spark: SparkSession, lakeDir: String, checkTable: String, cid: Long,
      batchRows: Option[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val all = Sink.readOrEmpty(spark, s"$lakeDir/$checkTable")
      .map(_.filter(col("collection_id") === cid))
      .getOrElse(return spark.emptyDataFrame.withColumn("id", lit(0L)))
    batchRows match {
      case None => all
      case Some(rows) =>
        val touched = rows
          .select(pmod(col("id"), lit(Sink.CheckBuckets.toLong)).as("b"))
          .distinct().as[Long].collect()
        if (touched.isEmpty) all.limit(0)
        else all.filter(
          pmod(col("check_bucket"), lit(Sink.CheckBuckets.toLong)).isin(touched: _*))
    }
  }

  /** A loaded collection's fact rows as the (source, doc_id, text)
    * document frame the corpus-pipeline engines consume — the seam shared
    * by the CLI's `dedup`/`substr-dedup` commands (whole collection) and
    * the streaming near-dup store (`files` = one micro-batch's filename
    * slice). doc_id = xxhash64 of the content hash (deterministic under
    * any partitioning; identical items collapse to one document), text =
    * the item JSON flattened to word tokens. Compiled-release collections
    * carry no raw text surface → None. */
  def collectionDocsOf(
      spark: SparkSession,
      lakeDir: String,
      c: Control.Collection,
      files: Option[Seq[String]] = None): Option[DataFrame] = {
    val table = factTable(c.dataTypeFormat)
    if (table == "compiled_release") return None
    Sink.readOrEmpty(spark, s"$lakeDir/$table").map { t =>
      val slice = files match {
        case Some(fs) => t.filter(col("filename").isin(fs: _*))
        case None     => t
      }
      slice.filter(col("collection_id") === c.id)
        .select(lit(c.sourceId).as("source"),
          xxhash64(col("hash_md5")).as("doc_id"),
          regexp_replace(col("data"), "[^A-Za-z0-9]+", " ").as("text"))
        .dropDuplicates("doc_id")
    }
  }

  /** Load every file under `inputDir` into collection `collectionId`,
    * optionally upgrade 1.0→1.1 into a derived collection, compile into the
    * final derived collection, structurally check the loaded rows, and
    * finalize the whole tree. `now` is the caller's clock (kept pure for
    * testability, like the control plane). */
  def loadAndCompile(
      spark: SparkSession,
      inputDir: String,
      lakeDir: String,
      collectionId: Long = 1L,
      now: String = "1970-01-01 00:00:00",
      upgrade: Boolean = false): LoadReport = {
    val l = load(spark, inputDir, lakeDir, collectionId, now, upgrade)
    val c = compileAndFinish(spark, lakeDir, l.plane, collectionId, now)
    val nData = Sink.readDedupStore(spark, s"$lakeDir/data").count()
    LoadReport(l.collectionId, l.upgradedCollectionId, c.compiledCollectionId,
      l.dataVersion, l.files, l.items, nData, c.compiled, c.checkFailures,
      l.notes + c.notes, c.plane)
  }
}
