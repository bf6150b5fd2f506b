package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.{Control, Notes, PlaneStore, Wipe}
import graft.ingest.Sink
import graft.ocds.Metadata
import graft.streaming.VectorStore.Rung

/** The reference's management-command surface (`docs/cli.rst`) as one
  * dispatching main over the library's modules. Control state persists as
  * one canonical-JSON document next to the lake (`_control.json`,
  * [[PlaneJson]]), so invocations compose across processes the way the
  * reference's commands compose over its control tables.
  *
  * [[Cli.Usage]] lists every command with its arguments and flags. The
  * comment on each command's case names its reference analogue where it
  * has one; the corpus, retrieval and vector commands have none.
  *
  * The queue-worker commands (api_loader, file_worker, checker, compilers,
  * finisher, wiper) have no standalone analogue: their work IS the Spark
  * jobs the commands run inline — SURVEY.md §2.10's disposition.
  */
object Cli {

  /** Every command with its arguments and flags, printed after an unknown
    * command. */
  private[graft] val Usage: String =
    """usage: graft.Cli <command> [args]
      |  load <input> <lake> [--upgrade] [--compile] [--check] [--id N] [--note TEXT] [--sample] [--keep-open] [--source NAME] [--time 'YYYY-MM-DD HH:MM:SS']
      |  addfiles <lake> <rootId> <path...>
      |  compile <lake> <rootId>
      |  compact <lake> <table> <collectionId>
      |  collections <lake> [--source NAME] [--with-compiled]
      |  collectionstatus <lake> <rootId>
      |  addchecks <lake> <collectionId>
      |  closecollection <lake> <id> <nFiles>
      |  cancelcollection <lake> <id>
      |  deletecollection <lake> <rootId>
      |  deleteorphan <lake>
      |  metadata <lake> <compiledId>
      |  notes <lake> <rootId> [LEVEL...] [--limit N]
      |  dedup <lake> <collectionId> [--checkpoint-dir DIR] [--max-bucket N]
      |  corpus-build <lake> <collectionId> [--unimax E]
      |  corpus-select <lake> <collectionId>
      |  substr-dedup <lake> <collectionId> [--width N]
      |  quality-gate <lake> <collectionId>
      |  gopher-rules <lake> <collectionId>
      |  c4-lines <lake> <collectionId>
      |  line-dedup <lake> <collectionId>
      |  export <lake> <collectionId> <dir> [--shards N] [--epoch N] [--epoch-idx I] [--unimax E] [--packed] [--merges FILE] [--curriculum]
      |  index <lake> <collectionId>
      |  search <lake> <collectionId> <term...> [--top N] [--indexed]
      |  vector-index <store> <embeddingsParquet> [--opq] [--sq8]
      |  vector-search <store> <embeddingsParquet> <vecId> [--probes N] [--top N]
      |  vector-search <store> <embeddingsParquet> --batch [--mod N] [--probes N] [--top N] [--rerank N] [--exact|--sq8]
      |  hybrid-search <postingsStore> <vectorStore> <vecId> <term> [term ...] [--top N] [--probes N] [--sq8]
      |  media-index <lake> <fileOrDir...> [--scenes]
      |  manifest <lake> [collectionId]
      |  dsir-select <lake> <rawCollectionId> <targetCollectionId> [--top N] [--weights DIR]
      |  train-bpe <lake> <collectionId> <outFile> [--merges N]
      |  source-mix <lake> <collectionId>
      |  overlap <lake> <collectionIdA> <collectionIdB>
      |  length-stats <lake> <collectionId>
      |  corpus-stats <lake>
      |  heavy-terms <lake> <collectionId> [--width N] [--min N] [--top N]
      |  api <lake> [--port N]""".stripMargin

  /** A usage error: [[main]] prints its message and exits 2. */
  private[graft] final class UsageError(msg: String) extends RuntimeException(msg)

  private def usage(msg: String): Nothing = throw new UsageError(msg)

  /** One command's flags, declared as the command reads them: `str`, `num`,
    * `int` and `on` each claim one flag and return its value; `rest` then
    * returns the positional arguments and rejects every token no flag
    * claimed, so a typo'd flag (`--widht 4`) is a usage error rather than
    * a silent run with defaults. */
  private final class Flags(cmd: String, args: List[String]) {
    // claimed flag -> whether it takes a value
    private val claimed = mutable.Map.empty[String, Boolean]

    /** `--flag value` (first occurrence); a missing or flag-shaped value is
      * a usage error. */
    def str(flag: String, missing: String = ""): Option[String] = {
      claimed(flag) = true
      if (!args.contains(flag)) None
      else args.dropWhile(_ != flag).drop(1).headOption.filterNot(_.startsWith("--"))
        .orElse(usage(if (missing.isEmpty) s"$flag needs a value" else missing))
    }

    /** A numeric flag in [lo, hi]; `what` describes the range in the error. */
    def num(flag: String, lo: Long = 1, hi: Long = Long.MaxValue, what: String = ""): Option[Long] =
      str(flag).map(v => v.toLongOption.filter(n => n >= lo && n <= hi).getOrElse(usage(
        s"$flag needs ${if (what.isEmpty) s"a number >= $lo" else what}, got '$v'")))

    def int(flag: String, dflt: Int, lo: Long = 1, hi: Long = Int.MaxValue,
        what: String = ""): Int =
      num(flag, lo, hi, what).fold(dflt)(_.toInt)

    def on(switch: String): Boolean = {
      claimed(switch) = false
      args.contains(switch)
    }

    /** The positional arguments, at most `max` of them; every token left
      * over is a usage error. Flags are removed by position, not by value,
      * so a positional equal to a flag's value stays. */
    def rest(max: Int = 0): List[String] = {
      def unclaimed(as: List[String]): List[String] = as match {
        case f :: _ :: t if claimed.getOrElse(f, false) => unclaimed(t)
        case a :: t if claimed.contains(a) => unclaimed(t)
        case a :: t => a :: unclaimed(t)
        case Nil => Nil
      }
      val left = unclaimed(args)
      val pos = left.filterNot(_.startsWith("--")).take(max)
      val stray = left.diff(pos)
      if (stray.nonEmpty) usage(s"$cmd: unrecognized arguments: ${stray.mkString(" ")}")
      pos
    }
  }

  private def session(): SparkSession =
    SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** 'unknown collection 7', not a Map stack trace. */
  private def known(plane: Control.Plane, id: Long): Control.Collection =
    plane.collections.getOrElse(id, usage(s"unknown collection $id"))

  /** A collection-id argument; non-numeric AND beyond-Long inputs are usage
    * errors, not a raw NumberFormatException. */
  private def idArg(s: String): Long =
    s.toLongOption.getOrElse(usage(s"collection id must be a number, got '$s'"))

  /** A known ROOT collection: the lifecycle commands act on whole trees. */
  private def root(plane: Control.Plane, id: Long): Control.Collection = {
    val c = known(plane, id)
    c.parent.foreach(p =>
      usage(s"Collection $id is not a root collection. Its parent is collection $p."))
    c
  }

  /** A loaded collection's rows as the (source, doc_id, text) document
    * frame the corpus-pipeline engines consume: release or record facts by
    * the collection's format (compiled-release collections carry no raw
    * text surface → None), text = the item JSON flattened to word tokens,
    * doc_id = xxhash64 of the content hash (deterministic under any
    * partitioning; identical items collapse to one document, so the
    * near-dup report reads on distinct contents). */
  private def collectionDocs(
      spark: SparkSession, lake: String, plane: Control.Plane,
      cid: Long): Option[DataFrame] =
    Pipeline.collectionDocsOf(spark, lake, known(plane, cid))

  /** `f` over collection `cid`'s documents; a collection without any is a
    * usage error that calls them `noun`. */
  private def withDocs[A](lake: String, cid: Long, noun: String = "documents")(
      f: DataFrame => A): A =
    collectionDocs(session(), lake, PlaneStore.load(lake), cid).map(f)
      .getOrElse(usage(s"collection $cid has no $noun (release/record rows)"))

  /** The root's planned check step (`load --check`), run at the close of
    * its lifecycle and persisting release_check/record_check rows, as the
    * report suffix; empty when no check was planned. */
  private def plannedChecks(
      spark: SparkSession, lake: String, plane: Control.Plane, rid: Long): String =
    (if (plane.collection(rid).steps.contains("check"))
      Pipeline.runChecks(spark, lake, plane, rid) else None)
      .map { case (n, f) => s" checked=$n check_failed=$f" }.getOrElse("")

  private def fmt(pattern: String, x: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(x))

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: UsageError =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }

  /** One command; a usage error throws [[UsageError]] instead of exiting,
    * so callers in the same JVM see it as an exception. */
  private[graft] def run(args: Array[String]): Unit = args.toList match {
    case "load" :: input :: lake :: rest =>
      // step selection (load.py:34,69-73): "Additional processing is not
      // automatically configured… To add a step, use --upgrade, --compile
      // and/or --check." Compile is OPT-IN — a bare load yields a
      // completed-but-uncompiled collection, exactly like the reference;
      // --keep-open defers the whole close chain
      val f = new Flags("load", rest)
      val upgrade = f.on("--upgrade")
      val compile = f.on("--compile")
      val check = f.on("--check")
      val sample = f.on("--sample")
      val keepOpen = f.on("--keep-open")
      val note = f.str("--note")
      val badId = "--id needs a positive number"
      val idFlag = f.str("--id", missing = badId)
        .map(_.toLongOption.filter(_ > 0).getOrElse(usage(badId)))
      // -s/--source and -t/--time (load.py:43-56): the announced source
      // name and an explicit data_version, overriding the path default /
      // earliest file mtime
      val sourceId = f.str("--source")
      val time = f.str("--time")
      f.rest()
      val plane0 = PlaneStore.load(lake)
      val id = idFlag.getOrElse(plane0.collections.keys.maxOption.map(_ + 1).getOrElse(1L))
      // the tree the load will create (Pipeline.load builds the same one):
      // every id must be new, or the control rows would be overwritten
      // while the lake APPENDS a second copy of every fact row under the
      // same partitions
      val treeIds = Control.newTree(plane0, id, sourceId.getOrElse(input),
        time.getOrElse(""), upgrade, compile, check) match {
        case Left(errs) => usage(s"${errs.mkString("; ")}; pick another --id")
        case Right(tree) => tree.treeIds(id)
      }
      time.foreach { t =>
        // a REAL datetime parse, like load.py's -t handling — a
        // shape-only regex would accept '2020-13-45 25:99:99'
        try java.time.LocalDateTime.parse(
          t, java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        catch {
          case _: java.time.format.DateTimeParseException =>
            usage(s"--time must be a valid 'YYYY-MM-DD HH:MM:SS', got '$t'")
        }
      }
      val spark = session()
      val now = PlaneStore.nowUtc()
      val stage = Pipeline.load(
        spark, input, lake, collectionId = id, now = now,
        upgrade = upgrade, keepOpen = keepOpen,
        sourceId = sourceId, dataVersionOverride = time,
        compile = compile, check = check)
      // --keep-open (load.py:156-161): skip the close latch AND the
      // close chain it gates — addfiles batches arrive next, then
      // closecollection + compile finish the lifecycle
      val (report, compileStage) =
        if (keepOpen) (stage.plane, None)
        else Pipeline.finish(spark, lake, stage.plane, id, now)
      // --check: the planned check step runs inline at close (the checker
      // worker's disposition)
      val checked = if (keepOpen) "" else plannedChecks(spark, lake, report, id)
      // --note: persisted like every other note — an INFO collection_note
      // row on the root collection (load.py's required -n/--note)
      note.foreach { text =>
        import spark.implicits._
        Sink.writeByCollection(
          Seq((id, Notes.Info, text, "{}"))
            .toDF("collection_id", "code", "note", "data"),
          s"$lake/collection_note")
      }
      // --sample: recorded on EVERY created collection, like the loader's
      // shared data dict (loader.py:73-78) and the API's create
      val loaded =
        if (!sample) report
        else treeIds.foldLeft(report)((p, cid) => p.copy(collections =
          p.collections.updated(cid, p.collection(cid).copy(sample = true))))
      // merge into any pre-existing plane document (other collections; the
      // created ids are guaranteed fresh above, so the registry maps are
      // disjoint and the load's pending journal entries carry over whole)
      PlaneStore.save(lake, plane0.copy(
        collections = plane0.collections ++ loaded.collections,
        files = plane0.files ++ loaded.files,
        steps = plane0.steps ++ loaded.steps,
        pendingFileEvents = plane0.pendingFileEvents ++ loaded.pendingFileEvents))
      println(s"collection=${stage.collectionId}" +
        stage.upgradedCollectionId.map(u => s" upgraded=$u").getOrElse("") +
        stage.compiledCollectionId.map(k => s" compiled=$k").getOrElse("") +
        s" files=${stage.files}" +
        s" items=${stage.items}" +
        compileStage.map(c =>
          s" compiled_releases=${c.compiled} check_failures=${c.checkFailures}" +
            s" notes=${stage.notes + c.notes}")
          .getOrElse(s" notes=${stage.notes}" + (if (keepOpen) " (open)" else "")) +
        checked)

    case "addfiles" :: lake :: id :: rest if rest.nonEmpty =>
      // the reference's addfiles (docs/cli.rst:37, addfiles.py): add more
      // files to an OPEN ROOT collection. The reference registers the
      // files and enqueues their loads for its workers; in a worker-less
      // engine the command performs the file_worker's job inline
      // (Pipeline.loadFilesInto) — register + stream-load + upgrade leg +
      // LOAD-step completion — the same disposition as `load` itself. A
      // later closecollection releases the compile gate.
      val paths = new Flags("addfiles", rest).rest(Int.MaxValue)
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      root(plane, cid).storeEndAt.foreach(t =>
        usage(s"Collection $cid is not an open collection. It was closed at $t."))
      val spark = session()
      val found = graft.ingest.Ingest.walk(spark, paths)
      if (found.isEmpty) usage("No files to load")
      found.foreach(p => System.err.println(s"Adding $p"))
      val (updated, nItems, _) = Pipeline.loadFilesInto(
        spark, found, lake, plane, cid, plane.upgradedChild(cid).map(_.id))
      PlaneStore.save(lake, updated)
      // loadFilesInto skips already-registered paths (replay dedup, T1) —
      // report what actually loaded
      val newFiles = updated.fileCount(cid) - plane.fileCount(cid)
      println(s"loaded $newFiles files ($nItems items)")

    case "collections" :: lake :: rest =>
      // the analysts' first documented query (querying-data.rst:10-27):
      // list collections, filterable by source, newest first, with the
      // cached counts the finisher wrote — the control plane is
      // driver-sized, so this is a pure plane read, no Spark session
      val f = new Flags("collections", rest)
      val source = f.str("--source")
      val withCompiled = f.on("--with-compiled")
      f.rest()
      PlaneStore.load(lake).collections.values.toSeq
        .filter(c => source.forall(_ == c.sourceId))
        .filter(c => !withCompiled || c.cachedCompiledReleasesCount.exists(_ > 0))
        .sortBy(-_.id) // ids are sequential: newest first
        .foreach { c =>
          println(s"${c.id} source=${c.sourceId} data_version=${c.dataVersion}" +
            c.transformType.map(t => s" transform=$t").getOrElse("") +
            c.cachedReleasesCount.map(n => s" releases=$n").getOrElse("") +
            c.cachedRecordsCount.filter(_ > 0).map(n => s" records=$n").getOrElse("") +
            c.cachedCompiledReleasesCount.map(n => s" compiled_releases=$n").getOrElse("") +
            (if (c.deletedAt.nonEmpty) " (deleted)"
             else if (c.completedAt.nonEmpty) " (completed)"
             else " (open)"))
        }

    case "compact" :: lake :: table :: id :: Nil =>
      // lake maintenance (no reference analogue — PostgreSQL has no
      // small-files problem; an append-per-batch parquet lake does): one
      // collection's partition of one fact table rewritten into freshly
      // clustered files. Run it after a long keep-open/addfiles ingest.
      val cid = idArg(id)
      if (!Wipe.FactTables.contains(table))
        usage(s"unknown table '$table' (one of: ${Wipe.FactTables.mkString(", ")})")
      // only completed collections compact: the swap is atomic against
      // READERS, but a concurrent appender (an open keep-open/addfiles or
      // streaming load composing through _control.json from another
      // process) could land a batch between the compaction's scan and its
      // swap, and the swap would retire that batch's files with the old
      // directory. An unknown id must not bypass that guard either: a
      // typo'd id would compact with no check at all.
      val c = PlaneStore.load(lake).collections.getOrElse(cid,
        usage(s"unknown collection $cid: nothing to compact"))
      if (c.completedAt.isEmpty && c.deletedAt.isEmpty)
        usage(s"collection $cid is still open: compact only completed collections")
      val spark = session()
      def partFiles(): Int = {
        val dir = java.nio.file.Paths.get(s"$lake/$table/collection_id=$cid")
        if (!java.nio.file.Files.isDirectory(dir)) 0
        else {
          // Files.walk (not list): check tables nest check_bucket dirs
          // under the collection partition, whose files the count must
          // still see. Stream closed explicitly, not GC-leaned (this
          // helper may be reused from the long-lived API).
          val stream = java.nio.file.Files.walk(dir)
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator.asScala.count(_.toString.endsWith(".parquet"))
          } finally stream.close()
        }
      }
      val before = partFiles()
      val clusterByOcid = table == "release" || table == "record" || table == "compiled_release"
      // check tables carry the inner check_bucket partition (the streaming
      // checker's pruning layout) — the rewrite must preserve it or the
      // compacted collection's flat files would conflict with the others'
      // nested directories on the next whole-table read
      val inner =
        if (table == "release_check" || table == "record_check") Seq("check_bucket")
        else Nil
      val rows = Sink.compactCollection(spark, s"$lake/$table", cid, clusterByOcid, inner)
      println(s"compacted $table/collection_id=$cid: $before -> ${partFiles()} files ($rows rows)")

    case "compile" :: lake :: rootId :: Nil =>
      // the compiler → checker → finisher worker chain, run inline once the
      // close latch has released the gate (the keep-open/addfiles flow's
      // final step; `compiler.py`/`finisher.py` semantics via
      // Pipeline.finish)
      val plane = PlaneStore.load(lake)
      val rid = idArg(rootId)
      root(plane, rid)
      // the close chain decides from the plane: a compile-less keep-open
      // lifecycle (`load --keep-open` without `--compile`) completes
      // uncompiled, same as a bare `load` close. A closed gate (not yet
      // closecollection'd, files still expected) or a replayed run
      // (compilation already started) is a usage error, not a stack trace
      val spark = session()
      val (finished, stage) =
        try Pipeline.finish(spark, lake, plane, rid, PlaneStore.nowUtc())
        catch {
          case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
            usage(e.getMessage)
        }
      PlaneStore.save(lake, finished)
      // a check step planned at load (`load --keep-open --check`) runs now,
      // at the close of the keep-open lifecycle
      val checked = plannedChecks(spark, lake, finished, rid)
      println(stage.fold("compiled=- (no compile step planned; collection completed" +
        " uncompiled)")(st => s"compiled=${st.compiledCollectionId}" +
        s" compiled_releases=${st.compiled} check_failures=${st.checkFailures}" +
        s" notes=${st.notes}") + checked)

    case "manifest" :: lake :: rest =>
      // read the incremental corpus-build manifest the close drain
      // maintains (Streaming.appendCorpusManifest — rows keyed
      // (collection_id, stage)); an optional collection id restricts to
      // one slice. Read-only: the manifest refreshes at close time, so a
      // stale readout means the collection has not been (re)closed.
      val cid = new Flags("manifest", rest).rest(1).headOption.map(idArg)
      val m = graft.streaming.Streaming.corpusManifest(session(), lake)
      if (m.isEmpty)
        usage(s"no corpus manifest at $lake — plan the " +
          "corpus_manifest step at create and close the collection")
      val rows = cid.fold(m)(c => m.filter(col("collection_id") === c))
        .orderBy(col("collection_id").cast("long"),
          col("stage_idx"), col("source"))
        .collect()
      if (rows.isEmpty) println("no manifest rows for that collection")
      else rows.foreach { r =>
        val tgt = if (r.isNullAt(r.fieldIndex("n_target"))) "-"
          else r.getAs[Long]("n_target").toString
        println(s"collection=${r.get(r.fieldIndex("collection_id"))}" +
          s" stage=${r.getAs[Long]("stage_idx")}:${r.getAs[String]("stage")}" +
          s" source=${r.getAs[String]("source")}" +
          s" n_docs=${r.getAs[Long]("n_docs")}" +
          s" n_tokens=${r.getAs[Long]("n_tokens")}" +
          s" n_target=$tgt")
      }

    case "collectionstatus" :: lake :: rootId :: Nil =>
      // the reference's collectionstatus, one block per tree member
      val plane = PlaneStore.load(lake)
      val rid = idArg(rootId)
      known(plane, rid)
      plane.treeIds(rid).foreach { id =>
        val c = plane.collection(id)
        println(s"collection $id" + c.transformType.map(t => s" ($t)").getOrElse(""))
        println(s"  steps:                ${c.steps.toSeq.sorted.mkString(", ")}")
        println(s"  format:               ${c.dataTypeFormat.getOrElse("-")}")
        println(s"  store_end_at:         ${c.storeEndAt.getOrElse("-")}")
        println(s"  completed_at:         ${c.completedAt.getOrElse("-")}")
        println(s"  expected_files_count: ${c.expectedFilesCount.getOrElse("-")}")
        println(s"  collection_files:     ${plane.fileCount(id)}")
        println(s"  processing_steps:     ${plane.stepsOf(id).size}")
        if (c.transformType.contains(Control.Transform.CompileReleases)) {
          println(s"  compilation_started:  ${c.compilationStarted}")
          println(s"  compilation_enqueued: ${c.compilationEnqueued}")
          println(s"  completable:          ${Control.completable(plane, c)}")
        }
      }

    case "addchecks" :: lake :: id :: Nil =>
      // addchecks + the checker worker, format-aware like the reference's
      // checker: record collections check into record_check, release
      // collections into release_check; compiled-release collections have
      // NO check pass (the reference's checker handles only Release and
      // Record rows) — a clean no-op
      // beats an AnalysisException on the absent release table. Shared
      // engine with the load-planned --check step: Pipeline.runChecks.
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      known(plane, cid)
      Pipeline.runChecks(session(), lake, plane, cid) match {
        case Some((nChecked, nFailed)) => println(s"checked=$nChecked failed=$nFailed")
        case None => println("checked=0 failed=0 (no checkable rows for this collection)")
      }

    case "dedup" :: lake :: id :: rest =>
      // the corpus-pipeline surface over a LOADED collection, a management
      // command like every other operator of the reference: MinHash-LSH
      // near-dup clustering + per-cluster keeper election over the
      // collection's raw documents, reported as the per-source dedup
      // payoff (docs/tokens a dedup pass would remove).
      // --checkpoint-dir DIR: durable-checkpoint the edge set AND the
      // label rounds (cluster-scale mode — survives executor death);
      // --max-bucket N: the LSH bucket bound (BucketPairs recall/cost
      // knob). corpus-select takes neither: its funnel is exact-dedup
      // only — no LSH buckets, no iterative loop to checkpoint.
      val f = new Flags("dedup", rest)
      val ckptDir = f.str("--checkpoint-dir")
      val maxBucket = f.int("--max-bucket", BucketPairs.DefaultMaxBucket,
        lo = 2, what = "a number > 1")
      f.rest()
      withDocs(lake, idArg(id), "deduplicable documents") { docs =>
        val rows = TextQueries.dedupPayoffOf(docs, ckptDir, maxBucket).collect()
        if (rows.isEmpty) println("no near-duplicate clusters")
        else rows.foreach { r =>
          println(s"source=${r.getAs[String]("source")}" +
            s" docs_removed=${r.getAs[Long]("docs_removed")}" +
            s" tokens_removed=${r.getAs[Long]("tokens_removed")}" +
            s" n_clusters=${r.getAs[Long]("n_clusters")}")
        }
      }

    case "corpus-select" :: lake :: id :: Nil =>
      // the corpus-selection funnel (lang gate → quality gate → exact-dedup
      // keeper election → hash sampling) over a loaded collection's raw
      // documents — per-source attrition + selected-token totals
      withDocs(lake, idArg(id), "selectable documents") { docs =>
        TextQueries.corpusSelectOf(docs.withColumn("lang", lit("en")))
          .collect().foreach { r =>
            println(s"source=${r.getAs[String]("source")}" +
              s" n_total=${r.getAs[Long]("n_total")}" +
              s" n_pass=${r.getAs[Long]("n_pass")}" +
              s" n_keeper=${r.getAs[Long]("n_keeper")}" +
              s" n_selected=${r.getAs[Long]("n_selected")}" +
              s" tokens_selected=${r.getAs[Long]("tokens_selected")}")
          }
      }

    case "substr-dedup" :: lake :: id :: rest =>
      // cross-document exact-substring duplication (ExactSubstr) over a
      // loaded collection's raw documents, rolled up to one corpus line:
      // how many tokens a span-level dedup pass would remove. --width N
      // sets the span width (default 6 tokens; production pipelines use
      // ~50-token character spans — width is the one tuning knob).
      val f = new Flags("substr-dedup", rest)
      val width = f.int("--width", 6)
      f.rest()
      withDocs(lake, idArg(id)) { docs =>
        // denominators over the WHOLE collection: the engine filters out
        // sub-width docs (they cannot carry a W-span), but their tokens
        // are part of the corpus a span-removal pass would keep — leaving
        // them out of docs=/tokens_total= would overstate dup_frac
        val all = docs
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("tokens_total"))
          .collect().head
        val r = TextQueries.substrDedupOf(docs, width)
          .agg(
            sum(when(col("dup_tokens") > 0, 1L).otherwise(0L)).as("docs_hit"),
            sum("dup_tokens").as("tokens_dup"))
          .collect().head
        // sums are NULL when no doc reaches the width (empty engine output)
        def longOr0(row: org.apache.spark.sql.Row, f: String): Long =
          if (row.isNullAt(row.fieldIndex(f))) 0L else row.getAs[Long](f)
        val total = longOr0(all, "tokens_total")
        val dup = longOr0(r, "tokens_dup")
        val hit = longOr0(r, "docs_hit")
        val frac = if (total == 0) 0.0 else dup.toDouble / total
        // Locale.ROOT (fmt): a comma-decimal default locale would print
        // 0,1234 (same hazard Bench.scala pins for its JSON line)
        println(s"width=$width docs=${all.getAs[Long]("n_docs")}" +
          s" docs_hit=$hit tokens_total=$total tokens_dup=$dup" +
          " dup_frac=" + fmt("%.4f", frac))
      }

    case "quality-gate" :: lake :: id :: Nil =>
      // per-source bottom-decile quality gate over a loaded collection's
      // raw documents: the data-driven threshold readout (rank-based
      // ceil(n/10) cut by stopword-ratio, the q_quality_gate engine)
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.qualityGateOf(docs).collect().foreach { r =>
          println(s"source=${r.getAs[String]("source")}" +
            s" n_total=${r.getAs[Long]("n_total")}" +
            s" n_cut=${r.getAs[Long]("n_cut")}" +
            s" n_kept=${r.getAs[Long]("n_kept")}" +
            " threshold=" + fmt("%.4f", r.getAs[Double]("threshold_score")))
        }
      }

    case "gopher-rules" :: lake :: id :: Nil =>
      // Gopher rule-filter rollup over a loaded collection's raw
      // documents: fixed per-document quality rules next to
      // quality-gate's data-driven percentile cut (the q_gopher_rules
      // engine)
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.gopherRulesOf(docs).collect().foreach { r =>
          println(s"source=${r.getAs[String]("source")}" +
            s" n_docs=${r.getAs[Long]("n_docs")}" +
            s" n_pass=${r.getAs[Long]("n_pass")}" +
            s" fail_words=${r.getAs[Long]("fail_words")}" +
            s" fail_meanlen=${r.getAs[Long]("fail_meanlen")}" +
            s" fail_alpha=${r.getAs[Long]("fail_alpha")}" +
            s" fail_stop=${r.getAs[Long]("fail_stop")}" +
            s" fail_symbol=${r.getAs[Long]("fail_symbol")}" +
            s" fail_rep=${r.getAs[Long]("fail_rep")}")
        }
      }

    case "export" :: lake :: id :: dir :: rest =>
      // training-shard export of a loaded collection's documents via
      // Sink.writeShards — one JSON-lines file per shard directory.
      // Default: the q_shuffle_export layout, rows in seq order, text
      // carried through the layout (no second join). With --epoch N: the
      // mixEpochOf schedule, rows in vtime order, text joined back once
      // by doc_id after the layout settles (see mixEpochExportOf)
      val f = new Flags("export", rest)
      val nShards = f.int("--shards", 8)
      // --epoch N switches from the single-pass shuffle layout to a
      // MIXTURE EPOCH of N examples (sqrt-temperature targets, wraparound
      // repetition, stride interleave — the mixEpochOf pipeline), written
      // in schedule order
      val epochBudget = f.num("--epoch")
      // --epoch-idx I: WHICH epoch to materialize — deterministic but
      // DISTINCT selection/interleave per index, so successive training
      // epochs do not replay one permutation; only meaningful with --epoch
      val epochIdx = f.num("--epoch-idx", lo = 0).getOrElse(0L)
      if (epochIdx != 0L && epochBudget.isEmpty) usage("--epoch-idx requires --epoch N")
      // --unimax E: allocate the --epoch budget with UniMax integer
      // water-filling under a per-source cap of E epochs (budget and
      // targets in TOKENS — unimaxMixOf's contract) instead of the
      // sqrt-temperature example draw; the epoch is then materialized
      // by the shared wraparound/interleave engine (mixEpochUnimaxOf)
      val unimaxEpochs = f.num("--unimax")
      if (unimaxEpochs.isDefined && epochBudget.isEmpty)
        usage("--unimax requires --epoch B (the token budget)")
      // --packed: emit fixed-2048-token BPE training windows instead of
      // raw per-document text rows (the packedEpochExportOf composition);
      // only meaningful over a mixture epoch
      val packed = f.on("--packed")
      if (packed && epochBudget.isEmpty) usage("--packed requires --epoch N")
      // --merges FILE: budget the packed windows with a RUNTIME-trained
      // merges table, so a train-bpe output is consumable without a jar
      // rebuild; default = the vendored classpath table
      val merges = f.str("--merges").getOrElse(graft.functions.Bpe.DefaultSource)
      if (merges.nonEmpty && !packed) usage("--merges is only meaningful with --packed")
      if (merges.nonEmpty && !new java.io.File(merges).isFile)
        usage(s"--merges file not found: $merges")
      // --curriculum: quality-anneal each source's in-shard emission
      // order (identical selection and mix; every shard's tail becomes
      // its highest-quality slice — see mixEpochOf)
      val curriculum = f.on("--curriculum")
      if (curriculum && epochBudget.isEmpty) usage("--curriculum requires --epoch N")
      f.rest()
      val cid = idArg(id)
      withDocs(lake, cid) { docs0 =>
        epochBudget match {
          case Some(b) =>
            // persist the docs frame: the epoch plan references the
            // collection-docs subtree in THREE branches (targets agg,
            // rank base, text join) — pinned, the scan + full-text
            // dropDuplicates shuffle runs once, not thrice
            val docs = docs0.persist()
            try {
              if (packed) {
                val wins = (unimaxEpochs match {
                  case Some(e) => TextQueries
                    .packedEpochUnimaxExportOf(docs, b, e, nShards, epochIdx,
                      curriculum = curriculum, mergesSource = merges)
                  case None => TextQueries
                    .packedEpochExportOf(docs, b, nShards, epochIdx,
                      curriculum = curriculum, mergesSource = merges)
                }).persist()
                try {
                  Sink.writeShards(wins, dir, orderCols = Seq("window_id"))
                  val nWin = wins.count()
                  // coalesce: a fully-floored tiny budget yields ZERO
                  // windows and sum() over none is null (the appendBatch
                  // totals discipline) — report the empty export, don't NPE
                  val nTok = wins.agg(coalesce(sum(col("n_tokens")), lit(0L)))
                    .head().getLong(0)
                  if (nWin == 0)
                    System.err.println(s"WARNING: packed epoch realized 0" +
                      " windows (per-source targets are floored; small" +
                      " budgets can floor every source to zero)")
                  println(s"exported packed epoch (budget=$b, windows=$nWin," +
                    s" tokens=$nTok" +
                    unimaxEpochs.fold("")(e => s", unimax maxEpochs=$e") +
                    s") of collection $cid to $dir shards=$nShards")
                } finally { wins.unpersist(); () }
              } else if (unimaxEpochs.isDefined) {
                val laid = TextQueries.mixEpochUnimaxExportOf(docs, b,
                  unimaxEpochs.get, nShards, epochIdx,
                  curriculum = curriculum).persist()
                try {
                  Sink.writeShards(laid, dir,
                    orderCols = Seq("vtime", "source", "doc_id", "k"))
                  // UniMax budgets are TOKENS and selection is whole-doc
                  // undershoot, so the realized epoch legitimately lands
                  // under the budget (never over — the cap contract);
                  // report the realized token count, not just rows
                  val n = laid.count()
                  val nTok = laid
                    .agg(coalesce(
                      sum(size(split(coalesce(col("text"), lit("")), " "))
                        .cast("long")), lit(0L)))
                    .head().getLong(0)
                  if (nTok > b)
                    // structurally impossible (the undershoot rule) —
                    // if it ever prints, the engine broke its contract
                    System.err.println(s"WARNING: UniMax epoch realized" +
                      s" $nTok tokens OVER the $b budget")
                  println(s"exported unimax epoch (budget=$b tokens," +
                    s" rows=$n, tokens=$nTok, maxEpochs=${unimaxEpochs.get})" +
                    s" of collection $cid to $dir shards=$nShards")
                } finally { laid.unpersist(); () }
              } else {
                val laid =
                  TextQueries.mixEpochExportOf(docs, b, nShards, epochIdx,
                    curriculum = curriculum).persist()
                try {
                  Sink.writeShards(laid, dir,
                    orderCols = Seq("vtime", "source", "doc_id", "k"))
                  // report the REALIZED size: per-source targets are
                  // floored, so a tiny budget over many sources can
                  // legitimately come up short (or empty) — that must be
                  // visible, not silently read as a full epoch
                  val n = laid.count()
                  if (n < b)
                    System.err.println(s"WARNING: epoch realized $n of $b" +
                      " requested examples (per-source targets are floored;" +
                      " small budgets can floor small sources to zero)")
                  else if (n > b)
                    // shares are rounded half-up to 9 decimals before the
                    // floor, so they can sum slightly above 1 and overshoot
                    // the budget by a few rows at ~1e9+ budgets — as
                    // visible as a shortfall
                    System.err.println(s"WARNING: epoch realized $n of $b" +
                      " requested examples (rounded per-source shares can" +
                      " sum slightly above 1 at large budgets)")
                  println(s"exported epoch (budget=$b, rows=$n) of" +
                    s" collection $cid to $dir shards=$nShards")
                } finally { laid.unpersist(); () }
              }
            } finally { docs.unpersist(); () }
          case None =>
            Sink.writeShards(
              TextQueries.shuffleExportOf(docs0, nShards, payloadCols = Seq("text")),
              dir)
            println(s"exported collection $cid to $dir shards=$nShards")
        }
      }

    case "corpus-build" :: lake :: id :: rest =>
      // the end-to-end corpus BUILD manifest over a loaded collection's
      // documents (the q_corpus_build engine): per-stage, per-source
      // attrition through Gopher → C4 lines → corpus-wide line dedup →
      // exact dedup → decontamination → quality gate → train split →
      // mix targets. --unimax E swaps the final mix stage's allocation
      // from the sqrt-temperature draw to UniMax water-filling under a
      // cap of E epochs per source (same funnel, same aggregate — the
      // manifest rows carry the policy in the stage name)
      val f = new Flags("corpus-build", rest)
      val cbUnimax = f.num("--unimax")
      f.rest()
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.corpusBuildOf(docs,
          mixPolicy = if (cbUnimax.isDefined) "unimax" else "sqrt",
          unimaxMaxEpochs = cbUnimax.getOrElse(2L)).collect().foreach { r =>
          val tgt = if (r.isNullAt(5)) "" else s" n_target=${r.getAs[Long]("n_target")}"
          println(s"stage=${r.getAs[Long]("stage_idx")}:${r.getAs[String]("stage")}" +
            s" source=${r.getAs[String]("source")}" +
            s" n_docs=${r.getAs[Long]("n_docs")}" +
            s" n_tokens=${r.getAs[Long]("n_tokens")}$tgt")
        }
      }

    case "c4-lines" :: lake :: id :: Nil =>
      // C4 line-level boilerplate rollup over a loaded collection's raw
      // documents (the q_c4_lines engine; collection docs are single-line
      // token streams, so line rules see one line per doc unless the
      // loaded payloads carry real newlines)
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.c4LinesOf(docs)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_lines")).as("n_lines"),
            sum(col("n_kept")).as("n_kept"),
            sum(when(col("doc_lorem"), 1L).otherwise(0L)).as("n_docs_lorem"))
          .orderBy("source")
          .collect().foreach { r =>
            println(s"source=${r.getAs[String]("source")}" +
              s" n_docs=${r.getAs[Long]("n_docs")}" +
              s" n_lines=${r.getAs[Long]("n_lines")}" +
              s" n_kept=${r.getAs[Long]("n_kept")}" +
              s" n_docs_lorem=${r.getAs[Long]("n_docs_lorem")}")
          }
      }

    case "line-dedup" :: lake :: id :: Nil =>
      // corpus-wide duplicate-line removal rollup over a loaded
      // collection's raw documents (the q_line_dedup engine; collection
      // docs are single-line token streams, so the pass dedups whole
      // docs unless the loaded payloads carry real newlines)
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.lineDedupOf(docs)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_lines")).as("n_lines"),
            sum(col("n_dup")).as("n_dup"),
            sum(col("chars_removed")).as("chars_removed"))
          .orderBy("source")
          .collect().foreach { r =>
            println(s"source=${r.getAs[String]("source")}" +
              s" n_docs=${r.getAs[Long]("n_docs")}" +
              s" n_lines=${r.getAs[Long]("n_lines")}" +
              s" n_dup=${r.getAs[Long]("n_dup")}" +
              s" chars_removed=${r.getAs[Long]("chars_removed")}")
          }
      }

    case "search" :: lake :: id :: rest if rest.nonEmpty =>
      // lexical retrieval over a loaded collection (the bm25ScoresOf
      // engine behind q_bm25_topk): rank the collection's documents for
      // the given query terms — the user-facing face of the sparse
      // retrieval leg, inverted-index-probe shape (the explode filters
      // to the terms before any shuffle)
      val f = new Flags("search", rest)
      val top = f.int("--top", 10)
      // --indexed: probe the collection's persisted inverted-index store
      // (built by `index` or maintained by the streaming loader) instead
      // of re-scanning the corpus — byte-identical scores via the shared
      // bm25ScoreExpr. Opt-in rather than automatic: the store reflects
      // the docs at INDEX time, and an explicit flag makes that staleness
      // contract the caller's choice, not a silent behavior switch.
      val indexed = f.on("--indexed")
      // a flag-shaped leftover is a typo (`--topp 5`), not a query term
      val terms = f.rest(Int.MaxValue)
      if (terms.isEmpty) usage("search needs at least one query term")
      val cid = idArg(id)
      val scores =
        if (indexed) {
          val store = graft.streaming.Streaming.bm25IndexPath(lake, cid)
          if (graft.streaming.PostingsStore.loadTotals(store).isEmpty)
            usage(s"collection $cid has no search index — " +
              s"build one with `index $lake $cid`")
          graft.streaming.PostingsStore.probe(session(), store, terms)
        } else withDocs(lake, cid)(TextQueries.bm25ScoresOf(_, terms))
      val hits = scores
        .orderBy(col("score_dec").desc, col("doc_id"))
        .limit(top)
        .select(col("doc_id"), col("n_terms"),
          round(col("score_dec").cast("double"), 6).as("score"))
        .collect()
      if (hits.isEmpty) println("no documents match the query terms")
      else hits.foreach { r =>
        println(s"doc_id=${r.getAs[Long]("doc_id")}" +
          s" n_terms=${r.getAs[Long]("n_terms")}" +
          " score=" + fmt("%.6f", r.getAs[Double]("score")))
      }

    case "index" :: lake :: id :: Nil =>
      // build (or REBUILD from scratch) the collection's inverted-index
      // store: token-bucket-partitioned postings + the totals document.
      // Rebuild semantics: the store reflects the collection's documents
      // at THIS moment; files added later need a re-index.
      val cid = idArg(id)
      withDocs(lake, cid) { docs =>
        // aside-build + swap (PostingsStore.rebuild): the previous index
        // survives until the replacement is fully built — a failed build
        // job leaves the old store serving, never a deleted one
        val store = graft.streaming.Streaming.bm25IndexPath(lake, cid)
        val tot = graft.streaming.PostingsStore.rebuild(
          store, docs.select(col("doc_id"), col("text")))
        println(s"indexed collection $cid: n_docs=${tot.nDocs}" +
          s" n_tokens=${tot.tAll} store=$store")
      }

    case "train-bpe" :: lake :: id :: out :: rest =>
      // train a byte-level BPE merges table on a loaded collection's
      // documents (the engine's own trainer — Bpe.trainMerges: one
      // vocabulary-bounded distributed count, driver-side merge loop,
      // byte-identical to the reference python trainer on the same
      // corpus) and write it in the merges-file format the tokenizer
      // loads, so the trained table is directly pluggable as the
      // bpe_merges.txt resource.
      val f = new Flags("train-bpe", rest)
      val nMerges = f.int("--merges", 80)
      f.rest()
      val cid = idArg(id)
      withDocs(lake, cid) { docs =>
        val merges = graft.functions.Bpe.trainMerges(docs, nMerges)
        val sb = new StringBuilder(
          s"#version: 0.2 graft-bpe trained on collection $cid " +
            s"(${merges.size} merges, deterministic; Bpe.trainMerges)\n")
        merges.foreach { case (a, b) => sb.append(a).append(' ').append(b).append('\n') }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
        println(s"trained ${merges.size} merges to $out")
      }

    case "dsir-select" :: lake :: rawId :: targetId :: rest =>
      // DSIR data selection across collections — the paper's actual
      // workflow (Xie et al. 2023): rank the RAW collection's documents
      // by importance weight log(p_target/p_raw) toward a separately
      // loaded curated TARGET collection (their Wikipedia/books role);
      // the declared q_dsir_select demonstrates the same engine with an
      // in-table target slice. Weights train in one B-bounded
      // aggregation over both corpora; scoring is one broadcast-weight
      // join + one per-doc combine over the raw side only.
      val f = new Flags("dsir-select", rest)
      val top = f.int("--top", 20)
      // --weights DIR: the trained-model store. A dir that already holds
      // a model is LOADED (the target collection is never re-read — the
      // "train once, persist, score many" production contract); an empty
      // or absent dir trains from (raw, target) and persists the model
      // there for the next run.
      val wdir = f.str("--weights")
      f.rest()
      val spark = session()
      val plane = PlaneStore.load(lake)
      (collectionDocs(spark, lake, plane, idArg(rawId)),
        collectionDocs(spark, lake, plane, idArg(targetId))) match {
        case (Some(raw), Some(target)) =>
          import spark.implicits._
          val stored: Option[Seq[(Long, Double)]] = wdir.flatMap(dir =>
            graft.ingest.Sink.readOrEmpty(spark, dir).map(df =>
              df.select(col("bucket"), col("w")).as[(Long, Double)]
                .collect().sortBy(_._1).toSeq))
          val weights = stored.getOrElse {
            val trained = TextQueries.dsirWeightsOf(raw, target, spark)
            wdir.foreach { dir =>
              trained.toDF("bucket", "w")
                .coalesce(1).write.mode("overwrite").parquet(dir)
              System.err.println(s"[dsir] trained + persisted " +
                s"${trained.size}-bucket model to $dir")
            }
            trained
          }
          TextQueries.dsirSelectWith(raw, weights, spark, top, label = "source")
            .collect().foreach { r =>
              println(s"rank=${r.getAs[Long]("rank")}" +
                s" doc_id=${r.getAs[Long]("doc_id")}" +
                s" source=${r.getAs[String]("source")}" +
                s" n_feats=${r.getAs[Long]("n_feats")}" +
                " logw=" + fmt("%.9f", r.getAs[Double]("logw")))
            }
        case _ => usage("both collections need documents (release/record rows)")
      }

    case "vector-index" :: store :: embPath :: rest =>
      // build or EXTEND the persistent IVFADC vector index (the dense
      // twin of `index`): append an embeddings parquet (vec_id BIGINT,
      // embedding ARRAY<FLOAT>) to the cell-partitioned store — coarse
      // quantizer + residual PQ codebooks train on the FIRST append and
      // reload forever after (the stability contract), every appended
      // row carries its 8 residual code bytes, so the store is
      // immediately servable by `vector-search` with no separate build.
      // --opq trains the FAISS-style 'OPQ,IVF,PQ' layout on the FIRST
      // append (train-once; later appends follow the stored artifacts);
      // --sq8 additionally persists the per-dim affine kit and codes
      // every row's 64 uint8 scalar codes (the q_ann_sq8 serving rung —
      // finer-than-PQ recall without reading raw embeddings)
      val f = new Flags("vector-index", rest)
      val opq = f.on("--opq")
      val sq8 = f.on("--sq8")
      f.rest()
      val spark = session()
      val vecs = spark.read.parquet(embPath)
        .select(col("vec_id"), col("embedding"))
      // count once, BEFORE the append: counting the store afterwards
      // would cost a second input scan plus a distinct over the whole
      // store per invocation, purely for the status line
      val n = vecs.count()
      graft.streaming.VectorStore.append(spark, store, vecs, opq = opq, sq8 = sq8)
      println(s"indexed $n vectors: store=$store" +
        (if (opq) " layout=opq" else "") +
        (if (sq8) " layout=sq8" else ""))

    case "hybrid-search" :: pstore :: vstore :: id :: rest if rest.nonEmpty =>
      // the FULL two-index serving composition (q_hybrid_rrf_ann's
      // contract made operational): the lexical leg probes the persisted
      // postings store's token buckets, the dense leg serves ADC from
      // the vector store's code bytes with the query vector read FROM
      // THE STORE by id, and the two K-bounded rank lists fuse with the
      // bit-stable RRF — no corpus scan anywhere. The fusion joins
      // lexical doc_id with dense vec_id: the two stores must share an
      // id namespace (they do when both index the same corpus).
      val f = new Flags("hybrid-search", rest)
      val hTop = f.int("--top", 10)
      val hProbes = f.int("--probes", 4)
      // --sq8: serve the dense leg from the store's scalar codes
      // (VectorStore.sq8Probe — the finer-than-PQ rung) instead of the
      // ADC probe; requires the store to carry the --sq8 layout. The
      // SQ8 probe scans every cell's codes and takes no probe count, so
      // --probes would be silently ignored — reject the combination
      // instead, as vector-search rejects --exact with --sq8
      val hSq8 = f.on("--sq8")
      if (hSq8 && rest.contains("--probes"))
        usage("hybrid-search: --probes has no effect with --sq8 (the SQ8 " +
          "dense leg scans the scalar codes, it probes no cells) — " +
          "drop one of the two flags")
      val hTerms = f.rest(Int.MaxValue)
      if (hTerms.isEmpty) usage("hybrid-search needs at least one query term")
      val hQid = id.toLongOption.getOrElse(
        usage(s"hybrid-search needs a numeric vec_id, got '$id'"))
      if (graft.streaming.PostingsStore.loadTotals(pstore).isEmpty)
        usage(s"no postings store at $pstore — build one " +
          "with `index <lake> <collection_id>`")
      val spark = session()
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      // a missing store and a missing id are different mistakes with
      // different fixes, so each gets its own message, as the postings
      // side's loadTotals guard does
      val vtab = graft.ingest.Sink
        .readOrEmpty(spark, graft.streaming.VectorStore.vecPath(vstore))
        .getOrElse(usage(s"no vector store at $vstore — build one " +
          "(Cli vector-index, or VectorStore.append)"))
      val qv = vtab.filter(col("vec_id") === hQid).select(col("embedding"))
        .as[Seq[Float]].collect().headOption
        .getOrElse(usage(s"no vec_id=$hQid in the vector store at $vstore"))
      val lex = graft.streaming.PostingsStore.probe(spark, pstore, hTerms)
        .orderBy(col("score_dec").desc, col("doc_id")).limit(hTop)
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("score_dec").desc, col("doc_id")))
          .cast("long").as("rank_lex"))
      val dns = (if (hSq8)
          graft.streaming.VectorStore
            .sq8Probe(spark, vstore, qv, hTop, exclude = Set(hQid))
        else
          graft.streaming.VectorStore
            .adcProbe(spark, vstore, qv, hProbes, hTop, exclude = Set(hQid)))
        .select(col("vec_id").as("doc_id"), row_number()
          .over(Window.orderBy(col("adc").desc, col("vec_id")))
          .cast("long").as("rank_dense"))
      val fused = graft.VectorQueries.rrfFuseOf(lex, dns).limit(hTop).collect()
      if (fused.isEmpty) println("no hits from either index")
      else fused.foreach { r =>
        def opt(n: String) =
          if (r.isNullAt(r.fieldIndex(n))) "-" else r.getAs[Long](n).toString
        println(s"rank=${r.getAs[Long]("rank_fused")}" +
          s" doc_id=${r.getAs[Long]("doc_id")}" +
          s" lex=${opt("rank_lex")} dense=${opt("rank_dense")}" +
          " rrf=" + fmt("%.9f", r.getAs[Double]("rrf_score")))
      }

    case "vector-search" :: store :: embPath :: "--batch" :: rest =>
      // serve the BATCHED k-NN join from the store's persisted index:
      // the query set is the deterministic vec_id % mod sample of the
      // given embeddings parquet (q_knn_join's probe-frame shape), the
      // sampled ids are excluded from the candidate side as a pushed
      // scan predicate, and nomination runs from the stored code bytes
      // (--exact switches to the raw-vector nominate — q_knn_join_ivf's
      // engine over the persisted cell layout; --sq8 to the stored
      // scalar codes)
      val f = new Flags("vector-search", rest)
      val mod = f.int("--mod", 25)
      val bProbes = f.int("--probes", 4)
      val bTop = f.int("--top", 5)
      val bRerank = f.int("--rerank", 20)
      val exact = f.on("--exact")
      val bSq8 = f.on("--sq8")
      if (exact && bSq8)
        usage("--exact and --sq8 are different nomination modes — pick one")
      f.rest()
      val spark = session()
      val queries = spark.read.parquet(embPath)
        .filter(pmod(col("vec_id"), lit(mod)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val hits = graft.streaming.VectorStore.knnJoin(
        spark, store, queries, probes = bProbes, r = bRerank, k = bTop,
        excludeWhere = Some(pmod(col("vec_id"), lit(mod)) === 0),
        nominate = if (exact) Rung.Exact else if (bSq8) Rung.Sq8 else Rung.Adc)
        .collect()
      if (hits.isEmpty) println("empty store or no queries in the sample")
      else hits.foreach { r =>
        println(s"qid=${r.getAs[Long]("qid")}" +
          s" rank=${r.getAs[Int]("knn_rank")}" +
          s" vec_id=${r.getAs[Long]("vec_id")}" +
          " cosine=" + fmt("%.9f", r.getAs[Double]("cosine")))
      }

    case "vector-search" :: store :: embPath :: id :: rest =>
      // serve a dense ANN query FROM THE STORE's persisted codes (the
      // dense twin of `search --indexed`): the query vector is row
      // `vec_id = id` of the given embeddings parquet; the probe reads
      // the probed cells' code bytes only, never the raw vectors
      val f = new Flags("vector-search", rest)
      val probes = f.int("--probes", 4)
      val top = f.int("--top", 10)
      f.rest()
      val qid = id.toLongOption.getOrElse(
        usage(s"vector-search needs a numeric vec_id, got '$id'"))
      val spark = session()
      import spark.implicits._
      val qv = spark.read.parquet(embPath)
        .filter(col("vec_id") === qid).select(col("embedding"))
        .as[Seq[Float]].collect().headOption
        .getOrElse(usage(s"no vec_id=$qid in $embPath"))
      val hits = graft.streaming.VectorStore
        .adcProbe(spark, store, qv, probes, top, exclude = Set(qid))
        .collect()
      if (hits.isEmpty) println("empty store or no vectors in the probed cells")
      else hits.foreach { r =>
        println(s"vec_id=${r.getAs[Long]("vec_id")}" +
          " adc=" + fmt("%.9f", r.getAs[Double]("adc")))
      }

    case "media-index" :: lake :: rest if rest.filterNot(_ == "--scenes").nonEmpty =>
      // fingerprint-at-ingest, one-shot (the batch twin of the streaming
      // media_fingerprint leg): decode each payload ONCE, probe the
      // lake-level fingerprint store BEFORE appending (near-dups of
      // already-stored media flag; nothing matches itself), persist the
      // batch's fingerprints banded for pruning, and print the flags
      // with names resolved through the lake-wide registry. Unkeyed
      // ad-hoc append (no stream lineage — the documented weaker replay
      // contract); the production path is the planned media_fingerprint
      // step (Api create) driving Streaming.mediaFingerprintStream.
      val f = new Flags("media-index", rest)
      val mScenes = f.on("--scenes")
      val paths = f.rest(Int.MaxValue)
      val spark = session()
      val media0 = spark.read.format("binaryFile").load(paths: _*)
        .select(xxhash64(col("path")).as("id"), col("path").as("name"),
          col("content"))
        .localCheckpoint()
      val nPayloads = media0.count()
      val mFlags = graft.streaming.FingerprintStore
        .probeAppend(spark, lake, media0.select("id", "content"),
          scenes = mScenes)
      val mapPath = graft.streaming.Streaming.mediaFilesPath(lake)
      val known = graft.ingest.Sink.readOrEmpty(spark, mapPath)
        .map(_.select(col("id"), col("name")))
        .getOrElse(media0.select(col("id"), col("name")).limit(0))
        .unionByName(media0.select(col("id"), col("name")))
        .distinct()
      val mRows = mFlags
        .join(known, Seq("id"), "left")
        .join(known.select(col("id").as("dup_of"), col("name").as("dup_name")),
          Seq("dup_of"), "left")
        .select(col("name"), col("dup_name"), col("dup_of"), col("hamming"))
        .orderBy(col("name"))
        .collect()
      // register this batch's names so later runs resolve dup_of; the
      // table is (collection_id, batch_id)-partitioned by the streaming
      // leg — ad-hoc rows append under the (-1, -1) partition
      media0.select(col("id"), col("name"))
        .withColumn("collection_id", lit(-1L))
        .withColumn("batch_id", lit(-1L))
        .write.partitionBy("collection_id", "batch_id")
        .mode("append").parquet(mapPath)
      println(s"indexed $nPayloads media payloads into $lake")
      if (mRows.isEmpty) println("no near-dups against the stored fingerprints")
      else mRows.foreach { r =>
        println(s"near-dup: ${r.getAs[String]("name")} ~ " +
          Option(r.getAs[String]("dup_name"))
            .getOrElse(s"id=${r.getAs[Long]("dup_of")}") +
          s" hamming=${r.getAs[Long]("hamming")}")
      }

    case "source-mix" :: lake :: id :: Nil =>
      // temperature-resampled (sqrt) training-mix weights over a loaded
      // collection's raw documents (the q_source_mix engine)
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.sourceMixOf(docs).collect().foreach { r =>
          println(s"source=${r.getAs[String]("source")}" +
            s" n_docs=${r.getAs[Long]("n_docs")}" +
            s" n_tokens=${r.getAs[Long]("n_tokens")}" +
            " weight=" + fmt("%.6f", r.getAs[Double]("weight")) +
            s" n_target=${r.getAs[Long]("n_target")}")
        }
      }

    case "overlap" :: lake :: idA :: idB :: Nil =>
      // KMV-sketch overlap estimate between TWO loaded collections (the
      // q_kmv_overlap engine keyed by collection): how much of each
      // other's shingle space two crawls share — the mirror-detection
      // readout a corpus build runs before weighting sources, from one
      // bounded-buffer pass over each collection, never a cross-
      // collection shingle join
      val (ca, cb) = (idArg(idA), idArg(idB))
      if (ca == cb) usage("overlap needs two DIFFERENT collection ids")
      val spark = session()
      graft.functions.GraftExtensions.ensureRegistered(spark)
      val plane = PlaneStore.load(lake)
      def labeled(cid: Long): Option[DataFrame] =
        collectionDocs(spark, lake, plane, cid).map(_.select(
          // label key ordered by numeric id so source_a is always the
          // lower id regardless of lexicographic accidents ("10" < "9")
          format_string("collection %019d", lit(cid)).as("ckey"),
          col("text")))
      // "collection 7 has …" / "collections 7, 9 have …"
      def collectionsHave(ids: Seq[Long]): String =
        if (ids.size > 1) s"collections ${ids.mkString(", ")} have"
        else s"collection ${ids.mkString(", ")} has"
      (labeled(ca), labeled(cb)) match {
        case (Some(da), Some(db)) =>
          val sk = TextQueries.kmvSketchOf(da.unionByName(db), key = "ckey")
            .persist()
          try {
            // a collection whose docs are all shorter than the shingle
            // width yields NO sketch row, and the pair join would print
            // nothing and exit 0 — indistinguishable from zero overlap;
            // diagnose that side explicitly instead (bounded: <= 2 rows)
            val have = sk.select("ckey").collect().map(_.getString(0)).toSet
            val sketchless = Seq(ca, cb)
              .filterNot(id => have(f"collection $id%019d"))
            if (sketchless.nonEmpty)
              usage(s"${collectionsHave(sketchless)} no sketchable " +
                "documents (every doc shorter than the 3-token shingle width)")
            TextQueries.kmvOverlapOf(sk).collect().foreach { r =>
              val exact = r.getAs[Boolean]("exact")
              println(s"collections=$ca,$cb" +
                s" est_union=${r.getAs[Long]("est_union")}" +
                s" est_inter=${r.getAs[Long]("est_inter")}" +
                " jaccard=" + fmt("%.6f", r.getAs[Long]("jaccard_ppm") / 1e6) +
                s" exact=$exact")
            }
          } finally { sk.unpersist(blocking = false); () }
        case (da, db) =>
          val missing = Seq(ca -> da, cb -> db).collect { case (id, None) => id }
          usage(s"${collectionsHave(missing)} no documents (release/record rows)")
      }

    case "length-stats" :: lake :: id :: Nil =>
      // per-source token-length quantiles (exact rank-based p50/p90/p99)
      // over a loaded collection's raw documents — the
      // q_length_quantiles engine
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.lengthQuantilesOf(docs).collect().foreach { r =>
          println(s"source=${r.getAs[String]("source")}" +
            s" n_docs=${r.getAs[Long]("n_docs")}" +
            s" p50=${r.getAs[Long]("p50_tokens")}" +
            s" p90=${r.getAs[Long]("p90_tokens")}" +
            s" p99=${r.getAs[Long]("p99_tokens")}" +
            s" max=${r.getAs[Long]("max_tokens")}")
        }
      }

    case "heavy-terms" :: lake :: id :: rest =>
      // corpus heavy-hitter n-grams over a loaded collection's raw
      // documents (bounded freq_items sketch — the q_heavy_terms
      // engine). --width N span width (default 3), --min N reporting
      // threshold (default 5), --top N display cap (default 20).
      val f = new Flags("heavy-terms", rest)
      val width = f.int("--width", 3)
      val minN = f.int("--min", 5)
      val top = f.int("--top", 20)
      f.rest()
      withDocs(lake, idArg(id)) { docs =>
        TextQueries.heavyTermsOf(docs, width = width, minCount = minN.toLong)
          .limit(top).collect().foreach { r =>
            println(s"n=${r.getAs[Long]("n")} gram=${r.getAs[String]("gram")}")
          }
      }

    case "corpus-stats" :: lake :: Nil =>
      // live dataset-card readout of the streaming stats store
      // (<lake>/stats_sketch, written by the close drain of a tree that
      // planned the corpus_stats step): distinct-token cardinality +
      // token-length quantiles + totals, each flagged exact vs estimated
      val st = graft.streaming.StatsStore.load(s"$lake/stats_sketch").getOrElse(usage(
        s"no stats sketch at $lake/stats_sketch (plan the corpus_stats step: " +
          "create the collection through the API with \"corpus_stats\": true)"))
      val (dt, exact) = st.distinctTokens
      val (n, p50, p90, p99, mx) = st.lengthQuantiles
      println(s"n_docs=${st.nDocs} n_tokens=${st.nTokens}" +
        s" distinct_tokens=$dt exact=$exact")
      println(s"len_n=$n len_p50=$p50 len_p90=$p90 len_p99=$p99 len_max=$mx" +
        s" exact=${!st.lengths.dense}")
      // cross-source shingle overlap off the stored KMV sketches
      // alone (kmvOverlap is the driver-side twin of q_kmv_overlap).
      // kmv_docs < n_docs means some batches were folded without a
      // source column, so the matrix covers only part of the corpus —
      // say so rather than presenting a partial matrix as the whole
      if (st.kmv.nonEmpty) {
        println(s"kmv_sources=${st.kmv.size} kmv_k=${st.kmvK}" +
          s" kmv_docs=${st.kmvDocs}" +
          (if (st.kmvDocs < st.nDocs) s" PARTIAL(n_docs=${st.nDocs})" else ""))
        st.kmvOverlap.foreach { p =>
          println(s"overlap a=${p.sourceA} b=${p.sourceB}" +
            s" est_union=${p.estUnion} est_inter=${p.estInter}" +
            " jaccard=" + fmt("%.6f", p.jaccardPpm / 1e6) +
            s" exact=${p.exact}")
        }
      }

    case "closecollection" :: lake :: id :: nFiles :: Nil =>
      // closecollection.py: ROOT collections only; the upgraded child
      // latches in the same transaction (its compile gate waits on the
      // same close); an already-closed collection is left untouched
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      val c = root(plane, cid)
      val n = nFiles.toIntOption.filter(_ >= 0).getOrElse(
        usage(s"expected file count must be a non-negative number, got '$nFiles'"))
      if (c.storeEndAt.nonEmpty) println(s"already closed ${id}")
      else {
        val now = PlaneStore.nowUtc()
        PlaneStore.save(lake, Control.closeTree(plane, cid, now, n))
        println(s"closed ${id}")
      }

    case "cancelcollection" :: lake :: id :: Nil =>
      // the reference's cancelcollection, a logical delete ONLY: the lake
      // rows stay, so the file registry stays too (Control's documented
      // invariant) — no journal compaction
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      known(plane, cid)
      PlaneStore.save(lake, Control.cancel(plane, cid, PlaneStore.nowUtc()))
      println(s"cancelled ${id}")

    case "deletecollection" :: lake :: rootId :: Nil =>
      // deletecollection + the wiper. S9: the lake is
      // collection_id-partitioned, so wiping a tree is a
      // partition-directory drop per fact table — no data rewrite
      val plane = PlaneStore.load(lake)
      val rid = idArg(rootId)
      known(plane, rid)
      val ids = plane.treeIds(rid).toSet
      val now = PlaneStore.nowUtc()
      Wipe.dropTreePartitions(lake, ids)
      PlaneStore.save(lake, ids.foldLeft(plane)((p, id) => Control.cancel(p, id, now)))
      // the wiped tree's file events are dead weight in the append-only
      // journal — filter them out (collection_file row deletes in the
      // reference); concurrent appends survive via the journal lock
      PlaneStore.compactJournal(lake, ids)
      println(s"deleted collections ${ids.toSeq.sorted.mkString(", ")}")

    case "deleteorphan" :: lake :: Nil =>
      // deleteorphan. S10: data rows referenced by no fact table are
      // dropped; the store is rewritten through Sink.replaceDir (at
      // warehouse scale this is a partition-wise anti-join MERGE, same
      // plan shape). Release and
      // record packages both write their rows' content into the store, so
      // both tables reference it.
      val spark = session()
      val removed = Sink.replaceDir(s"$lake/data") { tmp =>
        val store = Sink.readDedupStore(spark, s"$lake/data")
        val refs = Seq("release", "record")
          .flatMap(t => Sink.readOrEmpty(spark, s"$lake/$t"))
          .map(_.select("hash_md5"))
        val orphaned = Wipe.orphans(store, "hash_md5", refs).persist()
        val n = orphaned.count()
        val live = store.join(
          orphaned.select(col("hash_md5").as("__orphan")),
          col("hash_md5") === col("__orphan"), "left_anti")
        Sink.writeDedupStore(live.select("hash_md5", "data"), tmp, mode = "overwrite")
        orphaned.unpersist()
        n
      }
      println(s"removed $removed orphaned data rows")

    case "metadata" :: lake :: compiledId :: Nil =>
      // the reference's metadata endpoint, over a compiled collection
      val plane = PlaneStore.load(lake)
      val c = known(plane, idArg(compiledId))
      if (!c.transformType.contains(Control.Transform.CompileReleases))
        usage("The collection must be a compiled collection")
      val root = plane.rootParent(c)
      val spark = session()
      // a compiled-release load writes no package envelope, and a wiped
      // lake has neither table: both read like GET /metadata/ does
      (Sink.readOrEmpty(spark, s"$lake/compiled_release"),
        Sink.readOrEmpty(spark, s"$lake/package_data")) match {
        case (Some(cr), Some(pk)) =>
          val compiled = cr.filter(col("collection_id") === c.id)
            .select(col("ocid"), col("max_date").as("release_date"))
          val pkgs = pk.filter(col("collection_id") === root.id)
          val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
          // collect() here is the command's OUTPUT: metadata() returns
          // exactly one row at any table size (two single-row aggregates
          // joined)
          Metadata.metadata(compiled, pkgs, today).collect().foreach { r =>
            r.schema.fieldNames.foreach(f => println(s"$f: ${Option(r.getAs[Any](f)).getOrElse("-")}"))
          }
        case _ => println("no metadata")
      }

    case "notes" :: lake :: rootId :: rest =>
      // the reference's notes endpoint, optionally filtered to LEVELs.
      // --limit N: the per-level bound, caller-visible (default 1000 —
      // the forTree default; the reference endpoint streams unboundedly,
      // which a collect()-and-print command must not)
      val f = new Flags("notes", rest)
      val limit = f.int("--limit", 1000, what = "a positive number")
      val levels = f.rest(Int.MaxValue)
      val plane = PlaneStore.load(lake)
      val rid = idArg(rootId)
      known(plane, rid)
      val lv = if (levels.isEmpty) Seq(Notes.Info, Notes.Warning, Notes.Error) else levels
      Sink.readOrEmpty(session(), s"$lake/collection_note") match {
        case None => println("no notes")
        case Some(notes) =>
          // collect() here is the command's OUTPUT: forTree groups to at
          // most one row per level (≤3) for the terminal print
          Notes.forTree(notes, plane.treeIds(rid), lv, maxPerCode = limit)
            .collect().foreach { r =>
              val shown = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("notes"))
              val total = r.getAs[Long]("n_total")
              println(s"${r.getAs[String]("code")}:")
              shown.foreach(n => println(s"  - ${n.getString(0)}"))
              if (total > shown.size)
                println(s"  … ${total - shown.size} more (showing first ${shown.size})")
            }
      }

    case "api" :: lake :: rest =>
      // the reference's REST surface (`process/urls.py`) — serve the lake's
      // control plane over HTTP until interrupted
      val f = new Flags("api", rest)
      val port = f.int("--port", 8000, lo = 0, hi = 65535, what = "a port number")
      f.rest()
      val api = new graft.api.Api(session(), lake, port)
      api.start()
      println(s"serving on http://127.0.0.1:${api.boundPort} — POST /api/collections/, " +
        "{id}/close/, DELETE {id}/, GET {id}/metadata|notes|tree/ (ctrl-c to stop)")
      Thread.currentThread.join()

    case other => usage(s"unknown command: ${other.mkString(" ")}\n$Usage")
  }
}
