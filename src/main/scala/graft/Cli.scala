package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.check.Checker
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
  * Commands (reference command in parentheses):
  *   load <input> <lake> [--upgrade] [--compile] [--check] [--id N] [--note TEXT] [--sample] [--keep-open] [--source NAME] [--time 'YYYY-MM-DD HH:MM:SS']
  *                                              (load; steps are OPT-IN like load.py:34 —
  *                                               --compile runs file_worker+compiler+finisher
  *                                               inline, --check persists schema checks at
  *                                               close, a bare load completes uncompiled;
  *                                               --keep-open defers the whole close chain)
  *   addfiles <lake> <rootId> <path...>         (addfiles; the enqueued file_worker
  *                                               job runs inline against the open root)
  *   compile <lake> <rootId>                    (the compiler/checker/finisher chain,
  *                                               once closecollection released the gate)
  *   collectionstatus <lake> <rootId>           (collectionstatus)
  *   collections <lake> [--source NAME] [--with-compiled]
  *                                              (the querying-data.rst
  *                                               find-collections query)
  *   compact <lake> <table> <collectionId>      (lake small-files maintenance;
  *                                               no reference analogue)
  *   addchecks <lake> <collectionId>            (addchecks + checker)
  *   dedup <lake> <collectionId> [--checkpoint-dir DIR] [--max-bucket N]
  *                                              (near-dup payoff report over the
  *                                               collection's documents; no reference
  *                                               analogue — the LLM-corpus surface)
  *   corpus-build <lake> <collectionId>         (full build manifest: per-stage
  *                                               per-source attrition table)
  *   corpus-select <lake> <collectionId>        (corpus-selection funnel over the
  *                                               collection's documents)
  *   substr-dedup <lake> <collectionId> [--width N]
  *                                              (cross-document exact-substring
  *                                               duplication rollup, ExactSubstr)
  *   quality-gate <lake> <collectionId>         (per-source bottom-decile cut)
  *   gopher-rules <lake> <collectionId>         (fixed rule-filter rollup)
  *   c4-lines <lake> <collectionId>             (C4 line-level boilerplate rollup)
  *   line-dedup <lake> <collectionId>           (corpus-wide duplicate-line rollup)
  *   export <lake> <collectionId> <dir> [--shards N] [--epoch N] [--epoch-idx I] [--packed] [--merges FILE] [--curriculum]
  *                                              (training-shard export: one JSON-lines
  *                                               file per shard, rows in shuffle order)
  *   index <lake> <collectionId>              (build/rebuild the persisted
  *                                               inverted-index store the
  *                                               --indexed search probes)
  *   search <lake> <collectionId> <term...> [--top N] [--indexed]
  *                                              (BM25 lexical retrieval over the
  *                                               collection, q_bm25_topk engine;
  *                                               --indexed probes the postings
  *                                               store instead of scanning)
  *   source-mix <lake> <collectionId>           (sqrt-temperature mix weights)
  *   length-stats <lake> <collectionId>         (per-source token-length quantiles)
  *   corpus-stats <lake>                        (stats-store readout; the close
  *                                               drain of a tree created with
  *                                               "corpus_stats": true writes it)
  *   heavy-terms <lake> <collectionId> [--width N] [--min N] [--top N]
  *                                              (heavy-hitter n-grams, bounded
  *                                               freq_items sketch)
  *   closecollection <lake> <id> <nFiles>       (closecollection)
  *   cancelcollection <lake> <id>               (cancelcollection)
  *   deletecollection <lake> <rootId>           (deletecollection + wiper)
  *   deleteorphan <lake>                        (deleteorphan; release and record
  *                                               rows reference the data store)
  *   metadata <lake> <compiledId>               (the metadata endpoint)
  *   notes <lake> <rootId> [LEVEL...] [--limit N]  (the notes endpoint; --limit
  *                                               bounds notes shown per level)
  *
  * The queue-worker commands (api_loader, file_worker, checker, compilers,
  * finisher, wiper) have no standalone analogue: their work IS the Spark
  * jobs the commands above run inline — SURVEY.md §2.10's disposition.
  */
object Cli {

  private def session(): SparkSession =
    SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** Usage-error exit: 'unknown collection 7', not a Map stack trace. */
  private def known(plane: Control.Plane, id: Long): Control.Collection =
    plane.collections.getOrElse(id, {
      System.err.println(s"unknown collection $id")
      sys.exit(2)
    })

  /** Parse a collection-id argument or exit with a usage error (covers
    * non-numeric AND beyond-Long inputs — no raw NumberFormatException). */
  private def idArg(s: String): Long =
    s.toLongOption.getOrElse {
      System.err.println(s"collection id must be a number, got '$s'")
      sys.exit(2)
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

  /** The root's planned check step (`load --check`), run at the close of
    * its lifecycle and persisting release_check/record_check rows, as the
    * report suffix; empty when no check was planned. */
  private def plannedChecks(
      spark: SparkSession, lake: String, plane: Control.Plane, rid: Long): String =
    (if (plane.collection(rid).steps.contains("check"))
      Pipeline.runChecks(spark, lake, plane, rid) else None)
      .map { case (n, f) => s" checked=$n check_failed=$f" }.getOrElse("")

  /** `--flag value` extraction; exits on a missing or flag-shaped value. */
  private def flagValue(rest: List[String], flag: String): Option[String] =
    if (!rest.contains(flag)) None
    else rest.dropWhile(_ != flag).drop(1).headOption.filterNot(_.startsWith("--"))
      .orElse { System.err.println(s"$flag needs a value"); sys.exit(2) }

  /** Removes `--flag` and its single FOLLOWING token positionally — not by
    * value equality, which would also drop an unrelated positional arg that
    * happens to coincide with the flag's value (ADVICE r9). */
  private def stripFlag(rest: List[String], flag: String): List[String] =
    rest match {
      case `flag` :: _ :: tail => stripFlag(tail, flag)
      case `flag` :: Nil       => Nil
      case head :: tail        => head :: stripFlag(tail, flag)
      case Nil                 => Nil
    }

  /** Usage error on any remainder left after flag extraction — a typo'd
    * flag (`--widht 4`) must not silently run with defaults (ADVICE r11),
    * matching the strictness of the fixed-arity (`:: Nil`) subcommands. */
  private def rejectStray(cmd: String, remainder: List[String]): Unit =
    if (remainder.nonEmpty) {
      System.err.println(
        s"$cmd: unrecognized arguments: ${remainder.mkString(" ")}")
      sys.exit(2)
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "load" :: input :: lake :: rest =>
      val upgrade = rest.contains("--upgrade")
      // step selection (load.py:34,69-73): "Additional processing is not
      // automatically configured… To add a step, use --upgrade, --compile
      // and/or --check." Compile is OPT-IN — a bare load yields a
      // completed-but-uncompiled collection, exactly like the reference
      val compile = rest.contains("--compile")
      val check = rest.contains("--check")
      val sample = rest.contains("--sample")
      val note = flagValue(rest, "--note")
      val plane0 = PlaneStore.load(lake)
      val id =
        if (!rest.contains("--id"))
          plane0.collections.keys.maxOption.map(_ + 1).getOrElse(1L)
        else rest.dropWhile(_ != "--id").drop(1).headOption
          .filterNot(_.startsWith("--")).flatMap(_.toLongOption) match {
            case Some(n) if n > 0 => n
            case _ => // missing, flag-valued, overflowing, or non-positive
              System.err.println("--id needs a positive number"); sys.exit(2)
          }
      val keepOpen = rest.contains("--keep-open")
      // -s/--source and -t/--time (load.py:43-56): the announced source
      // name and an explicit data_version, overriding the path default /
      // earliest file mtime
      val sourceId = flagValue(rest, "--source")
      val time = flagValue(rest, "--time")
      // the tree the load will create (Pipeline.load builds the same one):
      // every id must be new, or the control rows would be overwritten
      // while the lake APPENDS a second copy of every fact row under the
      // same partitions
      val treeIds = Control.newTree(plane0, id, sourceId.getOrElse(input),
        time.getOrElse(""), upgrade, compile, check) match {
        case Left(errs) =>
          System.err.println(s"${errs.mkString("; ")}; pick another --id")
          sys.exit(2)
        case Right(tree) => tree.treeIds(id)
      }
      time.foreach { t =>
        // a REAL datetime parse, like load.py's -t handling — a
        // shape-only regex would accept '2020-13-45 25:99:99'
        try java.time.LocalDateTime.parse(
          t, java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        catch {
          case _: java.time.format.DateTimeParseException =>
            System.err.println(s"--time must be a valid 'YYYY-MM-DD HH:MM:SS', got '$t'")
            sys.exit(2)
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

    case "addfiles" :: lake :: id :: paths if paths.nonEmpty =>
      // the reference's addfiles (docs/cli.rst:37, addfiles.py): add more
      // files to an OPEN ROOT collection. The reference registers the
      // files and enqueues their loads for its workers; in a worker-less
      // engine the command performs the file_worker's job inline
      // (Pipeline.loadFilesInto) — register + stream-load + upgrade leg +
      // LOAD-step completion — the same disposition as `load` itself. A
      // later closecollection releases the compile gate.
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      val c = known(plane, cid)
      if (c.storeEndAt.nonEmpty) {
        System.err.println(
          s"Collection $cid is not an open collection. It was closed at ${c.storeEndAt.get}.")
        sys.exit(2)
      }
      if (c.parent.nonEmpty) {
        System.err.println(
          s"Collection $cid is not a root collection. Its parent is collection ${c.parent.get}.")
        sys.exit(2)
      }
      val spark = session()
      val found = graft.ingest.Ingest.walk(spark, paths)
      if (found.isEmpty) { System.err.println("No files to load"); sys.exit(2) }
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
      val plane = PlaneStore.load(lake)
      val source = flagValue(rest, "--source")
      val withCompiled = rest.contains("--with-compiled")
      plane.collections.values.toSeq
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
      val spark = session()
      val cid = idArg(id)
      require(Wipe.FactTables.contains(table),
        s"unknown table '$table' (one of: ${Wipe.FactTables.mkString(", ")})")
      // only completed collections compact: the swap is atomic against
      // READERS, but a concurrent appender (an open keep-open/addfiles or
      // streaming load composing through _control.json from another
      // process) could land a batch between the compaction's scan and its
      // swap, and the swap would retire that batch's files with the old
      // directory (ADVICE r7)
      PlaneStore.load(lake).collections.get(cid) match {
        case Some(c) =>
          if (c.completedAt.isEmpty && c.deletedAt.isEmpty) {
            System.err.println(
              s"collection $cid is still open: compact only completed collections")
            sys.exit(2)
          }
        case None =>
          // an unknown id must NOT silently bypass the open-collection
          // guard above (a typo'd id would compact with no check at all)
          System.err.println(s"unknown collection $cid: nothing to compact")
          sys.exit(2)
      }
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
      val c = known(plane, rid)
      if (c.parent.nonEmpty) {
        System.err.println(
          s"Collection $rid is not a root collection. Its parent is collection ${c.parent.get}.")
        sys.exit(2)
      }
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
            System.err.println(e.getMessage)
            sys.exit(2)
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
      val spark = session()
      val m = graft.streaming.Streaming.corpusManifest(spark, lake)
      if (m.isEmpty) {
        System.err.println(s"no corpus manifest at $lake — plan the " +
          "corpus_manifest step at create and close the collection")
        sys.exit(2)
      }
      val sliced = rest match {
        case Nil => m
        case cid :: Nil => m.filter(col("collection_id") === idArg(cid))
        case more =>
          System.err.println(
            s"manifest: unrecognized arguments: ${more.drop(1).mkString(" ")}")
          sys.exit(2)
      }
      val rows = sliced
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
      // format-aware like the reference's checker: record collections
      // check into record_check, release collections into release_check;
      // compiled-release collections have NO check pass (the reference's
      // checker handles only Release and Record rows) — a clean no-op
      // beats an AnalysisException on the absent release table. Shared
      // engine with the load-planned --check step: Pipeline.runChecks.
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      known(plane, cid)
      Pipeline.runChecks(spark, lake, plane, cid) match {
        case Some((nChecked, nFailed)) => println(s"checked=$nChecked failed=$nFailed")
        case None => println("checked=0 failed=0 (no checkable rows for this collection)")
      }

    case "dedup" :: lake :: id :: rest =>
      // the corpus-pipeline surface over a LOADED collection (VERDICT r8
      // Next #8; reference precedent: every operator is a management
      // command): MinHash-LSH near-dup clustering + per-cluster keeper
      // election over the collection's raw documents, reported as the
      // per-source dedup payoff (docs/tokens a dedup pass would remove).
      // --checkpoint-dir DIR: durable-checkpoint the edge set AND the
      // label rounds (cluster-scale mode — survives executor death);
      // --max-bucket N: the LSH bucket bound (BucketPairs recall/cost
      // knob). corpus-select takes neither: its funnel is exact-dedup
      // only — no LSH buckets, no iterative loop to checkpoint.
      val ckptDir = flagValue(rest, "--checkpoint-dir")
      val maxBucket = flagValue(rest, "--max-bucket") match {
        case None => BucketPairs.DefaultMaxBucket
        case Some(v) => v.toIntOption.filter(_ > 1).getOrElse {
          System.err.println(s"--max-bucket needs a number > 1, got '$v'")
          sys.exit(2)
        }
      }
      rejectStray("dedup",
        stripFlag(stripFlag(rest, "--checkpoint-dir"), "--max-bucket"))
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no deduplicable documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no selectable documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val width = flagValue(rest, "--width") match {
        case None => 6
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--width needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      // a stray/misspelled trailing token (--widht 4) must be a usage
      // error, not a silent run at the default width (ADVICE r11)
      rejectStray("substr-dedup", stripFlag(rest, "--width"))
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
          // Locale.ROOT: a comma-decimal default locale would print 0,1234
          // (same hazard Bench.scala pins for its JSON line)
          println(s"width=$width docs=${all.getAs[Long]("n_docs")}" +
            s" docs_hit=$hit tokens_total=$total tokens_dup=$dup" +
            " dup_frac=" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(frac)))
      }

    case "quality-gate" :: lake :: id :: Nil =>
      // per-source bottom-decile quality gate over a loaded collection's
      // raw documents: the data-driven threshold readout (rank-based
      // ceil(n/10) cut by stopword-ratio, the q_quality_gate engine)
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
          TextQueries.qualityGateOf(docs).collect().foreach { r =>
            println(s"source=${r.getAs[String]("source")}" +
              s" n_total=${r.getAs[Long]("n_total")}" +
              s" n_cut=${r.getAs[Long]("n_cut")}" +
              s" n_kept=${r.getAs[Long]("n_kept")}" +
              " threshold=" + String.format(java.util.Locale.ROOT, "%.4f",
                Double.box(r.getAs[Double]("threshold_score"))))
          }
      }

    case "gopher-rules" :: lake :: id :: Nil =>
      // Gopher rule-filter rollup over a loaded collection's raw
      // documents: fixed per-document quality rules next to
      // quality-gate's data-driven percentile cut (the q_gopher_rules
      // engine)
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val nShards = flagValue(rest, "--shards") match {
        case None => 8
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--shards needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      // --epoch N switches from the single-pass shuffle layout to a
      // MIXTURE EPOCH of N examples (sqrt-temperature targets, wraparound
      // repetition, stride interleave — the mixEpochOf pipeline), written
      // in schedule order
      val epochBudget = flagValue(rest, "--epoch").map { v =>
        v.toLongOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--epoch needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      // --epoch-idx I: WHICH epoch to materialize — deterministic but
      // DISTINCT selection/interleave per index (the multi-epoch
      // contract, VERDICT r15 Next #3); only meaningful with --epoch
      val epochIdx = flagValue(rest, "--epoch-idx").map { v =>
        v.toLongOption.filter(_ >= 0).getOrElse {
          System.err.println(s"--epoch-idx needs a number >= 0, got '$v'")
          sys.exit(2)
        }
      }.getOrElse(0L)
      if (epochIdx != 0L && epochBudget.isEmpty) {
        System.err.println("--epoch-idx requires --epoch N")
        sys.exit(2)
      }
      // --unimax E: allocate the --epoch budget with UniMax integer
      // water-filling under a per-source cap of E epochs (budget and
      // targets in TOKENS — unimaxMixOf's contract) instead of the
      // sqrt-temperature example draw; the epoch is then materialized
      // by the shared wraparound/interleave engine (mixEpochUnimaxOf)
      val unimaxEpochs = flagValue(rest, "--unimax").map { v =>
        v.toLongOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--unimax needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      if (unimaxEpochs.isDefined && epochBudget.isEmpty) {
        System.err.println("--unimax requires --epoch B (the token budget)")
        sys.exit(2)
      }
      // --packed: emit fixed-2048-token BPE training windows instead of
      // raw per-document text rows (the packedEpochExportOf composition);
      // only meaningful over a mixture epoch
      val packed = rest.contains("--packed")
      if (packed && epochBudget.isEmpty) {
        System.err.println("--packed requires --epoch N")
        sys.exit(2)
      }
      // --merges FILE: budget the packed windows with a RUNTIME-trained
      // merges table (the train-bpe → export composition — VERDICT r17
      // #1: the trained file is directly consumable, no jar rebuild);
      // default = the vendored classpath table
      val merges = flagValue(rest, "--merges").getOrElse(
        graft.functions.Bpe.DefaultSource)
      if (merges.nonEmpty && !packed) {
        System.err.println("--merges is only meaningful with --packed")
        sys.exit(2)
      }
      if (merges.nonEmpty && !new java.io.File(merges).isFile) {
        System.err.println(s"--merges file not found: $merges")
        sys.exit(2)
      }
      // --curriculum: quality-anneal each source's in-shard emission
      // order (identical selection and mix; every shard's tail becomes
      // its highest-quality slice — see mixEpochOf)
      val curriculum = rest.contains("--curriculum")
      if (curriculum && epochBudget.isEmpty) {
        System.err.println("--curriculum requires --epoch N")
        sys.exit(2)
      }
      rejectStray("export",
        stripFlag(
          stripFlag(stripFlag(stripFlag(stripFlag(rest, "--shards"),
            "--epoch"), "--epoch-idx"), "--merges"), "--unimax")
          .filterNot(a => a == "--packed" || a == "--curriculum"))
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs0) =>
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
                    // the budget by a few rows at ~1e9+ budgets (ADVICE
                    // r15) — must be as visible as a shortfall
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

    case "corpus-build" :: lake :: id :: rest
        if stripFlag(rest, "--unimax").isEmpty =>
      // the end-to-end corpus BUILD manifest over a loaded collection's
      // documents (the q_corpus_build engine): per-stage, per-source
      // attrition through Gopher → C4 lines → corpus-wide line dedup →
      // exact dedup → decontamination → quality gate → train split →
      // mix targets. --unimax E swaps the final mix stage's allocation
      // from the sqrt-temperature draw to UniMax water-filling under a
      // cap of E epochs per source (same funnel, same aggregate — the
      // manifest rows carry the policy in the stage name)
      val cbUnimax = flagValue(rest, "--unimax").map { v =>
        v.toLongOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--unimax needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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

    case "search" :: lake :: id :: rest0 if rest0.nonEmpty =>
      // lexical retrieval over a loaded collection (the bm25ScoresOf
      // engine behind q_bm25_topk): rank the collection's documents for
      // the given query terms — the user-facing face of the sparse
      // retrieval leg, inverted-index-probe shape (the explode filters
      // to the terms before any shuffle)
      val top = flagValue(rest0, "--top") match {
        case None => 10
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--top needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      // --indexed: probe the collection's persisted inverted-index store
      // (built by `index` or maintained by the streaming loader) instead
      // of re-scanning the corpus — byte-identical scores via the shared
      // bm25ScoreExpr. Opt-in rather than automatic: the store reflects
      // the docs at INDEX time, and an explicit flag makes that staleness
      // contract the caller's choice, not a silent behavior switch.
      val indexed = rest0.contains("--indexed")
      val terms = stripFlag(rest0, "--top").filterNot(_ == "--indexed")
      // flag-shaped leftovers are typos (`--topp 5`), not query terms —
      // the rejectStray strictness every other flagged subcommand applies
      // (ADVICE r15); a literal "--"-prefixed term isn't expressible here,
      // which the usage error states
      terms.filter(_.startsWith("--")) match {
        case Nil => ()
        case bad =>
          System.err.println(
            s"search: unrecognized flags: ${bad.mkString(" ")}" +
              " (query terms cannot start with --)")
          sys.exit(2)
      }
      if (terms.isEmpty) {
        System.err.println("search needs at least one query term")
        sys.exit(2)
      }
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      val scores: Option[org.apache.spark.sql.DataFrame] =
        if (indexed) {
          val store = graft.streaming.Streaming.bm25IndexPath(lake, cid)
          if (graft.streaming.PostingsStore.loadTotals(store).isEmpty) {
            System.err.println(s"collection $cid has no search index — " +
              s"build one with `index $lake $cid`")
            sys.exit(2)
          }
          Some(graft.streaming.PostingsStore.probe(spark, store, terms))
        } else collectionDocs(spark, lake, plane, cid)
          .map(docs => TextQueries.bm25ScoresOf(docs, terms))
      scores match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(sc) =>
          val hits = sc
            .orderBy(col("score_dec").desc, col("doc_id"))
            .limit(top)
            .select(col("doc_id"), col("n_terms"),
              round(col("score_dec").cast("double"), 6).as("score"))
            .collect()
          if (hits.isEmpty) println("no documents match the query terms")
          else hits.foreach { r =>
            println(s"doc_id=${r.getAs[Long]("doc_id")}" +
              s" n_terms=${r.getAs[Long]("n_terms")}" +
              " score=" + String.format(java.util.Locale.ROOT, "%.6f",
                Double.box(r.getAs[Double]("score"))))
          }
      }

    case "index" :: lake :: id :: Nil =>
      // build (or REBUILD from scratch) the collection's inverted-index
      // store: token-bucket-partitioned postings + the totals document.
      // Rebuild semantics: the store reflects the collection's documents
      // at THIS moment; files added later need a re-index.
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val nMerges = flagValue(rest, "--merges") match {
        case None => 80
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--merges needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      rejectStray("train-bpe", stripFlag(rest, "--merges"))
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      val top = flagValue(rest, "--top") match {
        case None => 20
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--top needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      // --weights DIR: the trained-model store. A dir that already holds
      // a model is LOADED (the target collection is never re-read — the
      // "train once, persist, score many" production contract); an empty
      // or absent dir trains from (raw, target) and persists the model
      // there for the next run.
      val wdir = flagValue(rest, "--weights")
      rejectStray("dsir-select", stripFlag(stripFlag(rest, "--top"), "--weights"))
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
                " logw=" + String.format(java.util.Locale.ROOT, "%.9f",
                  Double.box(r.getAs[Double]("logw"))))
            }
        case _ =>
          System.err.println("both collections need documents " +
            "(release/record rows)")
          sys.exit(2)
      }

    case "vector-index" :: store :: embPath :: rest
        if rest.forall(f => f == "--opq" || f == "--sq8") =>
      // build or EXTEND the persistent IVFADC vector index (the dense
      // twin of `index`): append an embeddings parquet (vec_id BIGINT,
      // embedding ARRAY<FLOAT>) to the cell-partitioned store — coarse
      // quantizer + residual PQ codebooks train on the FIRST append and
      // reload forever after (the stability contract), every appended
      // row carries its 8 residual code bytes, so the store is
      // immediately servable by `vector-search` with no separate build
      val spark = session()
      val vecs = spark.read.parquet(embPath)
        .select(col("vec_id"), col("embedding"))
      // count once, BEFORE the append — the status line must not pay a
      // second input scan nor a distinct over the whole store (r17
      // review: on a large store that was two full extra scans per
      // index invocation, purely for logging)
      val n = vecs.count()
      // --opq trains the FAISS-style 'OPQ,IVF,PQ' layout on the FIRST
      // append (train-once; later appends follow the stored artifacts);
      // --sq8 additionally persists the per-dim affine kit and codes
      // every row's 64 uint8 scalar codes (the q_ann_sq8 serving rung —
      // finer-than-PQ recall without reading raw embeddings)
      graft.streaming.VectorStore.append(spark, store, vecs,
        opq = rest.contains("--opq"), sq8 = rest.contains("--sq8"))
      println(s"indexed $n vectors: store=$store" +
        (if (rest.contains("--opq")) " layout=opq" else "") +
        (if (rest.contains("--sq8")) " layout=sq8" else ""))

    case "hybrid-search" :: pstore :: vstore :: id :: rest0 if rest0.nonEmpty =>
      // the FULL two-index serving composition (q_hybrid_rrf_ann's
      // contract made operational): the lexical leg probes the persisted
      // postings store's token buckets, the dense leg serves ADC from
      // the vector store's code bytes with the query vector read FROM
      // THE STORE by id, and the two K-bounded rank lists fuse with the
      // bit-stable RRF — no corpus scan anywhere. The fusion joins
      // lexical doc_id with dense vec_id: the two stores must share an
      // id namespace (they do when both index the same corpus).
      val hTop = flagValue(rest0, "--top") match {
        case None => 10
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--top needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      val hProbes = flagValue(rest0, "--probes") match {
        case None => 4
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--probes needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      // --sq8: serve the dense leg from the store's scalar codes
      // (VectorStore.sq8Probe — the finer-than-PQ rung) instead of the
      // ADC probe; requires the store to carry the --sq8 layout. The
      // SQ8 probe scans every cell's codes and takes no probe count, so
      // --probes would be silently ignored — reject the combination
      // instead, as vector-search rejects --exact with --sq8
      val hSq8 = rest0.contains("--sq8")
      if (hSq8 && flagValue(rest0, "--probes").isDefined) {
        System.err.println(
          "hybrid-search: --probes has no effect with --sq8 (the SQ8 " +
            "dense leg scans the scalar codes, it probes no cells) — " +
            "drop one of the two flags")
        sys.exit(2)
      }
      val hTerms = stripFlag(stripFlag(rest0, "--top"), "--probes")
        .filterNot(_ == "--sq8")
      hTerms.filter(_.startsWith("--")) match {
        case Nil => ()
        case bad =>
          System.err.println(
            s"hybrid-search: unrecognized flags: ${bad.mkString(" ")}" +
              " (query terms cannot start with --)")
          sys.exit(2)
      }
      if (hTerms.isEmpty) {
        System.err.println("hybrid-search needs at least one query term")
        sys.exit(2)
      }
      val hQid = id.toLongOption.getOrElse {
        System.err.println(s"hybrid-search needs a numeric vec_id, got '$id'")
        sys.exit(2)
      }
      if (graft.streaming.PostingsStore.loadTotals(pstore).isEmpty) {
        System.err.println(s"no postings store at $pstore — build one " +
          "with `index <lake> <collection_id>`")
        sys.exit(2)
      }
      val spark = session()
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      // a missing store and a missing id are different mistakes with
      // different fixes — mirror the postings-side loadTotals guard
      // instead of folding both into one message (ADVICE r18)
      val vtab = graft.ingest.Sink
        .readOrEmpty(spark, graft.streaming.VectorStore.vecPath(vstore))
        .getOrElse {
          System.err.println(s"no vector store at $vstore — build one " +
            "(Cli vector-index, or VectorStore.append)")
          sys.exit(2)
        }
      val qv = vtab.filter(col("vec_id") === hQid).select(col("embedding"))
        .as[Seq[Float]].collect().headOption
        .getOrElse {
          System.err.println(s"no vec_id=$hQid in the vector store at $vstore")
          sys.exit(2)
        }
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
          " rrf=" + String.format(java.util.Locale.ROOT, "%.9f",
            Double.box(r.getAs[Double]("rrf_score"))))
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
      def intFlag(flag: String, dflt: Int): Int = flagValue(rest, flag) match {
        case None => dflt
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"$flag needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      val mod = intFlag("--mod", 25)
      val bProbes = intFlag("--probes", 4)
      val bTop = intFlag("--top", 5)
      val bRerank = intFlag("--rerank", 20)
      val exact = rest.contains("--exact")
      val bSq8 = rest.contains("--sq8")
      if (exact && bSq8) {
        System.err.println("--exact and --sq8 are different nomination " +
          "modes — pick one")
        sys.exit(2)
      }
      rejectStray("vector-search",
        Seq("--mod", "--probes", "--top", "--rerank")
          .foldLeft(rest)(stripFlag)
          .filterNot(a => a == "--exact" || a == "--sq8"))
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
          " cosine=" + String.format(java.util.Locale.ROOT, "%.9f",
            Double.box(r.getAs[Double]("cosine"))))
      }

    case "vector-search" :: store :: embPath :: id :: rest =>
      // serve a dense ANN query FROM THE STORE's persisted codes (the
      // dense twin of `search --indexed`): the query vector is row
      // `vec_id = id` of the given embeddings parquet; the probe reads
      // the probed cells' code bytes only, never the raw vectors
      val probes = flagValue(rest, "--probes") match {
        case None => 4
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--probes needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      val top = flagValue(rest, "--top") match {
        case None => 10
        case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse {
          System.err.println(s"--top needs a number >= 1, got '$v'")
          sys.exit(2)
        }
      }
      rejectStray("vector-search",
        stripFlag(stripFlag(rest, "--probes"), "--top"))
      val qid = id.toLongOption.getOrElse {
        System.err.println(s"vector-search needs a numeric vec_id, got '$id'")
        sys.exit(2)
      }
      val spark = session()
      import spark.implicits._
      val qv = spark.read.parquet(embPath)
        .filter(col("vec_id") === qid).select(col("embedding"))
        .as[Seq[Float]].collect().headOption.getOrElse {
          System.err.println(s"no vec_id=$qid in $embPath")
          sys.exit(2)
        }
      val hits = graft.streaming.VectorStore
        .adcProbe(spark, store, qv, probes, top, exclude = Set(qid))
        .collect()
      if (hits.isEmpty) println("empty store or no vectors in the probed cells")
      else hits.foreach { r =>
        println(s"vec_id=${r.getAs[Long]("vec_id")}" +
          " adc=" + String.format(java.util.Locale.ROOT, "%.9f",
            Double.box(r.getAs[Double]("adc"))))
      }

    case "media-index" :: lake :: rest0 if rest0.filterNot(_ == "--scenes").nonEmpty =>
      val mScenes = rest0.contains("--scenes")
      val paths = rest0.filterNot(_ == "--scenes")
      // fingerprint-at-ingest, one-shot (the streaming leg's batch twin —
      // VERDICT r19 Next #3): decode each payload ONCE, probe the
      // lake-level fingerprint store BEFORE appending (near-dups of
      // already-stored media flag; nothing matches itself), persist the
      // batch's fingerprints banded for pruning, and print the flags
      // with names resolved through the lake-wide registry. Unkeyed
      // ad-hoc append (no stream lineage — the documented weaker replay
      // contract); the production path is the planned media_fingerprint
      // step (Api create) driving Streaming.mediaFingerprintStream.
      paths.filter(_.startsWith("--")) match {
        case Nil => ()
        case bad =>
          System.err.println(s"media-index: unrecognized flags: ${bad.mkString(" ")}")
          sys.exit(2)
      }
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
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
          TextQueries.sourceMixOf(docs).collect().foreach { r =>
            println(s"source=${r.getAs[String]("source")}" +
              s" n_docs=${r.getAs[Long]("n_docs")}" +
              s" n_tokens=${r.getAs[Long]("n_tokens")}" +
              " weight=" + String.format(java.util.Locale.ROOT, "%.6f",
                Double.box(r.getAs[Double]("weight"))) +
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
      val spark = session()
      graft.functions.GraftExtensions.ensureRegistered(spark)
      val plane = PlaneStore.load(lake)
      val (ca, cb) = (idArg(idA), idArg(idB))
      if (ca == cb) {
        System.err.println("overlap needs two DIFFERENT collection ids")
        sys.exit(2)
      }
      def labeled(cid: Long): Option[org.apache.spark.sql.DataFrame] =
        collectionDocs(spark, lake, plane, cid).map(_.select(
          // label key ordered by numeric id so source_a is always the
          // lower id regardless of lexicographic accidents ("10" < "9")
          format_string("collection %019d", lit(cid)).as("ckey"),
          col("text")))
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
            if (sketchless.nonEmpty) {
              System.err.println(s"collection${
                if (sketchless.size > 1) "s" else ""} ${
                sketchless.mkString(", ")} ${
                if (sketchless.size > 1) "have" else "has"} no sketchable " +
                "documents (every doc shorter than the 3-token shingle width)")
              sys.exit(2)
            }
            TextQueries.kmvOverlapOf(sk).collect().foreach { r =>
              val exact = r.getAs[Boolean]("exact")
              println(s"collections=$ca,$cb" +
                s" est_union=${r.getAs[Long]("est_union")}" +
                s" est_inter=${r.getAs[Long]("est_inter")}" +
                " jaccard=" + String.format(java.util.Locale.ROOT, "%.6f",
                  Double.box(r.getAs[Long]("jaccard_ppm") / 1e6)) +
                s" exact=$exact")
            }
          } finally { sk.unpersist(blocking = false); () }
        case (da, db) =>
          val missing = Seq(ca -> da, cb -> db).collect { case (id, None) => id }
          System.err.println(s"collection${if (missing.size > 1) "s" else ""} " +
            s"${missing.mkString(", ")} ${if (missing.size > 1) "have" else "has"} " +
            "no documents (release/record rows)")
          sys.exit(2)
      }

    case "length-stats" :: lake :: id :: Nil =>
      // per-source token-length quantiles (exact rank-based p50/p90/p99)
      // over a loaded collection's raw documents — the
      // q_length_quantiles engine
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      def intFlag(name: String, dflt: Int, lo: Int): Int =
        flagValue(rest, name) match {
          case None => dflt
          case Some(s0) => s0.toIntOption.filter(_ >= lo).getOrElse {
            System.err.println(s"$name needs a number >= $lo, got '$s0'")
            sys.exit(2)
          }
        }
      val width = intFlag("--width", 3, 1)
      val minN = intFlag("--min", 5, 1)
      val top = intFlag("--top", 20, 1)
      rejectStray("heavy-terms",
        stripFlag(stripFlag(stripFlag(rest, "--width"), "--min"), "--top"))
      val spark = session()
      val plane = PlaneStore.load(lake)
      val cid = idArg(id)
      collectionDocs(spark, lake, plane, cid) match {
        case None =>
          System.err.println(
            s"collection $cid has no documents (release/record rows)")
          sys.exit(2)
        case Some(docs) =>
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
      graft.streaming.StatsStore.load(s"$lake/stats_sketch") match {
        case None =>
          System.err.println(
            s"no stats sketch at $lake/stats_sketch (plan the corpus_stats step: " +
              "create the collection through the API with \"corpus_stats\": true)")
          sys.exit(2)
        case Some(st) =>
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
                " jaccard=" + String.format(java.util.Locale.ROOT, "%.6f",
                  Double.box(p.jaccardPpm / 1e6)) +
                s" exact=${p.exact}")
            }
          }
      }

    case "closecollection" :: lake :: id :: nFiles :: Nil =>
      // closecollection.py: ROOT collections only; the upgraded child
      // latches in the same transaction (its compile gate waits on the
      // same close); an already-closed collection is left untouched
      val plane = PlaneStore.load(lake); val cid = idArg(id)
      val c = known(plane, cid)
      if (c.parent.nonEmpty) {
        System.err.println(
          s"Collection $cid is not a root collection. Its parent is collection ${c.parent.get}.")
        sys.exit(2)
      }
      val n = nFiles.toIntOption.filter(_ >= 0).getOrElse {
        System.err.println(s"expected file count must be a non-negative number, got '$nFiles'")
        sys.exit(2)
      }
      if (c.storeEndAt.nonEmpty) println(s"already closed ${id}")
      else {
        val now = PlaneStore.nowUtc()
        PlaneStore.save(lake, Control.closeTree(plane, cid, now, n))
        println(s"closed ${id}")
      }

    case "cancelcollection" :: lake :: id :: Nil =>
      // logical delete ONLY: the lake rows stay, so the file registry
      // stays too (Control's documented invariant) — no journal compaction
      val plane = PlaneStore.load(lake); val cid = idArg(id); known(plane, cid)
      PlaneStore.save(lake, Control.cancel(plane, cid, PlaneStore.nowUtc()))
      println(s"cancelled ${id}")

    case "deletecollection" :: lake :: rootId :: Nil =>
      // S9: the lake is collection_id-partitioned, so wiping a tree is a
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
      // S10: data rows referenced by no fact table are dropped; the store
      // is rewritten through Sink.replaceDir (at warehouse scale this is a
      // partition-wise anti-join MERGE, same plan shape). Release and
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
      val spark = session()
      val plane = PlaneStore.load(lake)
      val c = known(plane, idArg(compiledId))
      require(c.transformType.contains(Control.Transform.CompileReleases),
        "The collection must be a compiled collection")
      val root = plane.rootParent(c)
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
      val spark = session()
      val plane = PlaneStore.load(lake)
      val rid = idArg(rootId)
      known(plane, rid)
      // --limit N: the per-level bound, caller-visible (default 1000 —
      // the forTree default; the reference endpoint streams unboundedly,
      // which a collect()-and-print command must not)
      val limit = flagValue(rest, "--limit") match {
        case None => 1000
        case Some(v) => v.toIntOption.filter(_ > 0).getOrElse {
          System.err.println(s"--limit needs a positive number, got '$v'")
          sys.exit(2)
        }
      }
      val levels = stripFlag(rest, "--limit").filterNot(_.startsWith("--"))
      val lv = if (levels.isEmpty) Seq(Notes.Info, Notes.Warning, Notes.Error) else levels
      Sink.readOrEmpty(spark, s"$lake/collection_note") match {
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
      val port = flagValue(rest, "--port") match {
        case None => 8000
        case Some(v) => v.toIntOption.filter(p => p >= 0 && p <= 65535).getOrElse {
          System.err.println(s"--port needs a port number, got '$v'")
          sys.exit(2)
        }
      }
      val api = new graft.api.Api(session(), lake, port)
      api.start()
      println(s"serving on http://127.0.0.1:${api.boundPort} — POST /api/collections/, " +
        "{id}/close/, DELETE {id}/, GET {id}/metadata|notes|tree/ (ctrl-c to stop)")
      Thread.currentThread.join()

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: graft.Cli <command> [args]
           |  load <input> <lake> [--upgrade] [--id N] [--note TEXT] [--sample] [--keep-open] [--source NAME] [--time 'YYYY-MM-DD HH:MM:SS']
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
           |  corpus-build <lake> <collectionId>
           |  corpus-select <lake> <collectionId>
           |  quality-gate <lake> <collectionId>
           |  gopher-rules <lake> <collectionId>
           |  c4-lines <lake> <collectionId>
           |  line-dedup <lake> <collectionId>
           |  export <lake> <collectionId> <dir> [--shards N] [--epoch N] [--epoch-idx I] [--packed] [--merges FILE] [--curriculum]
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
           |  api <lake> [--port N]""".stripMargin)
      sys.exit(2)
  }
}
