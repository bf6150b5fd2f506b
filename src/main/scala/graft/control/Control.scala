package graft.control

/** Collection control plane (SURVEY.md §2 T3-T5, V2; reference
  * `process/management/commands/compiler.py:128-181` (`compilable`),
  * `finisher.py:116-176` (`completable`), `process/models.py:109-152`
  * (transform-transition validation)).
  *
  * In the reference these are predicates over live PostgreSQL state,
  * polled by RabbitMQ workers; in a Spark engine the control plane is a
  * SMALL driver-side value (thousands of collections, not 100 TB), so it is
  * modeled as an immutable [[Control.Plane]] with pure transition
  * functions — trivially unit-testable, serializable into a control table,
  * and safe to re-evaluate idempotently after every batch/micro-batch.
  * Optimistic locking (`compiler.py:59-62`, `finisher.py:111-113`)
  * becomes compare-and-set on the immutable value: the transition returns
  * None when the guard no longer holds.
  */
object Control {

  object Transform {
    val CompileReleases = "compile-releases"
    val Upgrade1011 = "upgrade-1-0-to-1-1"
  }

  object StepName { // processing_step names (`process/models.py:232-235`)
    val Load = "LOAD"
    val Compile = "COMPILE"
    val Check = "CHECK"
  }

  object Format { // data_type formats the gates branch on
    val ReleasePackage = "release package"
    val RecordPackage = "record package"
  }

  /** One collection's control row (`process/models.py:30-102`). */
  final case class Collection(
      id: Long,
      sourceId: String,
      dataVersion: String,
      parent: Option[Long] = None,
      transformType: Option[String] = None,
      steps: Set[String] = Set.empty, // planned: {upgrade, compile, check, line_dedup, dsir_score, corpus_manifest, corpus_stats, media_fingerprint}
      dataTypeFormat: Option[String] = None,
      storeEndAt: Option[String] = None,
      completedAt: Option[String] = None,
      expectedFilesCount: Option[Int] = None,
      compilationStarted: Boolean = false,
      compilationEnqueued: Boolean = false,
      deletedAt: Option[String] = None,
      sample: Boolean = false, // the files are a sample from the source (load --sample)
      cachedReleasesCount: Option[Long] = None,
      cachedRecordsCount: Option[Long] = None,
      cachedCompiledReleasesCount: Option[Long] = None)

  /** One collection_file control row (`process/models.py:206-228`). */
  final case class CollectionFile(
      collectionId: Long, filename: String, compilationStarted: Boolean = false)

  /** One in-flight processing step (`process/models.py:229-254`). */
  final case class Step(name: String, collectionId: Long, filename: Option[String] = None)

  /** An append-only file-registry event — the unit [[PlaneStore]] journals.
    * The registry only ever grows ([[FileEvent.Reg]]) or flips a file's
    * compilation flag once ([[FileEvent.Comp]]); nothing removes file rows
    * (a deleted collection keeps them behind `deletedAt`), which is what
    * makes an append-log the registry's exact persistent form. */
  sealed trait FileEvent { def collectionId: Long; def filename: String }
  object FileEvent {
    final case class Reg(collectionId: Long, filename: String) extends FileEvent
    final case class Comp(collectionId: Long, filename: String) extends FileEvent
  }

  /** The whole control plane.
    *
    * `files` is the file registry indexed by collection — per collection an
    * INSERTION-ORDERED filename → compilation_started map, so registering a
    * file is O(1) instead of a Seq scan (a million-file collection made the
    * old `exists` per registration quadratic). `pendingFileEvents` is the
    * transient journal of registry changes not yet persisted: mutators
    * append to it and [[PlaneStore.save]] drains it to the on-disk append
    * log, so a save serializes O(collections + steps + delta), never the
    * whole registry. */
  final case class Plane(
      collections: Map[Long, Collection],
      files: Map[Long, scala.collection.immutable.VectorMap[String, Boolean]] = Map.empty,
      steps: Seq[Step] = Seq.empty,
      pendingFileEvents: Vector[FileEvent] = Vector.empty) {

    def collection(id: Long): Collection = collections(id)

    def filesOf(id: Long): Seq[CollectionFile] =
      files.getOrElse(id, scala.collection.immutable.VectorMap.empty[String, Boolean])
        .iterator.map { case (f, started) => CollectionFile(id, f, started) }.toSeq

    /** The registered files of `id` as [[pathKey]]s, the identity replay
      * dedup compares arriving paths against. */
    def fileKeys(id: Long): Set[String] =
      files.get(id).map(_.keysIterator.map(pathKey).toSet).getOrElse(Set.empty)

    /** Registered-file count for `id` — O(1). */
    def fileCount(id: Long): Int = files.get(id).map(_.size).getOrElse(0)

    /** True when `id` has a registered file whose per-file compile has not
      * run yet (the record-package completable gate). */
    def anyFileUncompiled(id: Long): Boolean =
      files.get(id).exists(_.valuesIterator.contains(false))

    def stepsOf(id: Long): Seq[Step] = steps.filter(_.collectionId == id)

    /** `get_root_parent` (`process/models.py:172-178`). */
    def rootParent(c: Collection): Collection =
      c.parent.map(p => rootParent(collections(p))).getOrElse(c)

    /** The compile-releases child, if any (`get_compiled_collection`). */
    def compiledChild(c: Collection): Option[Collection] =
      collections.values.find(k =>
        k.parent.contains(c.id) && k.transformType.contains(Transform.CompileReleases))

    /** The 1.0→1.1 upgrade child of `parentId`, if any
      * (`get_upgraded_collection`). */
    def upgradedChild(parentId: Long): Option[Collection] =
      collections.values.find(k =>
        k.parent.contains(parentId) && k.transformType.contains(Transform.Upgrade1011))

    /** The collection whose compile step the tree rooted at `rootId`
      * plans: the upgraded child when there is one, else the root. */
    def compileBase(rootId: Long): Collection =
      upgradedChild(rootId).getOrElse(collection(rootId))

    /** Depth-first ids of `root` and every collection derived from it —
      * the tree the read endpoints and wipes operate over. */
    def treeIds(root: Long): Seq[Long] = {
      val children = collections.values
        .filter(_.parent.contains(root)).map(_.id).toSeq.sorted
      root +: children.flatMap(treeIds)
    }
  }

  /** Scheme-insensitive file identity: "file:/x/a.json" (the binaryFile
    * source's form) and "/x/a.json" (the CLI and batch form) are the same
    * file. */
  def pathKey(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The collection tree a load or an API create builds
    * (`loader.py:79-102`): the root at `rootId`, the upgraded child when
    * `upgrade`, and the compiled child when `compile`, parented to the
    * upgraded child when there is one. Steps are opt-in (`load.py:34`): the
    * root plans `check` when asked, plus `upgrade`, else `compile`, because
    * an upgrading tree compiles on its upgraded child. `extraRootSteps` are
    * this engine's own root steps (`line_dedup`, `dsir_score`, …). Each
    * collection is validated like `clean_fields` (V2) against `plane` as it
    * grows; Left holds the errors, including an id that is already taken. */
  def newTree(
      plane: Plane, rootId: Long, sourceId: String, dataVersion: String,
      upgrade: Boolean, compile: Boolean, check: Boolean,
      extraRootSteps: Set[String] = Set.empty,
      sample: Boolean = false): Either[Seq[String], Plane] = {
    val root = Collection(rootId, sourceId, dataVersion, sample = sample,
      steps = extraRootSteps ++ (if (check) Set("check") else Set.empty) ++
        (if (upgrade) Set("upgrade") else if (compile) Set("compile") else Set.empty))
    val upgraded = Option.when(upgrade)(Collection(
      rootId + 1, sourceId, dataVersion, parent = Some(rootId),
      transformType = Some(Transform.Upgrade1011), sample = sample,
      steps = if (compile) Set("compile") else Set.empty))
    val compiled = Option.when(compile)(Collection(
      rootId + 1 + upgraded.size, sourceId, dataVersion,
      parent = Some(upgraded.getOrElse(root).id),
      transformType = Some(Transform.CompileReleases), sample = sample))
    (root +: (upgraded.toSeq ++ compiled)).foldLeft[Either[Seq[String], Plane]](Right(plane)) {
      case (Right(p), c) =>
        val errs = (if (p.collections.contains(c.id)) Seq(s"collection ${c.id} already exists")
          else Nil) ++ validateNew(p, c)
        if (errs.nonEmpty) Left(errs)
        else Right(p.copy(collections = p.collections.updated(c.id, c)))
      case (left, _) => left
    }
  }

  /** `_collection_is_empty` (`compiler.py:184-191`): a closed-empty
    * collection (expected_files_count == 0) is trivially compilable. */
  private def isEmpty(p: Plane, c: Collection): Boolean = {
    val empty = c.expectedFilesCount.contains(0)
    if (empty)
      require(p.fileCount(c.id) == 0, s"empty collection ${c.id} has files")
    empty
  }

  /** T4: can compilation start? (`compilable`, `compiler.py:128-181`). */
  def compilable(p: Plane, c: Collection): Boolean = {
    // 1. should compilation occur at all?
    if (!c.steps.contains("compile")) return false
    // 2. can it occur?
    if (isEmpty(p, c)) return true
    if (c.dataTypeFormat.isEmpty) return false // closed before any file seen
    // records compile per-file immediately, without waiting for full load
    if (c.dataTypeFormat.contains(Format.RecordPackage)) return true
    if (c.storeEndAt.isEmpty) return false
    // 3. has it already started? (cheap checks first, `compiler.py:155`)
    if (p.compiledChild(c).exists(_.compilationStarted)) return false
    if (p.stepsOf(p.rootParent(c).id).exists(_.name == StepName.Load)) return false
    // release packages: every announced file must have arrived
    !c.expectedFilesCount.exists(_ > p.fileCount(c.id))
  }

  /** T3: is the collection done? (`completable`, `finisher.py:116-176`). */
  def completable(p: Plane, c: Collection): Boolean = {
    if (c.completedAt.nonEmpty) return false
    if (c.transformType.contains(Transform.CompileReleases)) {
      // compile steps are created after compilation_started flips; without
      // this check "no steps remaining" below would false-positive
      if (!c.compilationStarted) return false
      // a parent missing from the plane (partial control table, parent
      // already wiped) gates false — never throws, the CAS contract of
      // complete() depends on it
      val parent = c.parent.flatMap(p.collections.get).getOrElse(return false)
      if (parent.storeEndAt.isEmpty) return false
      parent.dataTypeFormat match {
        case Some(Format.RecordPackage) =>
          // a COMPILE step is created per file, as each is processed
          if (p.anyFileUncompiled(parent.id)) return false
        case Some(Format.ReleasePackage) =>
          // all COMPILE steps are created at once; this flag marks that done
          if (!c.compilationEnqueued) return false
        case _ => ()
      }
    } else if (c.storeEndAt.isEmpty) return false
    if (p.stepsOf(c.id).nonEmpty) return false
    !c.expectedFilesCount.exists(e => e > 0 && e > p.fileCount(c.id))
  }

  /** T5: optimistic "run compile exactly once"
    * (`filter(pk, compilation_started=False).update(True)`,
    * `compiler.py:59-62`): None when another worker already took it. */
  def startCompilation(p: Plane, id: Long): Option[Plane] = {
    val c = p.collections(id)
    if (c.compilationStarted) None
    else Some(p.copy(collections = p.collections.updated(id, c.copy(compilationStarted = true))))
  }

  /** T3 finalize: set completed_at + cached counts under the optimistic
    * `completed_at IS NULL` guard (`finisher.py:111-113`, counts
    * `finisher.py:100-108`). */
  def complete(
      p: Plane, id: Long, now: String,
      releases: Long, records: Long, compiledReleases: Long): Option[Plane] = {
    val c = p.collections(id)
    if (c.completedAt.nonEmpty || !completable(p, c)) None
    else Some(p.copy(collections = p.collections.updated(id, c.copy(
      completedAt = Some(now),
      cachedReleasesCount = Some(releases),
      cachedRecordsCount = Some(records),
      cachedCompiledReleasesCount = Some(compiledReleases)))))
  }

  /** S6: register an externally-announced file (the API loader,
    * `api_loader.py:28-50`): unknown or deleted collections ack-and-skip;
    * a replayed announcement is idempotent (the at-least-once dedup, T1);
    * otherwise the file row + its LOAD step are recorded together (the
    * reference's `create_collection_file` transaction). */
  def registerFile(p: Plane, collectionId: Long, filename: String): Plane =
    p.collections.get(collectionId) match {
      case None => p // unknown collection: ack and skip
      case Some(c) if c.deletedAt.nonEmpty => p // deleted: ack and skip
      case Some(_) =>
        val of = p.files.getOrElse(
          collectionId, scala.collection.immutable.VectorMap.empty[String, Boolean])
        if (of.contains(filename)) p // duplicate message
        else p.copy(
          files = p.files.updated(collectionId, of.updated(filename, false)),
          steps = p.steps :+ Step(StepName.Load, collectionId, Some(filename)),
          pendingFileEvents =
            p.pendingFileEvents :+ FileEvent.Reg(collectionId, filename))
    }

  /** The compiler's per-file compile tracking for record packages
    * (`compiler.py:186-189`): once a file's records have had their COMPILE
    * work performed, `collection_file.compilation_started` flips — the flag
    * [[completable]] requires on every file of a record-package parent.
    * Idempotent (a replayed flip is a no-op). */
  def markFileCompiled(p: Plane, collectionId: Long, filename: String): Plane =
    p.files.get(collectionId) match {
      case Some(of) if of.get(filename).contains(false) => p.copy(
        files = p.files.updated(collectionId, of.updated(filename, true)),
        pendingFileEvents =
          p.pendingFileEvents :+ FileEvent.Comp(collectionId, filename))
      case _ => p // unknown file, or flag already flipped: no-op
    }

  /** T2: delete a finished processing step — the reference removes the
    * step row in the same transaction as the work it tracks
    * (`deleting_step`, `process/util.py:123-153`). */
  def completeStep(
      p: Plane, collectionId: Long, name: String, filename: Option[String]): Plane =
    p.copy(steps = p.steps.filterNot(s =>
      s.collectionId == collectionId && s.name == name && s.filename == filename))

  /** Close a collection: record how many files to expect and that loading
    * has ended — the latch the compile/completion gates wait on (the
    * close_collection endpoint, `process/views.py:111-147`). */
  def closeCollection(p: Plane, id: Long, now: String, expectedFiles: Int): Plane = {
    val c = p.collections(id)
    p.copy(collections = p.collections.updated(id, c.copy(
      storeEndAt = Some(now), expectedFilesCount = Some(expectedFiles))))
  }

  /** Close a root and its upgraded child together: the upgraded child's
    * compile gate waits on the same close (`closecollection.py`). */
  def closeTree(p: Plane, rootId: Long, now: String, expectedFiles: Int): Plane =
    (rootId +: p.upgradedChild(rootId).map(_.id).toSeq)
      .foldLeft(p)(closeCollection(_, _, now, expectedFiles))

  /** S11: logical delete/cancel — workers then ack-and-skip
    * (`cancelcollection.py:23-26`). */
  def cancel(p: Plane, id: Long, now: String): Plane = {
    val c = p.collections(id)
    p.copy(collections = p.collections.updated(id, c.copy(deletedAt = Some(now))))
  }

  /** V2: transform-transition validation for a NEW collection
    * (`process/models.py:109-152` `clean_fields`). Returns the error codes
    * the reference raises, empty when valid. */
  def validateNew(p: Plane, c: Collection): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (c.parent.nonEmpty ^ c.transformType.nonEmpty) errs += "field_unpaired"
    c.parent.flatMap(p.collections.get).foreach { parent =>
      if (parent.deletedAt.nonEmpty) errs += "parent_deleted"
      if (c.transformType.nonEmpty && c.transformType == parent.transformType)
        errs += "transform_duplicate_transition"
      if (c.transformType.contains(Transform.Upgrade1011) &&
          parent.transformType.contains(Transform.CompileReleases))
        errs += "transform_invalid_transition"
      if (p.collections.values.exists(k =>
          k.id != c.id && k.parent.contains(parent.id) && k.transformType == c.transformType))
        errs += "transform_duplicated"
    }
    errs.result()
  }
}
