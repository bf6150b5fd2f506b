package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Persistence layout (SURVEY.md §2 S7, §1.4's 100 TB layout; reference
  * `file_worker.py:322-386` bulk_create + `core/settings.py:262-263`
  * batch size).
  *
  * Lake layout:
  *  - fact tables partitioned by `collection_id` — collection wipes become
  *    partition drops (S9) and every per-collection job prunes at the scan;
  *  - rows hash-clustered by `ocid` within each collection partition
  *    (repartition before write), so the compile job's shuffle reads
  *    ocid-clustered files; on a warehouse with bucketed tables this
  *    becomes `bucketBy(ocid)` and the compile shuffle disappears;
  *  - the content-addressed store partitioned by the first hex character
  *    of `hash_md5` (16 buckets), so inserts spread uniformly while each
  *    batch's write opens at most 16 files (see [[writeDedupStore]]).
  *
  * Each pipeline table has a declared schema ([[TableSchemas]]), so its
  * reads list files but open no parquet footer, and the pipeline's counts
  * come from the writes themselves ([[observedWrite]]): a stage runs the
  * jobs its writes need and no eager probe or count beside them.
  *
  * The serving copy mirrors the reference's PostgreSQL sink over JDBC with
  * its batch size of 1000 (`settings.py:262-263`); no database runs in this
  * harness, so that writer is contract-only.
  */
object Sink {

  /** The schema each pipeline lake table is read with, keyed by its
    * directory name under the lake: the writer's row type, then the Hive
    * partition columns typed as partition discovery types them (INT for
    * the directory values these tables hold). A read with a declared
    * schema skips schema inference, which costs one Spark job per read to
    * open a parquet footer. SinkSpec checks each schema against what Spark
    * infers from a table its writer has just written. */
  val TableSchemas: Map[String, StructType] = {
    def table(rowType: StructType, partitions: String*): StructType =
      StructType(rowType.fields.map(_.copy(nullable = true)) ++
        partitions.map(StructField(_, IntegerType)))
    val compiled = StructType(Encoders.product[graft.ocds.Compile.CompiledSummary].schema.fields :+
      StructField("filename", StringType))
    val note = StructType(
      Encoders.product[graft.control.Notes.Note].schema.filterNot(_.name == "collection_id"))
    val check = Encoders.product[graft.check.Checker.CheckRow].schema
    Map(
      "release" -> table(Encoders.product[Ingest.ItemRow].schema, "collection_id"),
      "record" -> table(Encoders.product[Ingest.RecordRow].schema, "collection_id"),
      "compiled_release" -> table(compiled, "collection_id"),
      "package_data" -> table(Encoders.product[Ingest.PackageRow].schema, "collection_id"),
      "collection_note" -> table(note, "collection_id"),
      "release_check" -> table(check, "collection_id", "check_bucket"),
      "record_check" -> table(check, "collection_id", "check_bucket"))
  }

  /** The content store's schema ([[writeDedupStore]]). Its `hash_bucket`
    * partition holds hex digits, so it is a STRING, which is not always
    * what partition discovery infers: a store whose rows all fall in
    * digit buckets infers INT. It stays out of [[TableSchemas]], whose
    * schemas SinkSpec checks against inference. */
  val DedupStoreSchema: StructType =
    StructType(Seq("hash_md5", "data", "hash_bucket").map(StructField(_, StringType)))

  /** The declared schema of the table at `path`, by its directory name.
    * A table holding a collection id beyond INT gets a BIGINT
    * `collection_id`, as partition discovery would type it; an INT
    * schema would fail the read. */
  private def declaredSchema(path: String): Option[StructType] = {
    val dir = new java.io.File(path)
    TableSchemas.get(dir.getName).map { schema =>
      val ids = Option(dir.list()).toSeq.flatten.filter(_.startsWith("collection_id="))
      if (ids.forall(_.stripPrefix("collection_id=").toIntOption.isDefined)) schema
      else StructType(schema.map(f =>
        if (f.name == "collection_id") f.copy(dataType = LongType) else f))
    }
  }

  /** Runs `write` over `rows` and returns `metrics`, aggregate columns
    * such as `count(lit(1))`, over exactly the rows that write consumed.
    * They come from the write's own job through an [[Observation]], not
    * from a second action: a count taken beside a write costs a job, and
    * taken after an append to a table the plan reads (an anti-join
    * against the same table), it re-evaluates against the appended state.
    * A metric Spark does not report reads 0. An aggregate over zero rows
    * reports null (a sum), and when adaptive execution proves the observed
    * plan empty (an anti-join that drops every row) it removes the
    * observation with the plan and the metrics map comes back empty. */
  def observedWrite(rows: DataFrame, metrics: Column*)(write: DataFrame => Unit): Seq[Long] = {
    val obs = Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    write(rows.observe(obs, named.head, named.tail: _*))
    val got = obs.get
    named.indices.map(i => got.get(s"m$i") match {
      case Some(n: Number) => n.longValue
      case _ => 0L
    })
  }

  /** [[observedWrite]] with one metric: the number of rows written. */
  def countedWrite(rows: DataFrame)(write: DataFrame => Unit): Long =
    observedWrite(rows, count(lit(1)))(write).head

  /** S7: append fact rows into the partitioned lake layout. */
  def writeFacts(facts: DataFrame, path: String, mode: String = "append"): Unit =
    facts
      .repartition(col("collection_id"), col("ocid"))
      .write
      .partitionBy("collection_id")
      .mode(mode)
      .parquet(path)

  /** S7/T5: idempotent per-collection write — DYNAMIC partition overwrite
    * replaces exactly the collection partitions present in `facts`,
    * leaving every other collection untouched. The write a retryable job
    * (the batch compile) uses so a replay after a mid-write crash lands
    * clean instead of appending duplicates. */
  def overwriteCollectionPartitions(facts: DataFrame, path: String): Unit =
    facts
      .repartition(col("collection_id"))
      .write
      .partitionBy("collection_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Atomically replace the `collection_id=id` partition directory of
    * `path` with `rows` (which must contain only that collection's rows;
    * the partition column is dropped — the directory name carries it, as
    * in every partitionBy write). The new content lands in an
    * underscore-prefixed temp dir inside the table (invisible to Spark
    * readers, guaranteed same filesystem), then swaps in via two directory
    * renames — a reader sees the old or the new partition, never a
    * half-written one, and a writer crash leaves the original intact plus
    * invisible debris that the next call sweeps (ADVICE r7: the previous
    * cache-and-dynamic-overwrite-in-place silently dropped rows if a
    * cached block was lost mid-write, because recomputation re-read the
    * already-truncated table).
    *
    * `rows` MAY be a plan reading the very partition being replaced — the
    * write consumes the OLD directory and the swap happens after, so the
    * read-own-write hazard (and the persist it forced) is gone. Zero rows
    * drop the partition (matching dynamic overwrite, which cannot write an
    * empty one). Returns the new partition's row count, counted by the
    * write.
    *
    * On an object store a production deployment would swap a manifest
    * instead of renaming directories; the two-rename shape is the same
    * commit protocol. */
  def swapCollectionPartition(
      path: String, collectionId: Long, rows: DataFrame,
      // inner Hive partition columns to PRESERVE through the rewrite
      // (the check tables' check_bucket) — a flat rewrite of one
      // collection would conflict with the other collections' nested
      // directory structure on the next whole-table read
      innerPartition: Seq[String] = Nil): Long = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    val partDir = table.resolve(s"collection_id=$collectionId")
    val tmpDir = table.resolve(s"_swap_tmp_collection_id=$collectionId")
    val oldDir = table.resolve(s"_swap_old_collection_id=$collectionId")
    // Recovery runs here as a backstop, but callers whose `rows` plan READS
    // this table must call recoverSwapDebris BEFORE building that plan:
    // Spark snapshots the file listing at read time (underscore dirs
    // excluded), so a plan built over pre-recovery listing misses the
    // restored rows — and if partDir itself was the debris, reads an empty
    // partition and the rewrite deletes the only copy (ADVICE r8).
    recoverSwapDebris(path, collectionId)
    val n = countedWrite(rows.drop("collection_id")) { df =>
      val writer = df.write.mode("overwrite")
      (if (innerPartition.nonEmpty) writer.partitionBy(innerPartition: _*) else writer)
        .parquet(tmpDir.toString)
    }
    if (n == 0) deleteDir(tmpDir) // empty partition = dropped partition
    if (JF.exists(partDir)) JF.move(partDir, oldDir)
    if (n > 0) JF.move(tmpDir, partDir)
    deleteDir(oldDir)
    n
  }

  /** Restore debris left by a [[swapCollectionPartition]] that crashed
    * mid-swap, BEFORE any plan is built over the table's file listing.
    * Disambiguated by which debris survives the crash:
    *  - oldDir AND tmpDir: the swap died between its two renames (tmp was
    *    never promoted). The partition may ALREADY have been recreated by
    *    a later append (a stream batch landing before the next swap ran)
    *    — then a wholesale restore is wrong and a plain sweep would
    *    silently delete the retired rows' only copy; instead fold the
    *    retired files back into the live partition (part-file names are
    *    job-unique, so file-level moves cannot collide). The crashed
    *    swap's tmp content is abandoned either way — its source rows are
    *    back in the partition and the caller's rewrite runs again.
    *  - oldDir alone: the swap died after promoting the new partition but
    *    before its final sweep — the retired copy is stale; sweep it.
    * Idempotent; a no-op on a clean table. MUST be invoked by every caller
    * that constructs a rewrite plan reading this table (compaction, purge)
    * before that plan's first read — Spark's eager file-listing snapshot
    * will not see files this call moves back afterwards. */
  def recoverSwapDebris(path: String, collectionId: Long): Unit = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    val partDir = table.resolve(s"collection_id=$collectionId")
    val tmpDir = table.resolve(s"_swap_tmp_collection_id=$collectionId")
    val oldDir = table.resolve(s"_swap_old_collection_id=$collectionId")
    if (JF.exists(oldDir) && JF.exists(tmpDir) && JF.exists(partDir)) {
      import scala.jdk.CollectionConverters._
      val stream = JF.list(oldDir)
      try stream.iterator.asScala.toSeq.foreach { f =>
        mergeMove(f, partDir.resolve(f.getFileName.toString))
      } finally stream.close()
    } else if (JF.exists(oldDir) && !JF.exists(partDir)) JF.move(oldDir, partDir)
    deleteDir(tmpDir)
    deleteDir(oldDir)
  }

  /** Fold `src` into `dest`, surviving nested Hive partition dirs (the
    * check tables' collection_id=N/check_bucket=M layout): colliding
    * DIRECTORIES merge recursively; colliding FILES delete the source —
    * part-file names are job-unique, so a file collision can only be a
    * _SUCCESS-style marker. Flat tables behave exactly as before. */
  private def mergeMove(src: java.nio.file.Path, dest: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => JF}
    if (!JF.exists(dest)) { JF.move(src, dest); return }
    if (JF.isDirectory(src) && JF.isDirectory(dest)) {
      import scala.jdk.CollectionConverters._
      val stream = JF.list(src)
      try stream.iterator.asScala.toSeq.foreach { c =>
        mergeMove(c, dest.resolve(c.getFileName.toString))
      } finally stream.close()
      JF.delete(src)
    } else JF.delete(src)
  }

  /** Crash-safe replacement of the whole directory `path`: `write` gets a
    * sibling directory to fill, and what it leaves there replaces `path`.
    * A write that leaves nothing changes nothing. Used by the store
    * compactions ([[compactTable]]), `PostingsStore.rebuild` and
    * `Cli deleteorphan`. Returns what `write` returns.
    *
    * Commit protocol, all renames on the same filesystem:
    *   write → `<path>_compact_tmp` (invisible to readers) →
    *   rename tmp → `_compact_ready` (the completeness marker) →
    *   rename `path` → `_compact_old` → rename ready → `path` →
    *   sweep old.
    * A crash anywhere heals at the next call, before `write` runs: a tmp
    * is an incomplete write and is deleted; a ready directory beside a
    * live `path` is stale and is deleted (the write reruns); a ready
    * directory with `path` absent died between the two live renames and
    * is promoted; an old directory beside a live `path` is swept. Readers
    * see the old directory or the new one; the absence window is the one
    * rename pair, as in [[swapCollectionPartition]]. The `_compact_`
    * names are those of the store compaction this protocol came from, so
    * its crash debris in existing lakes still heals. */
  def replaceDir[T](path: String)(write: String => T): T = {
    import java.nio.file.{Files => JF, Paths => JP}
    val target = JP.get(path)
    val tmp = JP.get(path + "_compact_tmp")
    val ready = JP.get(path + "_compact_ready")
    val old = JP.get(path + "_compact_old")
    deleteDir(tmp)
    if (JF.exists(ready)) {
      if (JF.exists(target)) deleteDir(ready)
      else JF.move(ready, target)
    }
    if (JF.exists(old)) {
      if (JF.exists(target)) deleteDir(old)
      else JF.move(old, target)
    }
    val out = write(tmp.toString)
    if (JF.exists(tmp)) {
      JF.move(tmp, ready)
      if (JF.exists(target)) JF.move(target, old)
      JF.move(ready, target)
      deleteDir(old)
    }
    out
  }

  /** Small-file and duplicate-row maintenance for an append-per-batch
    * store table (the line registry, postings, vector and fingerprint
    * stores): every micro-batch appends up to one file per touched
    * bucket, and the at-least-once replay window can leave exact
    * duplicate rows. Rewrites the table distinct, one file per `bucketCol`
    * partition, through [[replaceDir]]. MUST only run against a
    * terminated stream: the rewrite reads a snapshot and replaces the
    * whole directory, so a batch appended meanwhile is lost. Returns the
    * retained row count, 0 for an absent table. */
  def compactTable(spark: SparkSession, path: String, bucketCol: String): Long =
    replaceDir(path) { tmp =>
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path))) 0L
      else countedWrite(spark.read.parquet(path).distinct().repartition(col(bucketCol))) {
        _.write.mode("overwrite").partitionBy(bucketCol).parquet(tmp)
      }
    }

  /** Deletes `dir` and everything under it; a no-op when it is absent. */
  private[graft] def deleteDir(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }

  /** Lake maintenance: rewrite ONE collection's partition of `path` into
    * freshly clustered files — the small-files compaction every
    * append-per-batch lake needs (each keep-open `addfiles` batch lands
    * its own files; hundreds of batches fragment the partition the
    * compile/scan jobs read). Fact tables keep their ocid clustering;
    * small per-collection tables coalesce to the single file
    * [[writeByCollection]] would have produced. The rewrite goes through
    * [[swapCollectionPartition]] — readers never see a half-compacted
    * partition, and a crashed compaction leaves the original whole. */
  def compactCollection(
      spark: SparkSession, path: String, collectionId: Long,
      clusterByOcid: Boolean,
      // preserved inner Hive partitions (check tables: check_bucket)
      innerPartition: Seq[String] = Nil): Long = {
    recoverSwapDebris(path, collectionId) // BEFORE the listing snapshot below
    val part = spark.read.parquet(path)
      .filter(col("collection_id") === collectionId)
    val clustered =
      if (clusterByOcid) part.repartition(col("ocid"))
      else if (innerPartition.nonEmpty) part.repartition(innerPartition.map(col): _*)
      else part.repartition(1)
    swapCollectionPartition(path, collectionId, clustered, innerPartition)
  }

  /** Read back with partition pruning available on `collection_id`; a
    * pipeline table reads with its declared schema ([[TableSchemas]]). */
  def readFacts(spark: SparkSession, path: String): DataFrame =
    declaredSchema(path).fold(spark.read)(spark.read.schema).parquet(path)

  /** None for a missing OR fully-wiped table (a directory whose partitions
    * were all dropped holds no data file) — the read guard every optional
    * lake table goes through. A pipeline table reads with its declared
    * schema and is judged by its listing (`inputFiles` runs no job); any
    * other error, such as a truncated part file or a denied directory,
    * surfaces, where turning it into None would make the caller treat a
    * damaged table as an absent one. A table without a declared schema
    * infers one from its footers, and a failed inference reads as None.
    *
    * `merge = true` unions the schema across ALL footers instead of
    * sampling one — required for stores whose layout gained columns
    * across appends (the vector store's znorm/sq8 markers): without it,
    * which columns are visible depends on which footer Spark samples, so
    * a mixed-era store would nondeterministically toggle the marker
    * filters (ADVICE r19). Footer-only cost, paid per read, only on the
    * stores that evolve. */
  def readOrEmpty(
      spark: SparkSession, path: String, merge: Boolean = false): Option[DataFrame] =
    if (!new java.io.File(path).exists()) None
    else declaredSchema(path) match {
      case Some(schema) =>
        Some(spark.read.schema(schema).parquet(path)).filter(_.inputFiles.nonEmpty)
      case None => scala.util.Try(
        if (merge) spark.read.option("mergeSchema", "true").parquet(path)
        else spark.read.parquet(path)).toOption
    }

  /** S8 store: content-addressed rows, partitioned by the first hex
    * character of `hash_md5`. No reader prunes on `hash_bucket`; the
    * domain only bounds the files one append opens. A batch's write is
    * small enough that adaptive execution coalesces it into ONE task,
    * which opens one parquet file per bucket it touches at roughly 15 ms
    * each on a 4-core host — so the 16-way domain costs about 0.25 s per
    * batch, and a two-character prefix (256 buckets) would cost about
    * 4 s. 16 is one hex digit, and it keeps the table's directory listing
    * under Spark's 32-path threshold for a distributed listing job.
    *
    * Appends do not anti-join against the stored hashes (a per-batch
    * store scan), so the same content loaded twice lands twice; readers
    * get one row per hash from [[readDedupStore]]. */
  def writeDedupStore(data: DataFrame, path: String, mode: String = "append"): Unit =
    data
      .withColumn("hash_bucket", substring(col("hash_md5"), 1, 1))
      .repartition(col("hash_bucket"))
      .write
      .partitionBy("hash_bucket")
      .mode(mode)
      .parquet(path)

  /** The store as one row per content hash, however many appends wrote
    * that hash (the readers-distinct idiom of the corpus engines). It
    * reads with the declared [[DedupStoreSchema]]: no footer job, and a
    * store left with no data file (an orphan sweep that removed every
    * row) reads as empty instead of failing schema inference. */
  def readDedupStore(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DedupStoreSchema).parquet(path).dropDuplicates("hash_md5")

  /** Sink for small per-collection tables (collection_note, package_data):
    * same collection_id partitioning as the fact tables (wipes stay
    * partition drops) but no ocid clustering — one coalesced file per
    * collection instead of one per shuffle partition. */
  def writeByCollection(rows: DataFrame, path: String, mode: String = "append"): Unit =
    rows
      .repartition(col("collection_id"))
      .write
      .partitionBy("collection_id")
      .mode(mode)
      .parquet(path)

  /** Bucket count for the check tables' id-pruning partitions. A batch's
    * check write runs as one coalesced task that opens one file per
    * touched bucket (about 15 ms each on a 4-core host), and a batch of a
    * few thousand items touches every bucket, so the domain is a fixed
    * per-batch cost: 16 files, about 0.25 s. 16 divides the 64 buckets of older check tables, so
    * [[graft.Pipeline.checkedSlice]] prunes both layouts with one
    * `pmod(check_bucket, 16)` filter, and 16 directories per collection
    * stay under Spark's 32-path threshold for a distributed listing job. */
  val CheckBuckets = 16

  /** The check-table writer (release_check / record_check): like
    * [[writeByCollection]] — collection_id stays the OUTER partition, so
    * tree wipes remain O(directories) and per-collection reads prune —
    * plus an INNER `check_bucket = pmod(id, CheckBuckets)` partition, so
    * the streaming checker's per-batch idempotence anti-join reads only
    * the batch ids' buckets instead of the collection's whole check
    * history, which would otherwise grow with the stream's lifetime. One
    * narrow shuffle on the partition pair keeps per-batch file counts =
    * touched buckets. A lake whose check tables were written by the
    * pre-bucket (flat collection_id) layout needs a one-time rewrite: the
    * layouts cannot mix inside one table, and an append would corrupt
    * partition discovery for EVERY later read — so the writer FAILS FAST
    * on a detected flat layout instead of appending. */
  def writeChecks(rows: DataFrame, path: String, mode: String = "append"): Unit = {
    requireBucketedCheckLayout(path)
    rows
      .withColumn("check_bucket", pmod(col("id"), lit(CheckBuckets.toLong)))
      .repartition(col("collection_id"), col("check_bucket"))
      .write
      .partitionBy("collection_id", "check_bucket")
      .mode(mode)
      .parquet(path)
  }

  /** Refuse to append the bucketed layout into a pre-bucket flat check
    * table: a collection partition holding data FILES directly (instead
    * of check_bucket= subdirectories) is the old layout, and mixing the
    * two makes the whole table unreadable (conflicting directory
    * structures) on the next scan. */
  private def requireBucketedCheckLayout(path: String): Unit = {
    import java.nio.file.{Files => JF, Paths => JP}
    val table = JP.get(path)
    if (!JF.isDirectory(table)) return
    import scala.jdk.CollectionConverters._
    val colls = { val s = JF.list(table)
      try s.iterator.asScala.toSeq.filter(p =>
        JF.isDirectory(p) && p.getFileName.toString.startsWith("collection_id="))
      finally s.close() }
    val flat = colls.find { c =>
      val s = JF.list(c)
      try s.iterator.asScala.exists(f =>
        JF.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    flat.foreach { c =>
      throw new IllegalStateException(
        s"$path holds the pre-bucket flat check layout (${c.getFileName} has " +
          "bare part files); rewrite the table once (read -> writeChecks to a " +
          "fresh directory) before appending bucketed checks")
    }
  }

  /** S7 at warehouse scale: the fact table BUCKETED by ocid — written once
    * into the session catalog, after which every compile reads it with
    * zero exchanges (`Compile.summariesCoLocated`): the bucketed scan's
    * HashPartitioning(ocid) satisfies the compile's clustered-distribution
    * requirement, replacing the per-job shuffle entirely. */
  def writeFactsBucketed(
      facts: DataFrame, table: String, buckets: Int = 256, mode: String = "overwrite"): Unit =
    facts.write
      .mode(mode)
      .bucketBy(buckets, "ocid")
      .format("parquet")
      .saveAsTable(table)

  /** Training-shard writer — materializes a sharded layout frame
    * (`TextQueries.shuffleExportOf(docs, n, payloadCols)` — (shard, seq,
    * ...) rows — or `mixEpochExportOf`'s (shard, vtime, ...) epoch via
    * `orderCols`) as the files a training run actually reads: one
    * JSON-lines file per shard under `dir/shard=N/`, rows in `orderCols`
    * order. `orderCols` must be a TOTAL order within a shard (seq is; the
    * epoch's (vtime, source, doc_id, k) is) — a tie would make the
    * in-file order, and so the bytes, partitioning-dependent.
    *
    * Layout contract, pinned by SinkSpec:
    *  - exactly ONE file per shard: `repartition(col("shard"))` puts each
    *    shard wholly inside one task (several shards may share a task;
    *    the partitionBy writer still splits them into their own
    *    directories, each receiving its rows in the task's sorted order);
    *  - in-file order is (`orderCols` ascending — seq for the shuffle
    *    layout, the epoch's schedule key for --epoch exports) —
    *    `sortWithinPartitions` before the projection, which is narrow
    *    and order-preserving;
    *  - bytes are REPRODUCIBLE: content-stable layout + total in-shard
    *    order + deterministic JSON field order means two writes from
    *    differently-partitioned inputs produce byte-identical shard files
    *    (file NAMES carry task/attempt ids and differ — readers list the
    *    directory).
    * Parallelism == shard count, the export's own knob (a 100 TB export
    * uses O(10k) shards, so no writer task exceeds a shard's size). */
  def writeShards(
      laidOut: DataFrame, dir: String,
      orderCols: Seq[String] = Seq("seq")): Unit = {
    val payload = laidOut.columns.filterNot(_ == "shard")
    laidOut
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard") +: orderCols.map(col): _*)
      // ignoreNullFields=false: Spark's default DROPS null fields from
      // to_json, which would give the export a ragged schema — a doc with
      // null text would emit no "text" key at all and break readers that
      // index into it; null must serialize as an explicit JSON null
      .select(col("shard"),
        to_json(struct(payload.map(col).toIndexedSeq: _*),
          Map("ignoreNullFields" -> "false")).as("value"))
      .write.partitionBy("shard").mode("overwrite").text(dir)
  }

  /** The serving-copy writer (reference: PostgreSQL bulk_create in batches
    * of 1000). Contract-only here — no database in the harness. */
  def writeJdbc(df: DataFrame, url: String, table: String, batchSize: Int = 1000): Unit =
    df.write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .mode("append")
      .save()
}
