package graft.ingest

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.ocds.Compile

/** S7 round-trip: load → write the partitioned layout → read back pruned →
  * compile over the written layout, matching the direct compile. */
class SinkSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def facts = {
    import s.implicits._
    Seq(
      (1L, "ocds-a", "2020-01-01", "r1", """{"date":"2020-01-01","v":"old"}"""),
      (1L, "ocds-a", "2020-01-02", "r2", """{"date":"2020-01-02","v":"new"}"""),
      (1L, "ocds-b", "2020-01-03", "r3", """{"date":"2020-01-03","v":"only"}"""),
      (2L, "ocds-c", "2020-01-04", "r4", """{"date":"2020-01-04","v":"other"}""")
    ).toDF("collection_id", "ocid", "date", "tiebreak", "release")
  }

  test("writeFacts produces collection_id partitions; reads prune to one") {
    val dir = Files.createTempDirectory("graft-sink").toString
    Sink.writeFacts(facts, dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("collection_id=")).sorted
    assert(parts === Array("collection_id=1", "collection_id=2"))
    val pruned = Sink.readFacts(s, dir).filter(org.apache.spark.sql.functions.col("collection_id") === 1L)
    assert(pruned.count() === 3)
    // partition pruning visible in the physical plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("collection_id"))
  }

  test("compile over the written layout equals the direct compile") {
    import s.implicits._
    val dir = Files.createTempDirectory("graft-sink").toString
    Sink.writeFacts(facts, dir)
    val readBack = Sink.readFacts(s, dir)
      .filter(org.apache.spark.sql.functions.col("collection_id") === 1L)
      .select("ocid", "date", "tiebreak", "release")
    val fromLake = Compile.summaries(readBack, s).collect().sortBy(_.ocid)
    val direct = Compile.summaries(
      facts.filter($"collection_id" === 1L).select("ocid", "date", "tiebreak", "release"), s)
      .collect().sortBy(_.ocid)
    assert(fromLake.toSeq === direct.toSeq)
    assert(fromLake.map(_.ocid).toSeq === Seq("ocds-a", "ocds-b"))
  }

  test("dedup store partitions by hash prefix and supports the anti-join") {
    import s.implicits._
    val dir = Files.createTempDirectory("graft-store").toString
    val data = Seq(
      ("aa11", "{\"x\":1}"), ("ab22", "{\"x\":2}"), ("aa33", "{\"x\":3}"),
      ("b044", "{\"x\":4}")
    ).toDF("hash_md5", "data")
    Sink.writeDedupStore(data, dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("hash_bucket=")).sorted
    assert(parts === Array("hash_bucket=a", "hash_bucket=b"))
    val incoming = Seq(("aa11", "dup"), ("cc44", "new")).toDF("hash_md5", "data")
    val fresh = Ingest.dedupData(incoming, Some(Sink.readDedupStore(s, dir)))
    assert(fresh.select("hash_md5").as[String].collect().toSeq === Seq("cc44"))
  }

  private def parquetFiles(dir: String): Int = {
    val stream = Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator.asScala.count(_.toString.endsWith(".parquet"))
    } finally stream.close()
  }

  // Each batch's write runs as one coalesced task that pays per output
  // file, so the hash-partitioned tables bound the files one batch opens.
  private val MaxFilesPerBatch = 16

  test("one dedup-store write opens at most 16 files, whatever the hashes") {
    import org.apache.spark.sql.functions.{col, md5}
    val dir = Files.createTempDirectory("graft-store-fanout").toString
    val data = s.range(2000)
      .select(md5(col("id").cast("string")).as("hash_md5"), col("id").cast("string").as("data"))
    Sink.writeDedupStore(data, dir)
    assert(Sink.readDedupStore(s, dir).count() === 2000L)
    val files = parquetFiles(dir)
    assert(files <= MaxFilesPerBatch, s"$files files for one batch")
  }

  test("one check write for one collection opens at most CheckBuckets files") {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val dir = Files.createTempDirectory("graft-checks-fanout").toString
    val rows = s.range(2000)
      .select(xxhash64(col("id")).as("id"), lit(true).as("ok"), lit(7L).as("collection_id"))
    Sink.writeChecks(rows, dir)
    val files = parquetFiles(dir)
    assert(files <= Sink.CheckBuckets && files <= MaxFilesPerBatch, s"$files files for one batch")
    assert(Sink.readFacts(s, dir).count() === 2000L)
  }

  test("a bucketed fact table compiles with ZERO exchanges; plain input still shuffles once") {
    import org.apache.spark.sql.functions.col
    s.sql("DROP TABLE IF EXISTS graft_bucketed_spec")
    Sink.writeFactsBucketed(
      facts.select("ocid", "date", "tiebreak", "release"), "graft_bucketed_spec", buckets = 2)
    val fromBucketed = Compile.summariesCoLocated(s.table("graft_bucketed_spec"), s)
    val bucketedPlan = fromBucketed.queryExecution.executedPlan.toString
    // the whole point: the bucketed scan's distribution satisfies the
    // group-by requirement, so NO shuffle anywhere in the compile
    assert(!bucketedPlan.contains("Exchange"), s"unexpected shuffle:\n$bucketedPlan")
    // …and on a plain (non-bucketed) frame the same code path lets
    // Catalyst insert the one ocid shuffle summaries() does explicitly
    val fromPlain = Compile.summariesCoLocated(facts, s)
    assert(fromPlain.queryExecution.executedPlan.toString.contains("Exchange"))
    // results identical to the explicit-repartition job on the same rows
    val expected = Compile.summaries(
      facts.select("ocid", "date", "tiebreak", "release"), s).collect().sortBy(_.ocid).toSeq
    assert(fromBucketed.collect().sortBy(_.ocid).toSeq === expected)
    assert(fromPlain.collect().sortBy(_.ocid).toSeq === expected)
    s.sql("DROP TABLE IF EXISTS graft_bucketed_spec")
  }

  test("compactCollection after a mid-swap crash keeps every row (recovery precedes the plan)") {
    import java.nio.file.{Files => JF, Paths => JP}
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-swapcrash").toString
    Sink.writeFacts(facts, dir)
    val before = Sink.readFacts(s, dir)
      .filter(col("collection_id") === 1L)
      .select("ocid", "tiebreak").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(before.length === 3)
    // simulate a swap that crashed BETWEEN its two renames: the live
    // partition was retired to _swap_old, the replacement still sits in
    // _swap_tmp, and collection_id=1 does not exist. Before the fix the
    // compaction built its read plan over this listing (which excludes
    // underscore dirs AND the missing partition), saw zero rows, and
    // deleted the restored partition — silent loss of collection 1.
    val table = JP.get(dir)
    val partDir = table.resolve("collection_id=1")
    JF.move(partDir, table.resolve("_swap_old_collection_id=1"))
    val tmp = table.resolve("_swap_tmp_collection_id=1")
    JF.createDirectories(tmp)
    JF.write(tmp.resolve("part-half-written.parquet"), Array[Byte](1, 2, 3))
    assert(!JF.exists(partDir))
    val n = Sink.compactCollection(s, dir, 1L, clusterByOcid = false)
    assert(n === 3L)
    val after = Sink.readFacts(s, dir)
      .filter(col("collection_id") === 1L)
      .select("ocid", "tiebreak").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(after.toSeq === before.toSeq)
    // debris swept; other collection untouched
    assert(new java.io.File(dir).list().count(_.startsWith("_swap")) === 0)
    assert(Sink.readFacts(s, dir).filter(col("collection_id") === 2L).count() === 1)
  }

  test("writeShards: one file per shard, seq order in-file, bytes reproducible") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    // doc 157 carries a NULL text: the export must keep the schema
    // rectangular (explicit JSON null, never a dropped key)
    val rows = (1L to 157L).map(i =>
      (i, s"s${i % 3}", if (i == 157L) null else s"text of $i"))
    def write(docs: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_shards")
      Sink.writeShards(
        graft.TextQueries.shuffleExportOf(docs, nShards = 4, payloadCols = Seq("text")),
        dir.toString)
      dir
    }
    // read back: per shard directory, the (sorted) part files' lines in order
    def readShards(dir: java.nio.file.Path): Map[Long, (Int, Seq[String])] =
      Files.list(dir).iterator.asScala
        .filter(p => p.getFileName.toString.startsWith("shard="))
        .map { shardDir =>
          val parts = Files.list(shardDir).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          val lines = parts.flatMap(p =>
            Files.readAllLines(p).asScala.toSeq)
          shardDir.getFileName.toString.stripPrefix("shard=").toLong ->
            (parts.size, lines.toSeq)
        }.toMap
    val a = readShards(write(rows.toDF("doc_id", "source", "text")))
    assert(a.keySet === Set(0L, 1L, 2L, 3L))
    // exactly one file per shard (the repartition-by-shard contract)
    a.values.foreach { case (nFiles, _) => assert(nFiles === 1) }
    // in-file order IS seq order, seqs contiguous from 1, payload present
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    a.foreach { case (shard, (_, lines)) =>
      val parsed = lines.map(mapper.readTree)
      assert(parsed.map(_.get("seq").asLong).toSeq ===
        (1L to lines.length.toLong), s"shard $shard")
      parsed.foreach { n =>
        assert(n.has("text"), s"text key dropped for doc ${n.get("doc_id")}")
        if (n.get("doc_id").asLong == 157L)
          assert(n.get("text").isNull, "null text must serialize as JSON null")
        else
          assert(n.get("text").asText === s"text of ${n.get("doc_id").asLong}")
      }
    }
    // the whole export is a permutation of the corpus
    assert(a.values.flatMap(_._2).map(l => mapper.readTree(l).get("doc_id").asLong)
      .toSeq.sorted === (1L to 157L))
    // byte-reproducibility: a differently-partitioned, shuffled input
    // writes IDENTICAL shard contents
    val b = readShards(write(
      scala.util.Random.shuffle(rows).toDF("doc_id", "source", "text").repartition(7)))
    assert(a.view.mapValues(_._2).toMap === b.view.mapValues(_._2).toMap,
      "shard bytes depend on input partitioning")
  }

  test("writeShards --epoch layout: vtime order in-file, bytes reproducible, repetition fanned") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val rows = (1L to 31L).map(i => (i, s"s${i % 2}", s"text of $i"))
    def write(docs: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_epoch_shards")
      Sink.writeShards(
        graft.TextQueries.mixEpochExportOf(docs, totalBudget = 100L, nShards = 4),
        dir.toString, orderCols = Seq("vtime", "source", "doc_id", "k"))
      dir
    }
    def readShards(dir: java.nio.file.Path): Map[Long, Seq[String]] =
      Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.startsWith("shard="))
        .map { d =>
          val parts = Files.list(d).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          assert(parts.size === 1, s"${d.getFileName}: ${parts.size} files")
          d.getFileName.toString.stripPrefix("shard=").toLong ->
            parts.flatMap(p => Files.readAllLines(p).asScala.toSeq).toSeq
        }.toMap
    val a = readShards(write(rows.toDF("doc_id", "source", "text")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = a.values.flatten.map(mapper.readTree).toSeq
    // budget 100 over 31 docs: repetition must appear (some doc > 1 copy),
    // text fans out on every copy
    assert(parsed.size > 31)
    assert(parsed.groupBy(_.get("doc_id").asLong).values.exists(_.size > 1))
    parsed.foreach { n =>
      assert(n.get("text").asText === s"text of ${n.get("doc_id").asLong}")
    }
    // schedule order: vtime non-decreasing within each shard file
    a.foreach { case (shard, lines) =>
      val vs = lines.map(l => mapper.readTree(l).get("vtime").asDouble)
      assert(vs === vs.sorted, s"shard $shard not in vtime order")
    }
    // byte-reproducibility from a shuffled, repartitioned input
    val b = readShards(write(
      scala.util.Random.shuffle(rows).toDF("doc_id", "source", "text").repartition(5)))
    assert(a === b, "epoch shard bytes depend on input partitioning")
  }

  test("packed epoch export: fixed-B windows except tails, token conservation, reproducible") {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    // varied doc lengths so windows straddle documents; B=7 far below doc
    // sizes' lcm so every shard gets straddles AND a ragged tail
    val rnd = new scala.util.Random(7)
    val rows = (1L to 31L).map(i =>
      (i, s"s${i % 2}", Seq.fill(1 + rnd.nextInt(9))(s"w$i").mkString(" ")))
    val B = 7
    def write(docs: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft_packed_shards")
      Sink.writeShards(
        graft.TextQueries.packedEpochExportOf(
          docs, totalBudget = 60L, nShards = 3, epochIdx = 0L, B = B),
        dir.toString, orderCols = Seq("window_id"))
      dir
    }
    def readShards(dir: java.nio.file.Path): Map[Long, Seq[String]] =
      Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.startsWith("shard="))
        .map { d =>
          val parts = Files.list(d).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          assert(parts.size === 1, s"${d.getFileName}: ${parts.size} files")
          d.getFileName.toString.stripPrefix("shard=").toLong ->
            parts.flatMap(p => Files.readAllLines(p).asScala.toSeq).toSeq
        }.toMap
    val a = readShards(write(rows.toDF("doc_id", "source", "text")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    a.foreach { case (shard, lines) =>
      val parsed = lines.map(mapper.readTree)
      // windows contiguous from 0, in order (the in-file orderCols)
      assert(parsed.map(_.get("window_id").asLong).toSeq ===
        (0L until lines.length.toLong), s"shard $shard window ids")
      // every window exactly B tokens except the final (tail) window
      val sizes = parsed.map(_.get("tokens").size)
      assert(sizes.dropRight(1).forall(_ == B),
        s"shard $shard: non-tail window != $B tokens: $sizes")
      assert(sizes.last <= B && sizes.last >= 1, s"shard $shard tail")
      parsed.foreach(n =>
        assert(n.get("n_tokens").asLong === n.get("tokens").size.toLong))
    }
    // token conservation vs the UNPACKED epoch: per shard, the windows'
    // concatenated token stream == the schedule-ordered docs' BPE streams
    import org.apache.spark.sql.functions.{call_function, col}
    graft.functions.GraftExtensions.ensureRegistered(s)
    val docsDf = rows.toDF("doc_id", "source", "text")
    val laid = graft.TextQueries
      .mixEpochExportOf(docsDf, totalBudget = 60L, nShards = 3)
      .withColumn("tk", call_function("bpe_tokens", col("text")))
      .orderBy(col("shard"), col("vtime"), col("source"), col("doc_id"), col("k"))
      .select(col("shard"), col("tk")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.flatMap(_.getSeq[String](1)).toSeq).toMap
    val unpacked = laid.filter(_._2.nonEmpty)
    val packedStream = a.view.mapValues(_.flatMap(l =>
      mapper.readTree(l).get("tokens").elements().asScala.map(_.asText).toSeq)).toMap
    assert(packedStream === unpacked, "window concat != schedule-order token stream")
    // byte-reproducibility from a shuffled, repartitioned input
    val b = readShards(write(
      scala.util.Random.shuffle(rows).toDF("doc_id", "source", "text").repartition(5)))
    assert(a === b, "packed shard bytes depend on input partitioning")
  }

  test("writeJdbc round-trips through an embedded Derby database") {
    import s.implicits._
    // the serving-copy contract (reference: PostgreSQL bulk_create in
    // batches, settings.py:262-263) driven against a real JDBC database:
    // in-memory Derby, which ships on the Spark classpath
    val url = "jdbc:derby:memory:graftsink;create=true"
    java.sql.DriverManager.getConnection(url).close() // create the db
    val rows = Seq(
      (1L, "ocds-a", "r1"), (1L, "ocds-b", "r2"), (2L, "ocds-c", "r3")
    ).toDF("collection_id", "ocid", "release_id")
    Sink.writeJdbc(rows, url, "release_serving", batchSize = 2)
    val back = s.read.format("jdbc")
      .option("url", url).option("dbtable", "release_serving").load()
    assert(back.count() === 3)
    assert(back.select("ocid").as[String].collect().sorted.toSeq ===
      Seq("ocds-a", "ocds-b", "ocds-c"))
    // append mode: a second write adds rows instead of replacing
    Sink.writeJdbc(rows.limit(1), url, "release_serving")
    assert(s.read.format("jdbc")
      .option("url", url).option("dbtable", "release_serving").load().count() === 4)
  }

  /** Notes written to a fresh `collection_note` table through
    * [[Sink.observedWrite]], with a row count and a sum that is null over
    * zero rows. */
  private def observedNotes(rows: org.apache.spark.sql.DataFrame, dir: String): Seq[Long] = {
    import org.apache.spark.sql.functions.{count, length, lit, sum}
    Sink.observedWrite(rows, count(lit(1)), sum(length(rows("note"))))(
      Sink.writeByCollection(_, s"$dir/collection_note"))
  }

  private def noteRows(n: Int) = {
    import s.implicits._
    (1 to n).map(i => (7L, "WARNING", s"note $i", "{}"))
      .toDF("collection_id", "code", "note", "data")
  }

  test("observedWrite counts the rows a non-empty write consumed") {
    val dir = Files.createTempDirectory("graft-observe").toString
    assert(observedNotes(noteRows(3), dir) === Seq(3L, 18L))
    assert(s.read.parquet(s"$dir/collection_note").count() === 3L)
  }

  test("observedWrite reads 0, not null, for an empty write") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-observe-empty").toString
    assert(observedNotes(noteRows(3).filter(col("note") === "absent"), dir) === Seq(0L, 0L))
  }

  test("observedWrite reads 0 when an anti-join drops every row (adaptive execution prunes the metrics)") {
    val dir = Files.createTempDirectory("graft-observe-anti").toString
    val table = s"$dir/collection_note"
    observedNotes(noteRows(3), dir)
    // the replay of appendNotes: every fresh note is already stored
    val replay = noteRows(3).join(
      Sink.readOrEmpty(s, table).get.select("code", "note", "data"),
      Seq("code", "note", "data"), "left_anti")
    assert(observedNotes(replay, dir) === Seq(0L, 0L))
    assert(s.read.parquet(table).count() === 3L)
  }

  test("readOrEmpty surfaces a truncated part file of a declared table instead of None") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-truncated").toString
    val table = s"$lake/release"
    Sink.writeFacts(Seq(Ingest.ItemRow("a.json", "ocds-a", "r1", "2020-01-01", "{}", "h1"))
      .toDF().withColumn("collection_id", org.apache.spark.sql.functions.lit(1L)), table)
    val parts = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(java.nio.file.Paths.get(table))
      try w.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      finally w.close()
    }
    assert(parts.nonEmpty)
    parts.foreach(p => Files.write(p, Files.readAllBytes(p).take(8)))
    val err = intercept[Exception](SparkSuite.quietly(
      Sink.readOrEmpty(s, table).map(_.collect())))
    assert(err.getMessage != null)
    // absence still reads as None: a missing table, and one whose every
    // partition was dropped
    assert(Sink.readOrEmpty(s, s"$lake/record").isEmpty)
    parts.foreach(p => Files.delete(p))
    assert(Sink.readOrEmpty(s, table).isEmpty)
  }

  test("a collection id beyond INT reads as BIGINT, as partition discovery types it") {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val table = s"${Files.createTempDirectory("graft-bigid")}/release"
    val big = Int.MaxValue.toLong + 1
    Seq(1L, big).foreach(id => Sink.writeFacts(
      Seq(Ingest.ItemRow(s"$id.json", "ocds-a", "r1", "2020-01-01", "{}", "h1")).toDF()
        .withColumn("collection_id", lit(id)), table))
    val facts = Sink.readOrEmpty(s, table).get
    assert(facts.schema("collection_id").dataType === s.read.parquet(table).schema("collection_id").dataType)
    assert(facts.filter(col("collection_id") === big).select("filename").as[String].collect()
      === Array(s"$big.json"))
  }

  test("each declared table schema equals the one Spark infers from its writer's table") {
    val input = Files.createTempDirectory("graft-drift-in")
    // a 1.0 package whose supplier repeats the tenderer with an extra
    // field, so the upgrade leg writes a differs-warning note
    Files.writeString(input.resolve("p.json"),
      """{"uri": "http://x/p", "version": "1.0", "publisher": {"name": "P"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "releases": [{"ocid": "ocds-d", "id": "d1", "date": "2020-01-01T00:00:00Z",
        |   "buyer": {"name": "B"}, "tender": {"tenderers": [{"name": "T"}]},
        |   "awards": [{"id": "a", "suppliers": [{"name": "T", "details": "d"}]}]}]}""".stripMargin)
    val recInput = Files.createTempDirectory("graft-drift-rec")
    Files.writeString(recInput.resolve("r.json"),
      """{"uri": "http://x/r", "version": "1.1", "publisher": {"name": "R"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "records": [{"ocid": "ocds-r", "releases": [
        |   {"ocid": "ocds-r", "id": "r1", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}]}]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-drift-lake").toString
    val now = "2020-06-01 00:00:00"
    val rel = graft.Pipeline.load(s, input.toString, lake, 1L, now, upgrade = true)
    graft.Pipeline.runChecks(s, lake,
      graft.Pipeline.compileAndFinish(s, lake, rel.plane, 1L, now).plane, 1L)
    val rec = graft.Pipeline.load(s, recInput.toString, lake, 10L, now)
    graft.Pipeline.runChecks(s, lake, rec.plane, 10L)
    assert(Sink.TableSchemas.keySet === Set("release", "record", "compiled_release",
      "package_data", "collection_note", "release_check", "record_check"))
    Sink.TableSchemas.foreach { case (table, declared) =>
      assert(Sink.readOrEmpty(s, s"$lake/$table").exists(_.count() > 0), s"$table is empty")
      val inferred = s.read.parquet(s"$lake/$table").schema
      assert(inferred === declared, s"$table drifted from its declared schema")
    }
  }
}
