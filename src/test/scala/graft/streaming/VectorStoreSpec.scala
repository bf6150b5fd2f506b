package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanWalk, SparkSuite, Tables, VectorQueries}

/** The streaming↔batch SEMANTIC-dedup composition: vectors arriving in
  * micro-batches are probed against the persistent cell-partitioned
  * store (the q_ann_cell_layout layout, streaming-appendable) and
  * flagged when a stored vector in their OWN trained cell sits within
  * cosine τ — SemDeDup's cell-bounded contract, probe-before-append so
  * nothing matches itself, store scan partition-pruned per batch. */
class VectorStoreSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark
  private val dir = "/root/testdata/sf0.01"

  private def embAll = Tables.embeddings(s, dir).select("vec_id", "embedding")

  /** A near-copy of `v`: same direction (same cell, cosine ≈ 1), scaled. */
  private def scaled(v: Seq[Float], f: Float): Seq[Float] = v.map(_ * f)

  private def vecsDF(rows: (Long, Seq[Float])*) = {
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("probe-before-append flags a same-cell near-copy, ignores strangers") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore").toString
    // empty store → empty probe
    assert(VectorStore.probeBatch(s, lake, embAll.limit(1), 0.95).isEmpty)
    val first = embAll.filter(col("vec_id") < 250)
    VectorStore.append(s, lake, first)
    val v7 = embAll.filter(col("vec_id") === 7)
      .select("embedding").as[Seq[Float]].head()
    val stranger = embAll.filter(col("vec_id") === 400)
      .select("embedding").as[Seq[Float]].head()
    val flags = VectorStore.probeBatch(s, lake,
      vecsDF(9001L -> scaled(v7, 1.01f), 9002L -> stranger), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(flags.map(_._1).toSet === Set(9001L), s"got ${flags.toSeq}")
    assert(flags.head._2 === 7L && flags.head._3 > 0.99)
  }

  test("flags only ever pair vectors assigned to the same cell (the SemDeDup bound)") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore").toString
    VectorStore.append(s, lake, embAll.filter(col("vec_id") < 250))
    val batch = embAll.filter(col("vec_id") >= 250)
    // τ low enough that cross-cell cosine pairs would exist if the probe
    // were unbounded — every emitted flag must still be within-cell
    val flags = VectorStore.probeBatch(s, lake, batch, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flags.nonEmpty, "τ=0.3 on this table must produce within-cell pairs")
    val cs = VectorStore.centroidsOf(s, lake, batch)
    val byId = embAll.as[(Long, Seq[Float])].collect().toMap
    flags.foreach { case (vid, dup) =>
      val a = VectorQueries.probeCellsOf(cs, byId(vid), 1).head
      val b = VectorQueries.probeCellsOf(cs, byId(dup), 1).head
      assert(a === b, s"flag ($vid, $dup) pairs cells $a and $b")
    }
  }

  test("the probe's store scan is partition-pruned to the batch's cells") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore").toString
    VectorStore.append(s, lake, embAll.filter(col("vec_id") < 400))
    val one = embAll.filter(col("vec_id") === 450)
    val df = VectorStore.probeBatch(s, lake, one, 0.95)
    df.collect()
    val storeScan = PlanWalk.fileScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
      .getOrElse(fail("no store scan in the probe plan"))
    assert(storeScan.partitionFilters.mkString.contains("cell"),
      s"store scan not pruned by cell:\n$storeScan")
  }

  test("quantizer is trained once and reloaded, not retrained per batch") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore").toString
    val a = VectorStore.centroidsOf(s, lake, embAll.filter(col("vec_id") < 100))
    // a DIFFERENT training frame must not change the stored quantizer
    val b = VectorStore.centroidsOf(s, lake, embAll.filter(col("vec_id") >= 100))
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("store-served ADC probe is byte-identical to the batch IVFADC query") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-adc").toString
    // first append = the whole table → the store's kit trains on exactly
    // the frame the batch query trains on, so parity is bit-for-bit
    VectorStore.append(s, lake, embAll)
    val qv = embAll.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val got = VectorStore.adcProbe(s, lake, qv, probes = 4, k = 10,
      exclude = Set(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.Queries.byName("q_ann_ivfadc").run(s, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want,
      "the persisted index must serve the declared query's exact answer")
  }

  test("ADC probe reads codes only, pruned to the probed cells; codebooks train once") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-adc").toString
    VectorStore.append(s, lake, embAll)
    val qv = embAll.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val df = VectorStore.adcProbe(s, lake, qv, probes = 4, k = 10, exclude = Set(0L))
    df.collect()
    val storeScan = PlanWalk.fileScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
      .getOrElse(fail("no store scan in the probe plan"))
    assert(storeScan.partitionFilters.mkString.contains("cell"),
      s"probe scan not pruned by cell:\n$storeScan")
    assert(!storeScan.requiredSchema.fieldNames.contains("embedding"),
      "the ADC probe must never read the raw vectors: " +
        storeScan.requiredSchema.fieldNames.mkString(","))
    // fine-quantizer stability: a later batch must NOT retrain codebooks
    val cb1 = s.read.parquet(VectorStore.codebookPath(lake)).collect()
      .map(_.toString).sorted.toSeq
    VectorStore.append(s, lake, vecsDF(9100L -> scaled(qv, 1.5f)))
    val cb2 = s.read.parquet(VectorStore.codebookPath(lake)).collect()
      .map(_.toString).sorted.toSeq
    assert(cb1 === cb2, "codebooks must train once and reload")
    // the replayed/late row is indexed with the STORED kit: re-appending
    // it and compacting leaves the probe answer unchanged
    val before = VectorStore.adcProbe(s, lake, qv, 4, 10, Set(0L, 9100L))
      .collect().map(_.toString).toSeq
    VectorStore.append(s, lake, vecsDF(9100L -> scaled(qv, 1.5f)))
    VectorStore.compact(s, lake)
    val after = VectorStore.adcProbe(s, lake, qv, 4, 10, Set(0L, 9100L))
      .collect().map(_.toString).toSeq
    assert(before === after, "replay + compact must not move the served answer")
  }

  test("OPQ-layout store serves q_ann_ivf_opq's exact answer; rotation is train-once and guarded") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-opq").toString
    // first append = the whole table with --opq: the store trains the
    // FAISS-style rotation + rotated-residual codebooks on exactly the
    // declared query's frame, so serving parity is bit-for-bit
    VectorStore.append(s, lake, embAll, opq = true)
    val qv = embAll.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    def probe = VectorStore.adcProbe(s, lake, qv, probes = 4, k = 10,
      exclude = Set(0L, 9200L)).collect().map(_.toString).toSeq
    val got = probe
    val want = graft.Queries.byName("q_ann_ivf_opq").run(s, dir)
      .collect().map(_.toString).toSeq
    assert(got === want,
      "the OPQ store must serve the declared IVF-OPQ query's exact answer")
    // train-once: a later append (a near-copy of the query, excluded
    // from the readout) reuses the stored rotation + codebooks and the
    // served answer is unchanged
    VectorStore.append(s, lake, vecsDF(9200L -> scaled(qv, 1.4f)))
    assert(probe === want, "a later append must not retrain the OPQ layout")
    // a partial store copy that lost the rotation must refuse loudly —
    // scoring rotated codes unrotated would mix quantizer epochs
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    deleteRec(java.nio.file.Paths.get(VectorStore.rotationPath(lake)))
    val e = intercept[IllegalArgumentException] {
      VectorStore.adcProbe(s, lake, qv, probes = 4, k = 10).collect()
    }
    assert(e.getMessage.contains("rotation"), e.getMessage)
  }

  test("store-served batched k-NN join is byte-identical to q_knn_join_ivf") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-knn").toString
    // first append = the whole table → the store's quantizers train on
    // exactly the frame the declared join trains on (the adcProbe pin's
    // precondition), and the declared corpus split becomes a pushable
    // excludeWhere predicate
    VectorStore.append(s, lake, embAll)
    val queries = embAll.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    def served = VectorStore.knnJoin(s, lake, queries,
      excludeWhere = Some(pmod(col("vec_id"), lit(25)) === 0),
      nominate = VectorStore.Rung.Exact)
    val got = served.collect().map(_.toString).toSeq
    val want = graft.Queries.byName("q_knn_join_ivf").run(s, dir)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty)
    assert(got === want,
      "the persisted index must serve the declared join's exact answer")
    // an at-least-once replay (same row, same stored kit) must fold away
    // and leave the served answer unchanged
    val v3 = embAll.filter(col("vec_id") === 3)
      .select("embedding").as[Seq[Float]].head()
    VectorStore.append(s, lake, vecsDF(3L -> v3))
    assert(served.collect().map(_.toString).toSeq === want,
      "a replayed append must not move the served batch answer")
  }

  test("ADC-nominated batched join: exact scores, recall monotone in r, exact at full r") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-knn").toString
    VectorStore.append(s, lake, embAll)
    val queries = embAll.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val excl = Some(pmod(col("vec_id"), lit(25)) === 0)
    def adcAt(r: Int) = VectorStore.knnJoin(s, lake, queries, r = r,
      excludeWhere = excl, nominate = VectorStore.Rung.Adc)
      .collect().map(x => ((x.getLong(0), x.getLong(2)), (x.getInt(1), x.getDouble(3))))
    val exact = VectorStore.knnJoin(s, lake, queries,
      excludeWhere = excl, nominate = VectorStore.Rung.Exact)
      .collect().map(x => ((x.getLong(0), x.getLong(2)), (x.getInt(1), x.getDouble(3))))
    val truth = exact.map(_._1).toSet
    // the store-served ADC join IS the declared q_knn_join_ivfadc (the
    // adcProbe ↔ q_ann_ivfadc precedent): same kit, same round-9
    // nomination, same decimal refine — byte-identical on a store whose
    // first append was the declared query's training frame
    val declared = graft.Queries.byName("q_knn_join_ivfadc").run(s, dir).collect()
      .map(x => ((x.getLong(0), x.getLong(2)), (x.getInt(1), x.getDouble(3))))
    assert(adcAt(20).toSeq === declared.toSeq,
      "the persisted index must serve the declared ADC join's exact answer")
    // every served pair's cosine is the EXACT decimal value — the ADC
    // approximation may choose nominees, never score survivors: any
    // (qid, vec_id) both engines return must carry the same cosine
    val exactByPair = exact.toMap
    val r20 = adcAt(20)
    r20.foreach { case (pair, (_, cos)) =>
      exactByPair.get(pair).foreach { case (_, ecos) =>
        assert(cos === ecos, s"ADC-served $pair scored $cos, exact $ecos")
      }
    }
    // nomination recall is monotone in r (the nominated set only grows)…
    def recall(rows: Array[((Long, Long), (Int, Double))]) =
      rows.map(_._1).count(truth) .toDouble / truth.size
    val rec = Seq(5, 20, 80).map(r => recall(adcAt(r)))
    assert(rec == rec.sorted, s"recall not monotone in r: $rec")
    // …and at r ≥ the probed candidate count the refine sees every
    // candidate, so the served answer IS the exact answer
    val n = embAll.count().toInt
    assert(adcAt(n).toSeq === exact.toSeq,
      "full-r ADC nomination must converge to the exact-nominate answer")
  }

  test("store-served SQ8 probe is byte-identical to the declared q_ann_sq8") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-sq8").toString
    // first append = the declared query's training frame (it trains on
    // vec_id <> 0 — row 0 is its query), so the persisted affine kit is
    // bit-for-bit the declared one
    VectorStore.append(s, lake, embAll.filter(col("vec_id") =!= 0), sq8 = true)
    val qv = embAll.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    def served = VectorStore.sq8Probe(s, lake, qv, k = 10)
    val got = served.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.Queries.byName("q_ann_sq8").run(s, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want,
      "the persisted sq8 codes must serve the declared query's exact answer")
    // the stored kit wins on later appends (train-once): a replayed row
    // re-encodes identically and folds, leaving the answer unchanged
    val kit1 = s.read.parquet(VectorStore.sq8Path(lake)).collect()
      .map(_.toString).sorted.toSeq
    val v5 = embAll.filter(col("vec_id") === 5)
      .select("embedding").as[Seq[Float]].head()
    VectorStore.append(s, lake, vecsDF(5L -> v5)) // no sq8 flag: artifact wins
    val kit2 = s.read.parquet(VectorStore.sq8Path(lake)).collect()
      .map(_.toString).sorted.toSeq
    assert(kit1 === kit2, "the sq8 kit must train once and reload")
    assert(served.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want,
      "a replayed append must not move the served sq8 answer")
  }

  test("SQ8 probe reads the sq8 codes only; refuses a store without the layout") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-sq8p").toString
    VectorStore.append(s, lake, embAll.filter(col("vec_id") =!= 0), sq8 = true)
    val qv = embAll.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val df = VectorStore.sq8Probe(s, lake, qv, k = 10)
    df.collect()
    val storeScan = PlanWalk.fileScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
      .getOrElse(fail("no store scan in the sq8 probe plan"))
    val read = storeScan.requiredSchema.fieldNames.toSet
    assert(read.contains("sq8") && !read.contains("embedding") &&
        !read.contains("codes"),
      s"the sq8 probe must read the scalar codes alone, got ${read.mkString(",")}")
    // a store never sq8-enabled refuses loudly with the build instruction
    val plain = Files.createTempDirectory("graft-vstore-sq8n").toString
    VectorStore.append(s, plain, embAll.filter(col("vec_id") < 100))
    val e = intercept[IllegalArgumentException] {
      VectorStore.sq8Probe(s, plain, qv, k = 10).collect()
    }
    assert(e.getMessage.contains("--sq8"), e.getMessage)
  }

  test("SQ8-nominated batched join: exact scores, monotone in r, exact at full r, codes-only scan") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-knn8").toString
    VectorStore.append(s, lake, embAll, sq8 = true)
    val queries = embAll.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val excl = Some(pmod(col("vec_id"), lit(25)) === 0)
    def sq8At(r: Int) = VectorStore.knnJoin(s, lake, queries, r = r,
      excludeWhere = excl, nominate = VectorStore.Rung.Sq8)
      .collect().map(x => ((x.getLong(0), x.getLong(2)), (x.getInt(1), x.getDouble(3))))
    val exact = VectorStore.knnJoin(s, lake, queries,
      excludeWhere = excl, nominate = VectorStore.Rung.Exact)
      .collect().map(x => ((x.getLong(0), x.getLong(2)), (x.getInt(1), x.getDouble(3))))
    val truth = exact.map(_._1).toSet
    // the store-served SQ8 join IS the declared q_knn_join_sq8 (r20 —
    // the adcAt(20) ↔ q_knn_join_ivfadc precedent): same shared Sq8Kit
    // trained on the same first-append frame, same round-9 nomination,
    // same decimal refine — byte-identical
    val declared = graft.Queries.byName("q_knn_join_sq8").run(s, dir).collect()
      .map(x => ((x.getLong(0), x.getLong(2)), (x.getInt(1), x.getDouble(3))))
    assert(sq8At(20).toSeq === declared.toSeq,
      "the persisted index must serve the declared SQ8 join's exact answer")
    // every served pair's cosine is the EXACT decimal value — the SQ8
    // approximation chooses nominees, never scores survivors
    val exactByPair = exact.toMap
    val r20 = sq8At(20)
    assert(r20.nonEmpty)
    r20.foreach { case (pair, (_, cos)) =>
      exactByPair.get(pair).foreach { case (_, ecos) =>
        assert(cos === ecos, s"sq8-served $pair scored $cos, exact $ecos")
      }
    }
    def recall(rows: Array[((Long, Long), (Int, Double))]) =
      rows.map(_._1).count(truth).toDouble / truth.size
    val rec = Seq(5, 20, 80).map(r => recall(sq8At(r)))
    assert(rec == rec.sorted, s"recall not monotone in r: $rec")
    val n = embAll.count().toInt
    assert(sq8At(n).toSeq === exact.toSeq,
      "full-r sq8 nomination must converge to the exact-nominate answer")
    // the nomination scan reads the scalar codes, never raw embeddings
    // or the PQ codes
    val df = VectorStore.knnJoin(s, lake, queries,
      excludeWhere = excl, nominate = VectorStore.Rung.Sq8)
    df.collect()
    val storeScans = PlanWalk.fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
    assert(storeScans.exists { sc =>
      val f = sc.requiredSchema.fieldNames.toSet
      f.contains("sq8") && !f.contains("embedding") && !f.contains("codes")
    }, "sq8 nomination must read the scalar codes alone: " +
      storeScans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
    // a store without the layout refuses loudly
    val plain = Files.createTempDirectory("graft-vstore-knn8n").toString
    VectorStore.append(s, plain, embAll.filter(col("vec_id") < 100))
    val e = intercept[IllegalArgumentException] {
      VectorStore.knnJoin(s, plain, queries, nominate = VectorStore.Rung.Sq8).collect()
    }
    assert(e.getMessage.contains("--sq8"), e.getMessage)
  }

  test("a stored zero-norm vector never costs an ADC nomination slot (codes-side marker)") {
    import s.implicits._
    // two stores whose quantizers train on the SAME first append; one
    // then receives a zero-norm vector. Pre-marker, that row could
    // displace a real nominee from the r-bounded top list (codes alone
    // cannot see the norm — ADVICE r18); with the znorm marker both
    // stores must serve byte-identical ADC joins even at tiny r
    val clean = Files.createTempDirectory("graft-vstore-znorm-a").toString
    val dirty = Files.createTempDirectory("graft-vstore-znorm-b").toString
    VectorStore.append(s, clean, embAll)
    VectorStore.append(s, dirty, embAll)
    VectorStore.append(s, dirty, vecsDF(999999L -> Seq.fill(64)(0f)))
    val queries = embAll.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val excl = Some(pmod(col("vec_id"), lit(25)) === 0)
    def served(lake: String) = VectorStore.knnJoin(s, lake, queries,
      r = 1, k = 1, excludeWhere = excl, nominate = VectorStore.Rung.Adc)
      .collect().map(_.toString).toSeq
    val want = served(clean)
    assert(want.nonEmpty)
    assert(served(dirty) === want,
      "a zero-norm stored row must not perturb the ADC-nominated join")
  }

  test("batched join: nomination reads codes only, refine reads embeddings; both scans cell-pruned") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-knn").toString
    VectorStore.append(s, lake, embAll)
    val queries = embAll.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val df = VectorStore.knnJoin(s, lake, queries,
      excludeWhere = Some(pmod(col("vec_id"), lit(25)) === 0))
    df.collect()
    val storeScans = PlanWalk.fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
    assert(storeScans.size === 2, s"expected nominate + refine store scans, got:\n$storeScans")
    storeScans.foreach { sc =>
      assert(sc.partitionFilters.mkString.contains("cell"),
        s"store scan not pruned by cell:\n$sc")
    }
    assert(storeScans.exists(sc =>
      !sc.requiredSchema.fieldNames.contains("embedding") &&
        sc.requiredSchema.fieldNames.contains("codes")),
      "the nomination stage must score the stored codes without reading raw vectors: " +
        storeScans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("ADC probe REFUSES a store with pre-layout (uncoded) rows, loudly") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-legacy").toString
    VectorStore.append(s, lake, embAll.filter(col("vec_id") < 100))
    val qv = embAll.filter(col("vec_id") === 1)
      .select("embedding").as[Seq[Float]].head()
    // a legacy-layout row (no codes column) appended raw into the lake:
    // serving must fail with the rebuild instruction, never silently
    // drop the uncoded vector from answers
    val cs = VectorStore.centroidsOf(s, lake, embAll)
    val cell = VectorQueries.probeCellsOf(cs, qv, 1).head
    Seq((9999L, qv, cell)).toDF("vec_id", "embedding", "cell")
      .write.mode("append").partitionBy("cell")
      .parquet(VectorStore.vecPath(lake))
    val e = intercept[IllegalArgumentException] {
      VectorStore.adcProbe(s, lake, qv, probes = 16, k = 10).collect()
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("ADC probe REFUSES a coded store whose codebook artifact is missing (no silent retrain)") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-noart").toString
    VectorStore.append(s, lake, embAll.filter(col("vec_id") < 200))
    val qv = embAll.filter(col("vec_id") === 1)
      .select("embedding").as[Seq[Float]].head()
    // simulate a partial store copy: the coded rows survived but the
    // trained codebook artifact did not. kitOf's load-or-train fallback
    // (correct at append time) would silently RETRAIN new codebooks here
    // and score the OLD persisted code bytes against the new epoch —
    // serving must refuse instead (ADVICE r17)
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    deleteRec(java.nio.file.Paths.get(VectorStore.codebookPath(lake)))
    val e = intercept[IllegalArgumentException] {
      VectorStore.adcProbe(s, lake, qv, probes = 4, k = 10).collect()
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(!new java.io.File(VectorStore.codebookPath(lake)).exists(),
      "the refusing serve path must not have trained replacement codebooks")
    // same contract for the coarse quantizer: a store whose centroids
    // vanished must not be re-sharded at serve time
    deleteRec(java.nio.file.Paths.get(VectorStore.centroidPath(lake)))
    val e2 = intercept[IllegalArgumentException] {
      VectorStore.adcProbe(s, lake, qv, probes = 4, k = 10).collect()
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
  }

  test("probeBatch on a codebook-less lake does NOT train codebooks from the probe batch") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore-nocb").toString
    // seed ONLY centroids + vectors via a raw cell-assigned write (the
    // pre-codes layout): probeBatch must work and must not leave a
    // probe-batch-trained codebook file behind
    val cs = VectorStore.centroidsOf(s, lake, embAll.filter(col("vec_id") < 100))
    val rows = embAll.filter(col("vec_id") < 100)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v, VectorQueries.probeCellsOf(cs, v, 1).head) }
    rows.toSeq.toDF("vec_id", "embedding", "cell")
      .write.mode("append").partitionBy("cell")
      .parquet(VectorStore.vecPath(lake))
    val v7 = embAll.filter(col("vec_id") === 7)
      .select("embedding").as[Seq[Float]].head()
    val flags = VectorStore.probeBatch(s, lake,
      vecsDF(9001L -> scaled(v7, 1.01f)), 0.95).collect()
    assert(flags.map(_.getLong(1)).contains(7L))
    assert(!new java.io.File(VectorStore.codebookPath(lake)).exists(),
      "the dedup probe must never train the store's permanent codebooks")
  }

  test("foreachBatch stream: probe-then-append flags a later near-arrival; compact folds replays") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft-vstore").toString
    val v3 = embAll.filter(col("vec_id") === 3)
      .select("embedding").as[Seq[Float]].head()
    // seed the quantizer + store off the real table so cells are meaningful
    VectorStore.append(s, lake, embAll.filter(col("vec_id") < 250))
    val flagged = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[(Long, Seq[Float])](s)
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged ++= VectorStore.probeBatch(s, lake, batch, 0.95)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        VectorStore.append(s, lake, batch)
      }
      .start()
    try {
      input.addData(5001L -> scaled(v3, 1.02f)) // near-copy of stored vec 3
      q.processAllAvailable()
      input.addData(5002L -> scaled(v3, 0.98f)) // near-copy of BOTH now
      q.processAllAvailable()
    } finally q.stop()
    assert(flagged.contains((5001L, 3L)), s"first arrival unflagged: $flagged")
    // second arrival matches the earliest store entry deterministically
    assert(flagged.contains((5002L, 3L)), s"second arrival unflagged: $flagged")
    // replay the same append (the at-least-once window), then compact:
    // duplicates fold, the store stays probe-able
    VectorStore.append(s, lake, vecsDF(5001L -> scaled(v3, 1.02f)))
    val before = s.read.parquet(VectorStore.vecPath(lake)).count()
    val after = VectorStore.compact(s, lake)
    assert(after < before, s"compaction folded nothing ($before -> $after)")
    val post = VectorStore.probeBatch(s, lake, vecsDF(6001L -> scaled(v3, 1.01f)), 0.95)
    assert(post.collect().map(_.getLong(1)).contains(3L))
  }
}
