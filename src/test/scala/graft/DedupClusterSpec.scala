package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The min-label-propagation connected components against a driver-side
  * union-find oracle over random graphs — the distributed loop has three
  * hand-tuned pieces (neighbor-min init, in-aggregation convergence check,
  * checkpointed rounds) and each must not change the fixpoint. Random
  * shapes cover what the sf tables cannot: long paths (propagation needs
  * radius rounds, init alone is wrong), stars, disjoint cliques, and
  * self-loops. */
class DedupClusterSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 25)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 15L)
      b <- Gen.choose(0L, 15L)
    } yield (a, b))
  } yield edges

  test("property: components match a union-find oracle on random graphs") {
    import s.implicits._
    var seed = Seed(42L)
    (0 until 30).foreach { _ =>
      val edges = edgesGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val df = edges.toDF("doc_a", "doc_b").localCheckpoint()
      val got = TextQueries.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      assert(got === unionFind(edges), s"edges: $edges")
    }
  }

  test("a path graph needs propagation beyond the free init round") {
    import s.implicits._
    // 0—1—2—…—7: the neighbor-min init labels vertex 7 with 6; only
    // iterated rounds carry 0 down the whole path
    val path = (0L until 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint()
    val got = TextQueries.connectedComponents(path).as[(Long, Long)].collect()
    assert(got.length === 8)
    assert(got.forall(_._2 == 0L))
  }

  test("propagation produces identical labels under a DURABLE checkpoint dir") {
    import s.implicits._
    // cluster-scale mode: localCheckpoint blocks die with their executor;
    // checkpoint() into a durable dir must be a drop-in with identical
    // fixpoints
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L), (3L, 3L), (9L, 2L))
      .toDF("doc_a", "doc_b").localCheckpoint()
    val localProp = TextQueries.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val durableProp = TextQueries.connectedComponents(edges, Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(durableProp === localProp)
    // durable blocks actually landed on disk
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("durable mode checkpoints the EDGE set itself, not just the label rounds") {
    import s.implicits._
    // VERDICT r9 #2: the edge frame feeds every propagation round — if it
    // is only localCheckpoint'd, an executor death mid-loop loses an edge
    // block with nothing to recompute from, one hop upstream of the
    // failure durable mode exists to survive. neardupEdgesOf(…, Some(dir))
    // must produce a RELIABLY-checkpointed frame (rdd-* blocks on disk).
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-edges").toString
    // one token apart over 22 distinct tokens → Jaccard ≈ 0.92, over the
    // 0.9 near-dup threshold; doc 3 is genuinely different
    val base = "the quick brown fox of a kind jumps over to the lazy dog " +
      "in every harbor and waits while seven silver ships sail"
    val docs = Seq(
      (1L, "s", s"$base today"),
      (2L, "s", s"$base tonight"),
      (3L, "s", "completely different content about winter shipping crates to ports"))
      .toDF("doc_id", "source", "text")
    def rddDirs(): Set[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .map(_.getName).filter(_.startsWith("rdd-")).toSet
    assert(rddDirs().isEmpty)
    val edges = TextQueries.neardupEdgesOf(docs, Some(dir))
    // Dataset.checkpoint() is eager: the reliable blocks are on disk
    // before any propagation round runs
    assert(rddDirs().nonEmpty)
    // and the checkpointed frame still carries the verified pair
    assert(edges.as[(Long, Long)].collect().toSet === Set((1L, 2L)))
    // end-to-end: the payoff readout in durable mode agrees with local
    val durable = TextQueries.dedupPayoffOf(docs, Some(dir))
      .collect().map(_.toSeq).toSeq
    val local = TextQueries.dedupPayoffOf(docs)
      .collect().map(_.toSeq).toSeq
    assert(durable === local)
  }

  test("the DECLARED q_dedup_clusters honors the GRAFT_CKPT_DIR seam") {
    // VERDICT r11 Next #7: durable mode existed only behind `Cli dedup`'s
    // explicit flag — a cluster run of the declared query itself had no
    // way to opt in. envCheckpointDir reads GRAFT_CKPT_DIR (env) with a
    // `graft.ckpt.dir` system-property fallback as the in-JVM test seam;
    // this drives the QueryDef through the property and asserts the
    // reliable blocks land in the given dir with an unchanged fixpoint.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-env").toString
    def rddDirs(): Set[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .map(_.getName).filter(_.startsWith("rdd-")).toSet
    assert(TextQueries.envCheckpointDir.isEmpty, "test env must not preset the dir")
    val q = Queries.byName("q_dedup_clusters")
    sys.props("graft.ckpt.dir") = dir
    val durable =
      try {
        assert(TextQueries.envCheckpointDir === Some(dir))
        q.run(s, "/root/testdata/sf0.001").collect().map(_.toSeq).toSeq
      } finally sys.props.remove("graft.ckpt.dir")
    assert(rddDirs().nonEmpty, "no reliable checkpoint blocks under GRAFT_CKPT_DIR")
    val default = q.run(s, "/root/testdata/sf0.001").collect().map(_.toSeq).toSeq
    assert(durable === default)
    assert(durable.nonEmpty)
  }

  test("adversarial template source: candidates stay bounded and the bucket stays one component") {
    import s.implicits._
    // 10³ docs of one boilerplate template land in ONE LSH bucket (exact
    // dedup upstream removes identical docs, not near-identical templated
    // ones). All-pairs would be C(1000,2) ≈ 500k candidates from one
    // collected 1000-element array; the bounded engine must emit star
    // pairs (n−1) and still leave the bucket connectable.
    val n = 1000
    val sig = (0 until n).map(i => ("web", 0, 42L, i.toLong))
      .toDF("source", "band_id", "band_hash", "doc_id")
    val cand = BucketPairs.pairs(
      sig, Seq("source", "band_id", "band_hash"), "doc_id", Seq.empty,
      maxBucket = 64)
    val pairs = cand.select(col("a").as("doc_a"), col("b").as("doc_b"))
      .as[(Long, Long)].collect()
    assert(pairs.length === n - 1) // star: every member paired with the min
    assert(pairs.forall(_._1 == 0L))
    assert(pairs.map(_._2).sorted.toSeq === (1L until n.toLong))
    // recall on TRUE pairs the dedup needs: the whole bucket closes into
    // one component with the min id as keeper
    val labels = TextQueries.connectedComponents(
      pairs.toSeq.toDF("doc_a", "doc_b").localCheckpoint())
      .as[(Long, Long)].collect()
    assert(labels.length === n)
    assert(labels.forall(_._2 == 0L))
  }

  test("buckets at or under the cap keep exact all-pairs output") {
    import s.implicits._
    // two buckets: {1,5,9} in band 0, {5,7} in band 1 (5 collides twice —
    // callers dedup across bands, the engine emits per-bucket pairs)
    val sig = Seq(
      ("a", 0, 7L, 1L), ("a", 0, 7L, 5L), ("a", 0, 7L, 9L),
      ("a", 1, 3L, 5L), ("a", 1, 3L, 7L),
      ("a", 2, 9L, 2L) // singleton bucket: no pairs
    ).toDF("source", "band_id", "band_hash", "doc_id")
    val got = BucketPairs.pairs(
      sig, Seq("source", "band_id", "band_hash"), "doc_id", Seq.empty,
      maxBucket = 3)
      .select(col("a"), col("b")).as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 5L), (1L, 9L), (5L, 7L), (5L, 9L)))
  }

  test("clusterKeepBestOf elects the highest-quality member, min-id on ties") {
    import s.implicits._
    // cluster {1,2,3}: identical DISTINCT token sets (jaccard 1 → one
    // LSH bucket → one component) but different stopword DENSITY — the
    // integer score (stops·10^6 div n_tok) ranks doc 2 best, so the
    // quality election keeps 2 where min-id would keep 1
    // (keepers_not_minid = 1). cluster {5,6}: identical texts tie on
    // score, the doc_id tie-break keeps 5 (keepers_not_minid = 0).
    // doc 4 pairs with nothing and sits outside the readout.
    val docs = Seq(
      ("a", 1L, "red blue green the"),             // q = 250000
      ("a", 2L, "the the red blue green the"),     // q = 500000 → keeper
      ("a", 3L, "red blue green the the"),         // q = 400000
      ("a", 4L, "solitary unmatched words here"),
      ("b", 5L, "the x y z"),                      // tie → min id keeps
      ("b", 6L, "the x y z")
    ).toDF("source", "doc_id", "text")
    val got = TextQueries.clusterKeepBestOf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("docs_removed") === 2L)      // docs 1 and 3
    assert(a.getAs[Long]("tokens_removed") === 4L + 5L)
    assert(a.getAs[Long]("n_keepers") === 1L)
    assert(a.getAs[Long]("keepers_not_minid") === 1L) // keeper 2, min 1
    val b = got("b")
    assert(b.getAs[Long]("docs_removed") === 1L)      // doc 6
    assert(b.getAs[Long]("tokens_removed") === 4L)
    assert(b.getAs[Long]("n_keepers") === 1L)
    assert(b.getAs[Long]("keepers_not_minid") === 0L)
  }
}
