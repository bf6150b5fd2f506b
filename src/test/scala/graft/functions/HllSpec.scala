package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Referees for the two-regime `distinct_sketch` aggregate: exact-regime
  * equality with the true distinct count, the regime boundary at m/4,
  * HLL-regime error bounds against brute-force truth, and bit-identical
  * output across partitionings in BOTH regimes (the determinism contract
  * the scaladoc claims). */
class HllSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def sketch(items: Seq[String], p: Int, parts: Int): (Long, Boolean) = {
    import s.implicits._
    GraftExtensions.ensureRegistered(s)
    val row = items.toDF("x").repartition(parts)
      .selectExpr(s"distinct_sketch(x, $p) AS sk")
      .selectExpr("sk.est", "sk.exact")
      .head()
    (row.getLong(0), row.getBoolean(1))
  }

  test("exact regime: est is the true distinct count, exact = true, any partitioning") {
    val items = (1 to 1000).map(i => s"item${i % 200}") // 200 distinct, repeats
    for (parts <- Seq(1, 7, 32)) {
      val (est, exact) = sketch(items, p = 10, parts)
      assert(est === 200L && exact, s"parts=$parts")
    }
  }

  test("regime boundary: m/4 distincts stay exact, m/4 + 1 tips to the estimate") {
    val limit = (1 << 10) / 4 // 256
    val (e1, x1) = sketch((1 to limit).map(i => s"b$i"), p = 10, parts = 4)
    assert(e1 === limit.toLong && x1, "at the bound: still the exact sparse set")
    val (e2, x2) = sketch((1 to limit + 1).map(i => s"b$i"), p = 10, parts = 4)
    assert(!x2, "past the bound: the dense estimate regime")
    // the estimate right at the conversion point is linear-counting
    // territory — far tighter than the asymptotic HLL bound
    assert(math.abs(e2 - (limit + 1.0)) / (limit + 1.0) < 0.05, s"est $e2")
  }

  test("HLL regime: relative error within 4x the theoretical sigma at 40x the bound") {
    val n = 10000 // >> 256, well into dense territory at p=10
    val (est, exact) = sketch((1 to n).map(i => s"u$i"), p = 10, parts = 16)
    assert(!exact)
    val sigma = 1.04 / math.sqrt(1 << 10)
    assert(math.abs(est - n.toDouble) / n < 4 * sigma,
      s"est $est vs true $n (bound ${4 * sigma})")
  }

  test("HLL regime: the estimate is bit-identical across partitionings and duplication") {
    val base = (1 to 5000).map(i => s"d$i")
    val ests = for (parts <- Seq(1, 5, 32)) yield sketch(base ++ base, p = 10, parts)
    assert(ests.distinct.size === 1, s"partitioning changed the estimate: $ests")
    // duplication idempotence: the same distinct set, tripled, sketches
    // to the identical registers hence the identical estimate
    assert(sketch(base ++ base ++ base, p = 10, parts = 9) === ests.head)
  }

  test("driver-side Hll merge equals the aggregate path (sketch-of-sketches)") {
    // fold two halves' buffers with Hll.merge and compare to one
    // aggregate over the union — the StatsStore driver fold
    val (a, b) = ((1 to 700).map(i => s"m$i"), (400 to 1100).map(i => s"m$i"))
    def bufOf(xs: Seq[String], p: Int): HllBuffer = {
      val buf = new HllBuffer(new java.util.HashSet[java.lang.Long](), null)
      xs.foreach(x => Hll.add(buf,
        Hll.hash(org.apache.spark.unsafe.types.UTF8String.fromString(x)), p))
      buf
    }
    val merged = Hll.merge(bufOf(a, 10), bufOf(b, 10), 10)
    val driverEst =
      if (merged.regs == null) (merged.sparse.size.toLong, true)
      else (Hll.estimate(merged.regs, 10), false)
    assert(driverEst === sketch(a ++ b, p = 10, parts = 8))
  }

  test("nulls are skipped; empty input is exact zero") {
    import s.implicits._
    GraftExtensions.ensureRegistered(s)
    val row = Seq(Some("x"), None, Some("y"), None).toDF("x")
      .selectExpr("distinct_sketch(x, 10) AS sk").selectExpr("sk.est", "sk.exact").head()
    assert((row.getLong(0), row.getBoolean(1)) === ((2L, true)))
    val empty = Seq.empty[String].toDF("x")
      .selectExpr("distinct_sketch(x, 10) AS sk").selectExpr("sk.est", "sk.exact").head()
    assert((empty.getLong(0), empty.getBoolean(1)) === ((0L, true)))
  }
}
