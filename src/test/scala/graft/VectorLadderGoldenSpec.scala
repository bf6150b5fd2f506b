package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden output pins for the vector ladder on sf0.01: every rung that
  * scores through the quantizer kits (PQ, OPQ, SQ8, IVF-PQ, residual
  * IVFADC, IVF-OPQ, the ADC- and SQ8-nominated batched joins and the
  * served hybrid evals built on them).
  *
  * The byte-identity pins in VectorStoreSpec compare the store against
  * the declared query; both sides score through the same kit, so a
  * change inside the kit moves both together and those pins still pass.
  * These digests are fixed values instead: row count plus the sum of
  * the rows' `xxhash64(to_json(struct(*)))`, the spelling the benchmark
  * harness uses for `perfbench/query_digests.json`. The oracle parity
  * run covers the same queries but is not part of the unit tests. */
class VectorLadderGoldenSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark
  private val dir = "/root/testdata/sf0.01"

  private def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(col).toSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect().head
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private val golden: Seq[(String, String)] = Seq(
    "q_ann_pq" -> "10:30851448042312446943",
    "q_ann_opq" -> "10:6232337728248623057",
    "q_ann_sq8" -> "10:-1572402190645813834",
    "q_ann_ivf_pq" -> "10:-6067539461654740166",
    "q_ann_ivf_pq_multiprobe" -> "10:12613021940481885615",
    "q_ann_ivf_pq_refine" -> "10:-4275609777125132839",
    "q_hybrid_rrf_ann" -> "140:13188793821500456526",
    "q_ann_ivfadc" -> "10:-10281961201780877204",
    "q_ann_ivf_opq" -> "10:11452304085577246897",
    "q_knn_join_ivfadc" -> "100:39448872576191126457",
    "q_knn_join_sq8" -> "100:-70252684465543658307",
    "q_retrieval_eval_hybrid" -> "20:31142325365063667454",
    "q_retrieval_eval_hybrid_sq8" -> "20:1001383412563645721")

  golden.foreach { case (name, want) =>
    test(s"$name output digest is pinned") {
      assert(digest(Queries.byName(name).run(s, dir)) === want)
    }
  }
}
