package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** r21 measurement probe for the hybrid evals (VERDICT r20 Next #4):
  * times each sequential phase of hybridEvalOf — the lexical-leg
  * localCheckpoint, the store knnJoin's eager setup, the truth-fusion
  * localCheckpoint, and the final readout job — to size the §2.6
  * job-overlap win before restructuring. Test-scoped harness. Run:
  *   sbt "Test/runMain graft.AbHybridProbe /root/testdata/sf0.1"
  */
object AbHybridProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.install)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"HYPHASE $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warm-up: run both declared hybrids once end-to-end
    noop(SparkEntry.queries("q_retrieval_eval_hybrid")(spark, sfDir))
    noop(SparkEntry.queries("q_retrieval_eval_hybrid_sq8")(spark, sfDir))

    for (dense <- Seq(graft.streaming.VectorStore.Rung.Adc,
                      graft.streaming.VectorStore.Rung.Sq8)) {
      println(s"== hybrid dense=$dense ==")
      val (_, _, lexRanks0) = t("lexStoreRanksOf")(
        VectorQueries.lexStoreRanksOf(spark, sfDir, VectorQueries.KnnQMod))
      val lexRanks = t("lex ckpt")(lexRanks0
        .select(col("qid"), col("doc_id"), col("rank").as("rank_lex"))
        .localCheckpoint())
      val vstore = t("storeOf")(VectorQueries.hybridEvalStoreOf(spark, sfDir))
      val queries = Tables.embeddings(spark, sfDir)
        .filter(pmod(col("vec_id"), lit(VectorQueries.KnnQMod)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      val denseSys = t("knnJoin setup")(
        graft.streaming.VectorStore.knnJoin(spark, vstore, queries,
          excludeWhere = Some(pmod(col("vec_id"), lit(VectorQueries.KnnQMod)) === 0),
          nominate = dense)
        .select(col("qid"), col("vec_id").as("doc_id"),
          col("knn_rank").cast(LongType).as("rank_dense")))
      val denseTru = t("knnJoinExact setup")(
        VectorQueries.knnJoinExact(spark, sfDir)
          .select(col("qid"), col("vec_id").as("doc_id"),
            col("knn_rank").cast(LongType).as("rank_dense")))
      val truF = t("truF ckpt")(
        VectorQueries.rrfFuseByQidOf(lexRanks, denseTru)
          .filter(col("rank_fused") <= VectorQueries.LexK)
          .select(col("qid"), col("doc_id")).withColumn("rel", lit(1))
          .localCheckpoint())
      val sysF = VectorQueries.rrfFuseByQidOf(lexRanks, denseSys)
        .filter(col("rank_fused") <= VectorQueries.LexK)
        .select(col("qid"), col("rank_fused"), col("doc_id"))
      t("final(sysF+readout)")(noop(sysF.join(broadcast(truF), Seq("qid", "doc_id"), "left")))
    }
    spark.stop()
  }
}
