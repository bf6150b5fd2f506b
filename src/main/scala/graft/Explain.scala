package graft

/** Plan-audit diagnostic: `runMain graft.Explain [sfDir] q_a q_b ...`
  * (no args = all queries). Prints a one-line summary of the plan features
  * that matter at 100 TB — exchange count (shuffles), broadcast vs
  * sort-merge joins, reused exchanges (self-join subplan sharing), and
  * whether the parquet scan pushed filters down — plus the full formatted
  * plan with SPARK_GRAFT_FULL_PLAN=1. Node counts are from the formatted
  * explain, which lists each node twice (tree + details). */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toList match {
      case d :: rest if d.startsWith("/") => (d, rest)
      case rest                           => ("/root/testdata/sf0.001", rest)
    }
    val spark = SparkEntry.session("4", logLevel = "ERROR")
    val targets = if (names.nonEmpty) names else Queries.all.map(_.name).toList
    targets.foreach { name =>
      val df = Queries.byName(name).run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      def n(marker: String): Int = plan.linesIterator.count(_.contains(marker))
      println(s"==== $name ====")
      println(s"  exchanges=${n("Exchange")} broadcastJoins=${n("BroadcastHashJoin")} " +
        s"sortMergeJoins=${n("SortMergeJoin")} reusedExchanges=${n("ReusedExchange")} " +
        s"pushedFilterScans=${plan.linesIterator.count(l =>
          l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))}")
      if (sys.env.contains("SPARK_GRAFT_FULL_PLAN")) println(plan)
    }
    spark.stop()
  }
}
