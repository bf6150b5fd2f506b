package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor replicator for the local scale study (VERDICT r7 #5):
  * every 100×-design claim was extrapolated from sf0.1, so this main
  * builds an N× copy of a testdata dir by unioning N id-shifted copies of
  * the tables the headline queries read — `events` (the compile family's
  * release source), `documents` (the text/dedup family), `embeddings`
  * (the ANN family) — and passing the small dims through unchanged.
  *
  * Replication preserves the workload's SHAPE rather than fattening it:
  *  - ids get a per-copy stride (event_id/user_id/doc_id/vec_id), so the
  *    GROUP COUNT scales linearly while per-group size stays fixed — the
  *    compile merge still sees the same releases-per-ocid, there are just
  *    N× more ocids (how a bigger crawl actually looks);
  *  - `documents.text` tokens are namespaced per copy (`c3_<token>`), so
  *    cross-copy Jaccard is exactly 0 and the near-dup pair set scales
  *    linearly — plain replication would add 45 jaccard-1.0 pairs per
  *    replicated doc and turn a linear workload quadratic;
  *  - copy 0 is byte-identical to the source, so the scaled corpus
  *    CONTAINS the original and per-copy results stay comparable;
  *  - `embeddings.vec_id = 0` (the ANN query vector) stays unique for
  *    free — shifted copies have nonzero ids; the duplicate VECTORS are
  *    kept deliberately (exact-duplicate vectors are what a 100 TB corpus
  *    looks like before its dedup pass runs).
  *
  * Output is written as `spark.sparkContext.defaultParallelism`-file
  * parquet — the testdata files are single-row-group (one task per scan,
  * a harness artifact the queries compensate for with Tables.fanOut);
  * production tables are many-file, and the scale study should measure
  * that layout.
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <destDir> <factor>` */
object ScaleGen {
  private val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    val Array(src, dest, fStr) = args.take(3)
    val factor = fStr.toInt
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    generate(spark, src, dest, factor)
    spark.stop()
  }

  /** Build the N× replica (callable from the CI-lite scale suite, which
    * brings its own session; `main` is the standalone CLI wrapper). */
  def generate(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // events.parquet is TIMESTAMP(NANOS); the mains set this at session
    // build, but callers with their own session (the CI-lite scale suite)
    // need it too — runtime-settable, so set it unconditionally here
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def copies(table: String)(shift: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until factor).map(i => shift(base, i)).reduce(_ unionByName _)
    }
    def write(df: DataFrame, table: String): Unit = {
      df.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dest/$table.parquet")
      println(s"[scalegen] $table: ${spark.read.parquet(s"$dest/$table.parquet").count()} rows")
    }

    write(copies("events") { (e, i) =>
      e.withColumn("event_id", col("event_id") + lit(i * Stride))
        .withColumn("user_id", col("user_id") + lit(i * Stride))
    }, "events")

    write(copies("documents") { (d, i) =>
      val doc = d.withColumn("doc_id", col("doc_id") + lit(i * Stride))
      if (i == 0) doc
      else doc.withColumn("text",
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit(s"c${i}_"), t))))
    }, "documents")

    write(copies("embeddings") { (e, i) =>
      e.withColumn("vec_id", col("vec_id") + lit(i * Stride))
    }, "embeddings")

    // dims and facts the headline scale queries don't stress: pass through
    // unchanged so the dest dir serves every query that only needs them
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem")) {
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
  }
}
