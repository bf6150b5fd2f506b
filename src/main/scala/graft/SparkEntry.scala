package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator declared done in SURVEY.md §2 has a `queries` entry here
  * (and a DuckDB `oracleSql` entry when SQL-expressible). The entries are
  * defined in graft.{Relational,Event,Text,Vector,Ocds}Queries as
  * [[QueryDef]]s documenting which §2 operator ids each exercises.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.byName("q_agg_sum_groupby").run(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  /** The session every main of this library runs in: `local[cpus]` with
    * as many shuffle partitions, the graft functions installed, UTC,
    * nanos-as-long parquet timestamps, no UI, and `logLevel` on the
    * context. */
  def session(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.install)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
