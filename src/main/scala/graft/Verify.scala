package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional trailing query names restrict the dump (local iteration);
    // the driver always runs the full surface
    val only = rest.toSet
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] FAILED $name: ${e.getMessage}")
      }
    }
    // Oracle-side auxiliary inputs (deterministic derived artifacts an
    // oracle reads — see QueryDef.aux): materialized in a SIBLING of
    // outDir, NOT inside it — the driver treats every outDir subdirectory
    // as a query output and its pandas compare crashes on the aux tables'
    // array columns (CORRECTNESS_r08 `_aux` TypeError: unhashable
    // numpy.ndarray). The dumped oracle SQL embeds the absolute path, so
    // DuckDB reads it from anywhere.
    // canonicalize BEFORE appending: stripSuffix only removes one slash,
    // so "out//" would yield "out/_aux" — back INSIDE outDir, resurrecting
    // the driver's pandas crash on aux array columns (ADVICE r9).
    val auxDir = new java.io.File(outDir).getCanonicalPath + "_aux"
    Queries.all
      .filter(q => (only.isEmpty || only(q.name)) && q.aux.nonEmpty)
      .foreach { q =>
        try q.aux.get(spark, sfDir, auxDir)
        catch { case e: Throwable =>
          errors(s"${q.name}#aux") = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] FAILED aux for ${q.name}: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace(OracleAux.Token, auxDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-describing no_oracle rows (VERDICT r13/r14 handoff): for every
    // declared query WITHOUT an oracle, say what pins its correctness
    // instead, so the driver artifact's rows-only checks are annotated.
    // A FILE next to oracle_sql.json, never a subdirectory (the driver
    // reads every outDir subdirectory as a query output).
    val noOracle = Queries.all.filter(_.oracle.isEmpty)
    noOracle.filter(_.pinnedBy.isEmpty).foreach(qd =>
      System.err.println(s"[verify] WARNING ${qd.name} has no oracle AND no " +
        "pinnedBy note — annotate it (QueryDef.pinnedBy)"))
    Files.writeString(Paths.get(s"$outDir/no_oracle_notes.json"),
      noOracle.map(qd =>
          s"${q(qd.name)}: ${q(qd.pinnedBy.getOrElse("UNANNOTATED"))}")
        .mkString("{", ",", "}"))
    // Loud failure record (r2 regression: a crashed query silently vanished
    // from the driver's per-query compare). errors.json + the final stderr
    // summary make any gap visible; tools/parity.py also FAILs on missing
    // output for every oracle key.
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} QUERIES FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
