package graft.control

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Delete-side jobs (SURVEY.md §2 S9/S10/J4/J5; reference
  * `process/management/commands/wiper.py:33-106` and
  * `deleteorphan.py:26-58`).
  *
  * Spark deletes are rewrites: the surviving rows are computed with
  * anti-joins and written back (or, for collection wipes over a layout
  * partitioned by `collection_id`, the partitions are simply dropped — the
  * 100 TB path needs no row scan at all; these functions express the
  * row-level semantics the partition drop implements).
  *
  * The reference batches GC deletes 100k rows at a time
  * (`deleteorphan.py:33,44`) to bound a transaction; a Spark overwrite is
  * one job, so no batching is needed (SURVEY §2 S10).
  */
object Wipe {

  /** S9/J5: rows of `facts` surviving a wipe of the collection trees rooted
    * at `roots`. The doomed set is the DAG closure of the roots (the
    * reference wipes parent + derived collections together); membership is
    * a `left_anti` join — the semi-join side is dimension-sized, so Spark
    * broadcasts it. */
  def wipeTrees(facts: DataFrame, collections: DataFrame, roots: Seq[Long]): DataFrame = {
    val doomed = Dag.tree(collections)
      .filter(col("root").isin(roots: _*))
      .select(col("id").as("__doomed_cid"))
    facts.join(
      broadcast(doomed), facts("collection_id") === col("__doomed_cid"), "left_anti")
  }

  /** Lake fact tables carrying a collection_id partition column — the set a
    * tree wipe must drop directories from. */
  val FactTables: Seq[String] = Seq(
    "release", "record", "compiled_release", "collection_note", "package_data",
    "release_check", "record_check")

  /** S9 physical form: the lake is collection_id-partitioned, so wiping a
    * tree is a partition-directory drop per fact table — no data rewrite,
    * no row scan (`wiper.py` deletes rows; the partitioned layout makes the
    * same semantics O(directories)). Shared by the CLI's deletecollection
    * and the API's destroy endpoint. */
  def dropTreePartitions(lake: String, ids: Set[Long]): Unit =
    for (table <- FactTables; id <- ids)
      graft.ingest.Sink.deleteDir(java.nio.file.Paths.get(s"$lake/$table/collection_id=$id"))

  /** S10/J4: content rows referenced by NONE of the fact projections — the
    * orphan set deleted by the GC. Each `refs` entry is a single-column
    * DataFrame of referenced ids; the chained `left_anti` is the Spark form
    * of the reference's three NOT EXISTS clauses. */
  def orphans(data: DataFrame, idCol: String, refs: Seq[DataFrame]): DataFrame =
    refs.foldLeft(data) { (d, r) =>
      val refCol = r.columns.head
      // SHUFFLE_HASH-pinned: each reference projection is as big as the
      // fact table it projects at 100 TB, so an estimate-based broadcast
      // at small SF would silently degrade all three anti-joins to
      // SortMergeJoin at scale
      d.join(r.select(col(refCol).as("__ref")).na.drop().hint("SHUFFLE_HASH"),
        d(idCol) === col("__ref"), "left_anti")
    }
}
