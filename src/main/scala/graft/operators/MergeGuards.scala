package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The contract guards every store-family shard merge shares
  * ([[graft.index.StoreMerge]], [[graft.dedup.DedupStore.mergeStores]],
  * [[graft.similarity.IvfStore.mergeStores]]) — single-sourced so a fix
  * lands once. The DATA-reading guards (disjointness, schema parity)
  * must be called only on a FRESH merge: a crashed move-mode merge has
  * already drained source tables, so a resume that re-read them would
  * die on empty directories — the callers skip them when the dest
  * already holds transferred files (the guards passed before the first
  * file ever moved). */
object MergeGuards {

  /** ≥ 2 distinct sources, destination not among them. */
  def requireMergeable(sources: Seq[String], dest: String): Unit = {
    require(sources.size >= 2, "mergeStores needs at least two source stores")
    require(sources.distinct.size == sources.size, "duplicate source store")
    require(!sources.contains(dest), "destination must not be a source")
  }

  /** Disjoint RAW id spaces across `dirs` (one column-pruned union-agg;
    * ≤ 3-id driver sample in the error). */
  def requireDisjointIds(spark: SparkSession, dirs: Seq[String],
                         idCol: String): Unit = {
    val overlap = dirs.map(d => graft.FsOps.readParquet(spark, d).select(idCol))
      .reduce(_ union _)
      .groupBy(idCol).agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .limit(3).collect()
    require(overlap.isEmpty,
      s"sources share ${idCol}s (e.g. ${overlap.map(_.get(0)).mkString(", ")}) — " +
        "shard id spaces must be disjoint (a tombstoned id counts: its " +
        "tombstone would mask a live twin from another shard)")
  }

  /** Identical parquet schema for `table` across the source stores. */
  def requireSchemaParity(spark: SparkSession, sources: Seq[String],
                          table: String): Unit =
    requireSchemaParityDirs(spark, sources.map(s => s"$s/$table"), table)

  /** [[requireSchemaParity]] over already-RESOLVED table directories —
    * the form manifest-framed stores need (their table dirs are
    * `tables/<t>/g=<gen>` paths the caller resolves, not
    * `<store>/<table>` children). */
  def requireSchemaParityDirs(spark: SparkSession, dirs: Seq[String],
                              table: String): Unit = {
    val schemas = dirs.map(d => graft.FsOps.readParquet(spark, d).schema)
    require(schemas.distinct.size == 1,
      s"sources disagree on the $table schema: " +
        s"${schemas.distinct.mkString(" vs ")}")
  }
}
