package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: the zero-shuffle co-located join path for the
  * fact-fact joins that dominate at 100 TB (orders ⋈ lineitem, postings
  * ⋈ doc_stats).
  *
  * Writing both sides bucketed (and sorted) by the join key into the
  * catalog lets Spark plan a SortMergeJoin with NO Exchange on either
  * side — the shuffle is paid once at write time and amortized over
  * every subsequent join. This is the Spark-native analog of the
  * reference's Cassandra clustering keys (`load_index.py:34-41`), but on
  * open parquet files.
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted parquet table in the session
    * catalog (replacing any existing table of that name). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a crashed prior write can leave an orphaned managed-table location
    // that CREATE TABLE refuses to reuse — clear it
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = java.nio.file.Paths.get(warehouse, table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    // align rows to their bucket BEFORE the write: repartition's hash
    // placement (pmod(hash, n)) is the same function bucketBy uses, so
    // each task holds exactly one bucket's rows and writes one file —
    // otherwise every task writes into every bucket (tasks × buckets
    // small files)
    graft.FsOps.saveBucketedTable(df.repartition(nBuckets, df.col(key)), table,
      nBuckets, key, "errorifexists") // managed table under spark.sql.warehouse.dir
  }

  /** Join two same-bucketed catalog tables on their bucket key —
    * planned shuffle-free when bucket counts match. `forceSortMerge`
    * pins the SMJ strategy via a join hint (no session-conf mutation):
    * on small fixtures Catalyst would broadcast one side and hide the
    * bucketing; at fact-fact scale neither side broadcasts anyway.
    */
  def cogroupJoin(spark: SparkSession, leftTable: String, rightTable: String,
                  key: String, forceSortMerge: Boolean = false): DataFrame = {
    val left = spark.table(leftTable)
    val l = if (forceSortMerge) left.hint("merge") else left
    l.join(spark.table(rightTable), key)
  }
}
