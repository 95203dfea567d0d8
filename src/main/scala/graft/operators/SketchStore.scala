package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.TypedAggregators.KMinValues

/** Pre-aggregated distinct-count rollup: per-(bucket, group) KMV sketch
  * STATES are persisted once, and later distinct-count questions are
  * answered by MERGING stored sketches — query cost ∝ sketches touched
  * (|buckets| × |groups| rows of ≤ k longs), never the raw history.
  *
  * This is the pre-aggregation trick that makes interactive "distinct
  * users last quarter?" queries possible over a 100 TB event history:
  * the raw table is scanned exactly once at write time, and every
  * bucket subset (a day, a month, all time) is a cheap sketch merge.
  * KMV merge is EXACT — the k smallest of unions of k-smallest sets is
  * the k smallest of the union — so a merged estimate is bit-identical
  * to the sketch built directly over the raw rows (gate-verified), and
  * the portable hash family keeps it engine-reproducible.
  *
  * Scale: write = one two-phase aggregate over (bucket, group); merge =
  * one aggregate over stored states (explode ≤ k values per state —
  * union+trim, the same fold the Aggregator itself performs).
  */
object SketchStore {

  /** KMV distinct estimate from a sketch state: the sketch itself below
    * saturation, else `(k-1)·2^60 / h_k` (same estimator as
    * q_kmv_distinct — [[TypedAggregators.KMinValues]]). */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble * math.pow(2, 60)) /
        element_at(sketch, k)).cast("long"))

  /** Persist per-(bucket, group) KMV states of `keyCol`'s portable hash. */
  def write(df: DataFrame, path: String, bucketCol: String, groupCol: String,
            keyCol: String, k: Int): Unit = {
    val kmv = udaf(new KMinValues(k), Encoders.scalaLong)
    graft.FsOps.writeParquet(
      df.select(col(bucketCol).as("bucket"), col(groupCol).as("grp"),
          Dedup.portableTokenHash(col(keyCol).cast("string")).as("h"))
        .groupBy("bucket", "grp")
        .agg(kmv(col("h")).as("sketch")), path)
  }

  /** Distinct-count estimate per group over any bucket subset, computed
    * purely from stored states: `(grp, n_buckets, approx)`. Feeding each
    * stored value back through the Aggregator IS the union+trim merge. */
  def mergedEstimate(spark: SparkSession, path: String, k: Int,
                     bucketPred: Column = lit(true)): DataFrame = {
    val kmv = udaf(new KMinValues(k), Encoders.scalaLong)
    graft.FsOps.readParquet(spark, path)
      .filter(bucketPred)
      .select(col("grp"), col("bucket"), explode(col("sketch")).as("h"))
      .groupBy("grp")
      .agg(countDistinct(col("bucket")).as("n_buckets"), kmv(col("h")).as("sketch"))
      .select(col("grp"), col("n_buckets"), kmvEstimate(col("sketch"), k).as("approx"))
  }
}
