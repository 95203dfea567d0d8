package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Uniform access to the driver-generated fixture tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    FsOps.readParquet(spark, s"$sfDir/$name.parquet")

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) —
    * which Spark 4 refuses to read as a timestamp — or plain
    * TIMESTAMP(MICROS), depending on the fixture generation. Adapt to
    * whichever layout is on disk:
    *   - NANOS: read nanos as long and truncate to microseconds with
    *     exact integer division (same truncation DuckDB applies when it
    *     reads ns into its µs TIMESTAMP — keeps both engines aligned);
    *   - MICROS (isAdjustedToUTC=false → Spark's TIMESTAMP_NTZ): cast
    *     to the session-zone TimestampType. The session zone is pinned
    *     to UTC everywhere (Verify/Bench/specs), so the wall-clock
    *     values — and every downstream window/date_trunc — are
    *     identical to DuckDB's naive-µs reading of the same file.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      // any other type means the fixture format regressed — fail loudly
      // instead of null-casting every timestamp downstream (ADVICE r8)
      case other => throw new IllegalArgumentException(
        s"events.ts: unexpected parquet type $other (expected INT64 nanos, " +
          "TIMESTAMP, or TIMESTAMP_NTZ) — fixture-format regression?")
    }
  }
}
