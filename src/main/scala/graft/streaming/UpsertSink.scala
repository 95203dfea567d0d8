package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed upsert into a plain-parquet store — the `foreachBatch` pattern
  * for maintaining a serving table (per-user totals, per-doc stats) from
  * a streaming aggregation in Update mode, without a transactional table
  * format: each micro-batch delivers only the keys whose aggregates
  * changed; merging them into the store keeps it equal to the
  * batch-over-all-data answer.
  *
  * Merge = carried rows (store anti-join batch keys) ∪ batch rows,
  * written to a temp dir and installed with the same rename-aside swap as
  * the index store — readers see the old or the new table, never half.
  *
  * Scale: this rewrites the whole store per batch, which is the right
  * trade only while the store is serving-table-sized (bounded key
  * domain). For unbounded stores, partition by a stable key range and
  * rewrite only the partitions the batch touches — same merge, same
  * swap, per partition.
  */
object UpsertSink {

  def upsertBatch(spark: SparkSession, path: String, batch: DataFrame,
                  keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      batch.write.mode("overwrite").parquet(path)
      return
    }
    val merged = spark.read.parquet(path)
      .join(batch.select(keys.map(org.apache.spark.sql.functions.col): _*).distinct(),
        keys, "left_anti")
      .unionByName(batch)
    val tmp = new Path(dir.getParent, s"_${dir.getName}.upsert_tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    graft.FsOps.atomicSwap(fs, dir, tmp)
  }

  /** CDC changelog apply — upsertBatch extended with delete tombstones:
    * every `batch` row carries an `opCol` marker; rows whose marker equals
    * `deleteOp` remove their key from the store, every other row upserts.
    * One merge covers both: carried rows = store anti-join ALL batch keys
    * (so deleted keys simply aren't re-added), then union the non-delete
    * rows. Same temp-write + rename-aside swap as upsertBatch — readers
    * see the pre- or post-changelog table, never a partial apply.
    *
    * Scale: cost ∝ |store| + |batch| with one anti-join shuffle (or
    * broadcast when the batch's key set is small); for unbounded stores
    * the partition-wise variant's layout applies the same way.
    */
  def applyChangelog(spark: SparkSession, path: String, batch: DataFrame,
                     keys: Seq[String], opCol: String = "_op",
                     deleteOp: String = "d"): Unit = {
    require(keys.nonEmpty, "changelog apply needs at least one key column")
    import org.apache.spark.sql.functions.col
    val upserts = batch.filter(col(opCol) =!= deleteOp).drop(opCol)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      upserts.write.mode("overwrite").parquet(path)
      return
    }
    val merged = spark.read.parquet(path)
      .join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(upserts)
    val tmp = new Path(dir.getParent, s"_${dir.getName}.upsert_tmp")
    merged.write.mode("overwrite").parquet(tmp.toString)
    graft.FsOps.atomicSwap(fs, dir, tmp)
  }

  /** Partition-wise upsert — the unbounded-store variant: the table is
    * laid out in `nParts` stable hash partitions of the first key, and a
    * batch rewrites ONLY the partitions its keys fall into, via dynamic
    * partition overwrite (untouched partitions' files are never read or
    * written). Cost per batch ∝ touched partitions, not store size; with
    * keys hash-spread, touched ≈ min(nParts, distinct batch keys), so
    * pick nParts well above the typical batch's key count.
    */
  def upsertBatchPartitioned(spark: SparkSession, path: String, batch: DataFrame,
                             keys: Seq[String], nParts: Int = 64): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val partCol = pmod(hash(col(keys.head)), lit(nParts))
    val withPart = batch.withColumn("part_bucket", partCol)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the layout is part of the store: a batch upserted with a different
    // nParts would compute different buckets and silently duplicate keys
    // (old row left in the old bucket, new row written to the new one) —
    // persist nParts on create and fail fast on mismatch
    val marker = new Path(dir, "_nparts")
    val merged =
      if (!fs.exists(dir)) withPart
      else {
        if (fs.exists(marker)) {
          val stored = {
            val in = fs.open(marker)
            try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8).trim.toInt
            finally in.close()
          }
          require(stored == nParts,
            s"upsert: store at $path was created with nParts=$stored, got $nParts")
        }
        // touched partition ids: driver-side metadata, ≤ nParts ints — an
        // isin literal prunes the store scan to those partition dirs
        val touched = withPart.select("part_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        spark.read.parquet(path)
          .filter(col("part_bucket").isin(touched: _*))
          .join(withPart.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(withPart)
      }
    // localCheckpoint materializes the merged rows BEFORE the overwrite:
    // the plan would otherwise still reference the files it is replacing.
    // Dynamic overwrite is a per-write option: session conf stays
    // untouched (other writes may be running concurrently under Par)
    merged.localCheckpoint(true).repartition(col("part_bucket"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_bucket").parquet(path)
    if (!fs.exists(marker)) {
      val out = fs.create(marker, true)
      try out.write(nParts.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Attach an upsert sink to a streaming aggregation: Update output mode
    * (only changed keys flow per batch) merged into the store at `path`. */
  def writeUpserting(agg: DataFrame, path: String, keys: Seq[String],
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(batch.sparkSession, path, batch, keys)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
