package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared filesystem lifecycle primitives for the stores (index store,
  * dedup store, compaction, upsert sinks). One implementation of the
  * crash-safe swap so error handling cannot diverge between call sites,
  * one read entry for every store table ([[readParquet]]) and one write
  * entry ([[writeParquet]], with its catalog twin [[saveBucketedTable]]).
  *
  * The store's physical encoding is decided here and nowhere else:
  *   - Codec: every parquet file graft writes is zstd-compressed
  *     ([[Codec]]). On the index tables zstd alone is about 23% smaller
  *     than Spark's snappy default, and every byte saved is a byte each
  *     verb and query no longer reads back.
  *   - Row order: the family that owns a table declares its within-file
  *     row order once (the index family's `Indexer.RowOrder`) and passes
  *     it as `rowOrder`; the writer sorts each task's rows by the
  *     partition columns and then that order. A partitioned write sorts
  *     by its partition columns anyway, so the longer sort adds no
  *     exchange and no Spark job; sorted postings put equal terms and
  *     near doc ids side by side, which is what makes them compress
  *     (Zobel & Moffat, ACM CSUR 2006): together with zstd, 29% smaller.
  *   - No option, no env var: a knob would make the physical format a
  *     caller's choice again, and every space figure and reader would
  *     have to assume any codec. Parquet records the codec per column
  *     chunk, so stores written before (snappy) stay readable, and an
  *     append to one simply mixes codecs per file.
  */
object FsOps {

  /** The one parquet codec of every table graft writes (see above). */
  private val Codec = "zstd"

  /** Write `df` as parquet at `dir` — the single write entry for every
    * table graft writes, so each file carries [[Codec]]. `partitionBy`
    * names the directory partition columns; `rowOrder` is the table's
    * declared within-file order (empty: rows land in the order the plan
    * leaves them). `dynamicOverwrite` replaces only the partitions `df`
    * holds (Spark's `partitionOverwriteMode=dynamic`, per write). */
  def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String,
                   mode: String = "overwrite", partitionBy: Seq[String] = Nil,
                   rowOrder: Seq[String] = Nil,
                   dynamicOverwrite: Boolean = false): Unit = {
    val ordered =
      if (rowOrder.isEmpty) df
      else df.sortWithinPartitions((partitionBy ++ rowOrder).map(df.col): _*)
    val w = partitioned(writer(ordered, mode), partitionBy)
    (if (dynamicOverwrite) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(dir)
  }

  /** Catalog twin of [[writeParquet]]: save `df` as the parquet catalog
    * table `table`, bucketed and sorted by `key` into `nBuckets`
    * buckets, at `location` when given (an external table) or in the
    * warehouse. The bucket layout keeps its own sort (`key`). */
  def saveBucketedTable(df: org.apache.spark.sql.DataFrame, table: String,
                        nBuckets: Int, key: String, mode: String,
                        partitionBy: Seq[String] = Nil,
                        location: Option[String] = None): Unit = {
    val w = partitioned(writer(df, mode).format("parquet")
      .bucketBy(nBuckets, key).sortBy(key), partitionBy)
    location.foldLeft(w)(_.option("path", _)).saveAsTable(table)
  }

  private def writer(df: org.apache.spark.sql.DataFrame, mode: String) =
    df.write.mode(mode).option("compression", Codec)

  private def partitioned(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
                          cols: Seq[String]) =
    if (cols.isEmpty) w else w.partitionBy(cols: _*)

  /** Read parquet table directories with the schema resolved on the
    * driver from ONE footer — the single read entry for every store
    * table. A plain `spark.read.parquet(dir)` infers the schema with a
    * one-task Spark job per read (even with `mergeSchema` off), which
    * made schema inference up to half the jobs of a store query. The
    * footer is the one Spark's inference reads, converted by Spark's own
    * rule ([[org.apache.spark.sql.graft.ParquetFooterSchema]]), and
    * partition columns (`term_bucket`, `v`) are left to Spark's
    * partition discovery, so the schema equals the inferred one. With no
    * file under `dirs` (a missing directory, a drained husk) the read is
    * Spark's own and raises its usual error. `basePath` is Spark's
    * partition-discovery root option. */
  def readParquet(spark: org.apache.spark.sql.SparkSession,
                  dirs: String*): org.apache.spark.sql.DataFrame =
    readParquet(spark, dirs, basePath = None)

  def readParquet(spark: org.apache.spark.sql.SparkSession, dirs: Seq[String],
                  basePath: Option[String]): org.apache.spark.sql.DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    org.apache.spark.sql.graft.ParquetFooterSchema.of(spark, dirs) match {
      case Some(schema) => reader.schema(schema).parquet(dirs: _*)
      case None => reader.parquet(dirs: _*)
    }
  }

  /** Consumed-shard husk discipline (VERDICT r13 #4): a move-mode shard
    * merge DRAINS its sources' data files but leaves markers and small
    * tables behind. A later read of such a husk used to die on parquet
    * schema inference over an empty directory — loud but cryptic, and
    * an append into one would silently build on drained data. Every
    * move-mode merge now stamps each consumed source with
    * `_merged_into=<dest>` AFTER the dest's commit marker lands (so a
    * genuinely-crashed merge, dest uncommitted, carries no stamp and
    * resumes normally), the store families' read/append/maintenance
    * entries refuse stamped husks by name, and `Maintain pipeline
    * scrap` deletes husks whose recorded dest is certified committed.
    */
  val MergedIntoMarker = "_merged_into"

  /** Where this store's data went, if it was consumed by a move-mode
    * merge (None = live store). */
  def mergedInto(spark: org.apache.spark.sql.SparkSession,
                 path: String): Option[String] =
    readMarker(spark, path, MergedIntoMarker).map(_.trim).filter(_.nonEmpty)

  /** Refuse to operate on a consumed husk — the pointed error every
    * family's read/append/maintenance entry throws instead of a parquet
    * schema-inference failure on drained directories. */
  def requireNotHusk(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit =
    mergedInto(spark, path).foreach { dest =>
      throw new IllegalStateException(
        s"$path was consumed by a move-mode shard merge into $dest " +
          "(marker _merged_into) — read or append at the merged store; " +
          "delete this husk with: Maintain pipeline scrap " + path)
    }

  /** Write a small driver-side text marker at `<path>/<marker>` — the
    * shared bookkeeping primitive behind every store's `_lastbatch` /
    * audit-watermark / `_geometry` / `_fingerprint` discipline. Written
    * tmp-first and installed via [[atomicSwap]]: a crash mid-write can
    * never leave a TRUNCATED marker behind (a direct create() truncates
    * the old value before the new bytes land, and an empty `_lastbatch`
    * wedges every later op on the store); the residual crash window
    * leaves the marker absent, which every reader already treats as
    * "never recorded". */
  def writeMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                  marker: String, value: String): Unit = {
    val p = new Path(s"$path/$marker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$path/_$marker.tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    atomicSwap(fs, p, tmp)
  }

  /** Read a marker back (None when absent). A marker missing at its live
    * path falls back to the `.swap_old` aside [[atomicSwap]] leaves
    * behind: the swap's residual crash window (old value renamed aside,
    * new value not yet installed) must not read as "never recorded" —
    * for `_lastbatch` that absence would silently downgrade a
    * batch-tracked store to legacy and the next append would write
    * UNTAGGED rows, mixing schemas. The aside holds the last durable
    * value, which is exactly what a reader should recover.
    *
    * When the LIVE file exists alongside a stray aside (the swap's OTHER
    * crash window: new value installed, aside not yet deleted), the aside
    * is STALE — and left in place it becomes a trap: a later manual
    * delete of the live marker (a documented reset procedure) would
    * silently resurrect the old value through this very fallback (e.g.
    * an outdated `_lastbatch` causing ordinal reuse). Readers do NOT
    * delete it, though: a read can run CONCURRENTLY with a writer's
    * [[atomicSwap]], and "live present, aside present" is also the
    * mid-swap state right after rename(live→aside) + rename(tmp→live) —
    * a reader that sampled the two exists() around the writer's renames
    * could delete the only durable copy the writer's crash-rollback
    * still needs. Stale asides heal on the WRITER side (the next
    * [[atomicSwap]] deletes them first) or explicitly via
    * [[healStaleAsides]] (the `heal-markers` maintenance verb, run
    * without a concurrent writer — the reset procedure's companion). */
  def readMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                 marker: String): Option[String] = {
    val p = new Path(s"$path/$marker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target =
      if (fs.exists(p)) Some(p)
      else if (fs.exists(asideOf(p))) Some(asideOf(p))
      else None
    target.map { t =>
      val in = fs.open(t)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
  }

  /** Delete every `_<marker>.swap_old` aside under `path` whose live
    * marker exists — the maintenance-verb side of the stale-aside trap
    * documented on [[readMarker]]. Single-writer discipline applies: run
    * this only when no writer can be mid-[[atomicSwap]] on the store
    * (cron maintenance windows, or right before a manual marker reset).
    * Asides whose live file is MISSING are kept — they are the only
    * durable copy of a crashed swap's value and [[readMarker]] still
    * recovers from them. Returns the healed marker names (driver-side
    * metadata: one directory listing). */
  def healStaleAsides(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[String] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("_") && n.endsWith(".swap_old"))
      .flatMap { n =>
        val live = n.stripPrefix("_").stripSuffix(".swap_old")
        if (fs.exists(new Path(dir, live)) &&
            fs.delete(new Path(dir, n), true)) Some(live) else None
      }
  }

  /** Transfer the visible (non-`_`/`.`-prefixed) data files under
    * `fromDir` into `toDir` as `<prefix><name>` — the file primitive of
    * [[graft.operators.ShardMerge]]. It descends visible partition dirs,
    * passing each dir name through `rename` (the IVF `batch=`/`cid=`
    * remap), and moves files only: hidden files and markers stay. Per
    * file idempotent: a landed target skips, so a crashed merge re-runs
    * to completion. `move` renames (the O(files) path that consumes the
    * shard), copy otherwise. */
  def transferDataFiles(spark: org.apache.spark.sql.SparkSession,
                        fromDir: String, toDir: String, prefix: String,
                        move: Boolean): Unit =
    transferDataFiles(spark, fromDir, toDir, prefix, move, identity)

  private[graft] def transferDataFiles(spark: org.apache.spark.sql.SparkSession,
                                       fromDir: String, toDir: String, prefix: String,
                                       move: Boolean, rename: String => String): Unit = {
    val fs = new Path(fromDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(from: Path, into: Path): Unit = {
      fs.mkdirs(into)
      for (st <- fs.listStatus(from).toSeq if visible(st.getPath.getName)) {
        val name = st.getPath.getName
        lazy val to = new Path(into, s"$prefix$name")
        if (st.isDirectory) walk(st.getPath, new Path(into, rename(name)))
        else if (!fs.exists(to)) {
          if (move) {
            if (!fs.rename(st.getPath, to))
              throw new java.io.IOException(s"rename ${st.getPath} -> $to failed")
          } else {
            // copy is NOT crash-atomic, so never copy straight to the final
            // name: a death mid-copy would leave a truncated file that the
            // skip-if-exists resume keeps — and then COMMITS. Stage under a
            // dot-name (invisible to Spark listings), rename into place
            // (atomic); overwrite=true reclaims a crashed copy's debris.
            val tmp = new Path(into, s".$prefix$name.copying")
            if (!org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, tmp,
                false, true, spark.sparkContext.hadoopConfiguration))
              throw new java.io.IOException(s"copy ${st.getPath} -> $tmp failed")
            if (!fs.rename(tmp, to))
              throw new java.io.IOException(s"rename $tmp -> $to failed")
          }
        }
      }
    }
    if (fs.exists(new Path(fromDir))) walk(new Path(fromDir), new Path(toDir))
  }

  /** Visible (non-`_`/`.`-prefixed) data file NAMES under `dir`,
    * recursing through visible subdirectories — the drained-ness probe
    * of a shard merge's husk-stamp resume (bounded: directory metadata
    * only, never file contents). Empty when the directory is absent. */
  def visibleDataFiles(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Seq[String] =
      fs.listStatus(d).toSeq.filter(st => visible(st.getPath.getName))
        .flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath.getName))
    if (fs.exists(p)) walk(p) else Seq.empty
  }

  /** Spark's listing convention: `_`/`.`-prefixed names are metadata. */
  private[graft] def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** One-long marker face of [[writeMarker]]/[[readMarker]]. */
  def writeLongMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                      marker: String, v: Long): Unit =
    writeMarker(spark, path, marker, v.toString)

  def readLongMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                     marker: String): Option[Long] =
    readParsedMarker(spark, path, marker)(_.toLong)

  /** [[readMarker]] decoded by `parse` (a number, a comma list of
    * numbers): a value `parse` rejects with a `NumberFormatException`
    * raises the named corrupt-marker error below, never the bare parse
    * exception, which would say neither which file nor how to reset it. */
  def readParsedMarker[T](spark: org.apache.spark.sql.SparkSession, path: String,
                          marker: String)(parse: String => T): Option[T] =
    readMarker(spark, path, marker).map { s =>
      try parse(s.trim)
      catch { case _: NumberFormatException =>
        throw new IllegalStateException(
          s"corrupt marker $path/$marker: '${s.trim}' holds a non-number — " +
            "REWRITE it to the correct value (FsOps.writeMarker; e.g. " +
            "a store's _lastbatch = max(batch) over its tables — deleting " +
            "that one would downgrade a tracked store to legacy and the " +
            "next append would mix schemas). Only for markers whose " +
            "absence is truly benign, delete the file AND any " +
            s"$path/_$marker.swap_old aside (readers recover a missing " +
            "marker from the aside, so a reset must remove both)")
      }
    }

  /** Delete a marker: its `.swap_old` aside first, then the live file —
    * [[readMarker]] recovers a missing marker from the aside, so a reset
    * must drop both, and a crash between the two deletes leaves the live
    * value readable rather than resurrecting the older aside. */
  def deleteMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                   marker: String): Unit = {
    val p = new Path(s"$path/$marker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(asideOf(p), true)
    fs.delete(p, true)
  }

  /** Where [[atomicSwap]] moves `live` aside. Leading underscore: ignored
    * by Spark's file listing, so an aside copy inside a partitioned table
    * root is never parsed as a partition. */
  private def asideOf(live: Path): Path =
    new Path(live.getParent, s"_${live.getName}.swap_old")

  /** Install `tmp` at `live` via rename-aside: readers observe the old or
    * the new directory, never half of either, and no failure mode deletes
    * the only remaining copy — every rename's return value is checked,
    * and the aside copy is only dropped after the install succeeded.
    */
  def atomicSwap(fs: FileSystem, live: Path, tmp: Path): Unit = {
    val old = asideOf(live)
    fs.delete(old, true) // leftover from a previous crashed swap
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, old))
      throw new java.io.IOException(s"swap: failed to move $live aside to $old")
    if (!fs.rename(tmp, live)) {
      if (hadLive) fs.rename(old, live) // roll back
      throw new java.io.IOException(s"swap: failed to install $tmp at $live")
    }
    fs.delete(old, true)
  }
}
