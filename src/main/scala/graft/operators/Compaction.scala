package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directories — the table-maintenance
  * operation every long-lived 100 TB store needs: incremental appends
  * (streaming micro-batches, [[graft.index.Indexer.appendIndex]],
  * [[graft.dedup.DedupStore.ingest]]) accumulate files far below the
  * ideal scan size, and scan parallelism/throughput degrades with
  * per-file open cost and tiny row groups.
  *
  * Design:
  *   - target file count = ceil(total bytes / targetBytes), computed from
  *     a driver-side LISTING (metadata only — at 100 TB run per partition
  *     directory, not over the whole table root);
  *   - `coalesce` (no shuffle) when reducing file count — compaction
  *     must not pay a full exchange to merge files; `repartition` only
  *     when the data must be split wider than it currently is;
  *   - rewrite lands in a sibling temp dir, then the same rename-aside
  *     swap as the index store: readers never observe a half-written
  *     directory, and a crash leaves either the old or the new copy.
  */
object Compaction {

  final case class CompactionStats(filesBefore: Int, filesAfter: Int,
                                   bytes: Long, targetFiles: Int)

  /** The `rangeBy` a store table at `dir` compacts by: `batch` when the
    * table is batch-tracked (see [[compact]]), else none. */
  private[graft] def batchRange(spark: SparkSession, dir: String): Seq[String] =
    if (graft.FsOps.readParquet(spark, dir).columns.contains("batch")) Seq("batch")
    else Seq.empty

  /** Rewrite the parquet directory at `path` into ~`targetBytes` files.
    * Returns the before/after accounting.
    *
    * `rangeBy` (optional): range-partition + sort the rewrite by these
    * columns instead of coalescing. For batch-tracked stores
    * (`rangeBy = Seq("batch")`) this PRESERVES file-level min/max
    * skipping for the incremental audits: a plain coalesce merges rows
    * from many ingest batches into each file, so every file's
    * `batch` min/max spans the audit watermark and a `batch > since`
    * filter can no longer skip any file — range partitioning keeps each
    * file a contiguous batch range (at most ONE file straddles the
    * watermark), so pre-audit files still prune on footer statistics
    * alone. Costs one exchange where coalesce costs none — the right
    * trade for a scheduled maintenance job whose output must keep the
    * daily audit cheap.
    *
    * `rowOrder` (optional): the table's declared within-file row order
    * (e.g. [[graft.index.Indexer.RowOrder]]), so a rewrite keeps the
    * order its family's writes give the table. It follows `rangeBy` in
    * the within-file sort: each file holds contiguous `rangeBy` runs,
    * each run in the declared order. Leading with the range columns
    * keeps per-row-group and per-page `batch` statistics tight, so
    * inside the one file that straddles an audit watermark the
    * pre-watermark row groups and pages still skip; ordering inside
    * each run keeps the compression the declared order buys. Measured
    * on an sf0.01 index in six batches: the declared order leading
    * instead made the `batch > since` audit read 14% more bytes (49%
    * with 16 KB row groups) and its files were 3% larger. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              rangeBy: Seq[String] = Seq.empty,
              rowOrder: Seq[String] = Seq.empty): CompactionStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(dir).filter(s => graft.FsOps.visible(s.getPath.getName))
    // a partitioned table root (subdirectories) must be compacted PER
    // PARTITION DIRECTORY — a flat rewrite would destroy the partition
    // layout that readers (partition pruning, dynamic overwrite) rely on
    val subDirs = entries.filter(_.isDirectory).map(_.getPath.getName)
    require(subDirs.isEmpty,
      s"compact: $path contains partition subdirectories " +
        s"(${subDirs.take(3).mkString(", ")}…) — compact each partition " +
        "directory individually, not the table root")
    val dataFiles = entries.filter(_.isFile)
    val totalBytes = dataFiles.map(_.getLen).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    // Idempotence short-circuits — a scheduled `index compact` cron must
    // not pay a full table rewrite on a store nothing touched since the
    // last run. Plain path: already at the target file count AND no file
    // grossly oversized — count parity alone does not imply balance (one
    // near-total-size file plus tiny ones can match the computed target
    // and would then never be rebalanced), so the skip also requires
    // every file within a compression-granularity margin of targetBytes.
    // rangeBy path:
    // repartitionByRange always rewrites (its value is the LAYOUT, not
    // the count), so the no-op test is a `_compact_range_state` marker
    // recording a fingerprint of the exact file listing + request the
    // last range-compaction produced — any append, expunge, or changed
    // rangeBy/rowOrder/targetBytes perturbs the listing or the request
    // and forces a genuine re-run. Listing fingerprints are driver-side
    // metadata (≤ file count entries), never a data scan.
    val balanced = dataFiles.forall(_.getLen <= (targetBytes * 3) / 2)
    if (rangeBy.isEmpty && target == dataFiles.length && balanced)
      return CompactionStats(dataFiles.length, dataFiles.length, totalBytes, target)
    if (rangeBy.nonEmpty &&
        graft.FsOps.readMarker(spark, path, RangeStateMarker)
          .contains(listingFingerprint(dataFiles.toSeq, rangeBy, rowOrder, target)))
      return CompactionStats(dataFiles.length, dataFiles.length, totalBytes, target)

    val df = graft.FsOps.readParquet(spark, path)
    val sized =
      if (rangeBy.nonEmpty)
        df.repartitionByRange(target, rangeBy.map(df.col): _*)
      else if (target < dataFiles.length) df.coalesce(target)
      // target >= count: widening, or count-parity-but-imbalanced (the
      // skip above declined) — either way only a real exchange
      // rebalances; coalesce can only merge and read-splits don't split
      // small-but-skewed files
      else df.repartition(target)
    // underscore prefix: invisible to concurrent readers of a partitioned
    // parent (and never parsed as a partition dir)
    val tmp = new Path(dir.getParent, s"_${dir.getName}.compact_tmp")
    // the range columns lead the within-file sort: that tightens
    // per-ROW-GROUP statistics too (inside a straddling file,
    // pre-watermark row groups still skip); the declared order follows
    graft.FsOps.writeParquet(sized, tmp.toString, rowOrder = rangeBy ++ rowOrder)
    graft.FsOps.atomicSwap(fs, dir, tmp)

    val installed = fs.listStatus(dir).filter(s =>
      s.isFile && graft.FsOps.visible(s.getPath.getName))
    // record what THIS range-compaction produced, so the next scheduled
    // run over an untouched directory is a metadata no-op (see above).
    // The fingerprint carries the target the NEXT run will compute from
    // the installed listing — compacted files compress differently from
    // the fragmented input, so this run's own target would mismatch and
    // defeat the skip. Consequence: the installed file count may sit a
    // compression-granularity margin above the recomputed target; the
    // skip keeps it (the files are already range-disjoint and
    // near-target-sized — re-splitting them buys nothing a cron should
    // pay a rewrite for). Written after the swap into the new live dir
    // (the swap replaced the whole directory, old markers with it);
    // underscore-named, so neither the reader nor the next listing sees
    // it as data.
    if (rangeBy.nonEmpty) {
      val nextTarget = math.max(1,
        math.ceil(installed.map(_.getLen).sum.toDouble / targetBytes).toInt)
      graft.FsOps.writeMarker(spark, path, RangeStateMarker,
        listingFingerprint(installed.toSeq, rangeBy, rowOrder, nextTarget))
    }
    CompactionStats(dataFiles.length, installed.length, totalBytes, target)
  }

  /** Marker recording the file listing a range-compaction produced
    * (underscore-prefixed: invisible to Spark's file listing). */
  private[graft] val RangeStateMarker = "_compact_range_state"

  /** Order-independent fingerprint of a data-file listing plus the
    * compaction request itself — equal iff the directory's visible data
    * files (names AND sizes) and the (rangeBy, rowOrder, target) request
    * are all unchanged. */
  private def listingFingerprint(files: Seq[org.apache.hadoop.fs.FileStatus],
                                 rangeBy: Seq[String], rowOrder: Seq[String],
                                 target: Int): String = {
    val c = new java.util.zip.CRC32()
    val body = files.map(f => s"${f.getPath.getName}:${f.getLen}").sorted
      .mkString("\n") + s"\nrangeBy=${rangeBy.mkString(",")};target=$target" +
      (if (rowOrder.isEmpty) "" else s";rowOrder=${rowOrder.mkString(",")}")
    c.update(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  /** Compact every `col=value` partition directory under a partitioned
    * table root, one swap per partition — concurrent readers of the table
    * always see each partition either fully old or fully new. This is the
    * table-maintenance loop for the append-heavy partitioned stores
    * (index postings term buckets, IVF lists, partition-wise upsert).
    * The per-partition listing/swap loop is driver-side METADATA —
    * the data rewrites themselves are distributed jobs.
    */
  def compactPartitions(spark: SparkSession, root: String,
                        targetBytes: Long = 128L * 1024 * 1024,
                        rangeBy: Seq[String] = Seq.empty): Map[String, CompactionStats] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // each partition dir compacts (and swaps) independently — overlap
    // them (guide §2.6): a term-bucketed store is otherwise a serial
    // chain of per-bucket listing+rewrite+swap steps
    val parts = partitionDirs(fs, dir)
    parts.map(_.getName).zip(Par.map(parts)(p =>
      compact(spark, p.toString, targetBytes, rangeBy))).toMap
  }

  /** Multi-level variant: walk nested `k=v` directories down to the LEAF
    * partitions (dirs whose children are data files, not further `k=v`
    * dirs) and compact each leaf — the maintenance loop for stores with
    * two partition levels like the streaming IVF lists (`batch=/cid=`,
    * [[graft.similarity.IvfStore.appendBatch]]). Keys in the returned map
    * are root-relative partition paths (`batch=3/cid=7`). Same swap
    * discipline as [[compact]]: readers see each leaf fully old or fully
    * new; the walk itself is driver-side metadata.
    */
  def compactPartitionsRecursive(spark: SparkSession, root: String,
                                 targetBytes: Long = 128L * 1024 * 1024,
                                 rangeBy: Seq[String] = Seq.empty,
                                 rowOrder: Seq[String] = Seq.empty): Map[String, CompactionStats] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path): Seq[Path] = {
      val kids = partitionDirs(fs, p)
      if (kids.isEmpty) Seq(p) else kids.flatMap(leaves)
    }
    val rootPrefix = dir.toUri.getPath.stripSuffix("/") + "/"
    // same overlap as [[compactPartitions]]: leaves are independent
    val leafDirs = partitionDirs(fs, dir).flatMap(leaves)
    leafDirs.map(_.toUri.getPath.stripPrefix(rootPrefix))
      .zip(Par.map(leafDirs)(p =>
        compact(spark, p.toString, targetBytes, rangeBy, rowOrder))).toMap
  }

  /** Fragmentation ADVISOR over a store's table directories (VERDICT
    * r18 #6 — the detect half of the advise/apply loop `Maintain index
    * advise` closes; compaction itself is the apply): one report row,
    * `violations = 1` exactly when some leaf partition holds more than
    * `maxFilesPerLeaf` data files — the shape streaming ingest leaves
    * (one file set per micro-batch) that turns every later scan into a
    * file-open storm. Driver-side metadata only (one recursive listing,
    * the same walk [[compactPartitionsRecursive]] does); directories
    * absent by design contribute nothing. The worst leaf and the store
    * totals ride in the report so a cron log reads actionably. */
  def adviseCompaction(spark: SparkSession, dirs: Seq[String],
                       maxFilesPerLeaf: Int = 8): org.apache.spark.sql.DataFrame = {
    require(maxFilesPerLeaf >= 1,
      s"maxFilesPerLeaf must be >= 1 (got $maxFilesPerLeaf)")
    def leafFiles(root: Path,
                  fs: org.apache.hadoop.fs.FileSystem): Seq[(String, Int)] = {
      def walk(p: Path): Seq[Path] = {
        val kids = partitionDirs(fs, p)
        if (kids.isEmpty) Seq(p) else kids.flatMap(walk)
      }
      walk(root).map { leaf =>
        val n = fs.listStatus(leaf).count(s => !s.isDirectory &&
          graft.FsOps.visible(s.getPath.getName))
        leaf.toString -> n
      }
    }
    val perLeaf = dirs.flatMap { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) leafFiles(p, fs) else Seq.empty
    }
    val totalFiles = perLeaf.map(_._2.toLong).sum
    val (worstLeaf, worstN) =
      if (perLeaf.isEmpty) ("", 0) else perLeaf.maxBy(_._2)
    val recommended = worstN > maxFilesPerLeaf
    val reason =
      if (perLeaf.isEmpty) "no table directories present"
      else if (recommended)
        s"worst leaf $worstLeaf holds $worstN data files " +
          s"(> $maxFilesPerLeaf) across ${perLeaf.size} leaves / " +
          s"$totalFiles files — run the compact verb"
      else
        s"worst leaf holds $worstN data files (<= $maxFilesPerLeaf) " +
          s"across ${perLeaf.size} leaves / $totalFiles files"
    import spark.implicits._
    Seq(("compaction_recommended", totalFiles,
        if (recommended) 1L else 0L, worstN.toLong,
        maxFilesPerLeaf.toLong, reason))
      .toDF("invariant", "checked", "violations", "worst_leaf_files",
        "threshold", "reason")
  }

  /** Visible `k=v` partition subdirectories of `p`. */
  private def partitionDirs(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[Path] =
    fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        graft.FsOps.visible(s.getPath.getName))
      .map(_.getPath).toSeq
}
