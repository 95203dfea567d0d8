package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared filesystem lifecycle primitives for the stores (index store,
  * dedup store, compaction, upsert sinks). One implementation of the
  * crash-safe swap so error handling cannot diverge between call sites.
  */
object FsOps {

  /** Install `tmp` at `live` via rename-aside: readers observe the old or
    * the new directory, never half of either, and no failure mode deletes
    * the only remaining copy — every rename's return value is checked,
    * and the aside copy is only dropped after the install succeeded.
    */
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
    * `_last_audit` / `_geometry` / `_fingerprint` discipline. Written
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
    val aside = new Path(p.getParent, s"_${p.getName}.swap_old")
    val target =
      if (fs.exists(p)) Some(p)
      else if (fs.exists(aside)) Some(aside)
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

  /** Transfer the visible (non-`_`/`.`-prefixed) data files of one
    * directory level into `toDir` as `<prefix><name>` — the shared
    * primitive of the store-family shard merges (StoreMerge, IvfStore,
    * DedupStore): per-file idempotent (a target that already landed
    * skips, so a crashed merge re-runs to completion), `move` renames
    * (the O(files) promotion path that consumes the shard), copy
    * otherwise. Subdirectories are NOT descended — callers own partition
    * levels (they may remap them, e.g. the IVF cid offset). */
  def transferDataFiles(spark: org.apache.spark.sql.SparkSession,
                        fromDir: String, toDir: String, prefix: String,
                        move: Boolean): Unit = {
    val from = new Path(fromDir)
    val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(from)) return
    fs.mkdirs(new Path(toDir))
    for (st <- fs.listStatus(from).toSeq
         if !st.isDirectory && !st.getPath.getName.startsWith("_")
           && !st.getPath.getName.startsWith(".")) {
      val to = new Path(toDir, s"$prefix${st.getPath.getName}")
      if (!fs.exists(to)) {
        if (move) {
          if (!fs.rename(st.getPath, to))
            throw new java.io.IOException(s"rename ${st.getPath} -> $to failed")
        } else {
          // copy is NOT crash-atomic, so never copy straight to the final
          // name: a death mid-copy would leave a truncated file that the
          // skip-if-exists resume keeps — and then COMMITS. Stage under a
          // dot-name (invisible to Spark listings), rename into place
          // (atomic); overwrite=true reclaims a crashed copy's debris.
          val tmp = new Path(toDir, s".$prefix${st.getPath.getName}.copying")
          if (!org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, tmp,
              false, true, spark.sparkContext.hadoopConfiguration))
            throw new java.io.IOException(s"copy ${st.getPath} -> $tmp failed")
          if (!fs.rename(tmp, to))
            throw new java.io.IOException(s"rename $tmp -> $to failed")
        }
      }
    }
  }

  /** Visible (non-`_`/`.`-prefixed) data file NAMES under `dir`,
    * recursing through visible subdirectories — the drained-ness probe
    * of the husk-stamp resume below (bounded: directory metadata only,
    * never file contents). Empty when the directory is absent. */
  def visibleDataFiles(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Seq[String] =
      fs.listStatus(d).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_")
          || st.getPath.getName.startsWith("."))
        .flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath.getName))
    if (fs.exists(p)) walk(p) else Seq.empty
  }

  /** Dest-side record of a shard merge's source list, written BEFORE any
    * file transfers (every merge family calls [[recordMergeSources]]
    * right after its guards pass): the source-derived evidence
    * [[completeHuskStamps]] verifies a resume against (ADVICE r15 — the
    * `m<i>_` ordinal-prefix check alone proves only that SOME source
    * landed files at ordinal i, so a re-run listing a wrong-but-drained
    * store at a matching ordinal would be stamped with invented
    * provenance). Newline-joined paths, order-significant (the order IS
    * the ordinal assignment). */
  val MergeSourcesMarker = "_merge_sources"

  def recordMergeSources(spark: org.apache.spark.sql.SparkSession,
                         dest: String, sources: Seq[String]): Unit = {
    readMarker(spark, dest, MergeSourcesMarker).foreach { prev =>
      require(prev.split("\n").toSeq == sources,
        s"$dest already records a different merge source list " +
          s"(${prev.split("\n").mkString(", ")}) — a crashed merge must " +
          "resume with ITS OWN source list and order (the order is the " +
          "ordinal assignment); merging a different shard set into this " +
          "debris would interleave two merges' files")
    }
    writeMarker(spark, dest, MergeSourcesMarker, sources.mkString("\n"))
  }

  /** Complete the husk stamps of a move-mode merge that died BETWEEN its
    * dest commit and the stamping loop (ADVICE r14): that window used to
    * be unfixable — the re-run refused on the committed dest, and scrap
    * refuses unstamped paths — reinstating exactly the cryptic
    * drained-directory state the husk discipline exists to eliminate.
    *
    * Returns true (after writing any missing `_merged_into` stamps) iff
    * every source is either already stamped into `dest`, or is a REAL
    * drained husk: its table directories (`tableDirs(store)` — the
    * store's data tables, resolved through its frame pointer where it
    * has one, [[graft.operators.Frames]]) still exist (a typo'd or
    * never-populated path must not read as "drained" — stamping it
    * would invent provenance and writeMarker would even create the
    * directory), none carries a visible data file, and the dest holds
    * `m<i>_`-prefixed files for ordinal i — the deterministic evidence
    * that THIS dest consumed source i. The dest's [[MergeSourcesMarker]]
    * (when present — every merge writes it before transferring) makes
    * the evidence source-SPECIFIC: a resume whose source list differs
    * from the recorded one refuses outright, so a wrong-but-drained
    * store at a matching ordinal can no longer be stamped with invented
    * provenance (pre-marker dests fall back to the ordinal-prefix
    * check under single-pipeline discipline). A source already stamped into a
    * DIFFERENT dest is NEVER restamped — its provenance marker is the
    * record of where its data went, and overwriting it on a mistaken
    * re-run against the wrong committed dest would corrupt exactly what
    * the husk discipline exists to preserve. False = not that crash
    * shape; callers fall through to their committed-dest refusal.
    * Callers must have verified the dest commit marker and
    * moveFiles=true themselves. The `_merged_into` stamps and the
    * recorded dest stay at the STORE paths — markers are store-level
    * identity, the tables are frame-level data. */
  def completeHuskStamps(spark: org.apache.spark.sql.SparkSession,
                         sources: Seq[String], dest: String,
                         tableDirs: String => Seq[String]): Boolean = {
    // source-derived evidence first (ADVICE r15): the merge recorded its
    // source list on the dest before any file moved; a resume whose list
    // differs (paths OR order — order is the ordinal assignment) is a
    // DIFFERENT merge and must fall through to the committed-dest
    // refusal, never stamp. Absent marker = store merged by a pre-marker
    // build; the per-source drained-husk evidence below still gates.
    if (readMarker(spark, dest, MergeSourcesMarker)
        .exists(_.split("\n").toSeq != sources)) return false
    val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val destFiles = tableDirs(dest).flatMap(visibleDataFiles(spark, _))
    val resumable = sources.zipWithIndex.forall { case (s, i) =>
      mergedInto(spark, s) match {
        case Some(d) => d == dest // stamped elsewhere: never overwrite
        case None =>
          val dirs = tableDirs(s)
          dirs.exists(d => fs.exists(new Path(d))) &&
            dirs.forall(visibleDataFiles(spark, _).isEmpty) &&
            destFiles.exists(_.startsWith(s"m${i}_"))
      }
    }
    if (resumable)
      sources.foreach(s =>
        if (!mergedInto(spark, s).contains(dest))
          writeMarker(spark, s, MergedIntoMarker, dest))
    resumable
  }

  /** One-long marker face of [[writeMarker]]/[[readMarker]]. */
  def writeLongMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                      marker: String, v: Long): Unit =
    writeMarker(spark, path, marker, v.toString)

  def readLongMarker(spark: org.apache.spark.sql.SparkSession, path: String,
                     marker: String): Option[Long] =
    readMarker(spark, path, marker).map { s =>
      try s.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalStateException(
          s"corrupt marker $path/$marker: '${s.trim}' is not a number — " +
            "REWRITE it to the correct value (FsOps.writeLongMarker; e.g. " +
            "a store's _lastbatch = max(batch) over its tables — deleting " +
            "that one would downgrade a tracked store to legacy and the " +
            "next append would mix schemas). Only for markers whose " +
            "absence is truly benign, delete the file AND any " +
            s"$path/_$marker.swap_old aside (readers recover a missing " +
            "marker from the aside, so a reset must remove both)")
      }
    }

  def atomicSwap(fs: FileSystem, live: Path, tmp: Path): Unit = {
    // leading underscore: ignored by Spark's file listing, so an aside
    // copy inside a partitioned table root is never parsed as a partition
    val old = new Path(live.getParent, s"_${live.getName}.swap_old")
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
