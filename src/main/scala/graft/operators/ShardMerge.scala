package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one shard-merge lifecycle every store family runs — the
  * build-shards-in-parallel-then-promote pattern: each ingest partition
  * builds its own store on its own cluster slice, and promotion merges
  * the shards into the serving store by FILE TRANSFER (deterministic,
  * shard-aligned layouts), never a data pass. The families
  * ([[graft.index.StoreMerge]], [[graft.dedup.DedupStore]],
  * [[graft.similarity.IvfStore]]) each declare a [[Family]]; the
  * protocol below is written once:
  *   1. ≥ 2 distinct sources, dest not among them; dest no husk.
  *   2. A committed dest (the family's commit probe) either completes
  *      a move-mode merge's husk stamps or refuses.
  *   3. Sources no husks; the family's layout guards return its plan.
  *   4. Schema parity and disjoint raw ids — only when the dest holds no
  *      [[MergeSourcesMarker]] record (see the crash model).
  *   5. [[recordMergeSources]], then one [[Par]] transfer over every
  *      (source, data table): source i's files land as `m<i>_<name>`.
  *   6. The family's commit step, whose commit point is written last.
  *   7. Move mode: each source is stamped `_merged_into=<dest>`
  *      ([[graft.FsOps.MergedIntoMarker]]).
  *
  * Crash model: a merge that dies before its commit point leaves the
  * dest uncommitted, and re-running the SAME merge resumes it. Per-file
  * transfer is idempotent ([[graft.FsOps.transferDataFiles]]: a target
  * that already landed skips, and in move mode its source is then gone,
  * which the skip tolerates). The `_merge_sources` record is the one
  * resume signal: it is written before the first file moves, so a dest
  * carrying it may already hold drained sources' files — in any table
  * order, since the transfers overlap — and the data-reading guards,
  * which passed before that first move, are skipped instead of re-read
  * over emptied directories. The record also makes a resume
  * source-specific: a different list or order (the order IS the ordinal
  * assignment) refuses. The husk stamps land only after the commit
  * point, so a crashed merge's sources stay unstamped and resumable;
  * the window between the commit and the stamps is closed by step 2.
  *
  * `moveFiles = true` renames (the O(files) promotion path that
  * CONSUMES the shards; `Maintain pipeline scrap` deletes the stamped
  * husks); copy otherwise, leaving the sources intact. */
object ShardMerge {

  /** One store family's merge, declared once in its own object.
    * @param isCommitted  the commit probe: a committed store lives at the path
    * @param refusal      the error for a committed dest that is no husk-stamp resume
    * @param dataTables   the tables whose files transfer; drained, the husk evidence
    * @param tableDir     a table's dir in a store (through its frame pointer
    *                     where the family has one)
    * @param layout       the layout guards: they read only markers, partition
    *                     dirs and never-transferred tables, so they re-run on a
    *                     resume; they return the plan `P` the steps below use
    * @param parityTables the tables whose schema must agree across the sources
    * @param ids          the table and column of the raw id space that must be disjoint
    * @param renameDir    the dest name of source i's partition dir
    * @param commit       the derived state, then the commit point, written last */
  final class Family[P](
      val isCommitted: (SparkSession, String) => Boolean,
      refusal: String => String,
      dataTables: Seq[String],
      tableDir: (SparkSession, String, String) => String,
      layout: (SparkSession, Seq[String], Boolean) => P,
      parityTables: P => Seq[String],
      ids: (String, String),
      renameDir: (P, Int, String) => String = (_: P, _: Int, dir: String) => dir,
      commit: (SparkSession, Seq[String], String, P) => Unit) {

    def merge(spark: SparkSession, sources: Seq[String], dest: String,
              moveFiles: Boolean): Unit = {
      require(sources.size >= 2, "mergeStores needs at least two source stores")
      require(sources.distinct.size == sources.size, "duplicate source store")
      require(!sources.contains(dest), "destination must not be a source")
      graft.FsOps.requireNotHusk(spark, dest)
      def dirs(store: String) = dataTables.map(tableDir(spark, store, _))
      if (isCommitted(spark, dest)) {
        if (moveFiles && completeHuskStamps(spark, sources, dest, dirs)) return
        throw new IllegalArgumentException(refusal(dest))
      }
      sources.foreach(graft.FsOps.requireNotHusk(spark, _))
      val plan = layout(spark, sources, moveFiles)
      if (recordedSources(spark, dest).isEmpty) {
        for (t <- parityTables(plan)) {
          val schemas = sources.map(s =>
            graft.FsOps.readParquet(spark, tableDir(spark, s, t)).schema).distinct
          require(schemas.size == 1,
            s"sources disagree on the $t schema: ${schemas.mkString(" vs ")}")
        }
        // one column-pruned union-agg over the RAW ids; ≤ 3-id sample
        val (idTable, idCol) = ids
        val overlap = sources.map(s => graft.FsOps.readParquet(spark,
            tableDir(spark, s, idTable)).select(idCol)).reduce(_ union _)
          .groupBy(idCol).agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .limit(3).collect()
        require(overlap.isEmpty,
          s"sources share ${idCol}s (e.g. ${overlap.map(_.get(0)).mkString(", ")}) — " +
            "shard id spaces must be disjoint (a tombstoned id counts: its " +
            "tombstone would mask a live twin from another shard)")
      }
      recordMergeSources(spark, dest, sources)
      val to = dirs(dest)
      Par.run((for ((src, i) <- sources.zipWithIndex; (from, into) <- dirs(src).zip(to))
        yield () => graft.FsOps.transferDataFiles(spark, from, into, s"m${i}_",
          moveFiles, renameDir(plan, i, _))): _*)
      commit(spark, sources, dest, plan)
      if (moveFiles) stamp(spark, sources, dest)
    }
  }

  /** Stamp the sources `_merged_into=<dest>` (stamped ones stay as they are). */
  private def stamp(spark: SparkSession, sources: Seq[String], dest: String): Unit =
    sources.filterNot(graft.FsOps.mergedInto(spark, _).contains(dest))
      .foreach(graft.FsOps.writeMarker(spark, _, graft.FsOps.MergedIntoMarker, dest))

  /** Dest-side record of a shard merge's source list, written before any
    * file transfers: the resume signal (see the crash model above) and
    * the source-derived evidence [[completeHuskStamps]] verifies — the
    * `m<i>_` ordinal-prefix check alone proves only that SOME source
    * landed files at ordinal i, so a re-run listing a wrong-but-drained
    * store at a matching ordinal would be stamped with invented
    * provenance. Newline-joined paths, order-significant (the order IS
    * the ordinal assignment). */
  private val MergeSourcesMarker = "_merge_sources"

  private def recordedSources(spark: SparkSession, dest: String): Option[Seq[String]] =
    graft.FsOps.readMarker(spark, dest, MergeSourcesMarker).map(_.split("\n").toSeq)

  private[graft] def recordMergeSources(spark: SparkSession, dest: String,
                                        sources: Seq[String]): Unit = {
    recordedSources(spark, dest).foreach { prev =>
      require(prev == sources,
        s"$dest already records a different merge source list " +
          s"(${prev.mkString(", ")}) — a crashed merge must " +
          "resume with ITS OWN source list and order (the order is the " +
          "ordinal assignment); merging a different shard set into this " +
          "debris would interleave two merges' files")
    }
    graft.FsOps.writeMarker(spark, dest, MergeSourcesMarker, sources.mkString("\n"))
  }

  /** Complete the husk stamps of a move-mode merge that died BETWEEN its
    * dest commit and the stamping loop (the re-run would refuse the
    * committed dest, and scrap refuses unstamped paths). True (after
    * writing the missing stamps) iff the dest's recorded source list
    * (when present) equals `sources` and every source is either stamped
    * into `dest` already, or a REAL drained husk: its data-table dirs
    * still exist (a typo'd path must not read as "drained" — stamping it
    * would invent provenance), none holds a visible data file, and the
    * dest holds `m<i>_` files for its ordinal i (pre-record dests rest on
    * this alone, under single-pipeline discipline). A source stamped into
    * a DIFFERENT dest is NEVER restamped: its stamp records where its
    * data went. The stamps stay at the STORE paths — markers are
    * store-level identity, the tables are frame-level data. */
  private def completeHuskStamps(spark: SparkSession, sources: Seq[String],
                                 dest: String,
                                 tableDirs: String => Seq[String]): Boolean = {
    if (recordedSources(spark, dest).exists(_ != sources)) return false
    val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val destFiles = tableDirs(dest).flatMap(graft.FsOps.visibleDataFiles(spark, _))
    val resumable = sources.zipWithIndex.forall { case (s, i) =>
      graft.FsOps.mergedInto(spark, s) match {
        case Some(d) => d == dest // stamped elsewhere: never overwrite
        case None =>
          val dirs = tableDirs(s)
          dirs.exists(d => fs.exists(new Path(d))) &&
            dirs.forall(graft.FsOps.visibleDataFiles(spark, _).isEmpty) &&
            destFiles.exists(_.startsWith(s"m${i}_"))
      }
    }
    if (resumable) stamp(spark, sources, dest)
    resumable
  }
}
