package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Promote N shard-built PIPELINE ROOTS into one serving root — the
  * composition of the per-family shard merges over the same layout
  * convention [[Forget]] governs (`<root>/index`, `<root>/dedup`,
  * `<root>/ivf`): each ingest partition materializes its own complete
  * root in parallel (index + signature store + ANN store over its
  * corpus slice), and promotion merges family-by-family —
  * [[graft.index.StoreMerge.mergeStores]] (aligned term buckets, file
  * transfer + vocab/meta partial merge),
  * [[graft.dedup.DedupStore.mergeStores]] (deterministic signatures,
  * pure file transfer), [[graft.similarity.IvfStore.mergeStores]]
  * (centroid union, cid-remapped directory transfer). No corpus text,
  * posting, signature or vector is read or shuffled anywhere in the
  * promotion. [[Forget.checkPipeline]] is the post-promotion audit: all
  * live id surfaces must be identical (every shard root was internally
  * consistent and the id spaces are disjoint, so the union is too).
  *
  * Contracts: every root must hold the SAME families (a root that
  * indexed but never embedded merged into one that did would serve a
  * drifted surface — exactly what checkPipeline flags); `vstore`
  * refuses (versioned histories have per-root commit sequences that do
  * not union — promote the metadata by committing the union into a
  * fresh store); roots with `_forget` manifests refuse (manifest
  * ordinals are per-root; run takedowns at the merged root instead).
  * Crash model: each family merge has its own commit marker and
  * idempotent resume, and [[mergeRoots]] SKIPS families whose dest
  * store is already committed — so a promotion that died anywhere
  * (mid-transfer or between families) re-runs to completion.
  */
object Promote {

  /** Merge every family store of `roots` into `dest`; returns the
    * families promoted (sorted). `moveFiles = true` renames data files
    * (the O(files) path that consumes the shard roots). */
  def mergeRoots(spark: SparkSession, roots: Seq[String], dest: String,
                 moveFiles: Boolean = false): Seq[String] = {
    require(roots.size >= 2, "mergeRoots needs at least two shard roots")
    val famSets = roots.map(r => Forget.familiesAt(spark, r).toSet)
    require(famSets.distinct.size == 1,
      s"shard roots must hold the SAME store families; got " +
        s"${roots.zip(famSets.map(_.mkString("{", ",", "}"))).mkString(", ")}")
    val fams = famSets.head
    require(fams.nonEmpty, s"no store families found under ${roots.head}")
    require(!fams.contains("vstore"),
      "vstore histories have per-root commit sequences that do not " +
        "union — commit the merged metadata into a fresh store instead")
    roots.foreach { r =>
      val p = new Path(s"$r/_forget")
      require(!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
        s"$r carries _forget manifests (per-root ordinals do not merge) — " +
          "promote fresh shards; run takedowns at the merged root")
    }
    // a family whose dest store already carries its commit marker was
    // completed by a PREVIOUS run of this same promotion — skip it, so a
    // crash between families resumes instead of dying on the committed
    // store's own already-merged guard (dest must be a fresh root at the
    // first call, like every family merge's dest)
    // the family merges write disjoint dest children — overlap them
    // (guide §2.6); each keeps its own commit marker and resume story
    val steps: Seq[(Boolean, () => Unit)] = Seq(
      (fams.contains("index") &&
        graft.index.Indexer.storedBuckets(spark, s"$dest/index").isEmpty,
        () => graft.index.StoreMerge.mergeStores(spark,
          roots.map(r => s"$r/index"), s"$dest/index", moveFiles)),
      (fams.contains("dedup") &&
        graft.dedup.DedupStore.storedGeometry(spark, s"$dest/dedup").isEmpty,
        () => graft.dedup.DedupStore.mergeStores(spark,
          roots.map(r => s"$r/dedup"), s"$dest/dedup", moveFiles)),
      (fams.contains("ivf") &&
        // commit probe resolves the frame pointer (a reclustered dest's
        // centroids live under a generation dir, not at the store root)
        !graft.similarity.IvfStore.isCommitted(spark, s"$dest/ivf"),
        () => graft.similarity.IvfStore.mergeStores(spark,
          roots.map(r => s"$r/ivf"), s"$dest/ivf", moveFiles)))
    graft.operators.Par.run(steps.collect { case (true, step) => step }: _*)
    fams.toSeq.sorted
  }

  /** Delete a consumed-shard husk (VERDICT r13 #4) — the cleanup verb
    * behind `Maintain pipeline scrap <path>`. A move-mode merge stamps
    * each drained source `_merged_into=<dest>` AFTER the dest commits;
    * scrap deletes only CERTIFIED husks: the path (or every family
    * child of a pipeline root) must carry the stamp, and the recorded
    * dest must hold a committed store. Refuses anything live or
    * uncertified — a crashed merge's sources are unstamped (the stamp
    * is post-commit by construction) and therefore unscrappable, which
    * is exactly what keeps resume possible. Returns the husk store
    * paths deleted. */
  def scrapRoot(spark: SparkSession, root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def certify(husk: String): Unit = {
      val dest = graft.FsOps.mergedInto(spark, husk).getOrElse(
        throw new IllegalArgumentException(
          s"$husk carries no ${graft.FsOps.MergedIntoMarker} marker — not a " +
            "consumed husk; scrap refuses to delete live stores"))
      val committed =
        graft.index.Indexer.storedBuckets(spark, dest).nonEmpty ||
        graft.dedup.DedupStore.storedGeometry(spark, dest).nonEmpty ||
        graft.similarity.IvfStore.isCommitted(spark, dest)
      require(committed,
        s"$husk records ${graft.FsOps.MergedIntoMarker}=$dest but no " +
          "committed store exists there — refusing to delete the remains; " +
          "finish or re-run the merge first")
    }
    if (graft.FsOps.mergedInto(spark, root).isDefined) {
      certify(root)
      fs.delete(new Path(root), true)
      return Seq(root)
    }
    val fams = Forget.familiesAt(spark, root)
    require(fams.nonEmpty,
      s"$root is neither a stamped husk nor a pipeline root holding " +
        "family stores — nothing to scrap")
    val children = fams.map(f => s"$root/$f")
    val live = children.filterNot(c => graft.FsOps.mergedInto(spark, c).isDefined)
    require(live.isEmpty,
      s"refusing to scrap $root: live (unstamped) family stores remain: " +
        live.mkString(", "))
    children.foreach(certify)
    fs.delete(new Path(root), true)
    children
  }
}
