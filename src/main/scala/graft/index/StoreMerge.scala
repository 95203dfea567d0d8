package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Merge N independently-built index stores into one — the
  * build-shards-in-parallel-then-promote pattern a 100 TB indexing run
  * actually uses (each ingest partition builds its own store with
  * [[Indexer.writeIndex]] on its own cluster slice; promotion merges
  * the shards into the serving store). The reference can only rebuild
  * from scratch (`index.sh` drops and re-creates the whole Cassandra
  * keyspace, `app/index.sh:22-28`); at scale a full rebuild to absorb
  * one finished shard is the difference between minutes and days.
  *
  * The merge is METADATA-LEVEL for the big tables: every source was
  * written with the same deterministic CRC32 term-bucket function
  * ([[Indexer.termBucket]]), so equal `nBuckets` means the partition
  * layouts ALIGN — postings (and positional) part files transfer
  * bucket-dir to bucket-dir, doc_stats and deletes transfer flat, and
  * no data row is read, shuffled, or rewritten. Only the small derived
  * tables are computed: vocab re-aggregates the sources' vocab partials
  * (disjoint doc spaces → `df` sums), and meta combines the stores'
  * mergeable `(total_docs, length_sum)` longs exactly like
  * [[Indexer.appendIndex]]'s incremental path. Merging shards holding
  * 100 TB of postings therefore costs O(files) namenode renames plus a
  * |vocab|-row aggregate — never a postings scan.
  *
  * Contracts (all enforced, loudly):
  *   - ≥ 2 sources, same `_nbuckets`, none doc-bucketed (a bucketed
  *     catalog table's files carry bucket-spec file names that cannot
  *     be interleaved by rename; rebuild the merged store with
  *     `writeIndex(readIndexLive(...), dest, docBuckets = ...)` when a
  *     doc-bucketed serving copy is wanted).
  *   - batch-tracked sources only (`_lastbatch` present and mergeable
  *     meta layout) — the merged store keeps per-file batch min/max
  *     skipping and is born AUDITED (derived tables are consistent
  *     with the merged data by construction, so `_last_audit` starts
  *     at the merged `_lastbatch`; the next incremental audit sees
  *     only post-merge appends).
  *   - per-table schema parity across sources (a title-bearing and a
  *     title-less doc_stats must not silently mix).
  *   - DISJOINT doc_id spaces, checked on the RAW doc_stats (a
  *     tombstoned id still occupies its space: tombstones merge too,
  *     and a live twin in another shard would be masked by them).
  *   - positional tables all-or-none, same `_nbuckets_positional`.
  *
  * Tombstones: each source's `deletes` table transfers as-is, and the
  * sources' vocab/meta were already decremented at delete time
  * ([[Indexer.deleteDocs]]), so live reads of the merged store stay
  * consistent without any recompute; `expungeDeletes` reclaims the
  * bytes on the normal maintenance schedule.
  *
  * Crash model: the `_nbuckets` marker is the COMMIT point (written
  * last). A merge that dies mid-transfer leaves dest marker-less;
  * re-running the same merge RESUMES it — per-file transfer is
  * idempotent (deterministic `m<i>_` target names, already-present
  * targets skip, and in move mode the source file is then gone, which
  * the skip tolerates). A dest with a marker refuses (already merged).
  *
  * `moveFiles = true` renames instead of copying — the O(files)
  * promotion path that CONSUMES the source shards (their husks keep
  * markers/vocab but lose data files; delete them after commit).
  * Default copy leaves sources intact at the cost of re-writing bytes.
  */
object StoreMerge {

  /** Tables whose files transfer as-is (when present). */
  private val DataTables = Seq("doc_stats", "postings", "positional", "deletes")

  def mergeStores(spark: SparkSession, sources: Seq[String], dest: String,
                  moveFiles: Boolean = false): Unit = {
    graft.operators.MergeGuards.requireMergeable(sources, dest)
    graft.FsOps.requireNotHusk(spark, dest)
    val destP = new Path(dest)
    val fs = destP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Indexer.storedBuckets(spark, dest).nonEmpty) {
      // committed dest: either the move-mode crash window between the
      // commit and the husk stamps (complete the stamps and return —
      // FsOps.completeHuskStamps), or a genuine re-merge to refuse
      if (moveFiles && graft.FsOps.completeHuskStamps(spark, sources, dest,
          s => DataTables.map(t => s"$s/$t"))) return
      throw new IllegalArgumentException(
        s"$dest already carries a committed store (its _nbuckets marker " +
          "exists) — merging INTO a live store is appendIndex's job")
    }
    sources.foreach(graft.FsOps.requireNotHusk(spark, _))
    // a dest already holding transferred files is a crashed merge being
    // RESUMED: the data-reading guards below passed before the first
    // file ever moved, and re-reading a move-drained source would die
    // on its emptied directories — skip them, transfer picks up
    val resuming = fs.exists(new Path(s"$dest/doc_stats"))

    // ---- layout guards
    val nbs = sources.map { s =>
      Indexer.storedBuckets(spark, s).getOrElse(throw new IllegalArgumentException(
        s"$s has no _nbuckets marker — not a persisted index store"))
    }
    require(nbs.distinct.size == 1,
      s"sources disagree on nBuckets: ${sources.zip(nbs).mkString(", ")} — " +
        "aligned term buckets are what makes the merge metadata-only; " +
        "rebuild the odd shard at the common bucket count first")
    val nb = nbs.head
    sources.foreach { s =>
      require(Indexer.docBucketsOf(spark, s).isEmpty,
        s"$s is doc-bucketed — its bucket-spec file names cannot be " +
          "interleaved by rename; merge the plain shards, then " +
          "writeIndex(readIndexLive(...), docBuckets=...) for a bucketed copy")
      require(Indexer.positionalDocBucketsOf(spark, s).isEmpty,
        s"$s has a doc-bucketed POSITIONAL table — same contract as the " +
          "frequency guard: bucket-spec file names cannot be interleaved " +
          "by rename (the dest would carry no positional doc-bucket " +
          "marker and the transferred files would be stale layout " +
          "debris); merge plain shards, then writePositional(..., " +
          "docBuckets=...) for a bucketed copy")
    }
    val batches = sources.map { s =>
      Indexer.lastBatch(spark, s).getOrElse(throw new IllegalArgumentException(
        s"$s predates batch tracking (no _lastbatch marker) — the merged " +
          "store's incremental audits need per-file batch provenance"))
    }
    sources.foreach { s =>
      require(spark.read.parquet(Indexer.derivedTablePath(spark, s, "meta"))
          .columns.contains("length_sum"),
        s"$s predates the mergeable meta layout (no length_sum partial)")
    } // meta is never transferred, so this read survives a resume
    val posPresent = sources.map(s => fs.exists(new Path(s"$s/positional")))
    require(posPresent.distinct.size == 1,
      "positional tables must exist in ALL sources or NONE: a merged " +
        "store that answers phrase queries from half its docs is drift, " +
        s"not a store (present: ${sources.zip(posPresent).mkString(", ")})")
    val hasPos = posPresent.head
    val pnb = if (!hasPos) None else {
      val pns = sources.map(s => Indexer.storedPositionalBuckets(spark, s)
        .getOrElse(throw new IllegalArgumentException(
          s"$s has a positional table but no bucket marker")))
      require(pns.distinct.size == 1,
        s"sources disagree on positional nBuckets: ${sources.zip(pns).mkString(", ")}")
      Some(pns.head)
    }
    if (!resuming) {
      for (t <- Seq("doc_stats", "postings") ++ (if (hasPos) Seq("positional") else Nil))
        graft.operators.MergeGuards.requireSchemaParity(spark, sources, t)
      // disjointness on the RAW id surface (bare longs, one union-agg;
      // same ≤ 3-row driver sample as the append probe)
      graft.operators.MergeGuards.requireDisjointIds(spark,
        sources.map(s => s"$s/doc_stats"), "doc_id")
    }

    // ---- derived tables: merge the sources' partial-aggregate state
    // (reads only the small tables, frame-resolved per source; written
    // to the fresh dest's flat layout before any data file moves)
    // the two derived merges read different source tables and write
    // disjoint dest dirs — overlap them (guide §2.6)
    graft.operators.Par.run(
      () => sources.map(s => spark.read.parquet(
          Indexer.derivedTablePath(spark, s, "vocab"))).reduce(_ unionByName _)
        .groupBy("term").agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(s"$dest/vocab"),
      () => sources.map(s => spark.read.parquet(
          Indexer.derivedTablePath(spark, s, "meta"))).reduce(_ unionByName _)
        .agg(coalesce(sum(col("total_docs")), lit(0L)).as("total_docs"),
          coalesce(sum(col("length_sum")), lit(0L)).as("length_sum"))
        .select(col("total_docs"),
          when(col("total_docs") === 0L, lit(null).cast("double"))
            .otherwise(col("length_sum").cast("double") / col("total_docs"))
            .as("avg_dl"),
          col("length_sum"))
        .write.mode("overwrite").parquet(s"$dest/meta"))

    // record the source list on the dest BEFORE any file moves — the
    // source-specific resume evidence completeHuskStamps verifies
    graft.FsOps.recordMergeSources(spark, dest, sources)

    // ---- data files: per-file idempotent transfer (resume skips targets
    // that already landed; hidden _/.files and markers never transfer)
    // each (table, source) transfer targets distinct file names (the
    // m<i>_ prefix) — overlap the driver-side rename/copy loops (§2.6)
    graft.operators.Par.run(
      (for (table <- DataTables; (src, i) <- sources.zipWithIndex) yield { () =>
        val from = new Path(s"$src/$table")
        if (fs.exists(from)) {
          graft.FsOps.transferDataFiles(spark, from.toString, s"$dest/$table",
            s"m${i}_", moveFiles)
          for (st <- fs.listStatus(from).toSeq // one partition level: term_bucket=N
               if st.isDirectory && !st.getPath.getName.startsWith("_")
                 && !st.getPath.getName.startsWith("."))
            graft.FsOps.transferDataFiles(spark, st.getPath.toString,
              s"$dest/$table/${st.getPath.getName}", s"m${i}_", moveFiles)
        }
      }): _*)

    // ---- commit: markers last; born-audited (see scaladoc)
    graft.FsOps.writeLongMarker(spark, dest, Indexer.LastBatchMarker, batches.max)
    Indexer.markAudited(spark, dest, Some(batches.max))
    pnb.foreach(n => Indexer.writeBucketsMarker(spark, dest, n,
      Indexer.PositionalBucketsMarker))
    Indexer.writeBucketsMarker(spark, dest, nb)
    // drained sources become stamped husks — ONLY after the dest commit
    // marker above, so a crashed merge (dest uncommitted) leaves its
    // sources unstamped and resumable; readers refuse the husk by name
    // and `pipeline scrap` reclaims it (FsOps.MergedIntoMarker)
    if (moveFiles)
      sources.foreach(s =>
        graft.FsOps.writeMarker(spark, s, graft.FsOps.MergedIntoMarker, dest))
  }
}
