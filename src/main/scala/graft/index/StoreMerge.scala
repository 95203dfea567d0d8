package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.ShardMerge

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
  *     with the merged data by construction, so the audit watermark
  *     starts at the merged `_lastbatch`; the next incremental audit sees
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
  * last); resume, husk stamps and move mode are the shared lifecycle of
  * [[graft.operators.ShardMerge]]. A move-mode source keeps its markers,
  * vocab and meta (the commit step reads them) and loses its data files.
  */
object StoreMerge {

  def mergeStores(spark: SparkSession, sources: Seq[String], dest: String,
                  moveFiles: Boolean = false): Unit =
    Shards.merge(spark, sources, dest, moveFiles)

  /** What the layout guards fix for the commit step. */
  private[graft] final case class Plan(nBuckets: Int, positionalBuckets: Option[Int],
                                       lastBatch: Long)

  private[graft] val Shards = new ShardMerge.Family[Plan](
    isCommitted = Indexer.storedBuckets(_, _).nonEmpty,
    refusal = dest => s"$dest already carries a committed store (its _nbuckets " +
      "marker exists) — merging INTO a live store is appendIndex's job",
    dataTables = Seq("doc_stats", "postings", "positional", "deletes"),
    tableDir = (_, store, table) => s"$store/$table",
    layout = mergePlan,
    parityTables = p => Seq("doc_stats", "postings") ++
      p.positionalBuckets.map(_ => "positional"),
    ids = ("doc_stats", "doc_id"),
    commit = mergeCommit)

  private def mergePlan(spark: SparkSession, sources: Seq[String],
                        moveFiles: Boolean): Plan = {
    val nbs = sources.map { s =>
      Indexer.storedBuckets(spark, s).getOrElse(throw new IllegalArgumentException(
        s"$s has no _nbuckets marker — not a persisted index store"))
    }
    require(nbs.distinct.size == 1,
      s"sources disagree on nBuckets: ${sources.zip(nbs).mkString(", ")} — " +
        "aligned term buckets are what makes the merge metadata-only; " +
        "rebuild the odd shard at the common bucket count first")
    // a bucketed catalog table's files carry bucket-spec names that cannot
    // be interleaved by rename (the dest would carry no doc-bucket marker
    // and the transferred files would be stale layout debris)
    for (s <- sources; l <- TableLayout.all(spark, s))
      require(l.docBuckets.isEmpty,
        s"$s has a doc-bucketed ${l.table.toUpperCase} table — its bucket-spec " +
          "file names cannot be interleaved by rename; merge the plain shards, " +
          "then write a bucketed copy with writeIndex(readIndexLive(...), " +
          "docBuckets=...) or writePositional(..., docBuckets=...)")
    val batches = sources.map { s =>
      Indexer.lastBatch(spark, s).getOrElse(throw new IllegalArgumentException(
        s"$s predates batch tracking (no _lastbatch marker) — the merged " +
          "store's incremental audits need per-file batch provenance"))
    }
    sources.foreach { s =>
      require(graft.FsOps.readParquet(spark, Indexer.derivedTablePath(spark, s, "meta"))
          .columns.contains("length_sum"),
        s"$s predates the mergeable meta layout (no length_sum partial)")
    } // meta is never transferred, so this read survives a resume
    val positional = sources.map(TableLayout(spark, _, "positional"))
    val posPresent = positional.map(_.exists)
    require(posPresent.distinct.size == 1,
      "positional tables must exist in ALL sources or NONE: a merged " +
        "store that answers phrase queries from half its docs is drift, " +
        s"not a store (present: ${sources.zip(posPresent).mkString(", ")})")
    val pnb = if (!posPresent.head) None else {
      val pns = sources.zip(positional).map { case (s, l) =>
        l.recordedTermBuckets.getOrElse(throw new IllegalArgumentException(
          s"$s has a positional table but no bucket marker")) }
      require(pns.distinct.size == 1,
        s"sources disagree on positional nBuckets: ${sources.zip(pns).mkString(", ")}")
      Some(pns.head)
    }
    Plan(nbs.head, pnb, batches.max)
  }

  /** The derived tables merge the sources' partial-aggregate state
    * (frame-resolved, never transferred); then the markers, `_nbuckets`
    * last. Born audited (see the scaladoc above). */
  private def mergeCommit(spark: SparkSession, sources: Seq[String], dest: String,
                          p: Plan): Unit = {
    def union(table: String) = sources.map(s => graft.FsOps.readParquet(spark,
      Indexer.derivedTablePath(spark, s, table))).reduce(_ unionByName _)
    // the two derived merges write disjoint dest dirs — overlap them
    // (guide §2.6)
    graft.operators.Par.run(
      () => Indexer.writeTable(union("vocab")
        .groupBy("term").agg(sum(col("df")).as("df")), "vocab", s"$dest/vocab"),
      () => Indexer.writeTable(union("meta")
        .agg(coalesce(sum(col("total_docs")), lit(0L)).as("total_docs"),
          coalesce(sum(col("length_sum")), lit(0L)).as("length_sum"))
        .select(col("total_docs"),
          when(col("total_docs") === 0L, lit(null).cast("double"))
            .otherwise(col("length_sum").cast("double") / col("total_docs"))
            .as("avg_dl"),
          col("length_sum")), "meta", s"$dest/meta"))
    graft.FsOps.writeLongMarker(spark, dest, Indexer.LastBatchMarker, p.lastBatch)
    Indexer.markAudited(spark, dest, Some(p.lastBatch))
    p.positionalBuckets.foreach(n => Indexer.writeBucketsMarker(spark, dest, n,
      Indexer.PositionalBucketsMarker))
    Indexer.writeBucketsMarker(spark, dest, p.nBuckets)
  }
}
