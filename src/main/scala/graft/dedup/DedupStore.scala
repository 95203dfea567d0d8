package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-on-ingest: near-duplicate detection of a NEW batch against an
  * already-processed corpus, without recomputing the corpus — the shape a
  * continuously-growing training-data pipeline actually needs ("dedup
  * today's crawl against everything we already kept").
  *
  * State is a persisted MinHash store with two tables:
  *
  *   - `buckets` — `(doc_id, band, bucket)` LSH band buckets (the join
  *     index; ~bands rows per doc, never the text);
  *   - `sets`    — `(doc_id, sh_set)` shingle sets (for exact Jaccard
  *     verification of candidates).
  *
  * Scale design (100 TB corpus, daily batches):
  *   - [[ingest]]'s only wide work is proportional to the NEW batch: its
  *     buckets shuffle-join the stored buckets on `(band, bucket)` — the
  *     stored side is scanned but only colliding groups produce rows —
  *     then candidates (typically ≪ batch size) join the two `sets`
  *     tables by doc id for exact verification.
  *   - The store grows append-only; nothing is rewritten.
  *   - Candidate precision is exact (verified Jaccard ≥ τ); recall is the
  *     LSH curve — identical to [[Dedup.minhashLshPairs]], whose 128/32
  *     geometry this store shares by default.
  *
  * MULTI-TABLE installs ([[removeDocs]], [[refreshBuckets]]) commit via
  * a manifest frame ([[graft.operators.Frames]], VERDICT r18 #1): the
  * rewritten tables stage under fresh generation dirs, unchanged tables
  * carry BY REFERENCE, and one `_frame` pointer flip installs the whole
  * frame — the r18 shape (two sequential per-table swaps) had a crash
  * window between the `sets` and `buckets` installs that left the two
  * tables describing DIFFERENT document populations, which near-dups of
  * the drifted docs then silently passed or blocked. Fresh builds keep
  * the legacy flat layout (zero indirection until the first install);
  * every reader resolves [[tablePath]] — one-to-three driver-side
  * metadata reads per entry.
  */
object DedupStore {

  /** The store's complete table inventory (the manifest frame's
    * universe — see [[graft.operators.Frames]]). */
  private[graft] val Tables = Seq("sets", "buckets")

  /** Resolved directory of a store table in the CURRENT frame — the
    * entry every reader and appender goes through ([[graft.pipeline
    * .Forget]] and [[compactStore]] resolve through this too; a raw `<path>/sets` read would serve a SUPERSEDED population
    * on any frame-installed store). */
  def tablePath(spark: SparkSession, path: String, table: String): String =
    graft.operators.Frames.resolve(spark, path, table)

  /** Small-file compaction — the `compact` maintenance verb: each table
    * of the current frame rewrites in place, range-partitioned by `batch`
    * when batch-tracked. */
  def compactStore(spark: SparkSession, path: String): Unit =
    for (t <- Tables) {
      val dir = tablePath(spark, path, t)
      graft.operators.Compaction.compact(spark, dir,
        rangeBy = graft.operators.Compaction.batchRange(spark, dir))
    }

  /** True iff a committed signature store lives at `path` — the
    * family-detection probe (bootstrap/ingest routing): the current
    * frame's `buckets` table exists. */
  def isCommitted(spark: SparkSession, path: String): Boolean = {
    val b = new Path(tablePath(spark, path, "buckets"))
    b.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(b)
  }

  /** The buckets-table derivation from a shingle-sets frame — ONE
    * definition shared by every producer (initial build, ingest staging,
    * fsck recompute, repair), so the geometry/derivation can never
    * diverge between the store's writers and its checker. */
  private def deriveBuckets(sets: DataFrame,
                            numHashes: Int, bands: Int): DataFrame =
    Dedup.lshBuckets(Dedup.withMinhashSignature(sets, numHashes), numHashes, bands)

  // ---- geometry marker: the store records its own (numHashes, bands) so
  // a later ingest/fsck/repair invoked with different params fails fast
  // instead of silently mixing geometries (mismatched buckets collide on
  // the wrong bands and quietly lose recall — and a checker called with
  // the same wrong params would then report the broken store clean). The
  // same fail-safe discipline as Indexer's `_nbuckets`.

  private val GeometryMarker = "_geometry"

  private def writeGeometry(spark: SparkSession, path: String,
                            numHashes: Int, bands: Int): Unit =
    graft.FsOps.writeMarker(spark, path, GeometryMarker, s"$numHashes,$bands")

  /** The `(numHashes, bands)` geometry a store was built with, if
    * recorded (stores written before the marker existed have none). A
    * value that is not two numbers raises FsOps' corrupt-marker error. */
  def storedGeometry(spark: SparkSession, path: String): Option[(Int, Int)] =
    graft.FsOps.readParsedMarker(spark, path, GeometryMarker)(_.split(",") match {
      case Array(nh, b) => (nh.toInt, b.toInt)
      case _ => throw new NumberFormatException("not '<numHashes>,<bands>'")
    })

  /** Fail fast when the caller's geometry contradicts the store's
    * recorded one (pre-marker stores validate vacuously). */
  private def requireGeometry(spark: SparkSession, path: String,
                              numHashes: Int, bands: Int, op: String): Unit =
    storedGeometry(spark, path).foreach { case (nh, b) =>
      require(nh == numHashes && b == bands,
        s"$op: store at $path was built with geometry numHashes=$nh, bands=$b " +
          s"but was invoked with numHashes=$numHashes, bands=$bands — mixed " +
          "geometries silently lose recall; pass the stored geometry " +
          "(DedupStore.storedGeometry) or rebuild the store")
    }

  // ---- ingest-batch bookkeeping (the dedup face of the index store's
  // `_lastbatch` discipline): every sets/buckets row carries the
  // ingest-batch ordinal that wrote it (constant per parquet file — an
  // incremental audit's `batch > since` filter skips pre-audit files via
  // min/max statistics), `_lastbatch` tracks the highest ordinal
  // written, the audit watermark (graft.operators.StoreCheck) the
  // highest one an audit vouched for.

  /** Shingle size the store was built with. Unlike (numHashes, bands)
    * it is INVISIBLE in the table schemas — sets of 3-shingles and
    * 5-shingles look identical — so it gets its own marker: a verify
    * point for [[ingest]] (a mismatched batch would compute Jaccard
    * against incomparable sets) and a merge guard ([[mergeStores]] is
    * exactly where independently-configured builds meet). Stores
    * written before the marker existed validate vacuously on ingest
    * but REFUSE to merge (the risk is silent dedup corruption). */
  private val ShingleMarker = "_shingle_n"

  private val LastBatchMarker = "_lastbatch"

  /** Highest ingest-batch ordinal recorded (None = pre-tracking store). */
  def lastBatch(spark: SparkSession, path: String): Option[Long] =
    graft.FsOps.readLongMarker(spark, path, LastBatchMarker)

  /** Highest batch an audit has vouched for (None = never audited). */
  def lastAudited(spark: SparkSession, path: String): Option[Long] =
    graft.operators.StoreCheck.lastAudited(spark, path)

  /** Record that every batch up to `upTo` (default: the current last)
    * has been audited. */
  def markAudited(spark: SparkSession, path: String,
                  upTo: Option[Long] = None): Unit =
    graft.operators.StoreCheck.markAudited(spark, path, upTo, lastBatch(spark, path),
      s"no batch marker at $path — a pre-batch-tracking store has nothing " +
        "to scope an incremental audit to")

  /** Build the signature store for an initial corpus. Shingle sets are
    * persisted FIRST and the signatures/buckets derive from the persisted
    * copy — computing both from the original lineage would run the whole
    * tokenize/shingle/collect chain twice. */
  def writeSignatures(corpus: DataFrame, path: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32): Unit = {
    // a fresh build writes the legacy flat layout; overwriting the ROOT
    // dirs of a frame-tracked store would leave the pointer serving the
    // old generations — the new build invisible — so refuse loudly
    require(graft.operators.Frames
        .currentVersion(corpus.sparkSession, path).isEmpty,
      s"writeSignatures: $path carries a frame-installed store (_frame " +
        "pointer) — delete the store before rebuilding over it")
    val sets = Dedup.shingleSets(Dedup.shingles(corpus, idCol, textCol, shingleN))
    graft.FsOps.writeParquet(sets.withColumn("batch", lit(0L)), s"$path/sets")
    val stored = graft.FsOps.readParquet(corpus.sparkSession, s"$path/sets")
    graft.FsOps.writeParquet(
      deriveBuckets(stored, numHashes, bands).withColumn("batch", lit(0L)),
      s"$path/buckets")
    writeGeometry(corpus.sparkSession, path, numHashes, bands)
    graft.FsOps.writeLongMarker(corpus.sparkSession, path, ShingleMarker, shingleN.toLong)
    graft.FsOps.writeLongMarker(corpus.sparkSession, path, LastBatchMarker, 0L)
  }

  /** Dedup a new batch against the store, then grow the store.
    *
    * Returns `(new_id, dup_of, jaccard)`: every new document whose true
    * Jaccard similarity to some STORED document reaches `minJaccard`
    * (a new doc can match several stored docs — one row each, like the
    * pair-listing dedup operators). Documents with no match are appended
    * to the store (buckets + sets) and become the dedup target for the
    * next batch; flagged duplicates are not added.
    *
    * The duplicate report is materialized to `path/_last_ingest` BEFORE
    * the store grows — the report must not observe the rows it caused to
    * be appended (and a re-read after append would).
    */
  def ingest(spark: SparkSession, path: String, newBatch: DataFrame,
             minJaccard: Double,
             idCol: String = "doc_id", textCol: String = "text",
             shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32): DataFrame = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    requireGeometry(spark, path, numHashes, bands, "ingest")
    graft.FsOps.readLongMarker(spark, path, ShingleMarker).foreach { n =>
      require(n == shingleN.toLong,
        s"ingest shingleN=$shingleN does not match the store's recorded " +
          s"shingle size $n at $path — Jaccard over mismatched shingle " +
          "sizes silently mis-dedups")
    }
    // stage the batch's sets/buckets once: they are each consumed by
    // several jobs below (candidate join, verification, survivor append),
    // and every consumer would otherwise re-run the shingle chain
    val staged = s"$path/_ingest_staging"
    // the shingle chain runs ONCE into a persisted frame; the two staging
    // writes (sets, minhash-derived buckets) then overlap (guide §2.6) —
    // serially, the buckets derivation waited on the sets write it only
    // needed for compute reuse. Batch-sized by contract; spills past
    // memory. Downstream consumers still read the STAGED parquet.
    val setsDf = Dedup.shingleSets(
        Dedup.shingles(newBatch, idCol, textCol, shingleN))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.Par.run(
      () => graft.FsOps.writeParquet(setsDf, s"$staged/sets"),
      () => graft.FsOps.writeParquet(deriveBuckets(setsDf, numHashes, bands),
        s"$staged/buckets"))
    setsDf.unpersist()
    val newSets = graft.FsOps.readParquet(spark, s"$staged/sets")
    val newBuckets = graft.FsOps.readParquet(spark, s"$staged/buckets")

    val setsDir = tablePath(spark, path, "sets")
    val bucketsDir = tablePath(spark, path, "buckets")
    val storedBuckets = graft.FsOps.readParquet(spark, bucketsDir)
    val storedSets = graft.FsOps.readParquet(spark, setsDir)

    // candidates: any band-bucket collision between the batch and the store
    val cand = newBuckets.select(col("doc_id").as("new_id"), col("band"), col("bucket"))
      .join(storedBuckets.select(col("doc_id").as("dup_of"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("new_id", "dup_of")
      .distinct()

    // exact verification on the full shingle sets
    val dups = cand
      .join(newSets.select(col("doc_id").as("new_id"), col("sh_set").as("set_a")), "new_id")
      .join(storedSets.select(col("doc_id").as("dup_of"), col("sh_set").as("set_b")), "dup_of")
      .withColumn("n_inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("dup_of"), col("jaccard"))

    graft.FsOps.writeParquet(dups, s"$path/_last_ingest")
    val report = graft.FsOps.readParquet(spark, s"$path/_last_ingest")

    val dupIds = report.select(col("new_id").as("doc_id")).distinct()
    // survivors land under the next ingest-batch ordinal (legacy stores
    // without the marker stay untagged — no mixed schemas); the marker
    // advances LAST, so a crash mid-append leaves the landed rows under
    // a not-yet-vouched-for ordinal the next incremental audit covers
    val batchId = lastBatch(spark, path).map(_ + 1)
    def tag(df: DataFrame): DataFrame =
      batchId.map(b => df.withColumn("batch", lit(b))).getOrElse(df)
    // NOT overlapped: the sets-then-buckets order is a documented crash
    // contract (a crash between the two leaves "sets landed, buckets
    // lost" — the exact shape the streaming replay detects and
    // refreshBuckets repairs); reordering it would create a new,
    // unhandled crash shape for a ~2-job win
    graft.FsOps.writeParquet(tag(newSets.join(dupIds, Seq("doc_id"), "left_anti")),
      setsDir, "append")
    graft.FsOps.writeParquet(tag(newBuckets.join(dupIds, Seq("doc_id"), "left_anti")),
      bucketsDir, "append")
    batchId.foreach(b => graft.FsOps.writeLongMarker(spark, path, LastBatchMarker, b))
    new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(staged), true)
    report
  }

  /** Merge N independently-built signature stores into one — the dedup
    * face of the shard-build-then-promote pattern
    * ([[graft.operators.ShardMerge]] runs the lifecycle). MinHash
    * signatures and LSH band buckets are DETERMINISTIC functions of each
    * doc alone, so two stores built with the same `(numHashes, bands)`
    * geometry union by pure FILE TRANSFER — no shingle re-hashed, no row
    * rewritten — and the merged store immediately dedups ingest batches
    * against BOTH shards' content (the cross-shard near-dups neither
    * shard could see are exactly what the promotion buys). Contracts:
    * identical geometry and shingle markers, identical table schemas,
    * batch-tracked sources, DISJOINT doc_id spaces on the raw sets.
    * Commit point: the destination geometry marker, written last
    * ([[ingest]] refuses a store without one). The merged store is born
    * audited — both tables are exact unions, so the derived invariant
    * set is untouched. */
  def mergeStores(spark: SparkSession, sources: Seq[String], dest: String,
                  moveFiles: Boolean = false): Unit =
    Shards.merge(spark, sources, dest, moveFiles)

  /** What the merge's layout guards fix for its commit step. */
  private[graft] final case class MergePlan(geometry: (Int, Int), shingleN: Long,
                                            lastBatch: Long)

  private[graft] val Shards = new graft.operators.ShardMerge.Family[MergePlan](
    isCommitted = storedGeometry(_, _).nonEmpty,
    refusal = dest =>
      s"$dest already carries a committed signature store (geometry marker exists)",
    dataTables = Tables,
    tableDir = tablePath,
    layout = mergePlan,
    parityTables = _ => Tables,
    ids = ("sets", "doc_id"),
    commit = mergeCommit)

  private def mergePlan(spark: SparkSession, sources: Seq[String],
                        moveFiles: Boolean): MergePlan = {
    val geoms = sources.map { s =>
      storedGeometry(spark, s).getOrElse(throw new IllegalArgumentException(
        s"$s has no geometry marker — not a persisted signature store"))
    }
    require(geoms.distinct.size == 1,
      s"sources disagree on (numHashes, bands) geometry: " +
        s"${sources.zip(geoms).mkString(", ")} — mismatched geometries " +
        "bucket-collide on different band hashes; rebuild the odd shard")
    val batches = sources.map { s =>
      lastBatch(spark, s).getOrElse(throw new IllegalArgumentException(
        s"$s predates batch tracking (no _lastbatch marker)"))
    }
    val shingleNs = sources.map { s =>
      graft.FsOps.readLongMarker(spark, s, ShingleMarker).getOrElse(
        throw new IllegalArgumentException(
          s"$s records no $ShingleMarker marker — shingle size is " +
            "invisible in the schema and a mixed-shingle merge silently " +
            "mis-dedups; rebuild the shard to record it"))
    }
    require(shingleNs.distinct.size == 1,
      s"sources disagree on shingleN: ${sources.zip(shingleNs).mkString(", ")}")
    // frame-installed sources (a shard that underwent removeDocs /
    // refreshBuckets maintenance) merge by COPY only: their retained
    // previous frames may still be serving an external reader the
    // drain would break. Fresh flat shards (the promotion path) move.
    require(!moveFiles || sources.forall(s =>
        graft.operators.Frames.currentVersion(spark, s).isEmpty),
      "mergeStores(moveFiles = true): a source is frame-installed " +
        "(_frame pointer) — promote it by copy (moveFiles = false), or " +
        "rebuild the shard flat before a move-mode drain")
    MergePlan(geoms.head, shingleNs.head, batches.max)
  }

  private def mergeCommit(spark: SparkSession, sources: Seq[String], dest: String,
                          p: MergePlan): Unit = {
    graft.FsOps.writeLongMarker(spark, dest, ShingleMarker, p.shingleN)
    graft.FsOps.writeLongMarker(spark, dest, LastBatchMarker, p.lastBatch)
    markAudited(spark, dest, Some(p.lastBatch))
    writeGeometry(spark, dest, p.geometry._1, p.geometry._2)
  }

  /** Remove documents from the signature store — the maintenance
    * counterpart of [[ingest]]'s append-only growth: a doc dropped from
    * the corpus (retention, takedown, quality purge) must stop blocking
    * future near-duplicates of itself. Both tables are REWRITTEN without
    * the ids; ids absent from the store are ignored (idempotent re-run).
    *
    * Install is ONE manifest-frame flip ([[graft.operators.Frames]],
    * VERDICT r18 #1): both rewritten tables stage under fresh generation
    * dirs, the next manifest lists them, and a single `_frame` pointer
    * rename commits the pair together. The r18 shape — two sequential
    * `atomicSwap`s — could crash BETWEEN the `sets` and `buckets`
    * installs and leave the two tables describing different document
    * populations (ids gone from one, present in the other): near-dups of
    * the drifted docs then silently passed or blocked, the exact defect
    * class the IVF frame pointer eliminated for its family. A crash any
    * time before the flip costs nothing (the old frame serves both
    * tables; the re-run restages); the superseded frame survives one
    * more install as the readers' grace window ([[Frames.gc]] retain=1).
    *
    * Scale: a compaction-class maintenance job, ∝ the signature tables
    * (~bands rows + one shingle set per doc — store-sized, never the
    * corpus text), not an ingest-path cost. The tombstone alternative
    * would charge every future ingest an extra anti-join on the stored
    * side instead; removal traffic is rare enough that the rewrite wins
    * (same trade as the index stores' expunge). */
  def removeDocs(spark: SparkSession, path: String, ids: DataFrame,
                 idCol: String = "doc_id"): Unit = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    val rm = ids.select(col(idCol).as("doc_id")).distinct()
    val stage = graft.operators.Frames.begin(spark, path, Tables)
    // the two table rewrites stage at disjoint dirs — overlap them
    // (guide §2.6); the frame still flips only after both landed
    graft.operators.Par.run(Tables.map(t => () =>
      graft.FsOps.writeParquet(graft.FsOps.readParquet(spark, tablePath(spark, path, t))
        .join(rm, Seq("doc_id"), "left_anti"), stage.stageDir(t))): _*)
    stage.commit() // the flip: both rewrites install together
  }

  /** Bucket-skew ADVISOR (VERDICT r18 #6 — the dedup family's detect
    * half of the advise/apply loop): one report row, `violations` = the
    * number of HOT `(band, bucket)` groups (more than `maxBucketDocs`
    * members), so a cron `Maintain dedup advise` exits nonzero exactly
    * when ingest is paying quadratic candidate pressure. Hot buckets are
    * the store's own cost model: every future batch that collides with
    * one verifies against ALL its members (occupancy² pair work) — and a
    * hot MinHash bucket almost always means the store itself holds
    * undetected near-duplicates ([[writeSignatures]] never self-dedups
    * the initial corpus; [[ingest]] admits both copies of an intra-batch
    * pair by contract). The repair is [[dedupHotBuckets]]: remove the
    * duplicate mass, keep one survivor per cluster. One aggregation over
    * the buckets table (store-sized, never corpus text); ≤ 1 driver
    * row. */
  def adviseBucketSkew(spark: SparkSession, path: String,
                       maxBucketDocs: Int = 32): DataFrame = {
    require(maxBucketDocs >= 1, s"maxBucketDocs must be >= 1 (got $maxBucketDocs)")
    graft.FsOps.requireNotHusk(spark, path)
    val g = graft.FsOps.readParquet(spark, tablePath(spark, path, "buckets"))
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("checked"),
        coalesce(sum(when(col("n") > maxBucketDocs, 1L).otherwise(0L)), lit(0L))
          .as("violations"),
        coalesce(max(col("n")), lit(0L)).as("worst_bucket_docs"))
      .collect()(0)
    val (checked, hot, worst) = (g.getLong(0), g.getLong(1), g.getLong(2))
    val reason =
      if (hot > 0L)
        s"$hot of $checked (band,bucket) groups exceed $maxBucketDocs docs " +
          s"(worst: $worst) — every colliding ingest pays quadratic " +
          "verification there; run `dedup advise ... apply` (or " +
          "dedupHotBuckets) to remove the duplicate mass behind them"
      else
        s"no (band,bucket) group exceeds $maxBucketDocs docs " +
          s"(worst: $worst of $checked groups)"
    import spark.implicits._
    Seq(("bucket_skew", checked, hot, worst, maxBucketDocs.toLong, reason))
      .toDF("invariant", "checked", "violations", "worst_bucket_docs",
        "threshold", "reason")
  }

  /** The APPLY half beside [[adviseBucketSkew]]: self-dedup the hot
    * buckets — exact-Jaccard-verify all pairs WITHIN each hot
    * `(band, bucket)` group against the stored shingle sets, cluster the
    * verified near-dups (min-id survivor, [[Dedup.duplicateClusters]]),
    * and [[removeDocs]] the non-survivors — one manifest-frame install,
    * so the two-table removal can never tear. Returns the number of
    * documents removed (0 = nothing verified; idempotent re-run).
    *
    * Scale: pair work is confined to the hot groups the advisor priced
    * (the quadratic cost is paid ONCE here to stop paying it on every
    * future ingest); verification joins the store's own sets table —
    * corpus text never moves. Future near-dups of the removed docs still
    * flag against the kept survivor, the [[removeDocs]] contract. */
  def dedupHotBuckets(spark: SparkSession, path: String, minJaccard: Double,
                      maxBucketDocs: Int = 32): Long = {
    graft.FsOps.requireNotHusk(spark, path)
    val buckets = graft.FsOps.readParquet(spark, tablePath(spark, path, "buckets"))
    val hot = buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketDocs)
      .select("band", "bucket")
    val members = buckets.join(hot, Seq("band", "bucket"), "left_semi")
      .select("doc_id", "band", "bucket")
    val cand = members.select(col("doc_id").as("id_a"), col("band"), col("bucket"))
      .join(members.select(col("doc_id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sets = graft.FsOps.readParquet(spark, tablePath(spark, path, "sets"))
      .select(col("doc_id"), col("sh_set"))
    val verified = cand
      .join(sets.toDF("id_a", "set_a"), "id_a")
      .join(sets.toDF("id_b", "set_b"), "id_b")
      .withColumn("n_inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b")
    if (verified.isEmpty) return 0L
    val losers = Dedup.duplicateClusters(verified, "id_a", "id_b")
      .filter(col("is_survivor") === 0L).select("doc_id")
    val n = losers.count()
    if (n > 0L) removeDocs(spark, path, losers)
    n
  }

  /** Integrity check ("fsck") for a persisted signature store — the dedup
    * twin of [[graft.index.Indexer.checkStore]]: one report row per
    * invariant, `(invariant, checked, violations)`, all-zero violations
    * when healthy.
    *
    * [[ingest]] (two sequential appends) has a crash window BETWEEN its
    * `sets` and `buckets` writes; a crash there leaves the two tables
    * describing different document populations — near-dups of the
    * drifted docs then silently pass or block. This checker is the
    * detect step; repair is [[refreshBuckets]] (re-derive `buckets` from
    * `sets`). [[removeDocs]] no longer contributes to this class — its
    * two rewrites install together under one manifest-frame flip.
    *
    * Invariants (report order):
    *   - `bucket_cardinality` — every doc carries exactly `bands` bucket
    *     rows over the full band range (a short set means a
    *     mixed-geometry append: those docs collide on fewer bands and
    *     quietly lose recall).
    *   - `buckets_match_signatures` — the stored buckets equal a fresh
    *     minhash+LSH recompute from the stored shingle sets with the
    *     declared geometry: the content invariant (catches a sets
    *     rewrite that never regenerated buckets, and any geometry
    *     mismatch between the two tables).
    *   - `id_surface_match` — `sets` and `buckets` hold the same doc_id
    *     population (the crash-window drift above).
    *   - `ids_unique` — one shingle-set row per doc_id.
    *
    * Scale: the recompute is one pass over `sets` (signatures ∝ docs ×
    * numHashes — store-sized, never corpus text) plus a
    * `(doc_id, band, bucket)`-keyed full-outer join against the stored
    * buckets; scheduled maintenance, not an ingest-path cost. Nothing
    * collects to the driver.
    */
  def checkStore(spark: SparkSession, path: String,
                 numHashes: Int = 128, bands: Int = 32): DataFrame = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    requireGeometry(spark, path, numHashes, bands, "checkStore")
    import graft.operators.StoreCheck.row
    // one shared pass per audited table (sets feeds the uniqueness,
    // surface AND bucket-recompute checks; buckets feeds three) — the
    // deep audit is priced per pass over the store, so each table
    // materializes once and the eager ≤ 4-row report releases the cache
    graft.operators.StoreCheck.audit(spark) { cache =>
      val sets = cache(graft.FsOps.readParquet(spark, tablePath(spark, path, "sets")))
      val buckets = cache(graft.FsOps.readParquet(spark, tablePath(spark, path, "buckets")))
      val unique = row("ids_unique",
        sets.agg(count(lit(1)).as("checked"),
            countDistinct(col("doc_id")).as("d"))
          .select(col("checked"), (col("checked") - col("d")).as("violations")))
      sharedChecks("", sets, buckets, numHashes, bands) :+ unique
    }
  }

  /** The invariants both audits check, each defined once over the
    * `sets`/`buckets` frames it audits; `prefix` is "" for the deep audit
    * and "delta_" for the incremental one (the contract on
    * [[graft.operators.StoreCheck]]). In report order:
    * `bucket_cardinality`, `buckets_match_signatures`,
    * `id_surface_match`. */
  private def sharedChecks(prefix: String, sets: DataFrame, buckets: DataFrame,
                           numHashes: Int, bands: Int): Seq[DataFrame] = {
    import graft.operators.StoreCheck.row
    val cardinality = row(s"${prefix}bucket_cardinality",
      buckets.groupBy("doc_id")
        .agg(count(lit(1)).as("rows"), countDistinct(col("band")).as("dbands"))
        .agg(count(lit(1)).as("checked"),
          sum(when(col("rows") =!= bands.toLong || col("dbands") =!= bands.toLong, 1L)
            .otherwise(0L)).as("violations")))

    val content = {
      val recomputed = deriveBuckets(sets, numHashes, bands)
        .select(col("doc_id"), col("band"), col("bucket"))
        .withColumn("rec", lit(1))
      val stored = buckets.select("doc_id", "band", "bucket")
        .withColumn("sto", lit(1))
      row(s"${prefix}buckets_match_signatures",
        stored.join(recomputed, Seq("doc_id", "band", "bucket"), "full_outer").agg(
          sum(when(col("rec").isNotNull, 1L).otherwise(0L)).as("checked"),
          sum(when(col("rec").isNull || col("sto").isNull, 1L).otherwise(0L))
            .as("violations")))
    }

    val surface = {
      val a = sets.select("doc_id").distinct().withColumn("in_sets", lit(1))
      val b = buckets.select("doc_id").distinct().withColumn("in_buckets", lit(1))
      row(s"${prefix}id_surface_match",
        a.join(b, Seq("doc_id"), "full_outer").agg(
          sum(when(col("in_sets").isNotNull, 1L).otherwise(0L)).as("checked"),
          sum(when(col("in_sets").isNull || col("in_buckets").isNull, 1L)
            .otherwise(0L)).as("violations")))
    }
    Seq(cardinality, content, surface)
  }

  /** Re-derive `buckets` from the stored shingle `sets` and install it
    * via the crash-safe swap — the REPAIR step beside [[checkStore]]'s
    * detect (the `sets` table is authoritative: buckets are derived
    * state, exactly [[writeSignatures]]'s derivation). Fixes every
    * bucket-side drift the checker flags: the ingest/removeDocs crash
    * window (tables describing different populations), a mixed-geometry
    * append, a buckets table lost or clobbered outright. Cost ∝ the
    * signature store (docs × numHashes), never corpus text — a
    * scheduled maintenance job, like the index store's refreshDerived. */
  def refreshBuckets(spark: SparkSession, path: String,
                     numHashes: Int = 128, bands: Int = 32): Unit = {
    requireGeometry(spark, path, numHashes, bands, "refreshBuckets")
    val sets = graft.FsOps.readParquet(spark, tablePath(spark, path, "sets"))
    val derived = deriveBuckets(sets, numHashes, bands)
    // a batch-tracked store's repaired buckets re-inherit each doc's
    // ingest ordinal from its (authoritative) sets row, so incremental
    // audits keep working after a repair
    val withBatch =
      if (sets.columns.contains("batch"))
        derived.join(sets.select("doc_id", "batch"), "doc_id")
      else derived
    // frame install with `sets` carried BY REFERENCE (the manifest keeps
    // its current generation — no O(store) copy of the big table): only
    // the re-derived buckets stage, one pointer flip installs
    val stage = graft.operators.Frames.begin(spark, path, Tables)
    graft.FsOps.writeParquet(withBatch, stage.stageDir("buckets"))
    stage.commit()
  }

  /** Incremental integrity check: audit ONLY the rows ingested since
    * the last vouched-for batch ([[markAudited]]) — the daily-cadence
    * audit; the full [[checkStore]] stays the scheduled deep audit
    * (its content invariant recomputes minhash over the WHOLE sets
    * table, the one ∝-store cost here). Requires a batch-tracked store
    * (writeSignatures since batch tracking).
    *
    * Invariants: the shared ones are [[checkStore]]'s, scoped to the
    * delta (`delta_`-prefixed, one definition for both audits — see
    * [[graft.operators.StoreCheck]]); minhash is recomputed from DELTA
    * sets only (∝ delta), and the id-surface match WITHIN the delta is
    * exactly where [[ingest]]'s crash window lands (sets append
    * committed, buckets append lost: the drifted docs are delta docs by
    * construction). `delta_ids_unique` checks delta ids against the
    * WHOLE id surface (one column-pruned doc_id scan — no shingle sets
    * move; a re-sent id would otherwise shadow its stored twin). */
  def checkStoreIncremental(spark: SparkSession, path: String,
                            numHashes: Int = 128, bands: Int = 32,
                            sinceBatch: Option[Long] = None): DataFrame = {
    requireGeometry(spark, path, numHashes, bands, "checkStoreIncremental")
    import graft.operators.StoreCheck.row
    val sets = graft.FsOps.readParquet(spark, tablePath(spark, path, "sets"))
    val buckets = graft.FsOps.readParquet(spark, tablePath(spark, path, "buckets"))
    require(sets.columns.contains("batch") && buckets.columns.contains("batch"),
      s"checkStoreIncremental: store at $path carries no batch ordinals " +
        "(written before batch tracking) — run the full checkStore instead")
    val since = sinceBatch.orElse(lastAudited(spark, path)).getOrElse(-1L)
    val dSets = sets.filter(col("batch") > since)
    val dBuckets = buckets.filter(col("batch") > since)

    val unique = {
      val counts = sets.select("doc_id")
        .join(dSets.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("c"))
      row("delta_ids_unique",
        dSets.agg(count(lit(1)).as("checked")).crossJoin(
          counts.agg(coalesce(sum(when(col("c") > 1, 1L).otherwise(0L)), lit(0L))
            .as("violations"))))
    }

    graft.operators.StoreCheck.report(
      sharedChecks("delta_", dSets, dBuckets, numHashes, bands) :+ unique)
  }

  /** Streaming dedup-on-ingest: every micro-batch of a document stream is
    * deduped against all documents ingested in EARLIER batches (the store
    * grows between batches, so later batches dedup against stream-arrived
    * docs); per-batch duplicate reports land under `path/reports`, one
    * subdirectory per batch id. The first batch against an empty store
    * bootstraps it. State is the persisted store itself — nothing
    * accumulates in streaming state, so a watermark-free source is fine.
    *
    * Replay-safe: Structured Streaming re-runs a micro-batch after a
    * failure with the SAME batch id — docs whose ids the store already
    * holds (appended by the failed attempt) are excluded up front, so a
    * retry neither self-flags survivors at jaccard 1.0 nor double-appends
    * them, and the per-batch report directory is overwritten, not
    * appended.
    *
    * Duplicates WITHIN one micro-batch are not detected (same contract as
    * [[ingest]] — both copies enter the store); run
    * [[Dedup.minhashLshPairs]] over a batch first if intra-batch dups
    * matter.
    */
  def writeIngesting(docs: DataFrame, path: String, minJaccard: Double,
                     checkpoint: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        // empty report with the id column's actual type (a long-typed
        // lit(0) bootstrap would poison the reports dir for string ids)
        def emptyReport = batch
          .select(col(idCol).as("new_id"), col(idCol).as("dup_of"),
            lit(0.0).as("jaccard"))
          .limit(0)
        val report =
          if (!isCommitted(spark, path)) {
            writeSignatures(batch, path, idCol, textCol, shingleN, numHashes, bands)
            emptyReport
          } else {
            // replay guard: drop docs already in the store BY ID (only a
            // retried attempt or an upstream id re-send produces them)
            val fresh = batch.join(
              graft.FsOps.readParquet(spark, tablePath(spark, path, "sets"))
                .select(col("doc_id").as(idCol)),
              Seq(idCol), "left_anti")
            ingest(spark, path, fresh, minJaccard, idCol, textCol,
              shingleN, numHashes, bands)
          }
        graft.FsOps.writeParquet(report.withColumn("batch_id", lit(id)),
          s"$path/reports/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
