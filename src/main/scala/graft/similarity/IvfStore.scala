package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — the ANN analog of the BM25 index store: build
  * once, store as parquet, answer queries from the store with partition
  * pruning on the probed centroid lists.
  *
  * Layout:
  *   - `centroids` — `(cid, cvec)`: ≤ nCentroids rows, broadcast at query
  *     time;
  *   - `lists`     — corpus vectors with precomputed norms, PARTITIONED BY
  *     `cid`: a query reading `nProbe` of `nCentroids` lists scans
  *     ~nProbe/nCentroids of the corpus (the parquet analog of an IVF
  *     index's inverted lists);
  *   - `deletes`   — soft-delete tombstones (anti-joined at probe time).
  *
  * The three tables are the store's declared [[graft.operators.Frames]]
  * inventory ([[Tables]]): fresh builds live flat at the store root.
  * Every entry resolves the three directories with one pointer +
  * manifest read; markers stay at the store root.
  *
  * Each decision about the lists is made in one place:
  *   - [[encodeLists]], the codec: raw `(vec_id, v, cid, nv)` or int8
  *     `(vec_id, cid, scale, qvec, nv)` rows, for both builds and
  *     [[appendBatch]]; [[Quantize.dequantized]] is the one int8
  *     reconstruction every reader of the codes uses;
  *   - [[probe]], the one probe behind [[searchStore]] and
  *     [[searchStoreQuantized]], which reads the codec from the lists
  *     schema, so either name serves either encoding;
  *   - [[rewriteLists]], the frame install of the four maintenance
  *     rewrites (flatten, expunge, repair, recluster): it stages the
  *     tables a verb rewrites as new generations, carries the rest by
  *     reference and the ingest that landed meanwhile, and installs them
  *     with one manifest-pointer flip — readers serve THROUGH
  *     maintenance and a crash anywhere costs only dead staged bytes;
  *   - [[batchLayers]], the one listing of the `batch=` layers.
  *
  * Query-time pruning mirrors the BM25 store's term buckets: the probed
  * cids for a bounded query set are collected driver-side (≤ nCentroids
  * ints — metadata, not data) and pushed as an IN-list partition filter,
  * so untouched lists are never opened.
  */
object IvfStore {

  /** The store's complete table inventory (the manifest frame's universe). */
  private[graft] val Tables = Seq("centroids", "lists", "deletes")

  /** Directories of the store's tables in its CURRENT frame — one
    * pointer + manifest read ([[graft.operators.Frames.resolveAll]]);
    * `deletes` (and `lists` before a bootstrapped store's first batch)
    * may not exist. */
  private def tableDirs(spark: SparkSession, path: String): Map[String, String] =
    graft.operators.Frames.resolveAll(spark, path, Tables)

  private def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def writeIndex(corpus: DataFrame, path: String,
                 nCentroids: Int = 16, kmeansIters: Int = 2,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    build(corpus, path, nCentroids, kmeansIters, idCol, vecCol, quantize = false)

  /** IVF store with int8-QUANTIZED inverted lists — the memory-bound
    * configuration: assignment happens on the raw vectors (exactly as
    * [[writeIndex]]), but the persisted lists carry `(scale, qvec)`
    * codes ([[Quantize.toInt8]]) instead of floats — 4× less VECTOR
    * payload through every probe scan, shuffle and broadcast (2.65×
    * whole-list parquet bytes measured at sf0.1, bench_serving.json's
    * store_bytes — ids/norms/encoding overhead dilute the payload win),
    * which at 100 TB is the difference between lists living in executor
    * memory or spilling. Search ([[searchStoreQuantized]]) dequantizes on the fly
    * and ranks on the reconstructed vectors; ranking error is bounded
    * by the scale/2-per-component reconstruction error (QuantizeSpec),
    * and the whole pipeline stays engine-reproducible — codes, dequant
    * and scores are all oracle-verified.
    */
  def writeIndexQuantized(corpus: DataFrame, path: String,
                          nCentroids: Int = 16, kmeansIters: Int = 2,
                          idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    build(corpus, path, nCentroids, kmeansIters, idCol, vecCol, quantize = true)

  /** Both builds: the centroids first, then the lists encoded against the
    * JUST-PERSISTED centroids (derive-from-persisted rule — the exact
    * centroid values the query path will read). A rebuild over a
    * frame-installed store overwrites the CURRENT frame's tables in place
    * (the pointer stays) — the same non-atomic rebuild contract as
    * overwriting a legacy store's tables. */
  private def build(corpus: DataFrame, path: String, nCentroids: Int, kmeansIters: Int,
                    idCol: String, vecCol: String, quantize: Boolean): Unit = {
    writeCentroids(corpus, path, nCentroids, kmeansIters, idCol, vecCol)
    val dirs = tableDirs(corpus.sparkSession, path)
    graft.FsOps.writeParquet(
      encodeLists(corpus, idCol, vecCol, dirs("centroids"), quantize).repartition(col("cid")),
      dirs("lists"), partitionBy = Seq("cid"))
  }

  /** The lists codec: `rows`' vectors assigned to their nearest centroid
    * in `centroidsDir` (always on the raw vectors) and encoded as stored
    * lists rows — raw `(vec_id, v, cid, nv)`, or int8
    * `(vec_id, cid, scale, qvec, nv)` ([[Quantize.toInt8]] codes). `nv`
    * is the norm every probe divides by, computed once here. */
  private def encodeLists(rows: DataFrame, idCol: String, vecCol: String,
                          centroidsDir: String, quantize: Boolean): DataFrame = {
    val vecs = rows.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val assigned = Similarity.assignToCentroids(vecs,
      broadcast(graft.FsOps.readParquet(rows.sparkSession, centroidsDir)),
      "vec_id", "v", keep = 1)
    if (!quantize) assigned.withColumn("nv", Similarity.norm(col("v")))
    else assigned.select("vec_id", "cid").join(withInt8Norm(
        Quantize.toInt8(vecs, "vec_id", "v").select(col("id").as("vec_id"), col("scale"),
          transform(col("qvec"), x => x.cast("byte")).as("qvec"))), "vec_id")
  }

  /** `nv` of int8 rows: the norm of their [[Quantize.dequantized]]
    * reconstruction, by the declarative dot their probes score with. */
  private def withInt8Norm(rows: DataFrame): DataFrame =
    rows.withColumn("__rv", Quantize.dequantized)
      .withColumn("nv", sqrt(Similarity.dot(col("__rv"), col("__rv")))).drop("__rv")

  /** Probe a store: [[searchStore]] under its int8 name; either name
    * serves either encoding ([[probe]]). */
  def searchStoreQuantized(spark: SparkSession, path: String, queries: DataFrame,
                           k: Int, nProbe: Int = 4,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probe(spark, path, queries, k, nProbe, idCol, vecCol)

  /** Persist only the centroid table — the bootstrap step of a streaming
    * ingest: centroid training is a periodic batch job over a corpus
    * sample; ingest then assigns continuously against the frozen
    * centroids (re-training is a new store generation, not an append). */
  def writeCentroids(corpus: DataFrame, path: String,
                     nCentroids: Int = 16, kmeansIters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    graft.FsOps.writeParquet(
      Similarity.kmeansCentroids(corpus, nCentroids, kmeansIters, idCol, vecCol),
      graft.operators.Frames.resolve(corpus.sparkSession, path, "centroids"))

  /** Assign one ingest batch against the persisted centroids and add its
    * vectors to the inverted lists. Replay-safe: every batch writes under
    * its own `batch=<id>` partition via dynamic partition overwrite, so a
    * retried micro-batch REPLACES its previous output instead of
    * duplicating it. `cid` stays a partition level below `batch`, so
    * query-time probed-cid pruning still skips unprobed lists of every
    * batch.
    *
    * Ordinal guard: on a MERGED store, `batchId` must exceed the
    * `_batch_floor` the merge recorded (its highest remapped ordinal).
    * An upstream shard's checkpoint continuing its own ordinal stream
    * into the merged store (its "next batch" collides with another
    * shard's remapped layer) refuses loudly instead of silently
    * clobbering a committed layer that the born-audited `batch > since`
    * window would never re-inspect. The floor is FIXED at merge time —
    * deliberately not the moving [[lastAudited]] watermark, so the
    * documented replay-overwrite contract survives: a store's OWN
    * retried micro-batch (at-least-once delivery re-running an ordinal
    * whose write landed but whose source checkpoint did not) replays
    * fine even if an audit advanced the watermark in between. Ingest
    * merged stores with fresh ordinals from `listBatches(path).last + 1`.
    *
    * `quantize = true` stores the batch as int8 codes — assignment
    * still runs on the RAW batch vectors against the persisted
    * centroids (exactly [[writeIndexQuantized]]'s split), the persisted
    * rows carry `(scale, qvec, nv)` with `nv` from the
    * `round(code·scale, 6)` reconstruction, so a streamed-then-
    * flattened quantized shard is row-for-row what a one-shot
    * [[writeIndexQuantized]] over the same vectors writes. The layers
    * of one store must be uniformly raw or uniformly quantized (a
    * half-present qvec column serves neither probe path) — enforced
    * against the existing lists schema. */
  def appendBatch(spark: SparkSession, path: String, batch: DataFrame,
                  batchId: Long,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  quantize: Boolean = false): Unit = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    val dirs = tableDirs(spark, path)
    val layers = batchLayers(spark, dirs("lists"))
    require(layers.isDefined,
      s"appendBatch: ${dirs("lists")} carries a fresh (cid-only) layout — " +
        "appending a batch= layer would leave a half-present batch column " +
        "that serves neither audit; streaming ingest targets stores " +
        "bootstrapped by writeCentroids (rebuild, or merge shards instead)")
    if (layers.exists(_.nonEmpty)) {
      // one footer read (metadata): the store's layers must stay
      // uniformly raw or uniformly quantized
      val hasQ = graft.FsOps.readParquet(spark, dirs("lists")).columns.contains("qvec")
      require(hasQ == quantize,
        s"appendBatch: store at $path holds " +
          s"${if (hasQ) "QUANTIZED" else "RAW"} lists but the batch would " +
          s"append ${if (quantize) "quantized" else "raw"} rows — a " +
          "half-present qvec column serves neither probe path")
    }
    graft.FsOps.readLongMarker(spark, path, BatchFloorMarker).foreach { f =>
      require(batchId > f,
        s"appendBatch: batch ordinal $batchId is <= this merged store's " +
          s"ordinal floor $f at $path — an upstream shard's checkpoint " +
          "continuing its own ordinal stream into a merge-remapped store " +
          "silently clobbers a committed layer the incremental audit would " +
          "never re-inspect; ingest with fresh ordinals from " +
          "listBatches(path).last + 1")
    }
    // per-write dynamic overwrite: session conf stays untouched (other
    // writes may be running concurrently under Par)
    graft.FsOps.writeParquet(
      encodeLists(batch, idCol, vecCol, dirs("centroids"), quantize)
        .withColumn("batch", lit(batchId)).repartition(col("cid")),
      dirs("lists"), partitionBy = Seq("batch", "cid"), dynamicOverwrite = true)
  }

  /** Attach a streaming vector source to the store: each micro-batch is
    * assigned against the persisted centroids and appended to the lists.
    * Work per trigger ∝ batch size (broadcast centroids, no corpus-side
    * reads) — the ANN analog of dedup-on-ingest. */
  def writeIngesting(vecs: DataFrame, path: String, checkpoint: String,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                     quantize: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatch(b.sparkSession, path, b, id, idCol, vecCol, quantize)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Store maintenance: compact the inverted lists' small files (streaming
    * ingest writes one file set per micro-batch) leaf by leaf across BOTH
    * partition levels (`batch=/cid=`), preserving the layout that probing
    * prunes on. Run periodically from the maintenance loop, off the query
    * path. */
  def compactLists(spark: SparkSession, path: String,
                   targetBytes: Long = 128L * 1024 * 1024)
      : Map[String, graft.operators.Compaction.CompactionStats] = {
    graft.FsOps.requireNotHusk(spark, path)
    graft.operators.Compaction.compactPartitionsRecursive(
      spark, graft.operators.Frames.resolve(spark, path, "lists"), targetBytes)
  }

  /** Flatten a streaming-ingested store's `batch=` layers into the fresh
    * `cid=`-only layout — the "stream-compact" step the mixed-layout
    * merge refusal prescribes: [[mergeStores]] requires uniformly fresh
    * or uniformly layered sources, so a layered shard flattens first to
    * merge with fresh ones. One layout rewrite installed as a new
    * frame (layout metadata only — no score, assignment or tombstone
    * changes: deletes carry as-is, expunge stays its own verb). Batch
    * provenance is gone afterwards, so the audit watermark
    * drops with it ([[checkStoreIncremental]] refuses cid-only stores;
    * the deep [[checkStore]] is the audit face) and [[appendBatch]]
    * refuses the flattened store like any fresh build — flattening is
    * the END of a shard's ingest life, the step before promotion.
    * Idempotent: a store already in fresh layout is a no-op (the
    * crash-resume contract — a death between the flip and the marker
    * drop re-runs to completion). */
  def flattenBatches(spark: SparkSession, path: String): Unit = {
    graft.FsOps.requireNotHusk(spark, path)
    val dirs = tableDirs(spark, path)
    // a bootstrapped shard that never ingested has no lists yet — it is
    // trivially fresh; the no-op contract covers it (not a parquet error)
    if (!dirExists(spark, dirs("lists"))) return
    // tombstones carry (flatten must never expunge — masking stays masking)
    if (batchLayers(spark, dirs("lists")).exists(_.nonEmpty))
      rewriteLists(spark, path, dirs)((lists, _) => lists.drop("batch"))
    // batch provenance dies with the batch column (the advisory row
    // takes over on a flattened merged store)
    Seq(graft.operators.StoreCheck.LastAuditMarker, BatchFloorMarker,
      MergedBatchBoundsMarker).foreach(graft.FsOps.deleteMarker(spark, path, _))
  }

  /** Soft-delete vectors from a persisted IVF store: ids append into a
    * `deletes` tombstone table — the cid-partitioned lists are NEVER
    * rewritten (a delete batch touches arbitrary cids; rewriting them
    * all is a compaction job, not an ingest-path cost), and
    * [[searchStore]] subtracts the tombstone set after the pruned scan.
    * Centroids are frozen by design (as for streaming ingest) — deletes
    * thin the lists they probe; re-training is a separate rebuild, the
    * standard IVF maintenance split. Idempotent: duplicate tombstones
    * change nothing (anti-join semantics). */
  def deleteVectors(spark: SparkSession, path: String, ids: DataFrame,
                    idCol: String = "vec_id"): Unit = {
    graft.FsOps.requireNotHusk(spark, path)
    graft.FsOps.writeParquet(ids.select(col(idCol).as("vec_id")).distinct(),
      graft.operators.Frames.resolve(spark, path, "deletes"), "append")
  }

  /** Physically apply accumulated tombstones ([[deleteVectors]]) — the
    * compaction-class counterpart of soft delete, mirroring
    * [[graft.index.Indexer.expungeDeletes]]: the inverted lists are
    * rewritten WITHOUT the dead vectors (partition layout preserved —
    * `cid`, or `batch`/`cid` for a streaming-ingested store) and the
    * tombstone table drops. Probes lose the anti-join; centroids stay
    * frozen (deletes thin lists, re-training is a rebuild). Run it when
    * the tombstone anti-join overhead or dead-row storage outweighs one
    * lists rewrite — a scheduled maintenance job beside
    * [[compactLists]], never an ingest-path cost. No-op without
    * tombstones. The lists rewrite and the tombstone drop install with
    * one pointer flip ([[rewriteLists]]), so they cannot tear apart. */
  def expungeDeletes(spark: SparkSession, path: String): Unit = {
    graft.FsOps.requireNotHusk(spark, path)
    val dirs = tableDirs(spark, path)
    if (!dirExists(spark, dirs("deletes"))) return
    // the new frame keeps ONLY tombstones landing mid-rewrite — the
    // snapshot's were materialized out
    rewriteLists(spark, path, dirs, dropDeletes = true)((lists, _) =>
      liveLists(spark, dirs("deletes"), lists))
  }

  /** Repair the inverted lists — the REPAIR step beside [[checkStore]]'s
    * detect, closing the corrupt → detect → repair → re-check loop an
    * operator actually runs. One layout-preserving rewrite that fixes
    * every list-side invariant the checker can flag:
    *
    *   - duplicate `vec_id` rows drop under a TOTAL order — ascending
    *     cid, then batch (when the store is batch-partitioned: the
    *     earliest-ingested copy survives a replayed micro-batch that tied
    *     on cid), then a payload hash as the final tiebreak — so the
    *     survivor is deterministic even for same-cid duplicates with
    *     divergent payloads (which copy that is carries no special
    *     meaning in that degenerate case; determinism is the contract);
    *   - raw stores re-assign every vector to its nearest persisted
    *     centroid with the exact write-path assignment (fixing
    *     mis-assignment AND uncovered cids — the repaired rows land back
    *     under reachable partitions); quantized stores keep their cid
    *     (assignment ran on raw vectors the store intentionally no
    *     longer holds — centroid-level damage there means rebuild);
    *   - the precomputed norm `nv` recomputes from the stored vector
    *     (raw) or its `round(code·scale, 6)` reconstruction (quantized),
    *     bit-identical to the write paths.
    *
    * Installed as a new frame ([[rewriteLists]]), `batch=`/`cid=` layout
    * preserved. Scale: one pass over lists + one vec_id exchange
    * (dedup window) + the broadcast assignment — a compaction-class
    * maintenance job beside [[compactLists]]/[[expungeDeletes]], never a
    * probe-path cost. */
  def repairLists(spark: SparkSession, path: String): Unit = {
    graft.FsOps.requireNotHusk(spark, path)
    val dirs = tableDirs(spark, path)
    // tombstones carry (repair never expunges); concurrent ingest carries
    // as written — fresh appends, not the corruption repaired here
    rewriteLists(spark, path, dirs) { (lists, _) =>
      // total order: cid, batch (if present), payload hash — same-cid
      // duplicates (a replayed micro-batch under batch=/cid= layout) would
      // otherwise tie and survive nondeterministically
      val tiebreaks = (if (lists.columns.contains("batch"))
          Seq(col("batch").asc) else Seq.empty) :+
        xxhash64(lists.columns.filterNot(_ == "vec_id").sorted.toIndexedSeq.map(col): _*).asc
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cid").asc +: tiebreaks: _*)
      val deduped = lists.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      if (lists.columns.contains("qvec")) withInt8Norm(deduped)
      else {
        val cents = broadcast(graft.FsOps.readParquet(spark, dirs("centroids")))
        // merged stores reassign WITHIN each row's cid group (the merge
        // contract — see mergeStores): a union-wide reassign here would
        // "repair" every healthy shard-local assignment into a full
        // store rewrite; changing assignment geometry is reclusterStore's
        // job, not repair's
        val reassigned = mergedBounds(spark, path) match {
          case None =>
            Similarity.assignToCentroids(
                deduped.select(col("vec_id"), col("v")), cents, "vec_id", "v", keep = 1)
              .select(col("vec_id"), col("cid"))
          case Some(bs) =>
            val g = grpOf(bs.map(_.toLong)) _
            val cg = broadcast(cents.select(col("cid").as("ccid"), col("cvec"))
              .withColumn("__grp", g(col("ccid"))))
            // group RANGE to re-home INTO: where batch provenance exists
            // (layered merge — segments, composed through nesting), a
            // remapped layer's row belongs to its provenance range no
            // matter what its possibly-corrupted cid claims — the
            // merged_provenance invariant's repair face. An EXACT segment
            // pins the single source group; a RANGE segment keeps the
            // cid-claimed group when it lies inside the range (the merge
            // contract: shard-local assignment is healthy) and re-homes
            // to the nearest centroid ACROSS the range otherwise. Rows
            // without provenance keep their cid's own group (merge
            // contract). A corrupt segment marker degrades to the
            // cid-claimed group — weaker, never wrong.
            val cidG = g(col("cid"))
            val (provLo, provHi) = (mergedBatchSegments(spark, path),
                graft.FsOps.readLongMarker(spark, path, BatchFloorMarker)) match {
              case (Some(segs), Some(f))
                  if deduped.columns.contains("batch") &&
                    segmentsValid(segs, bs.size) =>
                val inScope = col("batch") <= lit(f)
                (when(inScope, segCol(segs, col("batch"))(_.gLo)).otherwise(cidG),
                 when(inScope, segCol(segs, col("batch"))(_.gHi)).otherwise(cidG))
              case _ => (cidG, cidG)
            }
            val inRange = cidG >= provLo && cidG <= provHi
            val keyCols = Seq("vec_id", "v", "cid") ++
              (if (deduped.columns.contains("batch")) Seq("batch") else Nil)
            val grouped = deduped.select(keyCols.map(col): _*)
              .withColumn("__glo", when(inRange, cidG).otherwise(provLo))
              .withColumn("__ghi", when(inRange, cidG).otherwise(provHi))
              // broadcast range join: cg is ≤ nCentroids rows, so the
              // nested-loop probe is bounded like the assignment broadcast
              .join(cg, col("__grp") >= col("__glo") &&
                col("__grp") <= col("__ghi"))
              .withColumn("cdist", lit(1.0) - Similarity.cosine(col("v"), col("cvec")))
              .groupBy(col("vec_id"))
              .agg(min_by(col("ccid"), col("cdist")).as("cid"))
            // a corrupted cid can land in a group that holds NO
            // centroids (e.g. cid=0 below every bound — exactly what
            // centroid_cover flags): the group join matches nothing and
            // the vector would silently DROP from the rewrite. Rescue
            // orphans with the union-wide assignment — repair must never
            // lose a live vector, and union-nearest satisfies the
            // grouped audit wherever it lands
            val orphans = deduped.select(col("vec_id"), col("v"))
              .join(grouped.select("vec_id"), Seq("vec_id"), "left_anti")
            grouped.unionByName(
              Similarity.assignToCentroids(orphans, cents, "vec_id", "v", keep = 1)
                .select(col("vec_id"), col("cid")))
        }
        deduped.drop("cid").join(reassigned, "vec_id")
          .withColumn("nv", Similarity.norm(col("v")))
      }
    }
  }

  // ---- merged-store assignment contract ------------------------------
  // A centroid-union merge ([[mergeStores]]) keeps every vector's
  // shard-local assignment by documented contract, so "cid = nearest
  // centroid of the merged UNION" is violated BY CONSTRUCTION whenever
  // the shards' Voronoi cells overlap (VERDICT r14 #1). The checkable
  // invariant on a merged store is the merge contract itself: each
  // shard's cids occupy a disjoint range of the union (the merge's
  // offsets), and a vector's cid must be the nearest centroid WITHIN
  // ITS OWN RANGE GROUP. The group bounds persist in a `_merged_bounds`
  // marker (ascending exclusive lower bounds, one per source, composed
  // through nested merges); union-nearest assignment always satisfies
  // the grouped invariant (nearest over all centroids is nearest within
  // the subset holding it), so fresh builds, post-merge ingest
  // ([[appendBatch]] assigns against the union) and repaired rows stay
  // green, while in-group corruption (a row under the wrong list of its
  // own shard) is caught and unreachable cids land on `centroid_cover`.
  // Detection limit, stated plainly: a row whose cid was corrupted into
  // a FOREIGN group AND happens to be that group's nearest centroid for
  // its vector reads as valid — the bounds are the only provenance that
  // survives compaction (file-level `m<i>_` prefixes do not), and
  // distinguishing that row from legitimate shard-local assignment
  // would need per-row shard provenance the store deliberately does not
  // carry. The recall-drift it causes is bounded by the same Voronoi
  // overlap the merge already accepts; recluster removes it wholesale.
  // [[reclusterStore]] re-trains one centroid set and DROPS the marker —
  // the verb that returns the store to the strict union invariant.

  private[graft] val MergedBoundsMarker = "_merged_bounds"

  // Cross-group blind spot (VERDICT r15 #3): the grouped invariant audits
  // each row against the group ITS CID CLAIMS, so a corruption that
  // rewrites a row's cid into a DIFFERENT group is audited against the
  // wrong group's centroids and can pass as locally-nearest. On LAYERED
  // merges provenance survives: each source's batch ordinals occupy a
  // disjoint range of the merged ordinal space (the merge's batch
  // offsets), recorded in `_merged_batch_bounds` as SEGMENTS
  // `batchLo:gLo:gHi` (exclusive-lower batch bound → allowed cid-group
  // range, grpOf units over `_merged_bounds`). A plain shard's layer is
  // an EXACT segment (gLo = gHi — its one true group); an inner MERGED
  // source composes (r16): its own segments shift by the outer batch and
  // group offsets (exact stays exact through any nesting depth), and its
  // post-merge ingest — union-assigned within that source's centroid
  // union, so its true group is known only up to the source's span —
  // becomes a RANGE segment across the source's groups. For every row
  // with batch ≤ the merge's `_batch_floor` (a remapped layer, never
  // post-merge ingest), `merged_provenance` flags a cid group outside
  // the row's segment range, and [[repairLists]] re-homes such rows into
  // their provenance range (the exact group where known, nearest within
  // the range otherwise). A within-range rewrite on a range segment is
  // the residual undetectable class — bounded by the inner store's own
  // Voronoi overlap, the same drift its merge already accepted. FRESH
  // -layout merges carry no per-row provenance at all (file prefixes die
  // at compaction) — `merged_groups_advisory` reports the rows audited
  // under the grouped-only invariant, and recluster is the recovery
  // verb for the undetectable class (SCALE.md).
  private[graft] val MergedBatchBoundsMarker = "_merged_batch_bounds"

  /** One batch-provenance segment of a layered merged store: rows whose
    * batch ordinal falls past `batchLo` (exclusive, up to the next
    * segment's bound) must carry a cid group in `[gLo, gHi]` —
    * `gLo == gHi` is exact source provenance, a wider range is an inner
    * merged store's union-assigned span (contract note above). */
  final case class ProvenanceSegment(batchLo: Long, gLo: Int, gHi: Int)

  /** Batch-provenance segments of a layered merged store, ascending by
    * `batchLo` (None = no batch provenance: fresh-layout merge,
    * flattened store, or a MALFORMED marker — a corrupt marker must
    * degrade to the advisory row, never half-parse into a wrong audit
    * that [[repairLists]] would then "fix" healthy rows by). Pre-segment
    * markers (bare bounds, one per cid group) parse as exact
    * index-aligned segments — but only when EVERY token is bare: a
    * mixed bare/segment marker is a truncated new-format marker, not a
    * legacy one (a bare tail token would otherwise alias to a wrong
    * exact segment). */
  def mergedBatchSegments(spark: SparkSession, path: String)
      : Option[Seq[ProvenanceSegment]] =
    graft.FsOps.readMarker(spark, path, MergedBatchBoundsMarker).flatMap { raw =>
      val toks = raw.trim.split(",").toIndexedSeq.map(_.split(":").toSeq)
      try {
        if (toks.forall(_.size == 3))
          Some(toks.map(t => ProvenanceSegment(t(0).toLong, t(1).toInt, t(2).toInt)))
        else if (toks.forall(_.size == 1))
          Some(toks.zipWithIndex.map { case (t, i) =>
            ProvenanceSegment(t(0).toLong, i + 1, i + 1) })
        else None
      } catch { case _: NumberFormatException => None }
    }

  /** Sanity of a segment list against the store's cid groups — corrupt
    * markers must read as "no provenance" (advisory), never mis-audit. */
  private def segmentsValid(segs: Seq[ProvenanceSegment], nGroups: Int): Boolean =
    segs.nonEmpty &&
      segs.forall(sg => sg.gLo >= 1 && sg.gLo <= sg.gHi && sg.gHi <= nGroups) &&
      segs.sliding(2).forall(w => w.size < 2 || w(0).batchLo < w(1).batchLo)

  /** Per-row segment attribute: ascending bounds, the row takes the last
    * segment whose exclusive-lower bound its batch exceeds. */
  private def segCol(segs: Seq[ProvenanceSegment],
                     b: org.apache.spark.sql.Column)
                    (f: ProvenanceSegment => Int): org.apache.spark.sql.Column =
    segs.tail.foldLeft(lit(f(segs.head))) { (acc, sg) =>
      when(b > lit(sg.batchLo), lit(f(sg))).otherwise(acc) }

  // ---- concurrent-ingest delta carry (ADVICE r18) --------------------
  // A deleteVectors/appendBatch that lands WHILE a frame rewrite is
  // staging writes into the OLD frame's table dirs — and a flip that
  // ignored it would silently discard the write (for a tombstone riding
  // Forget's takedown cascade, a silent RETENTION failure, not just
  // stale data). The frame install ([[rewriteLists]]) therefore snapshots
  // the old frame's ingest surface (batch= dirs, tombstone file names)
  // BEFORE staging, scopes the rewrite to the snapshot, and at flip time
  // carries the delta into the staged frame: appended batches re-shaped
  // into the staged lists layout (re-assigned against the new centroids
  // when the verb changed them), and — only when the staged frame drops
  // `deletes` — tombstone files by name-diff file copy (a frame that
  // carries `deletes` by reference already shares the dir the
  // concurrent tombstones landed in). The lost-write window shrinks from
  // the WHOLE rewrite (hours at scale) to the carry→flip metadata gap;
  // writes landing inside that residual gap still require the store's
  // single-maintenance-writer discipline, which is now a bound on a
  // metadata pass, not on the rewrite.

  private[graft] final case class FrameSnapshot(batches: Set[Long],
                                                deleteFiles: Set[String])

  /** Test seam: invoked by [[rewriteLists]] after the staging writes
    * complete and before the delta carry — the spec injects concurrent
    * ingest verbs here to prove the carry. */
  private[graft] var midMaintenanceHook: SparkSession => Unit = _ => ()

  /** The `batch=` layers of a lists dir, ascending — the one driver-side
    * listing behind [[listBatches]], the frame snapshot and
    * [[appendBatch]]'s layout guard (the `batch=` layout IS the store's
    * batch record; no side file needed). None: the dir holds
    * subdirectories but no `batch=` layer (the fresh cid-only layout);
    * an absent or empty dir has no layers. */
  private def batchLayers(spark: SparkSession, listsDir: String): Option[Seq[Long]] = {
    val p = new org.apache.hadoop.fs.Path(listsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kids =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    val layers = kids.filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toLongOption).sorted
    if (kids.nonEmpty && layers.isEmpty) None else Some(layers)
  }

  /** The frame install of the four lists-rewriting verbs
    * ([[flattenBatches]], [[expungeDeletes]], [[repairLists]],
    * [[reclusterStore]]): snapshot the current frame's (`dirs`) ingest
    * surface, hand `rewrite` the lists pinned to that snapshot, stage
    * what it returns as the new `lists` generation (partitioned by
    * `batch`/`cid` or `cid`, as its columns say), drop `deletes` when the
    * rewrite materialized the tombstones out, carry the ingest that
    * landed meanwhile ([[carryFrameDelta]]) and install the frame with
    * one pointer flip. `rewrite` may stage `centroids` itself
    * (recluster); every table it neither stages nor drops carries by
    * reference. Readers serve the old frame until the flip, and a crash
    * before it costs only dead staged bytes — the re-run restages. */
  private def rewriteLists(spark: SparkSession, path: String,
                           dirs: Map[String, String], dropDeletes: Boolean = false)
                          (rewrite: (DataFrame, graft.operators.Frames.Stage) => DataFrame)
      : Unit = {
    // the ingest surface before staging; the rewrite consumes EXACTLY its
    // batch layers (a batch landing mid-job would otherwise be read by
    // some stages and carried again, duplicating its rows)
    val snap = FrameSnapshot(batchLayers(spark, dirs("lists")).getOrElse(Nil).toSet,
      graft.FsOps.visibleDataFiles(spark, dirs("deletes")).toSet)
    val stored = graft.FsOps.readParquet(spark, dirs("lists"))
    val lists =
      if (!stored.columns.contains("batch")) stored
      else stored.filter(col("batch").isin(snap.batches.toSeq: _*))
    val stage = graft.operators.Frames.begin(spark, path, Tables)
    val staged = rewrite(lists, stage)
    val partCols = if (staged.columns.contains("batch")) Seq("batch", "cid") else Seq("cid")
    graft.FsOps.writeParquet(staged.repartition(partCols.map(col): _*),
      stage.stageDir("lists"), partitionBy = partCols)
    if (dropDeletes) stage.drop("deletes")
    midMaintenanceHook(spark)
    carryFrameDelta(spark, dirs, stage, snap, partCols)
    stage.commit()
  }

  /** Carry post-snapshot ingest from the old frame's table dirs (`cur`)
    * into the staged frame, just before the flip. Tombstone files copy
    * by name-diff when the staged frame dropped `deletes` (a
    * consumed-set overshoot — the rewrite's lazy deletes read may have
    * seen MORE than the snapshot — only carries tombstones of
    * already-removed rows: the anti-join no-ops). Delta batch layers
    * re-shape into the staged layout: re-homed against the staged
    * centroids when the frame staged new ones (recluster), folded into
    * a cid-only layout when the staged `partCols` have no `batch`
    * (flatten). */
  private def carryFrameDelta(spark: SparkSession, cur: Map[String, String],
                              stage: graft.operators.Frames.Stage,
                              snap: FrameSnapshot, partCols: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(cur("lists")).getFileSystem(conf)
    val (delFrom, delTo) = (cur("deletes"), stage.dir("deletes"))
    if (delTo != delFrom)
      for (f <- graft.FsOps.visibleDataFiles(spark, delFrom).toSet -- snap.deleteFiles) {
        val to = new org.apache.hadoop.fs.Path(s"$delTo/$f")
        if (!fs.exists(to))
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(s"$delFrom/$f"), fs, to, false, conf)
      }
    val delta = batchLayers(spark, cur("lists")).getOrElse(Nil).filterNot(snap.batches)
    if (delta.nonEmpty) {
      val rows = graft.FsOps.readParquet(spark, cur("lists"))
        .filter(col("batch").isin(delta: _*))
      val homed =
        if (stage.dir("centroids") == cur("centroids")) rows
        else rehome(rows, stage.dir("centroids"))
      graft.FsOps.writeParquet(
        (if (partCols.contains("batch")) homed else homed.drop("batch"))
          .repartition(partCols.map(col): _*),
        stage.dir("lists"), "append", partitionBy = partCols)
    }
  }

  /** `rows` re-assigned to their nearest centroid in `centroidsDir` — the
    * derive-from-persisted rule for a frame that staged new centroids. */
  private def rehome(rows: DataFrame, centroidsDir: String): DataFrame = {
    val keyed = rows.withColumn("__v", homingVec(rows))
    keyed.drop("cid", "__v").join(Similarity.assignToCentroids(
        keyed.select(col("vec_id"), col("__v")),
        broadcast(graft.FsOps.readParquet(rows.sparkSession, centroidsDir)),
        "vec_id", "__v", keep = 1).select(col("vec_id"), col("cid")), "vec_id")
  }

  /** The float vector a stored row is homed and audited by: `v`, or the
    * [[Quantize.dequantized]] reconstruction float-cast for the codegen
    * dot — list homing only; probes score int8 rows at full double. */
  private def homingVec(rows: DataFrame): org.apache.spark.sql.Column =
    if (rows.columns.contains("qvec")) Quantize.dequantized.cast("array<float>")
    else col("v")

  /** Exclusive-lower cid group bounds of a merged store (None = never
    * merged / reclustered since): cid c belongs to group
    * `count(b in bounds | b < c)`. */
  def mergedBounds(spark: SparkSession, path: String): Option[Seq[Int]] =
    graft.FsOps.readParsedMarker(spark, path, MergedBoundsMarker)(
      _.split(",").map(_.toInt).toSeq)

  /** Group index of a cid (or batch ordinal) under exclusive-lower
    * bounds: `count(b in bounds | b < x)`. */
  private def grpOf(bounds: Seq[Long])(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    bounds.map(b => when(c > lit(b), 1).otherwise(0)).reduce(_ + _)

  /** The `lists_assignment` invariant row: nearest-centroid recompute,
    * union-wide on fresh stores, restricted to each row's cid group on
    * merged stores (see the contract note above).
    *
    * `tol` (per-row cosine tolerance, quantized stores) switches the
    * recompute from exact-match to BANDED: a row passes when its
    * assigned centroid's cosine is within `tol` of the best in-group
    * cosine. The write path assigned on raw vectors the quantized store
    * no longer holds; the audit runs on the `round(code·scale, 6)`
    * reconstruction (exactly what [[reclusterStore]] assigns by and
    * every probe ranks on), and the band absorbs the bounded
    * reconstruction error — a mis-homing WITHIN the band is
    * indistinguishable from quantization noise by construction, while
    * anything beyond it (a genuinely mis-homed vector) flags.
    *
    * The centroid join is a LEFT join and a row whose cid matches no
    * centroid of its group counts as a violation here too (ADVICE r15):
    * `checked` reflects every audited (vec_id, cid) row, so this
    * invariant stays trustworthy independently of `centroid_cover`.
    *
    * ZERO vectors (a quantized all-zero code has scale = 0) score
    * cosine −1 against every centroid ([[Similarity.cosine]]'s
    * zero-norm contract) — own = best = −1, so they count as checked
    * and never as violations: no assignment is more right than any
    * other for a direction-less vector, and probes rank it at the very
    * bottom under every query. The NaN guard below is defense in depth
    * for corrupt NaN payloads — under Spark's NaN-greatest ordering
    * `NaN - NaN > tol` would read true and permanently red-flag a
    * store no repair verb can clear; the suppressed class (a
    * NaN-corrupted CENTROID makes best NaN for its whole group) is
    * caught by `centroids_wellformed` instead, whose repair verb is
    * [[reclusterStore]] (re-trains centroids from list payloads). */
  private def assignmentRow(spark: SparkSession, name: String,
                            rows: DataFrame, cents: DataFrame,
                            bounds: Option[Seq[Int]],
                            tol: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import graft.operators.StoreCheck.row
    (bounds, tol) match {
      case (None, None) =>
        // exact write-path recompute (raw fresh store): bit-identical to
        // the assignment every write/repair path runs
        val recomputed = Similarity.assignToCentroids(
            rows.select(col("vec_id"), col("v")), cents, "vec_id", "v", keep = 1)
          .select(col("vec_id"), col("cid").as("rcid"))
        row(name,
          rows.select("vec_id", "cid").join(recomputed, Seq("vec_id"))
            .agg(count(lit(1)).as("checked"),
              sum(when(col("cid") =!= col("rcid"), 1L).otherwise(0L))
                .as("violations")))
      case _ =>
        val g: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          bounds.map(bs => grpOf(bs.map(_.toLong)) _)
            .getOrElse((_: org.apache.spark.sql.Column) => lit(0))
        val cg = broadcast(cents.select(col("cid").as("ccid"), col("cvec"))
          .withColumn("__grp", g(col("ccid"))))
        val scored = rows
          .select(col("vec_id"), col("v"), col("cid"),
            tol.getOrElse(lit(0.0)).as("__tol"))
          .withColumn("__grp", g(col("cid")))
          .join(cg, Seq("__grp"), "left")
          .withColumn("cos", Similarity.cosine(col("v"), col("cvec")))
          .groupBy(col("vec_id"), col("cid"), col("__tol"))
          .agg(max(col("cos")).as("best"),
            max(when(col("ccid") === col("cid"), col("cos"))).as("own"))
        row(name,
          scored.agg(count(lit(1)).as("checked"),
            sum(when(col("own").isNull ||
                (!isnan(col("best")) &&
                  col("best") - col("own") > col("__tol")), 1L).otherwise(0L))
              .as("violations")))
    }
  }

  /** Per-row cosine tolerance for the quantized assignment audit: the
    * worst-case cosine drift of the `round(code·scale, 6)` reconstruction
    * vs the raw vector the write path assigned on. Per-component error is
    * ≤ scale/2 (int8 rounding) + 5e-7 (the round-to-6), so the error
    * vector's L2 norm is ≤ (scale/2 + 5e-7)·√d and the sphere-projection
    * Lipschitz bound gives |Δcos| ≤ 2‖e‖/‖v‖ per centroid comparison —
    * two comparisons (own + best) make the band 4‖e‖/‖v‖, padded for the
    * audit's float-cast. Assumes `v` is the reconstruction (its norm is
    * the denominator). */
  private def quantAssignTol(v: org.apache.spark.sql.Column,
                             scale: org.apache.spark.sql.Column,
                             qvec: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val nv = Similarity.norm(v)
    // zero-vector guard: a zero reconstruction scores cosine −1 against
    // every centroid (Similarity.cosine's zero-norm contract), so own =
    // best = −1 and any tolerance passes — but the bare division would
    // throw DIVIDE_BY_ZERO under ANSI and kill the whole audit job
    when(nv === 0.0, lit(0.0)).otherwise(
      (lit(2.0) * scale + lit(1e-5)) *
        sqrt(size(qvec).cast("double")) / nv + lit(1e-9))
  }

  /** Integrity check ("fsck") for a persisted IVF store — the vector
    * twin of [[graft.index.Indexer.checkStore]]: one report row per
    * invariant, `(invariant, checked, violations)`, all-zero violations
    * for a healthy store. The repair half is [[repairLists]].
    *
    * Invariants (report order):
    *   - `centroid_cover` — every list partition's cid exists in the
    *     centroid table (an uncovered cid is unreachable by probing:
    *     its vectors silently vanish from every search).
    *   - `centroids_wellformed` — no centroid vector is null or carries
    *     NaN/null components (a poisoned centroid corrupts every probe
    *     ranked against it, and the assignment audit's NaN guard
    *     deliberately suppresses it — see [[centroidsWellformedRow]];
    *     repair verb: [[reclusterStore]]).
    *   - `codes_wellformed` (quantized stores) — every int8 code is in
    *     the clamped [-127, 127] range and scales are non-negative;
    *     checked = 0 on raw stores.
    *   - `ids_unique` — one list row per vec_id (a duplicate means a
    *     replayed ingest bypassed the batch-partition overwrite and now
    *     double-counts in every probe it lands in).
    *   - `lists_assignment` — each row's cid is the nearest persisted
    *     centroid of its vector: the pruning invariant (a mis-assigned
    *     vector is probed under the wrong lists). Raw stores recompute
    *     with the exact write-path assignment; QUANTIZED stores audit
    *     the `round(code·scale, 6)` reconstruction under a per-row
    *     tolerance band ([[quantAssignTol]]) that absorbs the bounded
    *     reconstruction error — a genuinely mis-homed quantized vector
    *     flags, a mis-homing within the band is indistinguishable from
    *     quantization noise by construction ([[reclusterStore]] is the
    *     repair verb for flagged quantized rows: [[repairLists]] keeps
    *     quantized cids). On a MERGED store (`_merged_bounds` present)
    *     the recompute restricts to the row's own cid-range group — the
    *     merge keeps shard-local assignments by contract, so
    *     union-nearest would flag healthy cross-shard Voronoi overlap
    *     as corruption; the grouped form is exactly the invariant the
    *     merge guarantees and [[reclusterStore]] restores the strict
    *     union form.
    *   - `norms_consistent` — the precomputed `nv` equals the norm of
    *     the stored vector (raw) or of the `round(code·scale, 6)`
    *     reconstruction (quantized) — a stale norm skews every cosine.
    *   - `merged_provenance` (layered merged stores) — for every row of
    *     a remapped layer (batch ≤ the merge's ordinal floor), the cid's
    *     group lies in the batch ordinal's provenance range
    *     (`_merged_batch_bounds` segments, COMPOSED through nested
    *     merges: exact for plain-shard layers at any nesting depth, a
    *     group range for an inner merged source's union-assigned rows):
    *     the cross-group invariant the grouped recompute cannot see (a
    *     cid rewritten into a FOREIGN group is audited against that
    *     group's centroids). checked = 0 where no batch provenance
    *     exists.
    *   - `merged_provenance_range` — the RANGE-ONLY subset of the rows
    *     above (segment gLo < gHi): auditable only up to a group range,
    *     so a within-range cid rewrite is undetectable and repair can
    *     only re-home across the whole range. checked_exact = the
    *     `merged_provenance` total minus this row's checked — the
    *     coverage evidence for scheduling recluster on a deeply nested
    *     merged store.
    *   - `merged_groups_advisory` — merged stores WITHOUT per-row
    *     provenance (fresh-layout merges, flattened stores, corrupt
    *     segment markers): checked counts the rows audited under the
    *     grouped-only invariant, violations is always 0 — an explicit
    *     record that group-membership corruption is undetectable there
    *     and recluster is the recovery verb (contract note above;
    *     SCALE.md).
    *
    * Scale: the audit is unpruned (scheduled maintenance, not
    * probe-path cost) but priced per PASS over lists — so lists is
    * scanned ONCE into a cached projection all invariants share
    * (filled before the report's collect,
    * [[graft.operators.StoreCheck.audit]]), centroids broadcast, and the
    * ≤ 9-row report returns eagerly (releasing the cache before return). Physical rows are audited —
    * tombstoned vectors included, matching what [[expungeDeletes]] will
    * rewrite. Tombstones themselves carry no validity invariant here by
    * design: duplicates and foreign ids are both documented no-ops of
    * [[deleteVectors]]'s anti-join semantics. */
  def checkStore(spark: SparkSession, path: String): DataFrame = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    val dirs = tableDirs(spark, path)
    import graft.operators.StoreCheck.{row, emptyRow => emptyRowIn}
    def emptyRow(name: String): DataFrame = emptyRowIn(spark, name)
    graft.operators.StoreCheck.audit(spark) { cache =>
      val lists = cache(graft.FsOps.readParquet(spark, dirs("lists")))
      val cents = broadcast(graft.FsOps.readParquet(spark, dirs("centroids")))

      val unique = row("ids_unique",
        lists.agg(count(lit(1)).as("checked"),
            countDistinct(col("vec_id")).as("d"))
          .select(col("checked"), (col("checked") - col("d")).as("violations")))

      val bounds = mergedBounds(spark, path)

      // group-membership invariants of a merged store (contract note above):
      // batch provenance where it survives (composed segments — exact per
      // plain-shard layer, range across an inner merged source's span), an
      // explicit advisory otherwise. A corrupt/misaligned segment marker
      // must degrade to the advisory, never mis-audit.
      val provenanceInfo = (bounds, mergedBatchSegments(spark, path),
        graft.FsOps.readLongMarker(spark, path, BatchFloorMarker))
      val provenanceActive = provenanceInfo match {
        case (Some(cb), Some(segs), Some(_)) =>
          segmentsValid(segs, cb.size) && lists.columns.contains("batch")
        case _ => false
      }
      val (provenance, provenanceRange) =
        if (!provenanceActive)
          (emptyRow("merged_provenance"), emptyRow("merged_provenance_range"))
        else {
          val (cb, segs, f) = provenanceInfo match {
            case (Some(c), Some(s), Some(fl)) => (c, s, fl)
            case _ => throw new IllegalStateException("unreachable: provenanceActive")
          }
          val layer = lists.filter(col("batch") <= f)
          val cidG = grpOf(cb.map(_.toLong))(col("cid"))
          val (gLo, gHi) = (segCol(segs, col("batch"))(_.gLo),
            segCol(segs, col("batch"))(_.gHi))
          val viol = sum(when(cidG < gLo || cidG > gHi, 1L).otherwise(0L))
            .as("violations")
          // coverage split (VERDICT r16 #4): rows under a RANGE segment
          // (gLo < gHi — an inner merged source's union-assigned span) are
          // auditable only up to that range; a within-range cid rewrite is
          // undetectable there, and repairLists can only re-home across
          // the whole range. `merged_provenance` stays the full invariant
          // (every provenance-scoped row); `merged_provenance_range`
          // reports the range-only subset, so an operator reads
          // checked_exact = total − range and schedules recluster on the
          // evidence of how much of a nested-merged store has degraded to
          // range-only provenance.
          (row("merged_provenance",
             layer.agg(count(lit(1)).as("checked"), viol)),
           row("merged_provenance_range",
             layer.filter(gLo =!= gHi)
               .agg(count(lit(1)).as("checked"), viol)))
        }
      val advisory =
        if (provenanceActive) emptyRow("merged_groups_advisory")
        else if (bounds.isDefined)
          // merged store with NO per-row provenance: these rows are audited
          // under the grouped invariant only — a cid rewritten into a
          // foreign group that happens to be locally-nearest there is
          // undetectable by construction; recluster is the recovery verb
          row("merged_groups_advisory",
            lists.agg(count(lit(1)).as("checked"), lit(0L).as("violations")))
        else emptyRow("merged_groups_advisory")

      sharedChecks(spark, "", lists, cents, bounds) ++
        Seq(unique, provenance, provenanceRange, advisory)
    }
  }

  /** The invariants both audits check, each defined once over the
    * `lists` rows it audits (the whole table or the `batch > since`
    * delta) and the broadcast centroids; `prefix` is "" for the deep
    * audit and "delta_" for the incremental one (the contract on
    * [[graft.operators.StoreCheck]]): `centroid_cover`,
    * `codes_wellformed`, `lists_assignment`, `norms_consistent` — plus
    * the whole-store `centroids_wellformed`, unprefixed in both modes
    * (the assignment recompute ranks against every centroid each run and
    * its NaN guard suppresses a poisoned centroid's violations). */
  private def sharedChecks(spark: SparkSession, prefix: String, lists: DataFrame,
                           cents: DataFrame, bounds: Option[Seq[Int]])
      : Seq[DataFrame] = {
    import graft.operators.StoreCheck.{row, emptyRow}
    val quantized = lists.columns.contains("qvec")
    val cover = {
      val cids = lists.select("cid").distinct()
      row(s"${prefix}centroid_cover",
        cids.agg(count(lit(1)).as("checked")).crossJoin(
          cids.join(cents.select("cid"), Seq("cid"), "left_anti")
            .agg(count(lit(1)).as("violations"))))
    }

    val assignment =
      if (quantized)
        assignmentRow(spark, s"${prefix}lists_assignment",
          lists.withColumn("v", homingVec(lists)), cents,
          bounds, Some(quantAssignTol(col("v"), col("scale"), col("qvec"))))
      else assignmentRow(spark, s"${prefix}lists_assignment", lists, cents, bounds)

    val norms = {
      val withRef =
        lists.withColumn("ref_v", if (quantized) Quantize.dequantized else col("v"))
      row(s"${prefix}norms_consistent",
        withRef.agg(count(lit(1)).as("checked"),
          sum(when(!(col("nv") <=>
              sqrt(Similarity.dot(col("ref_v"), col("ref_v")))), 1L)
            .otherwise(0L)).as("violations")))
    }

    val codes =
      if (!quantized) emptyRow(spark, s"${prefix}codes_wellformed")
      else row(s"${prefix}codes_wellformed",
        lists.agg(count(lit(1)).as("checked"),
          sum(when(col("scale") < 0 ||
              exists(col("qvec"), x => x < -127 || x > 127), 1L)
            .otherwise(0L)).as("violations")))

    Seq(cover, centroidsWellformedRow(spark, cents), codes, assignment, norms)
  }

  /** Close the provenance→recluster loop (VERDICT r17 #2): the fsck
    * report's `merged_provenance_range` row records how much of a
    * nested-merged store is auditable only up to a group RANGE (an
    * inner merged source's union-assigned span — a within-range cid
    * rewrite is undetectable there and repair can only re-home across
    * the whole range), and SCALE.md's contract is that an operator
    * schedules recluster on that evidence. This is the operator: ONE
    * advice row derived from the report —
    *
    *   `(invariant = recluster_recommended, checked = provenance-scoped
    *    rows, violations = 1 iff recommended, range_only, range_frac,
    *    threshold, reason)`
    *
    * Recommended when the range-only share of provenance-scoped rows
    * exceeds `maxRangeFrac`: past that point the store's cross-group
    * audit has degraded below the operator's floor and
    * [[reclusterStore]] — which re-trains one union set and restores
    * the STRICT assignment invariant — is the verb that resets coverage
    * to exact. The `violations` column makes `Maintain ivf advise` a
    * cron gate: nonzero exit exactly when recluster is due.
    *
    * Deliberately NOT triggered by `merged_groups_advisory` (a
    * fresh-layout merge carries no per-row provenance BY DESIGN — that
    * is a construction choice recorded at merge time, not degradation
    * evidence accumulating with nesting depth); the advisory count
    * rides along in `reason` so the operator sees it.
    *
    * `report`: pass a precomputed [[checkStore]] frame to derive advice
    * from an audit that already ran (the scheduled-maintenance shape:
    * one deep audit feeds both the red/green gate and this advisor);
    * omitted, the advisor runs the deep audit itself. */
  def adviseRecluster(spark: SparkSession, path: String,
                      maxRangeFrac: Double = 0.25,
                      report: Option[DataFrame] = None): DataFrame = {
    require(maxRangeFrac >= 0.0 && maxRangeFrac <= 1.0,
      s"maxRangeFrac must be in [0, 1] (got $maxRangeFrac)")
    val rep = report.getOrElse(checkStore(spark, path)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val total = rep.get("merged_provenance").map(_._1).getOrElse(0L)
    val range = rep.get("merged_provenance_range").map(_._1).getOrElse(0L)
    val advisory = rep.get("merged_groups_advisory").map(_._1).getOrElse(0L)
    val frac = if (total == 0L) 0.0 else range.toDouble / total
    val recommended = total > 0L && frac > maxRangeFrac
    val reason =
      if (recommended)
        f"range-only provenance $range/$total (${frac}%.4f) exceeds " +
          f"$maxRangeFrac%.4f — within-range cid rewrites are undetectable " +
          "there; recluster restores exact (strict-union) coverage"
      else if (total > 0L)
        f"range-only provenance $range/$total (${frac}%.4f) within " +
          f"$maxRangeFrac%.4f" +
          (if (advisory > 0L) s"; $advisory rows grouped-only (advisory)" else "")
      else if (advisory > 0L)
        s"no per-row provenance ($advisory rows grouped-only by merge " +
          "construction — not degradation evidence; recluster optional)"
      else "not a merged store, or provenance fully exact"
    import spark.implicits._
    Seq(("recluster_recommended", total, if (recommended) 1L else 0L,
        range, frac, maxRangeFrac, reason))
      .toDF("invariant", "checked", "violations", "range_only",
        "range_frac", "threshold", "reason")
  }

  /** `centroids_wellformed` — every centroid vector is present and free
    * of NaN/null components (ADVICE r16): a NaN-corrupted centroid makes
    * `best` NaN for its entire group, which the assignment audit's NaN
    * guard deliberately suppresses (NaN-greatest ordering would
    * otherwise permanently red-flag the store), and the norms invariant
    * only audits LIST rows — so without this row a poisoned centroid is
    * invisible to fsck while silently corrupting every probe that ranks
    * against it. Repair verb: [[reclusterStore]] (re-trains the whole
    * centroid table from list payloads). ≤ nCentroids rows — metadata
    * cost. */
  private def centroidsWellformedRow(spark: SparkSession, cents: DataFrame)
      : DataFrame =
    graft.operators.StoreCheck.row("centroids_wellformed",
      cents.agg(count(lit(1)).as("checked"),
        sum(when(col("cvec").isNull ||
            exists(col("cvec"), x => x.isNull || isnan(x)), 1L)
          .otherwise(0L)).as("violations")))

  // ---- incremental audit: the IVF face of the daily/deep audit split
  // ([[graft.index.Indexer.checkStoreIncremental]]). A streaming-ingested
  // store's lists live under batch=<id>/cid=<c> partitions, so the
  // `batch > since` watermark prunes pre-audit DIRECTORIES before any
  // IO; the audit watermark (graft.operators.StoreCheck.lastAudited)
  // records the highest batch an audit vouched for.

  /** Ordinal floor a layered merge records on its dest (the highest
    * remapped batch ordinal): [[appendBatch]] refuses ordinals at or
    * below it. Fixed at merge time — see the appendBatch scaladoc for
    * why this is not the moving audit watermark. */
  private val BatchFloorMarker = "_batch_floor"

  /** Highest batch an audit has vouched for (None = never audited). */
  def lastAudited(spark: SparkSession, path: String): Option[Long] =
    graft.operators.StoreCheck.lastAudited(spark, path)

  /** Batch partition ids physically present under lists ([[batchLayers]]). */
  def listBatches(spark: SparkSession, path: String): Seq[Long] =
    batchLayers(spark, graft.operators.Frames.resolve(spark, path, "lists")).getOrElse(Nil)

  /** Record that every batch up to `upTo` (default: the newest present)
    * has been audited. */
  def markAudited(spark: SparkSession, path: String,
                  upTo: Option[Long] = None): Unit =
    graft.operators.StoreCheck.markAudited(spark, path, upTo,
      listBatches(spark, path).lastOption,
      s"no batch= partitions at $path/lists — only streaming-ingested " +
        "stores carry batch layout")

  /** Incremental integrity check: audit ONLY the list rows ingested
    * since the last vouched-for batch — the daily-cadence audit; the
    * full [[checkStore]] is the scheduled deep audit. Requires the
    * streaming-ingest `batch=` layout ([[appendBatch]]).
    *
    * Invariants: the shared ones are [[checkStore]]'s, scoped to the
    * delta (`delta_`-prefixed, one definition for both audits — see
    * [[graft.operators.StoreCheck]]) — all ∝ delta via partition
    * pruning, plus the whole-store `centroids_wellformed` row.
    * `delta_ids_unique` checks the delta's vec_ids against the WHOLE
    * id surface (a replayed batch that bypassed the partition
    * overwrite duplicates across batches — exactly the corruption the
    * audit exists for); that one check scans the store's vec_id column
    * only (column-pruned, no payload vectors move). */
  def checkStoreIncremental(spark: SparkSession, path: String,
                            sinceBatch: Option[Long] = None): DataFrame = {
    graft.FsOps.requireNotHusk(spark, path)
    import graft.operators.StoreCheck.row
    val dirs = tableDirs(spark, path)
    val lists = graft.FsOps.readParquet(spark, dirs("lists"))
    require(lists.columns.contains("batch"),
      s"checkStoreIncremental: store at $path has no batch= layout " +
        "(batch build) — run the full checkStore instead")
    val since = sinceBatch.orElse(lastAudited(spark, path)).getOrElse(-1L)
    val delta = lists.filter(col("batch") > since)
    val cents = broadcast(graft.FsOps.readParquet(spark, dirs("centroids")))

    val unique = {
      val counts = lists.select("vec_id")
        .join(delta.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
        .groupBy("vec_id").agg(count(lit(1)).as("c"))
      row("delta_ids_unique",
        delta.agg(count(lit(1)).as("checked")).crossJoin(
          counts.agg(coalesce(sum(when(col("c") > 1, 1L).otherwise(0L)), lit(0L))
            .as("violations"))))
    }

    graft.operators.StoreCheck.report(
      sharedChecks(spark, "delta_", delta, cents, mergedBounds(spark, path)) :+ unique)
  }

  /** Merge N independently-built IVF stores into one by CENTROID UNION —
    * the ANN face of the shard-build-then-promote pattern
    * ([[graft.index.StoreMerge]] is the BM25 face): each ingest
    * partition trains and assigns its own store in parallel; promotion
    * unions the centroid tables (shard i's cids offset past shard
    * i-1's max) and transfers the `cid=` list partitions as FILES into
    * their remapped directories — no vector is read, re-assigned or
    * shuffled. Every vector keeps its shard-local assignment; a query
    * probes its nProbe nearest centroids across the union, so recall
    * matches per-shard IVF at the same nProbe while the probed
    * fraction of the corpus SHRINKS (nProbe of sources.size × nCentroids
    * lists). Re-assignment against one re-trained centroid set remains
    * what it is everywhere in this store: a rebuild, not a merge.
    * [[searchStore]] serves the merged store unchanged — centroid
    * broadcast, driver-side probed-cid IN-list, partition pruning.
    *
    * Contracts (enforced): ≥ 2 sources; uniformly FRESH or uniformly
    * `batch=`-layered (streaming-ingested) sources — layered shards
    * merge per batch layer with the same cid remap, batch ordinals
    * offset per source (collision-free replay overwrite and audit
    * deltas; the merged store is born-audited at its highest remapped
    * ordinal), while MIXED layouts refuse (a half-present batch column
    * serves neither audit); identical lists schema — which also means all
    * float or all QUANTIZED, never mixed (quantized shards merge fine:
    * the int8 scale is per-vector, so rows are self-describing and
    * [[searchStoreQuantized]] serves the union unchanged); DISJOINT
    * vec_id spaces on the raw lists (a tombstoned id still occupies
    * its space — tombstones merge too).
    *
    * Crash model: the merged `centroids` table is the COMMIT point
    * (written last — a store without it serves nothing); resume, husk
    * stamps and move mode are the shared lifecycle of
    * [[graft.operators.ShardMerge]].
    *
    * Assignment contract: the merged store carries SHARD-LOCAL
    * assignments — each vector's cid is the nearest centroid of its own
    * shard, not of the union — recorded as disjoint cid-range groups in
    * the `_merged_bounds` marker (written before the commit; composed
    * through nested merges). [[checkStore]]'s `lists_assignment` audits
    * exactly that grouped invariant on merged stores; union-nearest
    * drift across shard Voronoi cells is expected geometry (it affects
    * recall, never result validity) and [[reclusterStore]] is the
    * maintenance verb that removes it. */
  def mergeStores(spark: SparkSession, sources: Seq[String], dest: String,
                  moveFiles: Boolean = false): Unit =
    Shards.merge(spark, sources, dest, moveFiles)

  /** What the merge's layout guards fix: the uniform `batch=` layering
    * and each source's batch-ordinal and cid offsets. */
  private[graft] final case class MergePlan(layered: Boolean, batchOffsets: Seq[Long],
                                            cidOffsets: Seq[Int])

  private[graft] val Shards = new graft.operators.ShardMerge.Family[MergePlan](
    // the current frame's centroid table, the commit surface (a bare
    // `exists(path/centroids)` is wrong on a frame-installed store)
    isCommitted = (spark, path) =>
      dirExists(spark, graft.operators.Frames.resolve(spark, path, "centroids")),
    refusal = dest => s"$dest already carries a committed IVF store (centroids exist)",
    dataTables = Seq("lists", "deletes"),
    // data tables resolve through each store's frame pointer (a
    // reclustered/expunged shard's tables live under generation dirs);
    // markers — husk stamps, merge sources, bounds — stay at the STORE
    // paths throughout
    tableDir = graft.operators.Frames.resolve,
    layout = mergePlan,
    parityTables = _ => Seq("lists"),
    ids = ("lists", "vec_id"),
    // source i's `batch=`/`cid=` dirs land at its offset ordinals/cids
    renameDir = (p, i, dir) =>
      if (dir.startsWith("batch="))
        s"batch=${dir.stripPrefix("batch=").toLong + p.batchOffsets(i)}"
      else if (dir.startsWith("cid=")) s"cid=${dir.stripPrefix("cid=").toInt + p.cidOffsets(i)}"
      else dir,
    commit = mergeCommit)

  private def mergePlan(spark: SparkSession, sources: Seq[String],
                        moveFiles: Boolean): MergePlan = {
    val srcs = sources.map(tableDirs(spark, _))
    sources.zip(srcs).foreach { case (s, sd) =>
      require(dirExists(spark, sd("centroids")) && dirExists(spark, sd("lists")),
        s"$s is not a persisted IVF store (centroids/lists missing)")
    }
    val batches = sources.map(listBatches(spark, _))
    val layered = batches.map(_.nonEmpty)
    require(layered.distinct.size == 1,
      s"sources mix fresh and batch-layered (streaming-ingested) lists " +
        s"layouts: ${sources.zip(layered).mkString(", ")} — a merged store " +
        "with a half-present batch column serves neither audit; flatten " +
        "the layered shard first (Maintain ivf flatten / flattenBatches)")
    // per-source batch offsets: shard i's ordinals shift past the
    // cumulative (max+1) of its predecessors, so a post-merge streaming
    // replay of one shard's ordinal can never overwrite another's layer
    val batchOffsets =
      if (!layered.head) Seq.fill(sources.size)(0L)
      else batches.map(_.last + 1L).scanLeft(0L)(_ + _).init
    // cid offsets: shard i's cids shift past the cumulative max — every
    // source's max in one job (centroids never transfer, so this read
    // survives a move-drained resume)
    val maxCids = srcs.zipWithIndex.map { case (sd, i) =>
        graft.FsOps.readParquet(spark, sd("centroids"))
          .select(lit(i).as("src"), col("cid")) }
      .reduce(_ union _).groupBy("src").agg(max(col("cid"))).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    MergePlan(layered.head, batchOffsets,
      sources.indices.map(maxCids).scanLeft(0)(_ + _).init)
  }

  private def mergeCommit(spark: SparkSession, sources: Seq[String], dest: String,
                          p: MergePlan): Unit = {
    // shard-local-assignment groups: each source's own bounds (Seq(0)
    // for a fresh shard) shifted by its cid offset — persisted BEFORE
    // the commit (a store without centroids serves nothing, so a
    // pre-commit marker is harmless; a POST-commit crash window would
    // leave a merged store auditing under the strict union invariant
    // and flag healthy shard-local assignments)
    val srcBounds = sources.map(mergedBounds(spark, _))
    val bounds = srcBounds.zip(p.cidOffsets).flatMap { case (b, off) =>
      b.getOrElse(Seq(0)).map(_ + off) }
    graft.FsOps.writeMarker(spark, dest, MergedBoundsMarker, bounds.mkString(","))
    // a layered merge is born-audited at its highest remapped ordinal
    // (merged data is consistent by construction, same contract as the
    // index/dedup merges): the next incremental audit sees only
    // post-merge ingest. The same ordinal becomes the store's FIXED
    // appendBatch floor — replaying an upstream shard's checkpoint into
    // the remapped ordinal space refuses instead of clobbering a layer.
    // All three markers land BEFORE the centroids commit (ADVICE r15
    // medium): lists are fully transferred by this point, so
    // listBatches(dest) already answers — while markers written AFTER
    // the commit would sit in a crash window where the re-run takes the
    // completeHuskStamps early-return and the merged store permanently
    // lacked its ordinal floor (an upstream shard checkpoint could then
    // silently clobber a committed remapped layer)
    if (p.layered) {
      listBatches(spark, dest).lastOption.foreach(
        graft.FsOps.writeLongMarker(spark, dest, BatchFloorMarker, _))
      markAudited(spark, dest)
      // batch provenance (merged_provenance invariant), COMPOSED through
      // nesting (r16 — contract note at MergedBatchBoundsMarker): a
      // plain shard's whole ordinal range is one EXACT segment; a merged
      // source's own segments shift by this merge's batch/group offsets
      // (exact provenance survives any nesting depth), and its
      // post-merge ingest — union-assigned within that source, so its
      // true group is only known up to the source's span — contributes a
      // RANGE segment. A source with groups but no readable segments
      // (pre-segment marker era, or a marker that predates its floor)
      // degrades to one range segment across its span: weaker, never
      // wrong. All marker reads here are driver-side small files that
      // never transfer, so a move-drained resume recomputes identically.
      val grpSizes = srcBounds.map(_.map(_.size).getOrElse(1))
      val gOffs = grpSizes.scanLeft(0)(_ + _).init
      val segs = sources.zipWithIndex.flatMap { case (src, i) =>
        val bOff = p.batchOffsets(i); val gOff = gOffs(i); val nG = grpSizes(i)
        if (srcBounds(i).isEmpty) Seq(ProvenanceSegment(bOff - 1L, gOff + 1, gOff + 1))
        else {
          val maxB = listBatches(spark, src).lastOption.getOrElse(0L)
          (mergedBatchSegments(spark, src),
            graft.FsOps.readLongMarker(spark, src, BatchFloorMarker)) match {
            case (Some(is), Some(f)) if segmentsValid(is, nG) =>
              is.map(sg => ProvenanceSegment(
                  sg.batchLo + bOff, sg.gLo + gOff, sg.gHi + gOff)) ++
                (if (maxB > f)
                   Seq(ProvenanceSegment(f + bOff, gOff + 1, gOff + nG))
                 else Nil)
            case _ => Seq(ProvenanceSegment(bOff - 1L, gOff + 1, gOff + nG))
          }
        }
      }
      graft.FsOps.writeMarker(spark, dest, MergedBatchBoundsMarker,
        segs.map(sg => s"${sg.batchLo}:${sg.gLo}:${sg.gHi}").mkString(","))
    }
    // commit: the remapped centroid union, written last
    graft.FsOps.writeParquet(sources.zip(p.cidOffsets).map { case (s, off) =>
        graft.FsOps.readParquet(spark, graft.operators.Frames.resolve(spark, s, "centroids"))
          .select((col("cid") + lit(off)).cast("int").as("cid"), col("cvec")) }
      .reduce(_ unionByName _).coalesce(1),
      graft.operators.Frames.resolve(spark, dest, "centroids"))
  }

  /** Re-train the centroid set over the store's own LIVE vectors and
    * rewrite the inverted lists under the new assignment — the
    * maintenance verb that closes the merge lifecycle (VERDICT r13 #2):
    * [[mergeStores]] UNIONS the shards' centroid frames (K promotions →
    * K× the centroids at the same nProbe, so probe cost and recall
    * drift with every merge); recluster returns the store to
    * `nCentroids` lists trained on the merged corpus, after which it
    * answers exactly like a one-shot [[writeIndex]] built with the same
    * parameters (gate-verified: q_ann_ivf_recluster shares the fresh
    * -build oracle).
    *
    * Mechanics: one pass over the live lists trains
    * [[Similarity.kmeansCentroids]] (optionally on a deterministic
    * 1-in-`trainSampleMod` hash sample of the vectors — the 100 TB
    * path: centroid quality needs a sample, not the corpus), the new
    * centroid table persists as a staged generation, every live vector
    * re-assigns against the JUST-PERSISTED table (derive-from-persisted
    * rule, broadcast ≤ nCentroids rows), and the lists rewrite under
    * the `batch=`/`cid=` layout the store already had. Quantized
    * stores recluster over their `round(code·scale, 6)` reconstructions
    * — the same vectors every probe ranks on, so assignment stays
    * self-consistent with search. Tombstones are materialized OUT by
    * the rewrite (an expunge-class job) and the tombstone table drops.
    *
    * Both new tables and the tombstone drop install with one pointer
    * flip ([[rewriteLists]]), so the store serves THROUGH its heaviest
    * maintenance verb. Scale: one training pass
    * (∝ sample), one assignment+rewrite pass (∝ live store) — the
    * priced cost of changing every vector's list home, scheduled like
    * [[repairLists]], never a probe-path cost. */
  def reclusterStore(spark: SparkSession, path: String,
                     nCentroids: Int = 16, kmeansIters: Int = 2,
                     trainSampleMod: Int = 1): Unit = {
    require(trainSampleMod >= 1, s"trainSampleMod must be >= 1 (got $trainSampleMod)")
    graft.FsOps.requireNotHusk(spark, path)
    val dirs = tableDirs(spark, path)
    // carried ingest re-homes against the new centroids (the verb exists
    // to change them); delta tombstones copy — a takedown riding Forget
    // must survive the recluster
    rewriteLists(spark, path, dirs, dropDeletes = true) { (lists, stage) =>
      val live = liveLists(spark, dirs("deletes"), lists)
      val train =
        if (trainSampleMod == 1) live
        else live.filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod.toLong)) === 0)
      graft.FsOps.writeParquet(Similarity.kmeansCentroids(
          train.select(col("vec_id"), homingVec(train).as("__v")), nCentroids, kmeansIters,
          "vec_id", "__v").coalesce(1), stage.stageDir("centroids"))
      rehome(live, stage.dir("centroids"))
    }
    // the store is union-nearest again: drop the merged-assignment
    // markers. A crash before these deletes leaves the grouped (weaker-but-green)
    // audit in force until the next recluster; never a false red.
    Seq(MergedBoundsMarker, MergedBatchBoundsMarker)
      .foreach(graft.FsOps.deleteMarker(spark, path, _))
  }

  /** LIVE vec_id surface of a store — the ids a probe could still
    * return ([[deleteVectors]] tombstones subtracted). Bare longs, one
    * row per stored vector: the id-surface primitive the cross-store
    * pipeline audit ([[graft.pipeline.Forget.checkPipeline]]) joins
    * against — never the vectors themselves. */
  def liveVectorIds(spark: SparkSession, path: String): DataFrame = {
    val dirs = tableDirs(spark, path)
    liveLists(spark, dirs("deletes"),
      graft.FsOps.readParquet(spark, dirs("lists")).select("vec_id")).distinct()
  }

  /** `lists` minus the tombstones in `deletesDir` — the current frame's
    * resolved `deletes` dir ([[tableDirs]]; every caller resolves once
    * per entry and passes it down). */
  private def liveLists(spark: SparkSession, deletesDir: String,
                        lists: DataFrame): DataFrame =
    if (!dirExists(spark, deletesDir)) lists
    else lists.join(graft.FsOps.readParquet(spark, deletesDir), Seq("vec_id"), "left_anti")

  def searchStore(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                  nProbe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probe(spark, path, queries, k, nProbe, idCol, vecCol)

  /** The probe behind both search names: assign the queries to their
    * `nProbe` nearest centroids, scan only the probed lists, subtract the
    * tombstones and rank ([[Similarity.probeRank]]). The codec comes from
    * the lists schema (one footer read): raw rows score with the
    * codegen'd `dotFast`, int8 rows on their [[Quantize.dequantized]]
    * reconstruction with the declarative `dot` (`dotFast` is
    * float-array-only; both accumulate left to right in double). */
  private def probe(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                    nProbe: Int, idCol: String, vecCol: String): DataFrame = {
    graft.FsOps.requireNotHusk(spark, path) // consumed shard: pointed refusal
    val dirs = tableDirs(spark, path)
    val cents = broadcast(graft.FsOps.readParquet(spark, dirs("centroids")))
    val q = Similarity.assignToCentroids(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        cents, "query_id", "qv", keep = nProbe)
      .withColumn("nq", Similarity.norm(col("qv")))
    // probed cids: bounded by nCentroids — a driver-side IN-list literal
    // is what turns into a static PartitionFilter on the lists scan
    val probed = q.select("cid").distinct().collect().map(_.getInt(0)).toSeq
    val stored = graft.FsOps.readParquet(spark, dirs("lists"))
      .filter(col("cid").isin(probed: _*))
    val int8 = stored.columns.contains("qvec")
    val lists = if (int8) stored.withColumn("v", Quantize.dequantized) else stored
    // tombstone anti-join applies AFTER the pruned scan (deletes table
    // broadcastable; partition pruning unaffected)
    Similarity.probeRank(liveLists(spark, dirs("deletes"), lists), q, k,
      if (int8) Similarity.dot else Similarity.dotFast)
  }
}
