package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.FsOps
import graft.operators.StoreCheck

/** Cascading data deletion ("forget") across every store family a
  * training-data pipeline materializes, plus the cross-store audit that
  * proves the stores agree — the governance surface a 100 TB corpus
  * platform needs for retention, takedown, and right-to-be-forgotten
  * traffic (the reference's single-store delete face, `app.sh`-era
  * semantics, has no multi-store story at all; at pipeline scale a doc
  * lives in the inverted index, the dedup signature store AND the ANN
  * store simultaneously, and deleting it in one but not the others is
  * exactly the partial-failure drift this module exists to prevent).
  *
  * Layout convention: one pipeline root containing the family stores at
  * fixed child paths — `<root>/index` ([[graft.index.Indexer]] store,
  * frequency + optional positional), `<root>/dedup`
  * ([[graft.dedup.DedupStore]] signature store), `<root>/ivf`
  * ([[graft.similarity.IvfStore]]), `<root>/vstore`
  * ([[graft.streaming.VersionedStore]], doc_id-keyed) — any subset may
  * exist; absent families are skipped everywhere. The pipeline's id
  * contract is the one the prep pipeline already uses (q_prep_ann): ONE
  * id space, `doc_id`, with the ANN store's `vec_id` equal to the
  * document's `doc_id`.
  *
  * Crash model — the write-ahead manifest: a cascade that dies between
  * stores is the whole failure mode (each family's delete verb is
  * individually crash-safe already), so [[forget]] records its intent
  * BEFORE touching any store:
  *
  *   `<root>/_forget/m=<n>/ids`       the forgotten ids (parquet)
  *   `<root>/_forget/m=<n>/_intent`   marker: the families targeted —
  *                                    written AFTER ids, so a manifest
  *                                    is visible only once its id list
  *                                    is durable
  *   `<root>/_forget/m=<n>/_done_<f>` per-family completion marker
  *   `<root>/_forget/m=<n>/_complete` terminal marker
  *
  * A manifest with `_intent` but no `_complete` is PENDING; [[resume]]
  * re-applies every family still missing its done marker and seals the
  * manifest. Re-applying is safe because every family delete verb is
  * idempotent by contract (index: already-tombstoned ids are filtered
  * before the derived decrement; dedup: anti-join rewrite; ivf:
  * tombstone anti-join semantics) — a crash BETWEEN a family's apply
  * and its done marker merely re-runs that family. Manifests are kept
  * after completion: they are the audit trail [[checkPipeline]]'s
  * forgotten-absent invariants verify against.
  *
  * Serving SLA vs physical purge: `forget` guarantees the ids stop
  * being SERVED by every store's live view the moment the cascade
  * completes (index/ivf: tombstone anti-join; dedup: physical rewrite;
  * vstore: full HISTORY purge — every log commit and checkpoint
  * rewritten, so no time-travel read can resurrect the doc either).
  * Physical purge of the tombstoned rows rides the families' existing
  * compaction-class verbs (`index expunge`, `ivf expunge`) on their own
  * maintenance schedule — or immediately via `purge = true`.
  *
  * Scale: the cascade is ∝ the forgotten-id batch on the index
  * (tombstone append + delta-scoped derived decrement) and IVF
  * (tombstone append) sides; the dedup rewrite is ∝ the signature
  * store (bands rows + one shingle set per doc — store-sized, never
  * corpus text). The audit's id-surface checks are one full-outer
  * join per store pair over bare long ids — never text, vectors or
  * postings — and its manifest-scoped checks are ∝ forgotten ids
  * (typically broadcastable). Single-writer per root, like every other
  * store lifecycle in this repo.
  */
object Forget {

  /** Family keys in cascade order. The `vstore` family is the versioned
    * metadata store at `<root>/vstore` (doc_id-keyed by the pipeline id
    * contract): its forget verb is [[graft.streaming.VersionedStore
    * .purgeKeys]] — HISTORY purge, because a takedown that left the doc
    * reconstructable by any time-travel read would not be a takedown —
    * and its forgotten-absent audit checks every historical version
    * (`historyKeys`), not just the newest snapshot. */
  val Families: Seq[String] = Seq("index", "dedup", "ivf", "vstore")

  private def familyPath(root: String, family: String) = s"$root/$family"
  private def manifestRoot(root: String) = s"$root/_forget"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Families present at the root — present means COMMITTED, not merely
    * a directory: a crashed bootstrap's debris (a writeIndex that died
    * before its layout marker, a vstore dir with no commit) reads as
    * family-absent, so the cascade and the audit skip it instead of
    * crashing on it. The debris belongs to the write verb's own crash
    * window (its retry overwrites); an audit that died on exactly the
    * partial-failure state it exists to detect would be useless. */
  def familiesAt(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    Families.filter { f =>
      val p = familyPath(root, f)
      fs.exists(new Path(p)) && (f match {
        case "index" => graft.index.StoreMerge.Shards.isCommitted(spark, p)
        case "dedup" => graft.dedup.DedupStore.Shards.isCommitted(spark, p)
        case "ivf"   =>
          // resolve the frame pointer: a reclustered/expunged store's
          // tables live under generation dirs, not at the store root
          graft.operators.Frames.resolveAll(spark, p, Seq("centroids", "lists"))
            .values.forall(d => fs.exists(new Path(d)))
        case "vstore" => graft.streaming.VersionedStore.hasCommits(spark, p)
      })
    }
  }

  private def manifestOrdinals(spark: SparkSession, root: String): Seq[Long] = {
    val mr = new Path(manifestRoot(root))
    val fs = fsOf(spark, root)
    if (!fs.exists(mr)) Seq.empty
    else fs.listStatus(mr).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("m=")).flatMap(_.stripPrefix("m=").toLongOption)
      .sorted
  }

  /** Manifests that are visible (`_intent` durable): (ordinal, families,
    * complete?). Ordinal dirs whose `_intent` never landed are a crashed
    * [[forget]]'s invisible debris — ignored here, but still counted by
    * the ordinal allocator so ids never collide with a half-written dir. */
  private def manifests(spark: SparkSession, root: String)
      : Seq[(Long, Seq[String], Boolean)] = {
    val fs = fsOf(spark, root)
    manifestOrdinals(spark, root).flatMap { n =>
      val dir = s"${manifestRoot(root)}/m=$n"
      FsOps.readMarker(spark, dir, "_intent").map { fams =>
        (n, fams.split(",").toSeq.filter(_.nonEmpty),
          fs.exists(new Path(s"$dir/_complete")))
      }
    }
  }

  /** Pending (intent durable, not yet complete) manifest ordinals. */
  def pendingManifests(spark: SparkSession, root: String): Seq[Long] =
    manifests(spark, root).collect { case (n, _, false) => n }

  /** The next free manifest ordinal (counts half-written debris too, so
    * an allocation never collides with a crashed forget's directory) —
    * the base the streaming takedown queue fixes per checkpoint. */
  def nextOrdinal(spark: SparkSession, root: String): Long =
    manifestOrdinals(spark, root).lastOption.map(_ + 1).getOrElse(0L)

  private def applyFamily(spark: SparkSession, root: String, family: String,
                          ids: DataFrame): Unit = family match {
    case "index" =>
      graft.index.Indexer.deleteDocs(spark, familyPath(root, "index"), ids)
    case "dedup" =>
      graft.dedup.DedupStore.removeDocs(spark, familyPath(root, "dedup"), ids)
    case "ivf" =>
      graft.similarity.IvfStore.deleteVectors(spark, familyPath(root, "ivf"),
        ids.select(col("doc_id").as("vec_id")), "vec_id")
    case "vstore" =>
      graft.streaming.VersionedStore.purgeKeys(spark,
        familyPath(root, "vstore"), Seq("doc_id"), ids)
    case other =>
      throw new IllegalArgumentException(s"unknown forget family '$other'")
  }

  private def completeManifest(spark: SparkSession, root: String, n: Long,
                               fams: Seq[String]): Unit = {
    val dir = s"${manifestRoot(root)}/m=$n"
    val fs = fsOf(spark, root)
    val ids = graft.FsOps.readParquet(spark, s"$dir/ids")
    // the families are independent stores at disjoint paths — overlap
    // their cascades (guide §2.6). Crash semantics are unchanged: each
    // family's done marker still lands only after ITS apply, and the
    // terminal marker only after every family finished.
    graft.operators.Par.run(
      fams.filter(f => !fs.exists(new Path(s"$dir/_done_$f"))).map(f => () => {
        applyFamily(spark, root, f, ids)
        // create-only empty marker: a crash between apply and marker
        // re-runs the (idempotent) family apply on resume — never skips it
        fs.create(new Path(s"$dir/_done_$f"), true).close()
      }): _*)
    fs.create(new Path(s"$dir/_complete"), true).close()
  }

  /** Forget `ids` across every store family present at `root`: durable
    * write-ahead manifest first, then the per-family cascade, then the
    * terminal marker. Returns the manifest ordinal. Idempotent per
    * family; resumable via [[resume]] if interrupted. `purge = true`
    * additionally runs the index/ivf physical expunge verbs after the
    * cascade (they purge ALL accumulated tombstones on those stores,
    * not just this manifest's — the expunge verbs' own contract). */
  def forget(spark: SparkSession, root: String, ids: DataFrame,
             idCol: String = "doc_id", purge: Boolean = false): Long = {
    val n = nextOrdinal(spark, root)
    forgetAt(spark, root, ids, n, idCol)
    if (purge) {
      val fams = familiesAt(spark, root)
      // disjoint stores: overlap the two expunges (guide §2.6)
      graft.operators.Par.run(Seq(
        "index" -> (() => graft.index.Indexer.expungeDeletes(spark,
          familyPath(root, "index"))),
        "ivf" -> (() => graft.similarity.IvfStore.expungeDeletes(spark,
          familyPath(root, "ivf")))
      ).collect { case (f, step) if fams.contains(f) => step }: _*)
    }
    n
  }

  /** Forget at an EXPLICIT manifest ordinal — the replay-safe face the
    * streaming takedown queue drives ([[graft.streaming.StreamRuntime
    * .runForgetQueue]] maps micro-batch ids to ordinals): a replayed
    * batch re-drives ITS OWN manifest instead of allocating a duplicate.
    * Complete manifest → no-op; intent durable but cascade unfinished →
    * resume it (the first durable id list wins — a replay's frame is
    * the same batch by the source's replay contract); never started →
    * the full write-ahead sequence. Same single-writer-per-root
    * discipline as every store lifecycle. */
  def forgetAt(spark: SparkSession, root: String, ids: DataFrame,
               ordinal: Long, idCol: String = "doc_id"): Unit = {
    val dir = s"${manifestRoot(root)}/m=$ordinal"
    val fs = fsOf(spark, root)
    if (fs.exists(new Path(s"$dir/_complete"))) return
    FsOps.readMarker(spark, dir, "_intent") match {
      case Some(fams) =>
        completeManifest(spark, root, ordinal,
          fams.split(",").toSeq.filter(_.nonEmpty))
      case None =>
        val fams = familiesAt(spark, root)
        require(fams.nonEmpty,
          s"no store families (${Families.mkString("/")}) found under $root")
        FsOps.writeParquet(ids.select(col(idCol).cast("long").as("doc_id")).distinct(),
          s"$dir/ids")
        FsOps.writeMarker(spark, dir, "_intent", fams.mkString(","))
        completeManifest(spark, root, ordinal, fams)
    }
  }

  /** Retention sweep: forget every doc the pipeline's own metadata says
    * has EXPIRED — the scheduled twin of the takedown-driven [[forget]]
    * (retention policies at 100 TB are continuous background traffic,
    * not one-off requests). The expiry truth is the `vstore` family's
    * newest snapshot (the pipeline's versioned metadata — ingest dates,
    * licenses, source flags live there by design), filtered by a SQL
    * `predicate` over its columns; the matching ids then ride the
    * ordinary write-ahead cascade through every family, INCLUDING the
    * vstore history purge — so the metadata that triggered the expiry
    * is itself forgotten, and a re-run of the same sweep selects
    * nothing (returns None, allocates no manifest: an idle cron tick
    * is a snapshot probe, not an empty manifest per tick). Cost: one
    * snapshot scan + the cascade ∝ the expired batch. */
  def retentionSweep(spark: SparkSession, root: String, predicate: String,
                     purge: Boolean = false): Option[Long] = {
    import graft.streaming.VersionedStore
    require(familiesAt(spark, root).contains("vstore"),
      s"retention sweep reads its expiry metadata from $root/vstore — " +
        "no vstore family at this root")
    val vs = familyPath(root, "vstore")
    val expired = VersionedStore.snapshotAt(spark, vs,
        VersionedStore.newestVersion(spark, vs), Seq("doc_id"))
      .filter(expr(predicate)).select("doc_id")
    if (expired.isEmpty) None
    else Some(forget(spark, root, expired, purge = purge))
  }

  /** Re-drive every pending manifest to completion (crash recovery, or
    * a cron beside the other maintenance verbs). Returns the ordinals
    * completed by this call. */
  def resume(spark: SparkSession, root: String): Seq[Long] = {
    val done = manifests(spark, root).collect { case (n, fams, false) =>
      completeManifest(spark, root, n, fams); n
    }
    done
  }

  /** LIVE id surface of one family's store (the ids it would serve). */
  private def liveIds(spark: SparkSession, root: String,
                      family: String): DataFrame = family match {
    case "index" =>
      graft.index.Indexer.readIndexLive(spark, familyPath(root, "index"))
        .docStats.select("doc_id")
    case "dedup" =>
      // frame-resolved: a removeDocs-installed store's sets live under a
      // generation dir, not the legacy root (tablePath handles both)
      graft.FsOps.readParquet(spark, graft.dedup.DedupStore.tablePath(
        spark, familyPath(root, "dedup"), "sets")).select("doc_id")
    case "ivf" =>
      graft.similarity.IvfStore.liveVectorIds(spark, familyPath(root, "ivf"))
        .select(col("vec_id").as("doc_id"))
    case "vstore" =>
      val p = familyPath(root, "vstore")
      graft.streaming.VersionedStore.snapshotAt(spark, p,
          graft.streaming.VersionedStore.newestVersion(spark, p), Seq("doc_id"))
        .select("doc_id")
    case other =>
      throw new IllegalArgumentException(s"unknown forget family '$other'")
  }

  /** The id surface a family could still SERVE a forgotten doc from —
    * for the history-keeping vstore that is EVERY version a time-travel
    * read can reconstruct, not just the newest snapshot. */
  private def servedIds(spark: SparkSession, root: String,
                        family: String): DataFrame = family match {
    case "vstore" => graft.streaming.VersionedStore.historyKeys(spark,
      familyPath(root, "vstore"), Seq("doc_id"))
    case f => liveIds(spark, root, f)
  }

  /** Cross-store consistency audit, in the shared fsck report shape
    * (`invariant, checked, violations` — [[graft.operators.StoreCheck]]).
    * The detect step for cascade drift; repair is [[resume]] (pending
    * manifests) or a fresh [[forget]] of the drifted ids.
    *
    * Invariants:
    *   - `forget_manifests_complete` — checked = visible manifests,
    *     violations = pending ones (intent durable, cascade unfinished).
    *   - `forgotten_absent_<family>` — for ids of COMPLETE manifests that
    *     targeted the family: checked = distinct forgotten ids,
    *     violations = how many the store STILL SERVES (live view; for
    *     the vstore, ANY historical version a time-travel read could
    *     reconstruct — the invariant a takedown auditor certifies).
    *     A doc RE-INGESTED after its takedown flags here by design:
    *     re-publication of forgotten content must be an explicit
    *     decision (retire the manifest), never an ingest side effect.
    *   - `forgotten_absent_index_positional` — the index family's
    *     positional table is a SECOND physical serve surface
    *     (phrase/proximity queries read it directly): its live doc_id
    *     surface is audited against the forgotten set independently,
    *     so a botched positional rewrite cannot hide behind a clean
    *     doc_stats. checked = 0 when the store has no positional table.
    *   - `id_surface_<a>_<b>` — checked = |live(a) ∪ live(b)|,
    *     violations = |symmetric difference|: the pipeline contract that
    *     every family serves the SAME live population. Pipelines that
    *     intentionally materialize different populations per store
    *     should read only the manifest-scoped rows above.
    *
    * Absent families/pairs report `checked = 0` rather than dropping
    * rows (stable schema for monitoring, like every family checker). */
  def checkPipeline(spark: SparkSession, root: String): DataFrame = {
    val fams = familiesAt(spark, root)
    val ms = manifests(spark, root)
    val pendingCount = ms.count(!_._3)

    // each present family's id surface is consumed up to four times
    // below (one per surface pair + the forgotten-absent probe) —
    // compute it ONCE: at 100 TB re-deriving a surface per consumer is
    // 3-4 full store scans per family per audit. StoreCheck.audit fills
    // every cached frame concurrently before the report's collect and
    // releases them after it.
    StoreCheck.audit(spark) { cache =>
      val liveCache: Map[String, DataFrame] =
        fams.map(f => f -> cache(liveIds(spark, root, f))).toMap
      val servedCache: Map[String, DataFrame] = fams.map {
        // the vstore's SERVED surface (all history) differs from its live
        // one; the other families' serve from the same live view
        case "vstore" => "vstore" -> cache(servedIds(spark, root, "vstore"))
        case f => f -> liveCache(f)
      }.toMap

      val manifestRow = spark.range(1).select(
        lit("forget_manifests_complete").as("invariant"),
        lit(ms.size.toLong).as("checked"),
        lit(pendingCount.toLong).as("violations"))

      // distinct forgotten ids per family, across complete manifests only
      // (a pending manifest's ids are *expected* to still be serving in
      // the families its cascade has not reached — flagged by the row
      // above, not double-counted here)
      def forgottenFor(family: String): Option[DataFrame] = {
        val dirs = ms.collect { case (n, fs, true) if fs.contains(family) =>
          s"${manifestRoot(root)}/m=$n/ids" }
        if (dirs.isEmpty) None
        else Some(graft.FsOps.readParquet(spark, dirs: _*).select("doc_id").distinct())
      }
      // the index family's forgotten frame is consumed twice (its own
      // absent row + the positional row below): same compute-once
      // discipline as the surfaces
      val forgottenCache: Map[String, Option[DataFrame]] = Families.map(f =>
        f -> (if (fams.contains(f)) forgottenFor(f).map(cache) else None)).toMap
      val absentRows = Families.map { f =>
        forgottenCache(f) match {
          case Some(forgotten) =>
            // forgotten sets are delete-batch-sized: broadcast them as the
            // semi-join build side so the live surface streams through one
            // scan instead of shuffling (left_semi is the join shape whose
            // RIGHT side Spark will broadcast)
            StoreCheck.row(s"forgotten_absent_$f",
              forgotten.agg(count(lit(1)).as("checked")).crossJoin(
                servedCache(f).join(broadcast(forgotten), Seq("doc_id"), "left_semi")
                  .agg(count(lit(1)).as("violations"))))
          case None => StoreCheck.emptyRow(spark, s"forgotten_absent_$f")
        }
      }

      // the index family's positional table is a SECOND physical serve
      // surface (phrase/proximity queries read it directly, with its own
      // tombstone mask): a crashed positional expunge that lost its mask
      // would serve a forgotten doc's positions while doc_stats reads
      // clean, and the doc_stats-only audit above certifies it (VERDICT
      // r13 #6). Audit the positional LIVE surface independently — one
      // column-pruned doc_id pass, broadcast semi-join against the
      // forgotten set. Stores without a positional table report checked=0.
      val positionalRow = {
        val name = "forgotten_absent_index_positional"
        val idxPath = familyPath(root, "index")
        val hasPos = fams.contains("index") &&
          fsOf(spark, idxPath).exists(
            new org.apache.hadoop.fs.Path(s"$idxPath/positional"))
        (if (hasPos) forgottenCache("index") else None) match {
          case Some(forgotten) =>
            val livePos = graft.index.Indexer.minusDeletes(spark, idxPath,
              graft.index.Indexer.readPositional(spark, idxPath)
                .select("doc_id")).distinct()
            StoreCheck.row(name,
              forgotten.agg(count(lit(1)).as("checked")).crossJoin(
                livePos.join(broadcast(forgotten), Seq("doc_id"), "left_semi")
                  .agg(count(lit(1)).as("violations"))))
          case None => StoreCheck.emptyRow(spark, name)
        }
      }

      val surfaceRows = Families.combinations(2).toSeq.map { case Seq(a, b) =>
        val name = s"id_surface_${a}_$b"
        if (fams.contains(a) && fams.contains(b))
          StoreCheck.row(name,
            liveCache(a).withColumn("in_a", lit(1))
              .join(liveCache(b).withColumn("in_b", lit(1)),
                Seq("doc_id"), "full_outer")
              .agg(count(lit(1)).as("checked"),
                sum(when(col("in_a").isNull.or(col("in_b").isNull), 1L)
                  .otherwise(0L)).as("violations")))
        else StoreCheck.emptyRow(spark, name)
      }

      manifestRow +: (absentRows ++ (positionalRow +: surfaceRows))
    }
  }
}
