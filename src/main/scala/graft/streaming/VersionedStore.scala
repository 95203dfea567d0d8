package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned keyed store with time travel — the changelog side of
  * [[UpsertSink]] kept instead of discarded: every commit appends an
  * immutable changelog under `log/v=<k>/`, and any historical version can
  * be reconstructed (the `VERSION AS OF` read of transactional table
  * formats, re-expressed as plain parquet + one window).
  *
  * Layout:
  * {{{
  *   <path>/log/v=<k>/         commit k's changes: key cols, payload, _op
  *   <path>/checkpoint/v=<c>/  materialized snapshot at version c
  * }}}
  *
  * A read at version v applies only `log (c, v]` over the newest
  * checkpoint `c <= v`: per key, the row with the highest version wins
  * and delete tombstones (`_op = 'd'`) drop the key. Read cost is
  * therefore ∝ |checkpoint| + |delta since|, never the full history —
  * and commits are append-only (no read-modify-write), so ingest work is
  * ∝ the batch alone. Checkpoints bound the delta the same way
  * [[graft.pipeline.IncrementalAgg]] bounds its refresh.
  *
  * Contract: one row per key per commit (a compacted CDC batch — the
  * shape [[UpsertSink.applyChangelog]] consumes); version resolution
  * inside a commit would otherwise be undefined in ANY engine.
  */
object VersionedStore {

  val OpCol = "_op"
  val DeleteOp = "d"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version directories under `root` (`v=<k>` → k, sorted). Driver-side
    * listing of one directory level — bounded metadata. */
  private def listVersions(spark: SparkSession, root: Path): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .sorted
  }

  /** Committed changelog versions, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    listVersions(spark, new Path(path, "log"))

  /** Append `changes` (key cols + payload + `_op`) as the next version;
    * returns the version number assigned. */
  def commit(spark: SparkSession, path: String, changes: DataFrame): Long = {
    require(changes.columns.contains(OpCol),
      s"changelog commit needs an '$OpCol' column ('u' upsert / '$DeleteOp' delete)")
    val next = versions(spark, path).lastOption.getOrElse(0L) + 1
    graft.FsOps.writeParquet(changes, s"$path/log/v=$next", "errorifexists")
    next
  }

  /** Commit at an EXPLICIT version with overwrite semantics — the
    * streaming-ingest face of [[commit]]: a `foreachBatch` writer derives
    * the version from the micro-batch id, so a batch REPLAYED after a
    * failure rewrites its own `v=` directory instead of appending a
    * duplicate commit (idempotent by construction, the same replay
    * discipline as [[graft.similarity.IvfStore]]'s batch overwrite).
    * Single-writer per store, like every transactional-table format's
    * log append. */
  def commitAt(spark: SparkSession, path: String, changes: DataFrame,
               version: Long): Unit = {
    require(changes.columns.contains(OpCol),
      s"changelog commit needs an '$OpCol' column ('u' upsert / '$DeleteOp' delete)")
    require(version >= 1, s"versions start at 1, got $version")
    graft.FsOps.writeParquet(changes, s"$path/log/v=$version")
  }

  /** Reconstruct the table as of `version`: newest checkpoint ≤ version,
    * plus the changelog delta after it, resolved per key by highest
    * version (checkpoint rows count as their checkpoint version). */
  def snapshotAt(spark: SparkSession, path: String, version: Long,
                 keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotAt needs at least one key column")
    val committed = versions(spark, path)
    // a vacuumed store may have dropped the log of a checkpointed version;
    // the checkpoint itself still makes that version readable
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    require(committed.nonEmpty || ckptVs.nonEmpty, s"no commits at $path")
    require(committed.contains(version) || ckptVs.contains(version),
      s"version $version not readable at $path (logs ${committed.mkString(", ")}; " +
        s"checkpoints ${ckptVs.mkString(", ")} — vacuumed history cannot be time-traveled)")
    snapshotUsing(spark, path, version, keys, ckptVs.filter(_ <= version), committed)
  }

  /** [[snapshotAt]]'s core with the usable-checkpoint list explicit, so
    * [[checkStore]] can replay a checkpointed version from an EARLIER
    * basis (excluding the checkpoint under audit). */
  private def snapshotUsing(spark: SparkSession, path: String, version: Long,
                            keys: Seq[String], ckpts: Seq[Long],
                            committed: Seq[Long]): DataFrame = {
    val base = ckpts.lastOption
    val deltaVs = committed.filter(v => v > base.getOrElse(0L) && v <= version)
    // basePath keeps the v=<k> dirs as a partition column on the read
    val delta =
      if (deltaVs.isEmpty) None
      else Some(graft.FsOps.readParquet(spark, deltaVs.map(v => s"$path/log/v=$v"),
          basePath = Some(s"$path/log"))
        .withColumn("__v", col("v").cast("long")).drop("v"))
    val baseDf = base.map { c =>
      graft.FsOps.readParquet(spark, s"$path/checkpoint/v=$c")
        .withColumn(OpCol, lit("u")).withColumn("__v", lit(c))
    }
    val all = (baseDf.toSeq ++ delta.toSeq).reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__v").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(OpCol) =!= DeleteOp)
      .drop("__rn", "__v", OpCol)
  }

  /** Snapshot DIFF between two store versions: which keys were `added`,
    * `removed`, or `changed` going `vOld` → `vNew` (unchanged rows are
    * omitted — at 100 TB the diff output is ∝ churn, not table size).
    * Non-key columns come back `old_`/`new_`-prefixed, so the row shows
    * both sides of every change. A key deleted before `vOld` and
    * re-inserted by `vNew` reports as `added` — diff is a statement
    * about the two snapshots, not the history between them.
    *
    * Scale: two snapshot reads (checkpoint + bounded log replay each)
    * into ONE full-outer shuffle join on the key; comparison is a
    * null-safe scalar predicate, no window, no second pass.
    */
  def diff(spark: SparkSession, path: String, vOld: Long, vNew: Long,
           keys: Seq[String]): DataFrame =
    diffFrames(snapshotAt(spark, path, vOld, keys),
      snapshotAt(spark, path, vNew, keys), keys)

  /** Generic two-frame diff behind [[diff]] (exposed for snapshots that
    * did not come from a store). Frames must share a schema. */
  def diffFrames(old: DataFrame, newer: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff needs at least one key column")
    require(old.columns.sameElements(newer.columns),
      s"schema mismatch: ${old.columns.mkString(",")} vs ${newer.columns.mkString(",")}")
    val dataCols = old.columns.filterNot(keys.contains).toSeq
    def side(df: DataFrame, tag: String) =
      df.select(keys.map(col) ++ dataCols.map(c => col(c).as(s"${tag}_$c"))
        :+ lit(1).as(s"__in_$tag"): _*)
    val changed = dataCols.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    side(old, "old").join(side(newer, "new"), keys, "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .drop("__in_old", "__in_new")
  }

  final case class VacuumStats(base: Long, droppedLogs: Seq[Long],
                               droppedCheckpoints: Seq[Long])

  /** Drop history not needed to reconstruct any version ≥ `retain`.
    *
    * Let `c` be the newest checkpoint ≤ `retain`: every read at v ≥ c
    * starts from that checkpoint and replays only `log (c, v]`, so log
    * versions ≤ c and checkpoints < c are dead weight — they are
    * deleted. Reads at any v ≥ c (including c itself, now served purely
    * by the checkpoint) return byte-identical answers; versions < c
    * become unreadable *by design* (that is the retention policy, the
    * same contract as transactional table formats' VACUUM).
    *
    * Refuses to run when no checkpoint ≤ `retain` exists — deleting any
    * log then would corrupt the reads the caller asked to keep. Driver
    * work is one directory listing + O(dropped) deletes; no data pass.
    */
  def vacuum(spark: SparkSession, path: String, retain: Long): VacuumStats = {
    val committed = versions(spark, path)
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    require(committed.nonEmpty || ckptVs.nonEmpty, s"no commits at $path")
    val base = ckptVs.filter(_ <= retain).lastOption.getOrElse(
      throw new IllegalStateException(
        s"vacuum(retain=$retain) needs a checkpoint at or before $retain " +
          s"(have ${ckptVs.mkString(", ")}) — run checkpoint() first, or " +
          "every version <= retain would become unreadable"))
    val dropLogs = committed.filter(_ <= base)
    val dropCkpts = ckptVs.filter(_ < base)
    val f = fs(spark, new Path(path))
    dropLogs.foreach(v => f.delete(new Path(s"$path/log/v=$v"), true))
    dropCkpts.foreach(v => f.delete(new Path(s"$path/checkpoint/v=$v"), true))
    VacuumStats(base, dropLogs, dropCkpts)
  }

  final case class PurgeStats(logsRewritten: Seq[Long],
                              checkpointsRewritten: Seq[Long])

  /** Whether the store has ANY readable version (log commit or
    * checkpoint) — the commitment probe for callers that must treat a
    * crashed bootstrap's bare directory as "no store here" instead of
    * crashing on it (graft.pipeline.Forget.familiesAt). */
  def hasCommits(spark: SparkSession, path: String): Boolean =
    versions(spark, path).nonEmpty ||
      listVersions(spark, new Path(path, "checkpoint")).nonEmpty

  /** Newest readable version — the highest committed log version, or
    * the highest checkpoint when the whole log was vacuumed away. */
  def newestVersion(spark: SparkSession, path: String): Long = {
    val committed = versions(spark, path)
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    require(committed.nonEmpty || ckptVs.nonEmpty, s"no commits at $path")
    (committed ++ ckptVs).max
  }

  /** Replay-depth ADVISOR (the vstore face of the per-family
    * advise/apply cron loop, beside the index fragmentation, dedup
    * bucket-skew and IVF provenance advisors): one report row,
    * `violations = 1` exactly when a read at the newest version must
    * replay MORE than `maxReplay` log commits past its checkpoint base
    * — the cost creep a streaming ingest leaves (every snapshot read is
    * ∝ checkpoint + delta, and without a checkpoint cadence the delta
    * grows without bound). No checkpoint at all counts the whole log as
    * the replay. The apply half is [[checkpoint]] at the newest version
    * (`Maintain vstore advise ... apply <keys>`), which bounds future
    * reads without destroying time travel — [[vacuum]] stays a separate,
    * deliberately destructive retention decision (named in the reason).
    * Driver-side metadata only: two directory listings. */
  def adviseCheckpoint(spark: SparkSession, path: String,
                       maxReplay: Int = 8): DataFrame = {
    require(maxReplay >= 1, s"maxReplay must be >= 1 (got $maxReplay)")
    val committed = versions(spark, path)
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    require(committed.nonEmpty || ckptVs.nonEmpty, s"no commits at $path")
    val newest = (committed ++ ckptVs).max
    val base = ckptVs.filter(_ <= newest).maxOption
    val depth = base match {
      case Some(c) => committed.count(v => v > c && v <= newest)
      case None => committed.size
    }
    val due = depth > maxReplay
    val reason =
      if (due)
        s"a read at v=$newest replays $depth log commits " +
          base.map(c => s"past checkpoint v=$c").getOrElse("from empty (no checkpoint)") +
          s" (> $maxReplay) — checkpoint at v=$newest (then vacuum if " +
          "the history itself is no longer needed)"
      else
        s"replay depth $depth at v=$newest (<= $maxReplay)" +
          base.map(c => s", checkpoint base v=$c").getOrElse("")
    import spark.implicits._
    Seq(("replay_depth", committed.size.toLong, if (due) 1L else 0L,
        depth.toLong, maxReplay.toLong, reason))
      .toDF("invariant", "checked", "violations", "replay_depth",
        "threshold", "reason")
  }

  /** Every key that appears ANYWHERE in history — log commits and
    * checkpoints alike, tombstoned or not: the surface a time-travel
    * read could reconstruct from, and therefore the surface a
    * right-to-be-forgotten audit must check ([[purgeKeys]] is what
    * empties it of a given id). Distinct keys only; one key-column
    * scan per `v=` directory (schemas differ between log and
    * checkpoint dirs, so they read separately and union). */
  def historyKeys(spark: SparkSession, path: String,
                  keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "historyKeys needs at least one key column")
    val dirs =
      versions(spark, path).map(v => s"$path/log/v=$v") ++
      listVersions(spark, new Path(path, "checkpoint"))
        .map(v => s"$path/checkpoint/v=$v")
    dirs.map(d => graft.FsOps.readParquet(spark, d).select(keys.map(col): _*))
      .reduceOption(_ unionByName _)
      .map(_.distinct())
      .getOrElse(spark.range(0).select(keys.map(k => col("id").as(k)): _*))
  }

  /** How much HISTORY still carries any of `ids`: one `(where, version,
    * rows)` row per log commit / checkpoint with surviving traces
    * (empty frame = the purge invariant holds). The DETECT primitive
    * beside [[purgeKeys]]: a takedown audit must prove the ids are
    * gone from every version a time-travel read could reconstruct, not
    * just from the newest snapshot. One broadcast semi-join pass per
    * `v=` directory, ∝ history size, never more than the store itself. */
  def historyServes(spark: SparkSession, path: String, keys: Seq[String],
                    ids: DataFrame): DataFrame = {
    require(keys.nonEmpty, "historyServes needs at least one key column")
    val idsK = broadcast(ids.select(keys.map(col): _*).distinct())
    val dirs =
      versions(spark, path).map(v => ("log", v, s"$path/log/v=$v")) ++
      listVersions(spark, new Path(path, "checkpoint"))
        .map(v => ("checkpoint", v, s"$path/checkpoint/v=$v"))
    dirs.map { case (where, v, dir) =>
        graft.FsOps.readParquet(spark, dir).join(idsK, keys, "left_semi")
          .agg(count(lit(1)).as("rows"))
          .select(lit(where).as("where"), lit(v).as("version"), col("rows"))
      }
      .reduceOption(_ unionByName _)
      .map(_.filter(col("rows") > 0).orderBy("where", "version"))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("where"), lit(0L).as("version"), lit(0L).as("rows")))
  }

  /** Purge every trace of `ids` from the store's HISTORY — every log
    * commit and every checkpoint is rewritten without the keys and
    * installed via the crash-safe swap. [[vacuum]] drops whole
    * versions by retention policy; this drops specific KEYS from all
    * versions — the right-to-be-forgotten verb: after it, no
    * [[snapshotAt]], [[diff]] or checkpoint read at ANY version can
    * resurrect the purged documents (a takedown that only touched the
    * newest snapshot would still serve the doc to every time-travel
    * read). Idempotent re-run; a crash mid-way leaves some directories
    * purged and the rest untouched — re-running completes the job, and
    * [[historyServes]] is the audit that proves it finished.
    *
    * Scale: directories with no matching key skip their rewrite (one
    * short-circuiting broadcast semi-probe each — the probe scan is
    * bounded by first match), so cost is ∝ the history that actually
    * carries the ids plus one cheap probe per version. Caveat, by
    * design: a store fed by a replayable upstream ([[commitAt]]
    * overwrite semantics) can have a purged version RE-COMMITTED by a
    * source replay — purge after the log is final, or re-run the purge
    * (and its audit) after any replay window closes. */
  def purgeKeys(spark: SparkSession, path: String, keys: Seq[String],
                ids: DataFrame): PurgeStats = {
    require(keys.nonEmpty, "purgeKeys needs at least one key column")
    val idsK = broadcast(ids.select(keys.map(col): _*).distinct())
    val f = fs(spark, new Path(path))
    def purgeDir(dir: String): Boolean = {
      val df = graft.FsOps.readParquet(spark, dir)
      val touched = !df.join(idsK, keys, "left_semi").isEmpty
      if (touched) {
        // leading underscore: never parsed as a version by listVersions
        // nor picked up by any Spark directory listing
        val live = new Path(dir)
        val tmp = new Path(live.getParent, s"_${live.getName}.purge_tmp")
        graft.FsOps.writeParquet(df.join(idsK, keys, "left_anti"), tmp.toString)
        graft.FsOps.atomicSwap(f, live, tmp)
      }
      touched
    }
    // every version directory is probed (and possibly rewritten)
    // independently — overlap them (guide §2.6): a purge over a long
    // history is otherwise a serial chain of tiny probe+rewrite jobs.
    // Par.map preserves input order, so the stats lists stay sorted.
    val logVs = versions(spark, path)
    val ckVs = listVersions(spark, new Path(path, "checkpoint"))
    val touched = graft.operators.Par.map(
      logVs.map(v => s"$path/log/v=$v") ++
        ckVs.map(v => s"$path/checkpoint/v=$v"))(purgeDir)
    PurgeStats(
      logsRewritten = logVs.zip(touched.take(logVs.size))
        .collect { case (v, true) => v },
      checkpointsRewritten = ckVs.zip(touched.drop(logVs.size))
        .collect { case (v, true) => v })
  }

  /** Materialize the snapshot at `version` as a checkpoint, so later
    * reads start from it instead of replaying history. Temp-write +
    * rename: concurrent readers never see a partial checkpoint. */
  def checkpoint(spark: SparkSession, path: String, version: Long,
                 keys: Seq[String]): Unit = {
    val live = new Path(s"$path/checkpoint/v=$version")
    val f = fs(spark, live)
    val tmp = new Path(live.getParent, s"_v=$version.ckpt_tmp")
    graft.FsOps.writeParquet(snapshotAt(spark, path, version, keys), tmp.toString)
    if (!f.rename(tmp, live))
      throw new java.io.IOException(s"checkpoint: failed to install $tmp at $live")
  }

  /** Repair a checkpoint (default: the newest) — the REPAIR step beside
    * [[checkStore]]'s detect, closing the corrupt → detect → repair →
    * re-check loop for this store family. The LOG is authoritative; a
    * checkpoint is derived state (exactly [[checkpoint]]'s derivation),
    * so repair re-derives it by an independent replay from the previous
    * checkpoint + log delta — the same replay [[checkStore]] audits
    * against — and installs it via the crash-safe rename-aside swap
    * (readers observe the old or the repaired checkpoint, never half).
    *
    * Fixes everything `checkpoint_matches_log` can flag: a checkpoint
    * written by a buggy or crashed job, rows lost or mutated by a
    * hand-edit. Refuses when a vacuum has dropped the replay basis —
    * the stored checkpoint is then the only authority and there is
    * nothing independent to re-derive from ([[checkStore]] reports that
    * state as unauditable, checked = 0, for the same reason).
    *
    * Scale: one snapshot replay (∝ |previous checkpoint| + |delta|) +
    * one swap — a scheduled maintenance job, never a read-path cost. */
  def repairCheckpoint(spark: SparkSession, path: String,
                       keys: Seq[String],
                       version: Option[Long] = None): Unit = {
    require(keys.nonEmpty, "repairCheckpoint needs the store's key columns")
    val committed = versions(spark, path)
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    // default: the newest. For a flagged INTERMEDIATE checkpoint pass
    // its version explicitly and repair oldest-first — later checkpoints
    // derived from the corrupt one re-flag against the repaired basis on
    // the next check and are repaired in turn.
    val c = version.getOrElse(ckptVs.lastOption.getOrElse(
      throw new IllegalStateException(s"no checkpoint to repair at $path")))
    require(ckptVs.contains(c),
      s"repairCheckpoint: no checkpoint v=$c at $path (have ${ckptVs.mkString(", ")})")
    val earlier = ckptVs.filter(_ < c)
    val base0 = earlier.lastOption.getOrElse(0L)
    require(((base0 + 1) to c).forall(committed.contains),
      s"repairCheckpoint: the replay basis for checkpoint v=$c is incomplete " +
        s"(logs ${committed.mkString(", ")}; earlier checkpoints " +
        s"${earlier.mkString(", ")}) — a vacuumed store's newest checkpoint " +
        "is its only authority, there is nothing independent to re-derive from")
    val live = new Path(s"$path/checkpoint/v=$c")
    val tmp = new Path(live.getParent, s"_v=$c.ckpt_tmp")
    graft.FsOps.writeParquet(snapshotUsing(spark, path, c, keys, earlier, committed),
      tmp.toString)
    graft.FsOps.atomicSwap(fs(spark, live), live, tmp)
  }

  /** Integrity check ("fsck") for a versioned store — the changelog twin
    * of [[graft.index.Indexer.checkStore]]: one report row per
    * invariant, `(invariant, checked, violations)`, all-zero violations
    * when healthy. The repair half (for checkpoint drift, the one
    * derived-state invariant) is [[repairCheckpoint]].
    *
    * What can drift: [[checkpoint]] materializes DERIVED state (a
    * snapshot) beside the authoritative log — a checkpoint written by a
    * buggy or crashed job, or a log directory lost to a botched
    * hand-vacuum, silently corrupts every later read that starts from
    * it. The invariants:
    *
    *   - `checkpoint_matches_log` — EVERY checkpoint equals an
    *     independent replay of its version from its PREVIOUS
    *     checkpoint + log delta. Per-link, not newest-only: a corrupt
    *     intermediate checkpoint would hide behind a later one derived
    *     from it (the corruption cancels out of the newest diff) while
    *     reads between the two keep serving the damage. A checkpoint
    *     whose replay basis a vacuum legitimately dropped contributes
    *     `checked = 0` (authority is then the checkpoint itself;
    *     nothing independent to audit against).
    *   - `commit_key_unique` — one row per key per commit, the contract
    *     [[commit]] documents (violated upstream by an uncompacted CDC
    *     batch; version resolution inside a commit is undefined).
    *   - `log_contiguous` — for every committed log version v, the full
    *     replay range (newest checkpoint ≤ v, v] is present: a missing
    *     middle version is NOT an error at read time (snapshotAt just
    *     skips it), which is exactly why it needs an fsck.
    *   - `op_wellformed` — every log row's `_op` is 'u' or 'd'.
    *
    * Scale: one pass over the log partitions + one checkpoint-vs-replay
    * full-outer diff (∝ |checkpoint| + |delta|); version lists are
    * driver-side directory metadata, as everywhere in this store.
    * Scheduled maintenance, not a read-path cost.
    */
  def checkStore(spark: SparkSession, path: String,
                 keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "checkStore needs the store's key columns")
    val committed = versions(spark, path)
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    graft.operators.StoreCheck.report(
      sharedChecks(spark, path, keys, "", committed, ckptVs, ckptVs, committed))
  }

  /** The four invariants both audits check, each defined once over the
    * log versions `vs` and the checkpoints `ckpts` it audits (`allCkpts`
    * and `committed` supply the replay bases and ranges); `prefix` is ""
    * for the deep audit (every version and checkpoint) and "delta_" for
    * the incremental one (the contract on [[graft.operators.StoreCheck]]).
    * Report order: `checkpoint_matches_log`, `commit_key_unique`,
    * `op_wellformed`, `log_contiguous`. */
  private def sharedChecks(spark: SparkSession, path: String, keys: Seq[String],
                           prefix: String, vs: Seq[Long], ckpts: Seq[Long],
                           allCkpts: Seq[Long], committed: Seq[Long]): Seq[DataFrame] = {
    import graft.operators.StoreCheck.{row, emptyRow}
    val brokenReplays = vs.count { v =>
      val base = allCkpts.filter(_ <= v).lastOption.getOrElse(0L)
      !((base + 1) to v).forall(committed.contains)
    }
    val contiguous = spark.range(1).select(
      lit(s"${prefix}log_contiguous").as("invariant"),
      lit(vs.size.toLong).as("checked"),
      lit(brokenReplays.toLong).as("violations"))

    val logChecks =
      if (vs.isEmpty)
        Seq(emptyRow(spark, s"${prefix}commit_key_unique"),
          emptyRow(spark, s"${prefix}op_wellformed"))
      else {
        val log = graft.FsOps.readParquet(spark, vs.map(v => s"$path/log/v=$v"),
          basePath = Some(s"$path/log"))
          .withColumn("__v", col("v").cast("long")).drop("v")
        Seq(
          row(s"${prefix}commit_key_unique",
            log.groupBy(col("__v") +: keys.map(col): _*)
              .agg(count(lit(1)).as("c"))
              .agg(count(lit(1)).as("checked"),
                sum(when(col("c") > 1, 1L).otherwise(0L)).as("violations"))),
          row(s"${prefix}op_wellformed",
            log.agg(count(lit(1)).as("checked"),
              sum(when(!col(OpCol).isin("u", DeleteOp), 1L).otherwise(0L))
                .as("violations"))))
      }

    val ckptCheck = checkpointsVsReplay(spark, path, keys,
      s"${prefix}checkpoint_matches_log", ckpts, allCkpts, committed)

    Seq(ckptCheck) ++ logChecks :+ contiguous
  }

  /** One report row auditing EVERY checkpoint in `audit`, each against
    * an independent replay from its own PREDECESSOR basis (`allCkpts`
    * supplies the bases) — auditing only the newest would let a corrupt
    * INTERMEDIATE checkpoint hide: a later checkpoint derived from it
    * replays identically (the corruption cancels out of the diff) while
    * reads in between keep serving the damage. Per-link auditing always
    * catches the corrupt link itself; repair flagged checkpoints
    * OLDEST-FIRST ([[repairCheckpoint]] takes the version), then
    * re-check — a later checkpoint derived from a repaired one now
    * diffs against the fixed basis and is flagged in turn. A checkpoint
    * whose replay basis was vacuumed contributes `checked = 0`
    * (unauditable: it is then its own only authority). */
  private def checkpointsVsReplay(spark: SparkSession, path: String,
                                  keys: Seq[String], name: String,
                                  audit: Seq[Long], allCkpts: Seq[Long],
                                  committed: Seq[Long]): DataFrame = {
    import graft.operators.StoreCheck.{row, emptyRow}
    val perCkpt = audit.flatMap { c =>
      val earlier = allCkpts.filter(_ < c)
      val base0 = earlier.lastOption.getOrElse(0L)
      if (!((base0 + 1) to c).forall(committed.contains)) None
      else {
        val stored = graft.FsOps.readParquet(spark, s"$path/checkpoint/v=$c")
        val replay = snapshotUsing(spark, path, c, keys, earlier, committed)
        Some(stored.agg(count(lit(1)).as("checked")).crossJoin(
          diffFrames(stored, replay.select(stored.columns.map(col).toSeq: _*), keys)
            .agg(count(lit(1)).as("violations"))))
      }
    }
    if (perCkpt.isEmpty) emptyRow(spark, name)
    else row(name,
      perCkpt.reduce(_ unionByName _)
        .agg(sum(col("checked")).as("checked"),
          sum(col("violations")).as("violations")))
  }

  // ---- audit bookkeeping: the audit watermark
  // (graft.operators.StoreCheck.lastAudited) records the highest log
  // version an audit has vouched for — the versioned-store face of the
  // same daily/deep audit split the other three families carry; no
  // separate `_lastbatch` twin is needed here because the log's `v=`
  // directories ARE the store's native batch ordinals.

  private val AuditedCkptsMarker = "_audited_ckpts"

  /** The checkpoint versions a past audit has vouched for. Recorded as
    * an explicit SET (not inferred from version numbers) because a
    * checkpoint can be materialized at an OLD version after the audit
    * ([[Maintain]] exposes `checkpoint <version>`): it is new derived
    * state regardless of its version number, and a `version > since`
    * heuristic would never audit it. Absent marker (legacy store, or
    * audited before this record existed) falls back to that heuristic. */
  private def vouchedCkpts(spark: SparkSession, path: String,
                           ckptVs: Seq[Long], since: Long): Set[Long] =
    graft.FsOps.readParsedMarker(spark, path, AuditedCkptsMarker)(
        _.split(",").filter(_.nonEmpty).map(_.trim.toLong).toSet)
      .getOrElse(ckptVs.filter(_ <= since).toSet)

  /** Highest log version an audit has vouched for (None = never audited). */
  def lastAudited(spark: SparkSession, path: String): Option[Long] =
    graft.operators.StoreCheck.lastAudited(spark, path)

  /** Record that every commit up to version `upTo` (default: the newest
    * committed version) has been audited, so the next
    * [[checkStoreIncremental]] scopes to commits after it. */
  def markAudited(spark: SparkSession, path: String,
                  upTo: Option[Long] = None): Unit = {
    // default upTo falls back to the newest CHECKPOINT when the whole
    // log was vacuumed away — the same committed-state contract as
    // hasCommits/newestVersion, so `mark-audited` after
    // vacuum(retain=newest) works on a healthy checkpoint-only store
    val v = graft.operators.StoreCheck.markAudited(spark, path, upTo,
      versions(spark, path).lastOption
        .orElse(listVersions(spark, new Path(path, "checkpoint")).lastOption),
      s"no commits at $path — an empty store has nothing to vouch for")
    // also vouch for the CHECKPOINTS the audit covered: those at
    // versions ≤ v that exist right now. Recorded as a set so a
    // checkpoint later materialized at an old version still reads as
    // new derived state to the next incremental audit.
    graft.FsOps.writeMarker(spark, path, AuditedCkptsMarker,
      listVersions(spark, new Path(path, "checkpoint"))
        .filter(_ <= v).mkString(","))
  }

  /** Incremental integrity check: [[checkStore]]'s invariants scoped to
    * the commits AFTER the last vouched-for version ([[markAudited]]) —
    * the daily-cadence audit whose cost tracks the delta, with the full
    * [[checkStore]] kept for scheduled deep audits (the same daily/deep
    * split as the index, IVF, and dedup stores). A never-audited store
    * (no marker, no `sinceVersion`) audits everything — incremental
    * against an empty vouched set IS the deep audit.
    *
    * Every row is one of [[checkStore]]'s four, `delta_`-prefixed and
    * defined once for both audits (the contract on
    * [[graft.operators.StoreCheck]]), over the delta commits and over
    * EVERY checkpoint the last audit did not vouch for (a checkpoint
    * written since the last audit is new derived state; one vouched by
    * a prior audit is not re-derived daily). Version lists are
    * driver-side metadata, so replay ranges consult the full committed
    * list.
    *
    * Scale: one pass over delta log partitions + one
    * checkpoint-vs-replay diff per SINCE-AUDIT checkpoint (normally 0
    * or 1 at daily cadence) — work ∝ |delta| (+ new checkpoints),
    * never ∝ history. */
  def checkStoreIncremental(spark: SparkSession, path: String,
                            keys: Seq[String],
                            sinceVersion: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "checkStoreIncremental needs the store's key columns")
    val since = sinceVersion.orElse(lastAudited(spark, path)).getOrElse(0L)
    val committed = versions(spark, path)
    val ckptVs = listVersions(spark, new Path(path, "checkpoint"))
    // EVERY checkpoint the last audit did not vouch for is new derived
    // state — audit each (not just the newest: an intermediate one could
    // otherwise hide behind a later checkpoint derived from it; and not
    // by version number: a checkpoint materialized at an OLD version
    // after the audit is just as new — see [[vouchedCkpts]])
    val vouched =
      if (sinceVersion.isDefined) ckptVs.filter(_ <= since).toSet
      else vouchedCkpts(spark, path, ckptVs, since)
    graft.operators.StoreCheck.report(sharedChecks(spark, path, keys, "delta_",
      committed.filter(_ > since), ckptVs.filterNot(vouched), ckptVs, committed))
  }
}
