package graft

import org.apache.spark.sql.functions._

import graft.queries.QueryGroup
import graft.streaming.VersionedStore

/** Time travel over the versioned keyed store
  * ([[graft.streaming.VersionedStore]]): commit/versions bookkeeping,
  * per-version reconstruction, tombstones, revival after delete, and
  * checkpoint transparency (same answers, shorter replay). */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ch(rows: (Long, String, String)*) =
    rows.toSeq.toDF("k", "val", VersionedStore.OpCol)

  test("snapshotAt reconstructs every version; deletes tombstone; updates revive") {
    val path = QueryGroup.scratchDir("graft-vstore")
    assert(VersionedStore.commit(spark, path,
      ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u"))) === 1L)
    assert(VersionedStore.commit(spark, path,
      ch((2L, "b2", "u"), (3L, "c1", "d"))) === 2L)
    assert(VersionedStore.commit(spark, path,
      ch((3L, "c3", "u"), (1L, "a1", "d"), (4L, "d3", "u"))) === 3L)
    assert(VersionedStore.versions(spark, path) === Seq(1L, 2L, 3L))

    def at(v: Long) = VersionedStore.snapshotAt(spark, path, v, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(at(1L) === Set((1L, "a1"), (2L, "b1"), (3L, "c1")))
    assert(at(2L) === Set((1L, "a1"), (2L, "b2")))           // 3 tombstoned
    assert(at(3L) === Set((2L, "b2"), (3L, "c3"), (4L, "d3"))) // 3 revived, 1 dropped

    // a checkpoint changes replay cost, never answers
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    assert(at(2L) === Set((1L, "a1"), (2L, "b2")))
    assert(at(3L) === Set((2L, "b2"), (3L, "c3"), (4L, "d3")))

    // post-checkpoint commits read checkpoint + delta only
    VersionedStore.commit(spark, path, ch((4L, "d4", "u")))
    assert(at(4L) === Set((2L, "b2"), (3L, "c3"), (4L, "d4")))
  }

  test("commit refuses a changelog without the op column") {
    val path = QueryGroup.scratchDir("graft-vstore-noop")
    val e = intercept[IllegalArgumentException] {
      VersionedStore.commit(spark, path, Seq((1L, "x")).toDF("k", "val"))
    }
    assert(e.getMessage.contains(VersionedStore.OpCol))
  }

  test("snapshotAt refuses unknown versions") {
    val path = QueryGroup.scratchDir("graft-vstore-badv")
    VersionedStore.commit(spark, path, ch((1L, "a", "u")))
    val e = intercept[IllegalArgumentException] {
      VersionedStore.snapshotAt(spark, path, 9L, Seq("k"))
    }
    assert(e.getMessage.contains("not readable"))
  }

  test("vacuum drops subsumed history; retained reads are byte-identical") {
    val path = QueryGroup.scratchDir("graft-vstore-vac")
    VersionedStore.commit(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (1L, "a1", "d")))
    VersionedStore.commit(spark, path, ch((3L, "c3", "u")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))

    def at(v: Long) = VersionedStore.snapshotAt(spark, path, v, Seq("k"))
      .as[(Long, String)].collect().toSet
    val before2 = at(2L)
    val before3 = at(3L)

    val stats = VersionedStore.vacuum(spark, path, retain = 2L)
    assert(stats.base === 2L)
    assert(stats.droppedLogs === Seq(1L, 2L))     // subsumed by ckpt v2
    assert(stats.droppedCheckpoints === Seq(1L))  // superseded by ckpt v2
    assert(VersionedStore.versions(spark, path) === Seq(3L))

    // retained versions answer identically (v2 now served by the
    // checkpoint alone, v3 by checkpoint + log v3)
    assert(at(2L) === before2)
    assert(at(3L) === before3)

    // vacuumed history is gone by design
    val e = intercept[IllegalArgumentException] {
      VersionedStore.snapshotAt(spark, path, 1L, Seq("k"))
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("vacuum refuses to run without a checkpoint at or before retain") {
    val path = QueryGroup.scratchDir("graft-vstore-vac-nockpt")
    VersionedStore.commit(spark, path, ch((1L, "a1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u")))
    val e = intercept[IllegalStateException] {
      VersionedStore.vacuum(spark, path, retain = 2L)
    }
    assert(e.getMessage.contains("checkpoint"))
    // nothing was deleted
    assert(VersionedStore.versions(spark, path) === Seq(1L, 2L))
  }

  test("commitAt is replay-idempotent: re-running a batch overwrites its own version") {
    val path = QueryGroup.scratchDir("graft-vstore-replay")
    VersionedStore.commitAt(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u")), 1L)
    // a crash-replay of batch 0 re-commits version 1 — possibly with the
    // same content recomputed; the store must hold ONE copy, not two
    VersionedStore.commitAt(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u")), 1L)
    VersionedStore.commitAt(spark, path, ch((2L, "b2", "u")), 2L)
    assert(VersionedStore.versions(spark, path) === Seq(1L, 2L))
    val at2 = VersionedStore.snapshotAt(spark, path, 2L, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(at2 === Set((1L, "a1"), (2L, "b2")))
  }

  test("runCommits streams file drops into ordered versions") {
    val root = QueryGroup.scratchDir("graft-vstore-stream")
    val src = s"$root/src"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(src))
    Seq(
      ch((1L, "a1", "u"), (2L, "b1", "u")),
      ch((2L, "b2", "u"), (1L, "a1", "d"))).zipWithIndex.foreach { case (w, i) =>
      val tmp = s"$src/_tmp$i"
      w.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(src, f"w$i.parquet"))
      fs.setTimes(new org.apache.hadoop.fs.Path(src, f"w$i.parquet"), 1000L * (i + 1), -1)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    graft.streaming.StreamRuntime.runCommits(spark, src, s"$root/store")
    assert(VersionedStore.versions(spark, s"$root/store") === Seq(1L, 2L))
    val at1 = VersionedStore.snapshotAt(spark, s"$root/store", 1L, Seq("k"))
      .as[(Long, String)].collect().toSet
    val at2 = VersionedStore.snapshotAt(spark, s"$root/store", 2L, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(at1 === Set((1L, "a1"), (2L, "b1")))
    assert(at2 === Set((2L, "b2")))
  }

  test("composed lifecycle: stream-ingest -> checkpoint -> vacuum -> retained reads stable") {
    // the end-to-end retention contract (VERDICT r6): CDC waves arrive
    // through the streaming runtime, a checkpoint lands mid-history,
    // vacuum drops the subsumed log — and every retained version answers
    // exactly as it did before vacuum
    val root = QueryGroup.scratchDir("graft-vstore-lifecycle")
    val src = s"$root/src"
    val store = s"$root/store"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(src))
    Seq(
      ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u")),
      ch((2L, "b2", "u"), (3L, "c1", "d")),
      ch((3L, "c3", "u"), (4L, "d3", "u"))).zipWithIndex.foreach { case (w, i) =>
      val tmp = s"$src/_tmp$i"
      w.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(src, f"w$i.parquet"))
      fs.setTimes(new org.apache.hadoop.fs.Path(src, f"w$i.parquet"), 1000L * (i + 1), -1)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    graft.streaming.StreamRuntime.runCommits(spark, src, store)
    assert(VersionedStore.versions(spark, store) === Seq(1L, 2L, 3L))
    VersionedStore.checkpoint(spark, store, 2L, Seq("k"))

    def at(v: Long) = VersionedStore.snapshotAt(spark, store, v, Seq("k"))
      .as[(Long, String)].collect().toSet
    val before2 = at(2L)
    val before3 = at(3L)
    assert(before2 === Set((1L, "a1"), (2L, "b2")))
    assert(before3 === Set((1L, "a1"), (2L, "b2"), (3L, "c3"), (4L, "d3")))

    val stats = VersionedStore.vacuum(spark, store, retain = 2L)
    assert(stats.base === 2L && stats.droppedLogs === Seq(1L, 2L))
    // retained versions are byte-stable across vacuum
    assert(at(2L) === before2)
    assert(at(3L) === before3)
    // pre-checkpoint history is gone by design
    assert(intercept[IllegalArgumentException] {
      VersionedStore.snapshotAt(spark, store, 1L, Seq("k"))
    }.getMessage.contains("vacuumed"))
  }

  test("checkStore: healthy store passes; checkpoint drift, dup keys, log gap detected") {
    val path = QueryGroup.scratchDir("graft-vstorefsck")
    VersionedStore.commit(spark, path,
      ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (3L, "c1", "d")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.commit(spark, path, ch((3L, "c3", "u"), (4L, "d3", "u")))
    VersionedStore.checkpoint(spark, path, 3L, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def report(): Map[String, (Long, Long)] =
      VersionedStore.checkStore(spark, path, Seq("k"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val healthy = report()
    assert(healthy.size === 4)
    assert(healthy.values.forall(_._2 == 0L), s"healthy store has violations: $healthy")
    // EVERY checkpoint audits: v1 live (keys 1,2,3) + v3 live (1,2,3,4)
    assert(healthy("checkpoint_matches_log")._1 === 7L)
    assert(healthy("commit_key_unique")._1 === 7L)      // 3 + 2 + 2 (v, key) groups
    assert(healthy("log_contiguous")._1 === 3L)
    assert(healthy("op_wellformed")._1 === 7L)

    // checkpoint drift: the v3 checkpoint rewritten by a buggy job
    // (payload flipped for one key) — content invariant flags exactly it
    spark.read.parquet(s"$path/checkpoint/v=3")
      .withColumn("val", when(col("k") === 2L, lit("WRONG")).otherwise(col("val")))
      .write.mode("overwrite").parquet(s"$path/checkpoint/v=3_bad")
    graft.FsOps.atomicSwap(fs, new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=3"),
      new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=3_bad"))
    val drifted = report()
    assert(drifted("checkpoint_matches_log")._2 === 1L)
    assert((drifted - "checkpoint_matches_log").values.forall(_._2 == 0L))
    // repair = re-materialize the checkpoint from the log
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=3"), true)
    VersionedStore.checkpoint(spark, path, 3L, Seq("k"))
    assert(report().values.forall(_._2 == 0L))

    // an uncompacted CDC batch: same key twice in one commit
    VersionedStore.commit(spark, path, ch((5L, "e4", "u"), (5L, "e4b", "u")))
    val dup = report()
    assert(dup("commit_key_unique")._2 === 1L)

    // a log directory lost to a botched hand-vacuum. With the v3
    // checkpoint still standing nothing is SILENTLY wrong (v2 is loudly
    // unreadable; later reads replay from the checkpoint) — fsck agrees,
    // still zero contiguity violations:
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/log/v=2"), true)
    assert(report()("log_contiguous")._2 === 0L)
    // ...but once the v3 checkpoint is ALSO gone, v3 and v4 reads replay
    // from the v1 checkpoint across the missing v2 and silently skip its
    // changes — exactly the two versions fsck flags
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=3"), true)
    val gap = report()
    assert(gap("log_contiguous") === ((3L, 2L)))
  }

  test("repairCheckpoint re-derives the newest checkpoint; refuses a vacuumed basis") {
    val path = QueryGroup.scratchDir("graft-vstorerepair")
    VersionedStore.commit(spark, path,
      ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (3L, "c1", "d")))
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def violations(): Long =
      VersionedStore.checkStore(spark, path, Seq("k"))
        .agg(sum($"violations")).as[Long].collect().head

    // corrupt the newest checkpoint: one key's payload flipped, one lost
    spark.read.parquet(s"$path/checkpoint/v=2")
      .filter($"k" =!= 2L)
      .withColumn("val", when($"k" === 1L, lit("WRONG")).otherwise($"val"))
      .write.mode("overwrite").parquet(s"$path/checkpoint/_v=2.bad")
    graft.FsOps.atomicSwap(fs,
      new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=2"),
      new org.apache.hadoop.fs.Path(s"$path/checkpoint/_v=2.bad"))
    assert(violations() > 0L, "corruption must be detected before repair")
    VersionedStore.repairCheckpoint(spark, path, Seq("k"))
    assert(violations() === 0L, "repairCheckpoint must restore the invariant")
    assert(VersionedStore.snapshotAt(spark, path, 2L, Seq("k"))
      .as[(Long, String)].collect().toSet === Set((1L, "a1"), (2L, "b2")))

    // after a vacuum at v2 the replay basis (log v1-v2, checkpoint v1)
    // is gone — the checkpoint is the only authority; repair must refuse
    // rather than "re-derive" from nothing
    VersionedStore.vacuum(spark, path, retain = 2L)
    val e = intercept[IllegalArgumentException](
      VersionedStore.repairCheckpoint(spark, path, Seq("k")))
    assert(e.getMessage.contains("replay basis"), e.getMessage)
  }

  test("diff reports added/removed/changed and omits unchanged (nulls equal)") {
    val old = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, None: Option[String], 30L), (4L, Some("gone"), 40L))
      .toDF("k", "s", "n")
    val neu = Seq((1L, Some("a"), 10L), (2L, Some("B!"), 20L),
      (3L, None: Option[String], 30L), (5L, Some("new"), 50L))
      .toDF("k", "s", "n")
    val out = VersionedStore.diffFrames(old, neu, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    // k=1 identical, k=3 identical with null payload → both omitted
    assert(out === Map(2L -> "changed", 4L -> "removed", 5L -> "added"))
    val row2 = VersionedStore.diffFrames(old, neu, Seq("k"))
      .filter($"k" === 2L).collect().head
    assert(row2.getString(1) == "b" && row2.getString(3) == "B!",
      s"old_/new_ payload visible on changed rows: $row2")
  }

  test("diff on the store: a v2-deleted key re-inserted at v3 reports as added") {
    val root = QueryGroup.scratchDir("graft-vsdiff")
    VersionedStore.commit(spark, root, ch((1L, "x1", "u"), (2L, "y1", "u")))
    VersionedStore.commit(spark, root, ch((2L, "y1", "d")))
    VersionedStore.commit(spark, root, ch((2L, "y3", "u"), (1L, "x3", "u")))
    val d23 = VersionedStore.diff(spark, root, 2L, 3L, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(d23 === Map(1L -> "changed", 2L -> "added"))
  }

  test("a corrupt INTERMEDIATE checkpoint cannot hide behind a later one derived from it") {
    val path = QueryGroup.scratchDir("graft-vstoremidckpt")
    VersionedStore.commit(spark, path,
      ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u")))
    // a buggy checkpoint job corrupts v2's snapshot...
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$path/checkpoint/v=2").filter($"k" =!= 3L)
      .write.mode("overwrite").parquet(s"$path/checkpoint/v=2_bad")
    graft.FsOps.atomicSwap(fs, new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=2"),
      new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=2_bad"))
    // ...and a LATER checkpoint is derived FROM the corrupt one: its own
    // replay (same basis) matches it exactly, so a newest-only audit
    // would pass while reads at v2/v3 silently drop key 3
    VersionedStore.commit(spark, path, ch((4L, "d3", "u")))
    VersionedStore.checkpoint(spark, path, 3L, Seq("k"))
    assert(VersionedStore.snapshotAt(spark, path, 3L, Seq("k")).count() === 3L,
      "corruption should propagate into v3 reads (the hazard under test)")

    def ckptRow(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.as[(String, Long, Long)].collect()
        .find(_._1.endsWith("checkpoint_matches_log")).map(r => (r._2, r._3)).get

    // per-link audit flags exactly the corrupt link (v2 vs its v1 basis)
    val (checked, violations) = ckptRow(VersionedStore.checkStore(spark, path, Seq("k")))
    assert(violations === 1L, s"corrupt middle checkpoint not flagged: $violations")
    assert(checked === 3L + 2L + 3L) // v1 live + corrupt v2 (2 rows) + v3 live

    // repair oldest-first: fix v2 explicitly, then v3 re-flags against
    // the repaired basis and is repaired in turn
    VersionedStore.repairCheckpoint(spark, path, Seq("k"), version = Some(2L))
    val after2 = ckptRow(VersionedStore.checkStore(spark, path, Seq("k")))
    assert(after2._2 === 1L, s"v3 (derived from corrupt v2) should now flag: $after2")
    VersionedStore.repairCheckpoint(spark, path, Seq("k"), version = Some(3L))
    assert(ckptRow(VersionedStore.checkStore(spark, path, Seq("k")))._2 === 0L)
    assert(VersionedStore.snapshotAt(spark, path, 3L, Seq("k")).count() === 4L,
      "repaired chain must serve the full live set again")
  }

  test("checkStoreIncremental audits post-vouch commits only; new checkpoints are in scope") {
    val path = QueryGroup.scratchDir("graft-vstorefsckincr")
    VersionedStore.commit(spark, path,
      ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (3L, "c1", "d")))
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    VersionedStore.markAudited(spark, path) // deep audit vouched v1–v2
    assert(VersionedStore.lastAudited(spark, path) === Some(2L))
    VersionedStore.commit(spark, path, ch((3L, "c3", "u"), (4L, "d3", "u")))
    VersionedStore.checkpoint(spark, path, 3L, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def report(): Map[String, (Long, Long)] =
      VersionedStore.checkStoreIncremental(spark, path, Seq("k"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val clean = report()
    assert(clean.size === 4)
    assert(clean.values.forall(_._2 == 0L), s"clean delta has violations: $clean")
    // audited exactly the post-vouch population: log v3's two rows, one
    // delta version's replay range, and the NEW v3 checkpoint (its live
    // set: keys 1,2 from the basis + 3 revived + 4 inserted)
    assert(clean("delta_commit_key_unique")._1 === 2L)
    assert(clean("delta_op_wellformed")._1 === 2L)
    assert(clean("delta_log_contiguous")._1 === 1L)
    assert(clean("delta_checkpoint_matches_log")._1 === 4L)

    // a double-applied row in the DELTA commit is flagged...
    spark.read.option("basePath", s"$path/log").parquet(s"$path/log/v=3")
      .drop("v").limit(1).write.mode("append").parquet(s"$path/log/v=3")
    assert(report()("delta_commit_key_unique")._2 === 1L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/log/v=3"), true)
    VersionedStore.commitAt(spark, path, ch((3L, "c3", "u"), (4L, "d3", "u")), 3L)

    // ...while the same corruption in a VOUCHED commit stays out of the
    // incremental scope by design — the scheduled deep checkStore owns it
    spark.read.option("basePath", s"$path/log").parquet(s"$path/log/v=1")
      .drop("v").limit(1).write.mode("append").parquet(s"$path/log/v=1")
    val vouched = report()
    assert(vouched("delta_commit_key_unique")._2 === 0L)
    assert(VersionedStore.checkStore(spark, path, Seq("k"))
      .as[(String, Long, Long)].collect()
      .find(_._1 == "commit_key_unique").get._3 === 1L)

    // drift in the new checkpoint is delta scope: one payload flipped
    spark.read.parquet(s"$path/checkpoint/v=3")
      .withColumn("val", when(col("k") === 2L, lit("WRONG")).otherwise(col("val")))
      .write.mode("overwrite").parquet(s"$path/checkpoint/v=3_bad")
    graft.FsOps.atomicSwap(fs, new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=3"),
      new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=3_bad"))
    assert(report()("delta_checkpoint_matches_log")._2 === 1L)
    VersionedStore.repairCheckpoint(spark, path, Seq("k"))
    assert(report()("delta_checkpoint_matches_log") === ((4L, 0L)))

    // once the delta passes, markAudited (default: newest commit)
    // advances the watermark and the next daily audit starts empty —
    // including the v3 checkpoint, now vouched and not re-derived
    VersionedStore.markAudited(spark, path)
    assert(VersionedStore.lastAudited(spark, path) === Some(3L))
    val advanced = report()
    assert(advanced.values.forall(v => v._1 == 0L && v._2 == 0L),
      s"post-vouch audit should be empty: $advanced")
  }

  test("a checkpoint materialized at an OLD version after the audit is still in incremental scope") {
    val path = QueryGroup.scratchDir("graft-vstoreoldckpt")
    VersionedStore.commit(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (3L, "c2", "u")))
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    VersionedStore.markAudited(spark, path) // vouches v1–v2 and ckpt {2}
    // an operator later materializes v1 — an OLD version, but NEW
    // derived state no audit has seen; a version>since heuristic would
    // skip it forever
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    spark.read.parquet(s"$path/checkpoint/v=1").filter($"k" =!= 2L)
      .write.mode("overwrite").parquet(s"$path/checkpoint/v=1_bad")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.FsOps.atomicSwap(fs, new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=1"),
      new org.apache.hadoop.fs.Path(s"$path/checkpoint/v=1_bad"))
    val rep = VersionedStore.checkStoreIncremental(spark, path, Seq("k"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep("delta_checkpoint_matches_log")._2 === 1L,
      s"post-audit old-version checkpoint must be audited: $rep")
    VersionedStore.repairCheckpoint(spark, path, Seq("k"), version = Some(1L))
    assert(VersionedStore.checkStoreIncremental(spark, path, Seq("k"))
      .as[(String, Long, Long)].collect()
      .find(_._1 == "delta_checkpoint_matches_log").get._3 === 0L)
  }

  test("checkStoreIncremental on a never-audited store IS the deep audit; markAudited refuses empty stores") {
    val path = QueryGroup.scratchDir("graft-vstoreincrfull")
    intercept[IllegalStateException] {
      VersionedStore.markAudited(spark, path)
    }
    VersionedStore.commit(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (1L, "a1", "d")))
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    val rep = VersionedStore.checkStoreIncremental(spark, path, Seq("k"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep("delta_commit_key_unique")._1 === 4L) // every commit in scope
    assert(rep("delta_log_contiguous")._1 === 2L)
    assert(rep("delta_checkpoint_matches_log")._1 === 1L) // v2 live: key 2
    assert(rep.values.forall(_._2 == 0L))
  }

  test("purgeKeys erases a key from all history; historyServes is the audit") {
    val path = QueryGroup.scratchDir("graft-vstorepurge")
    VersionedStore.commit(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u"),
      (3L, "c1", "u")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (3L, "c1", "d")))
    // detect: key 2 lives in log v1, checkpoint v1, log v2
    val before = VersionedStore.historyServes(spark, path, Seq("k"),
        Seq(2L).toDF("k")).as[(String, Long, Long)].collect().toSet
    assert(before === Set(("checkpoint", 1L, 1L), ("log", 1L, 1L), ("log", 2L, 1L)))
    val stats = VersionedStore.purgeKeys(spark, path, Seq("k"), Seq(2L).toDF("k"))
    assert(stats.logsRewritten === Seq(1L, 2L))
    assert(stats.checkpointsRewritten === Seq(1L))
    assert(VersionedStore.historyServes(spark, path, Seq("k"),
      Seq(2L).toDF("k")).isEmpty)
    // every AS OF read answers like a history that never held key 2 —
    // including through the purged checkpoint
    assert(VersionedStore.snapshotAt(spark, path, 1L, Seq("k"))
      .select("k").as[Long].collect().toSet === Set(1L, 3L))
    assert(VersionedStore.snapshotAt(spark, path, 2L, Seq("k"))
      .select("k").as[Long].collect().toSet === Set(1L))
    // untouched keys keep their full lineage (key 3's tombstone too)
    assert(VersionedStore.historyKeys(spark, path, Seq("k"))
      .as[Long].collect().toSet === Set(1L, 3L))
    // idempotent re-run: the probe finds nothing, no directory rewrites
    val again = VersionedStore.purgeKeys(spark, path, Seq("k"), Seq(2L).toDF("k"))
    assert(again.logsRewritten.isEmpty && again.checkpointsRewritten.isEmpty)
    // fsck still green after the history rewrite
    assert(VersionedStore.checkStore(spark, path, Seq("k"))
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  test("markAudited defaults work on a checkpoint-only store (full vacuum)") {
    // ADVICE r13: vacuum(retain=newest) can drop the ENTIRE log, leaving
    // a healthy store whose only committed state is its checkpoint —
    // hasCommits/newestVersion treat it as committed, so the default
    // mark-audited (a routine maintenance step right after a deep audit)
    // must too, instead of throwing 'no commits'
    val path = QueryGroup.scratchDir("graft-vstore-audit-ckptonly")
    VersionedStore.commit(spark, path, ch((1L, "a1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u")))
    VersionedStore.checkpoint(spark, path, 2L, Seq("k"))
    VersionedStore.vacuum(spark, path, retain = 2L)
    assert(VersionedStore.versions(spark, path).isEmpty,
      "precondition: the whole log is vacuumed away")
    assert(VersionedStore.hasCommits(spark, path))
    VersionedStore.markAudited(spark, path)
    assert(VersionedStore.lastAudited(spark, path) === Some(2L),
      "default upTo must fall back to the newest checkpoint")
    // the vouched state keeps the incremental audit green (no new state)
    assert(VersionedStore.checkStoreIncremental(spark, path, Seq("k"))
      .agg(coalesce(sum($"violations"), lit(0L))).as[Long].collect().head === 0L)
  }

  test("a corrupt _audited_ckpts marker raises FsOps' named corrupt-marker error") {
    val path = QueryGroup.scratchDir("graft-vs-ckmarker")
    VersionedStore.commit(spark, path, ch((1L, "a", "u"), (2L, "b", "u")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.markAudited(spark, path)
    FsOps.writeMarker(spark, path, "_audited_ckpts", "3,x")
    val e = intercept[IllegalStateException](
      VersionedStore.checkStoreIncremental(spark, path, Seq("k")).collect())
    assert(e.getMessage.contains(
      s"corrupt marker $path/_audited_ckpts: '3,x' holds a non-number"), e.getMessage)
  }
}
