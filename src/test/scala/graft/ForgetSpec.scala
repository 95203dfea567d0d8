package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.DedupStore
import graft.index.Indexer
import graft.operators.Frames
import graft.pipeline.Forget
import graft.similarity.IvfStore

/** The cross-store takedown cascade (graft.pipeline.Forget): write-ahead
  * manifest, per-family idempotent applies, crash-window resume, the
  * cross-store audit, and physical purge. */
class ForgetSpec extends SparkSpec {
  import spark.implicits._

  private val docsFx = Seq(
    (0L, "alpha bravo charlie delta echo foxtrot golf hotel"),
    (1L, "india juliet kilo lima mike november oscar papa"),
    (2L, "quebec romeo sierra tango uniform victor whiskey xray"),
    (3L, "yankee zulu apple banana cherry date elder fig"),
    (4L, "grape honey iris jade kiwi lemon mango nectar"),
    (5L, "olive peach quince rose sage thyme umber violet"),
    (6L, "walnut xenia yarrow zest amber birch cedar dune"),
    (7L, "ember flint gorse heath ivy juniper kelp larch"))

  private def vecsFx = docsFx.map { case (id, _) =>
    (id, Array(id.toFloat / 8f + 0.1f, 1f - id.toFloat / 8f)) }

  /** Build all three family stores at a fresh root. */
  private def buildRoot(): String = {
    val root = Files.createTempDirectory("forgetspec").toString
    val d = docsFx.toDF("doc_id", "text")
    Indexer.writeIndex(Indexer.buildIndex(d), s"$root/index")
    DedupStore.writeSignatures(d, s"$root/dedup")
    IvfStore.writeIndex(vecsFx.toDF("vec_id", "embedding"), s"$root/ivf",
      nCentroids = 2, kmeansIters = 0)
    root
  }

  private def liveIndexIds(root: String): Set[Long] =
    Indexer.readIndexLive(spark, s"$root/index").docStats
      .select("doc_id").as[Long].collect().toSet
  private def liveDedupIds(root: String): Set[Long] =
    spark.read.parquet(
        graft.dedup.DedupStore.tablePath(spark, s"$root/dedup", "sets"))
      .select("doc_id").as[Long].collect().toSet
  private def liveIvfIds(root: String): Set[Long] =
    IvfStore.liveVectorIds(spark, s"$root/ivf")
      .as[Long].collect().toSet

  private def reportMap(df: DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap

  private def fsAt(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("forget cascades across all three families; audit certifies the outcome") {
    val root = buildRoot()
    val n = Forget.forget(spark, root, Seq(2L, 5L).toDF("doc_id"))
    assert(n === 0L)
    val survivors = Set(0L, 1L, 3L, 4L, 6L, 7L)
    assert(liveIndexIds(root) === survivors)
    assert(liveDedupIds(root) === survivors)
    assert(liveIvfIds(root) === survivors)
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forget_manifests_complete") === (1L, 0L))
    for (f <- Seq("index", "dedup", "ivf"))
      assert(rep(s"forgotten_absent_$f") === (2L, 0L), f)
    for (p <- Seq("index_dedup", "index_ivf", "dedup_ivf"))
      assert(rep(s"id_surface_$p") === (6L, 0L), p)
    // no vstore at this root: stable-schema rows, checked 0
    assert(rep("forgotten_absent_vstore") === (0L, 0L))
    assert(rep("id_surface_index_vstore") === (0L, 0L))
    // and the whole report has zero violations
    assert(rep.values.forall(_._2 === 0L))
    assert(rep.size === 12, "stable report schema")
  }

  test("forget cascades through a frame-installed ivf store (recluster/expunge bumps)") {
    // the frame install relocates the ivf tables to generation dirs
    // under tables/ — family detection, the cascade's delete verb,
    // purge's expunge and the audit's id surface must all resolve the
    // pointer
    val root = buildRoot()
    IvfStore.reclusterStore(spark, s"$root/ivf", nCentroids = 2, kmeansIters = 0)
    assert(Frames.currentVersion(spark, s"$root/ivf") === Some(0L))
    val v0Lists = Frames.resolve(spark, s"$root/ivf", "lists")
    assert(v0Lists.startsWith(s"$root/ivf/tables/lists/g="))
    assert(Forget.familiesAt(spark, root).contains("ivf"),
      "family detection must resolve the frame pointer")
    val n = Forget.forget(spark, root, Seq(2L).toDF("doc_id"), purge = true)
    assert(n === 0L)
    // purge ran expungeDeletes -> a SECOND frame bump; v=0 stays as the
    // readers' grace window (retain=1) until the next install or gc 0
    assert(Frames.currentVersion(spark, s"$root/ivf") === Some(1L))
    assert(fsAt(root).exists(new Path(s"$root/ivf/frames/v=0")) &&
      fsAt(root).exists(new Path(v0Lists)),
      "the superseded frame is retained for one install")
    Frames.gc(spark, s"$root/ivf", IvfStore.Tables, retain = 0)
    assert(!fsAt(root).exists(new Path(s"$root/ivf/frames/v=0")) &&
      !fsAt(root).exists(new Path(v0Lists)))
    assert(liveIvfIds(root) === Set(0L, 1L, 3L, 4L, 5L, 6L, 7L))
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forgotten_absent_ivf") === (1L, 0L))
    assert(rep.values.forall(_._2 === 0L), rep.toString)
    // a further takedown over the twice-bumped store still cascades
    Forget.forget(spark, root, Seq(5L).toDF("doc_id"))
    assert(liveIvfIds(root) === Set(0L, 1L, 3L, 4L, 6L, 7L))
  }

  test("vstore family: forget purges history; the audit checks every version") {
    import graft.streaming.VersionedStore
    val root = buildRoot()
    // a doc_id-keyed versioned metadata store beside the serving stores:
    // v1 inserts everything, v2 tombstones doc 5 — doc 3 lives in BOTH
    // versions, doc 5 only in history
    val meta = docsFx.toDF("doc_id", "text")
      .select($"doc_id", length($"text").as("n_chars"))
    VersionedStore.commit(spark, s"$root/vstore",
      meta.withColumn("_op", lit("u")))
    VersionedStore.checkpoint(spark, s"$root/vstore", 1L, Seq("doc_id"))
    VersionedStore.commit(spark, s"$root/vstore",
      meta.filter($"doc_id" === 5L).withColumn("_op", lit("d")))
    assert(Forget.familiesAt(spark, root) ===
      Seq("index", "dedup", "ivf", "vstore"))
    Forget.forget(spark, root, Seq(3L).toDF("doc_id"))
    // no trace of doc 3 anywhere in history — log v1, checkpoint v1
    assert(VersionedStore.historyServes(spark, s"$root/vstore",
      Seq("doc_id"), Seq(3L).toDF("doc_id")).isEmpty)
    // the newest snapshot lost it too
    assert(VersionedStore.snapshotAt(spark, s"$root/vstore", 2L, Seq("doc_id"))
      .filter($"doc_id" === 3L).isEmpty)
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forgotten_absent_vstore") === (1L, 0L))
    // live vstore surface (newest snapshot) = all minus tombstoned 5
    // minus forgotten 3; the other stores only lost 3 — the audit makes
    // that drift VISIBLE on every vstore pair (one violation: doc 5)
    for (p <- Seq("id_surface_index_vstore", "id_surface_dedup_vstore",
        "id_surface_ivf_vstore"))
      assert(rep(p) === (7L, 1L), p)
    // ...and repairing it through the cascade clears the audit
    Forget.forget(spark, root, Seq(5L).toDF("doc_id"))
    val rep2 = reportMap(Forget.checkPipeline(spark, root))
    assert(rep2.values.forall(_._2 === 0L))
    assert(rep2("forgotten_absent_vstore") === (2L, 0L))
  }

  test("crash after intent: audit flags the pending manifest, resume completes it") {
    val root = buildRoot()
    // reproduce forget's crash window exactly: ids durable, intent
    // durable, NO family ever applied, no terminal marker
    val dir = s"$root/_forget/m=0"
    Seq(1L, 4L).toDF("doc_id").write.parquet(s"$dir/ids")
    FsOps.writeMarker(spark, dir, "_intent", "index,dedup,ivf")
    val det = reportMap(Forget.checkPipeline(spark, root))
    assert(det("forget_manifests_complete") === (1L, 1L),
      "intent-durable cascade-unfinished manifest must read as pending")
    // a pending manifest's ids are expected to still serve — they must
    // NOT count against the forgotten-absent invariants
    for (f <- Forget.Families) assert(det(s"forgotten_absent_$f") === (0L, 0L), f)
    assert(Forget.pendingManifests(spark, root) === Seq(0L))
    assert(Forget.resume(spark, root) === Seq(0L))
    val survivors = Set(0L, 2L, 3L, 5L, 6L, 7L)
    assert(liveIndexIds(root) === survivors)
    assert(liveDedupIds(root) === survivors)
    assert(liveIvfIds(root) === survivors)
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forget_manifests_complete") === (1L, 0L))
    assert(rep.values.forall(_._2 === 0L))
    assert(Forget.resume(spark, root) === Seq.empty, "resume is idempotent")
  }

  test("crash mid-cascade: done families are skipped, the rest re-apply") {
    val root = buildRoot()
    val dir = s"$root/_forget/m=0"
    Seq(3L).toDF("doc_id").write.parquet(s"$dir/ids")
    FsOps.writeMarker(spark, dir, "_intent", "index,dedup,ivf")
    // the index family applied and marked done; the crash hit before dedup
    Indexer.deleteDocs(spark, s"$root/index", Seq(3L).toDF("doc_id"))
    fsAt(root).create(new Path(s"$dir/_done_index"), true).close()
    assert(Forget.resume(spark, root) === Seq(0L))
    val survivors = docsFx.map(_._1).toSet - 3L
    assert(liveIndexIds(root) === survivors)
    assert(liveDedupIds(root) === survivors)
    assert(liveIvfIds(root) === survivors)
    assert(reportMap(Forget.checkPipeline(spark, root))
      .values.forall(_._2 === 0L))
  }

  test("ordinals allocate past intent-less debris; manifests accumulate") {
    val root = buildRoot()
    assert(Forget.forget(spark, root, Seq(0L).toDF("doc_id")) === 0L)
    // a crashed forget's invisible debris: dir exists, intent never landed
    fsAt(root).mkdirs(new Path(s"$root/_forget/m=7"))
    assert(Forget.forget(spark, root, Seq(1L).toDF("doc_id")) === 8L,
      "the allocator must never reuse a half-written ordinal")
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forget_manifests_complete") === (2L, 0L),
      "intent-less debris is not a visible manifest")
    // forgotten ids accumulate across manifests (vstore absent here)
    for (f <- Seq("index", "dedup", "ivf"))
      assert(rep(s"forgotten_absent_$f") === (2L, 0L), f)
  }

  test("purge=true runs the physical expunge verbs after the cascade") {
    val root = buildRoot()
    Forget.forget(spark, root, Seq(6L).toDF("doc_id"), purge = true)
    val fs = fsAt(root)
    assert(!fs.exists(new Path(s"$root/index/deletes")),
      "index tombstones must be physically expunged")
    // the ivf expunge installs a frame: the CURRENT frame carries no
    // tombstone table (the retained legacy frame's copy is the readers'
    // grace window, swept by the next install or `Maintain ivf gc 0`)
    assert(!fs.exists(new Path(Frames.resolve(spark, s"$root/ivf", "deletes"))),
      "ivf tombstones must be physically expunged")
    val survivors = docsFx.map(_._1).toSet - 6L
    assert(liveIndexIds(root) === survivors)
    assert(liveIvfIds(root) === survivors)
    assert(reportMap(Forget.checkPipeline(spark, root))
      .values.forall(_._2 === 0L))
  }

  test("forgetAt replays idempotently; the streamed takedown queue maps drops to manifests") {
    import graft.streaming.StreamRuntime
    val root = buildRoot()
    Forget.forgetAt(spark, root, Seq(0L).toDF("doc_id"), 0L)
    // engine replay of a COMPLETE manifest: a no-op, no duplicate
    Forget.forgetAt(spark, root, Seq(0L).toDF("doc_id"), 0L)
    assert(reportMap(Forget.checkPipeline(spark, root))
      ("forget_manifests_complete") === (1L, 0L))
    // two takedown drops through the real micro-batch runtime: one
    // manifest each, base allocated past the batch-mode manifest
    val src = s"$root/takedowns"
    StreamRuntime.stageDrops(spark,
      Seq(Seq(2L).toDF("doc_id"), Seq(5L).toDF("doc_id")), src)
    StreamRuntime.runForgetQueue(spark, src, root)
    val survivors = docsFx.map(_._1).toSet -- Set(0L, 2L, 5L)
    assert(liveIndexIds(root) === survivors)
    assert(liveDedupIds(root) === survivors)
    assert(liveIvfIds(root) === survivors)
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forget_manifests_complete") === (3L, 0L))
    for (f <- Seq("index", "dedup", "ivf"))
      assert(rep(s"forgotten_absent_$f") === (3L, 0L), f)
    // a RESTARTED queue on a fresh checkpoint re-streams the same files
    // onto new ordinals: effect idempotent (every delete verb is), the
    // extra manifests stay audit-visible, the audit stays clean
    StreamRuntime.runForgetQueue(spark, src, root)
    val rep2 = reportMap(Forget.checkPipeline(spark, root))
    assert(rep2("forget_manifests_complete") === (5L, 0L))
    assert(rep2.values.forall(_._2 === 0L))
  }

  test("retentionSweep forgets the expired metadata band; an idle re-sweep selects nothing") {
    import graft.streaming.VersionedStore
    val root = buildRoot()
    // per-doc ingest dates in the versioned metadata: day offset = doc_id
    VersionedStore.commit(spark, s"$root/vstore", docsFx.toDF("doc_id", "text")
      .select($"doc_id",
        date_add(to_date(lit("2024-01-01")), $"doc_id".cast("int")).as("ingest_day"),
        lit("u").as("_op")))
    // horizon at day 2: docs 0 and 1 expire
    assert(Forget.retentionSweep(spark, root,
      "ingest_day < DATE'2024-01-03'") === Some(0L))
    val survivors = docsFx.map(_._1).toSet -- Set(0L, 1L)
    assert(liveIndexIds(root) === survivors)
    assert(liveDedupIds(root) === survivors)
    assert(liveIvfIds(root) === survivors)
    // the expiry metadata itself was purged from ALL history
    assert(VersionedStore.historyServes(spark, s"$root/vstore", Seq("doc_id"),
      Seq(0L, 1L).toDF("doc_id")).isEmpty)
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forgotten_absent_vstore") === (2L, 0L))
    assert(rep.values.forall(_._2 === 0L))
    // idle tick: nothing matches, no manifest allocated
    assert(Forget.retentionSweep(spark, root,
      "ingest_day < DATE'2024-01-03'") === None)
    assert(reportMap(Forget.checkPipeline(spark, root))
      ("forget_manifests_complete") === (1L, 0L))
    // a root without the metadata family fails loudly
    val bare = Files.createTempDirectory("forgetnomd").toString
    Indexer.writeIndex(Indexer.buildIndex(docsFx.toDF("doc_id", "text")),
      s"$bare/index")
    val e = intercept[IllegalArgumentException](
      Forget.retentionSweep(spark, bare, "true"))
    assert(e.getMessage.contains("vstore"), e.getMessage)
  }

  test("positional serve surface audits independently: a botched expunge can't pass") {
    // VERDICT r13 #6: the positional table is the index family's second
    // physical serve surface. A positional rewrite that lost the
    // forgotten doc's rows-vs-mask race must flag even while doc_stats
    // reads clean (the doc_stats-only audit would certify the store).
    val root = buildRoot()
    Indexer.writePositional(docsFx.toDF("doc_id", "text"), s"$root/index")
    Forget.forget(spark, root, Seq(3L).toDF("doc_id"))
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forgotten_absent_index_positional") === (1L, 0L))
    assert(rep.values.forall(_._2 === 0L))
    // forge the botched rewrite: stash the pre-expunge positional table,
    // run the real expunge (doc_stats/postings/positional clean,
    // tombstones dropped), then restore the stale positional dir — the
    // forgotten doc's positions are physically serving, mask gone
    val fs = fsAt(root)
    val pos = new Path(s"$root/index/positional")
    val aside = new Path(s"$root/index/positional_stale")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, pos, fs, aside, false,
      spark.sparkContext.hadoopConfiguration))
    Indexer.expungeDeletes(spark, s"$root/index")
    fs.delete(pos, true)
    assert(fs.rename(aside, pos))
    val rep2 = reportMap(Forget.checkPipeline(spark, root))
    assert(rep2("forgotten_absent_index_positional") === (1L, 1L),
      "the stale positional rows must flag")
    assert(rep2("forgotten_absent_index") === (1L, 0L),
      "doc_stats reads clean — exactly the shape the old audit certified")
    // repair: re-tombstone the id by hand (it is gone from doc_stats, so
    // deleteDocs' derived decrement is rightly a no-op — the manual
    // tombstone is the remediation for orphaned positional rows) and
    // re-run the expunge-class rewrite; the re-check certifies
    Seq(3L).toDF("doc_id").write.mode("append")
      .parquet(s"$root/index/deletes")
    Indexer.expungeDeletes(spark, s"$root/index")
    val rep3 = reportMap(Forget.checkPipeline(spark, root))
    assert(rep3("forgotten_absent_index_positional") === (1L, 0L))
    assert(rep3.values.forall(_._2 === 0L))
  }

  test("absent families report checked=0 rows, never drop from the schema") {
    val root = Files.createTempDirectory("forgetpartial").toString
    val d = docsFx.toDF("doc_id", "text")
    Indexer.writeIndex(Indexer.buildIndex(d), s"$root/index")
    DedupStore.writeSignatures(d, s"$root/dedup")
    assert(Forget.familiesAt(spark, root) === Seq("index", "dedup"))
    Forget.forget(spark, root, Seq(7L).toDF("doc_id"))
    val rep = reportMap(Forget.checkPipeline(spark, root))
    assert(rep("forgotten_absent_ivf") === (0L, 0L))
    assert(rep("forgotten_absent_vstore") === (0L, 0L))
    assert(rep("id_surface_index_ivf") === (0L, 0L))
    assert(rep("id_surface_dedup_ivf") === (0L, 0L))
    assert(rep("id_surface_ivf_vstore") === (0L, 0L))
    assert(rep("forgotten_absent_index") === (1L, 0L))
    assert(rep("id_surface_index_dedup") === (7L, 0L))
    assert(rep.size === 12, "stable report schema")
  }
}
