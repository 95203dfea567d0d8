package graft

import org.apache.spark.sql.functions._

import graft.queries.QueryGroup

/** Smoke spec for the maintenance CLI dispatcher ([[Maintain.run]]):
  * every (family, op) route reaches the store primitive it names —
  * fsck routes return the family's all-zero report on a healthy store,
  * repair/compact routes run to completion, unknown routes fail loudly.
  * The primitives themselves are covered by their own suites and the
  * four composed repair gate entries. */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  private def violations(report: Option[org.apache.spark.sql.DataFrame]): Long =
    report.get.agg(sum($"violations")).as[Long].collect().head

  test("index family: fsck / fsck-incr / mark-audited / repair / expunge dispatch") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "gamma delta epsilon")).toDF("doc_id", "text")
    val path = QueryGroup.scratchDir("graft-maint-ix")
    index.Indexer.writeIndex(index.Indexer.buildIndex(corpus), path, nBuckets = 4)
    assert(violations(Maintain.run(spark, "index", "fsck", path)) === 0L)
    assert(Maintain.run(spark, "index", "mark-audited", path).isEmpty)
    val incr = Maintain.run(spark, "index", "fsck-incr", path)
    assert(violations(incr) === 0L)
    assert(Maintain.run(spark, "index", "repair", path).isEmpty)
    index.Indexer.deleteDocs(spark, path, Seq(2L).toDF("doc_id"))
    assert(Maintain.run(spark, "index", "expunge", path).isEmpty)
    assert(violations(Maintain.run(spark, "index", "fsck", path)) === 0L)
  }

  test("index advise: fragmentation flags, apply compacts and re-advises clean") {
    // VERDICT r18 #6 — the advise/apply cron contract extended to the
    // index family: a streaming-shaped store (one file set per append)
    // trips the per-leaf file budget; apply runs the SAME compact verb
    // an operator would, and the post-heal advice is green
    val docs = (1L to 12L).map(i => (i, s"alpha beta term$i gamma"))
      .toDF("doc_id", "text")
    val path = QueryGroup.scratchDir("graft-maint-ixadv")
    index.Indexer.writeIndex(
      index.Indexer.buildIndex(docs.filter($"doc_id" <= 4)), path, nBuckets = 2)
    index.Indexer.appendIndex(spark, path,
      docs.filter($"doc_id" > 4 && $"doc_id" <= 8), nBuckets = 2)
    index.Indexer.appendIndex(spark, path,
      docs.filter($"doc_id" > 8), nBuckets = 2)
    val advice = Maintain.run(spark, "index", "advise", path, Seq("1")).get
      .collect()(0)
    assert(advice.getAs[Long]("violations") === 1L,
      s"three appends at budget 1 file/leaf must recommend compaction: $advice")
    assert(advice.getAs[String]("reason").contains("compact"))
    // apply: compacts, then the re-advice is the returned (green) report
    assert(violations(Maintain.run(spark, "index", "advise", path,
      Seq("1", "apply"))) === 0L)
    assert(violations(Maintain.run(spark, "index", "fsck", path)) === 0L)
  }

  test("dedup advise: hot-bucket skew flags, apply self-dedups and re-advises clean") {
    // a store holding undetected duplicate mass (writeSignatures never
    // self-dedups) concentrates whole bucket groups on one content —
    // the advisor prices the quadratic ingest cost, apply removes the
    // duplicates (manifest-frame removeDocs) keeping the min-id survivor
    val dup = (1L to 8L).map(i => (i, "a b c d e f g h i j"))
    val distinct = Seq((100L, "q r s t u v w x y z"))
    val path = QueryGroup.scratchDir("graft-maint-ddadv")
    dedup.DedupStore.writeSignatures((dup ++ distinct).toDF("doc_id", "text"), path)
    val advice = Maintain.run(spark, "dedup", "advise", path, Seq("4")).get
      .collect()(0)
    assert(advice.getAs[Long]("violations") > 0L,
      s"8 identical docs at budget 4 must flag hot buckets: $advice")
    assert(advice.getAs[Long]("worst_bucket_docs") === 8L)
    // apply: the 7 non-survivors are removed, the re-advice is green
    assert(violations(Maintain.run(spark, "dedup", "advise", path,
      Seq("4", "0.8", "apply"))) === 0L)
    val kept = spark.read.parquet(
        dedup.DedupStore.tablePath(spark, path, "sets"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 100L), s"min-id survivor + the distinct doc: $kept")
    // future near-dups of the removed docs still flag against the survivor
    val r = dedup.DedupStore.ingest(spark, path,
        Seq((200L, "a b c d e f g h i j")).toDF("doc_id", "text"), 0.8)
      .as[(Long, Long, Double)].collect()
    assert(r.map(_._2).toSet === Set(1L))
    assert(violations(Maintain.run(spark, "dedup", "fsck", path)) === 0L)
  }

  test("ivf family: fsck / repair / expunge / compact dispatch") {
    val e = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val path = QueryGroup.scratchDir("graft-maint-ivf")
    similarity.IvfStore.writeIndex(e, path, nCentroids = 2, kmeansIters = 0)
    assert(violations(Maintain.run(spark, "ivf", "fsck", path)) === 0L)
    assert(Maintain.run(spark, "ivf", "repair", path).isEmpty)
    similarity.IvfStore.deleteVectors(spark, path, Seq(3L).toDF("vec_id"))
    assert(Maintain.run(spark, "ivf", "expunge", path).isEmpty)
    assert(Maintain.run(spark, "ivf", "compact", path).isEmpty)
    assert(violations(Maintain.run(spark, "ivf", "fsck", path)) === 0L)
    // advisor dispatch: a fresh (never-merged) store is trivially green,
    // and a malformed threshold fails with the usage message
    assert(violations(Maintain.run(spark, "ivf", "advise", path)) === 0L)
    // apply mode on a green store is a no-op: no recluster, frame intact
    val frameBefore = operators.Frames.currentVersion(spark, path)
    assert(violations(Maintain.run(spark, "ivf", "advise", path,
      Seq("apply"))) === 0L)
    assert(operators.Frames.currentVersion(spark, path) === frameBefore,
      "a not-due apply must not recluster")
    val eAdv = intercept[IllegalArgumentException](
      Maintain.run(spark, "ivf", "advise", path, Seq("x")))
    assert(eAdv.getMessage.contains("advise"), eAdv.getMessage)
    // recluster takes optional [nCentroids] [iters] [sampleMod] args
    assert(Maintain.run(spark, "ivf", "recluster", path, Seq("2", "0")).isEmpty)
    assert(spark.read.parquet(
      operators.Frames.resolve(spark, path, "centroids")).count() === 2L)
    assert(violations(Maintain.run(spark, "ivf", "fsck", path)) === 0L)
    val e1 = intercept[IllegalArgumentException](
      Maintain.run(spark, "ivf", "recluster", path, Seq("x")))
    assert(e1.getMessage.contains("recluster"), e1.getMessage)
    // the one frame-retention verb: `gc 0` reclaims the superseded
    // grace-window frame immediately; a malformed retain fails with the
    // family's usage, and a family without frames has no gc verb
    val cur = operators.Frames.currentVersion(spark, path).get
    val grace = new java.io.File(s"$path/frames/v=${cur - 1}")
    assert(grace.exists, "installs keep one superseded frame")
    assert(Maintain.run(spark, "ivf", "gc", path, Seq("0")).isEmpty)
    assert(!grace.exists, "gc 0 reclaims it")
    assert(violations(Maintain.run(spark, "ivf", "fsck", path)) === 0L)
    val eGc = intercept[IllegalArgumentException](
      Maintain.run(spark, "ivf", "gc", path, Seq("-1")))
    assert(eGc.getMessage.contains("ivf gc <path> [retain >= 0, default 1]"),
      eGc.getMessage)
    val eNoGc = intercept[IllegalArgumentException](
      Maintain.run(spark, "vstore", "gc", path))
    assert(eNoGc.getMessage.contains("unknown maintenance op"), eNoGc.getMessage)
  }

  test("dedup family: fsck / repair / compact dispatch") {
    val corpus = Seq((1L, "a b c d e f"), (2L, "u v w x y z")).toDF("doc_id", "text")
    val path = QueryGroup.scratchDir("graft-maint-dd")
    dedup.DedupStore.writeSignatures(corpus, path)
    dedup.DedupStore.ingest(spark, path,
      Seq((3L, "h i j k l m")).toDF("doc_id", "text"), 0.5)
    assert(violations(Maintain.run(spark, "dedup", "fsck", path)) === 0L)
    assert(Maintain.run(spark, "dedup", "repair", path).isEmpty)
    val before = spark.read.parquet(s"$path/sets").count()
    assert(Maintain.run(spark, "dedup", "compact", path).isEmpty)
    assert(spark.read.parquet(s"$path/sets").count() === before)
    assert(violations(Maintain.run(spark, "dedup", "fsck", path)) === 0L)
  }

  test("vstore family: fsck / fsck-incr / mark-audited / repair dispatch with key columns") {
    val path = QueryGroup.scratchDir("graft-maint-vs")
    streaming.VersionedStore.commit(spark, path,
      Seq((1L, "a", "u"), (2L, "b", "u")).toDF("k", "v", "_op"))
    streaming.VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    assert(violations(Maintain.run(spark, "vstore", "fsck", path, Seq("k"))) === 0L)
    assert(violations(Maintain.run(spark, "vstore", "fsck-incr", path, Seq("k"))) === 0L)
    assert(Maintain.run(spark, "vstore", "mark-audited", path).isEmpty)
    assert(streaming.VersionedStore.lastAudited(spark, path) === Some(1L))
    assert(Maintain.run(spark, "vstore", "repair", path, Seq("k")).isEmpty)
    assert(violations(Maintain.run(spark, "vstore", "fsck", path, Seq("k"))) === 0L)
    // lifecycle verbs: checkpoint <version> <keys...>, vacuum <retain>
    streaming.VersionedStore.commit(spark, path,
      Seq((1L, "a2", "u")).toDF("k", "v", "_op"))
    assert(Maintain.run(spark, "vstore", "checkpoint", path, Seq("2", "k")).isEmpty)
    assert(Maintain.run(spark, "vstore", "vacuum", path, Seq("2")).isEmpty)
    assert(streaming.VersionedStore.snapshotAt(spark, path, 2L, Seq("k"))
      .count() === 2L)
    assert(violations(Maintain.run(spark, "vstore", "fsck", path, Seq("k"))) === 0L)
    // purge <idsParquet> <keys...>: key 2 leaves all surviving history
    val idsDir = QueryGroup.scratchDir("graft-maint-vsids")
    Seq(2L).toDF("k").write.mode("overwrite").parquet(s"$idsDir/ids")
    assert(Maintain.run(spark, "vstore", "purge", path,
      Seq(s"$idsDir/ids", "k")).isEmpty)
    assert(streaming.VersionedStore.historyServes(spark, path, Seq("k"),
      Seq(2L).toDF("k")).isEmpty)
    assert(violations(Maintain.run(spark, "vstore", "fsck", path, Seq("k"))) === 0L)
    // missing keys fail loudly, not with a confusing downstream error
    val e = intercept[IllegalArgumentException](
      Maintain.run(spark, "vstore", "fsck", path))
    assert(e.getMessage.contains("key column"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Maintain.run(spark, "vstore", "checkpoint", path, Seq("2")))
    assert(e2.getMessage.contains("checkpoint"), e2.getMessage)
  }

  test("vstore advise: replay depth flags, apply checkpoints at the newest version and re-advises clean") {
    // the vstore face of the advise/apply loop: a streaming-shaped log
    // (many commits, stale checkpoint base) trips the replay budget;
    // apply materializes the checkpoint an operator would, bounding
    // future reads WITHOUT destroying time travel (vacuum stays a
    // separate, deliberate retention verb)
    val path = QueryGroup.scratchDir("graft-maint-vsadv")
    for (i <- 1 to 5)
      streaming.VersionedStore.commit(spark, path,
        Seq((i.toLong, s"v$i", "u")).toDF("k", "v", "_op"))
    val advice = Maintain.run(spark, "vstore", "advise", path, Seq("2")).get
      .collect()(0)
    assert(advice.getAs[Long]("violations") === 1L,
      s"5 commits with no checkpoint at budget 2 must flag: $advice")
    assert(advice.getAs[Long]("replay_depth") === 5L)
    assert(advice.getAs[String]("reason").contains("checkpoint"))
    // apply: checkpoint lands at the newest version, re-advice is green
    assert(violations(Maintain.run(spark, "vstore", "advise", path,
      Seq("2", "apply", "k"))) === 0L)
    assert(streaming.VersionedStore.snapshotAt(spark, path, 5L, Seq("k"))
      .count() === 5L)
    assert(violations(Maintain.run(spark, "vstore", "fsck", path, Seq("k"))) === 0L)
    // the budget holds going forward: two more commits stay under it,
    // a third trips it again against the new base
    for (i <- 6 to 7)
      streaming.VersionedStore.commit(spark, path,
        Seq((i.toLong, s"v$i", "u")).toDF("k", "v", "_op"))
    assert(violations(Maintain.run(spark, "vstore", "advise", path, Seq("2"))) === 0L)
    streaming.VersionedStore.commit(spark, path,
      Seq((8L, "v8", "u")).toDF("k", "v", "_op"))
    assert(violations(Maintain.run(spark, "vstore", "advise", path, Seq("2"))) === 1L)
    // apply without keys fails loudly
    val e = intercept[IllegalArgumentException](
      Maintain.run(spark, "vstore", "advise", path, Seq("2", "apply")))
    assert(e.getMessage.contains("key column"), e.getMessage)
  }

  test("pipeline family: fsck / forget / resume dispatch at a pipeline root") {
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta epsilon"),
      (3L, "gamma delta epsilon zeta")).toDF("doc_id", "text")
    val root = QueryGroup.scratchDir("graft-maint-pipe")
    index.Indexer.writeIndex(index.Indexer.buildIndex(corpus), s"$root/index",
      nBuckets = 4)
    dedup.DedupStore.writeSignatures(corpus, s"$root/dedup")
    assert(violations(Maintain.run(spark, "pipeline", "fsck", root)) === 0L)
    val idsPath = QueryGroup.scratchDir("graft-maint-pipeids")
    Seq(2L).toDF("doc_id").write.mode("overwrite").parquet(s"$idsPath/ids")
    assert(Maintain.run(spark, "pipeline", "forget", root,
      Seq(s"$idsPath/ids")).isEmpty)
    assert(violations(Maintain.run(spark, "pipeline", "fsck", root)) === 0L)
    assert(index.Indexer.readIndexLive(spark, s"$root/index").docStats
      .filter($"doc_id" === 2L).isEmpty)
    assert(Maintain.run(spark, "pipeline", "resume", root).isEmpty)
    val e = intercept[IllegalArgumentException](
      Maintain.run(spark, "pipeline", "forget", root))
    assert(e.getMessage.contains("ids parquet path"), e.getMessage)
    // merge: promote two shard roots into the maintenance path
    val (sh0, sh1) = (QueryGroup.scratchDir("graft-maint-sh0"),
      QueryGroup.scratchDir("graft-maint-sh1"))
    index.Indexer.writeIndex(index.Indexer.buildIndex(
      corpus.filter($"doc_id" <= 1)), s"$sh0/index", nBuckets = 4)
    index.Indexer.writeIndex(index.Indexer.buildIndex(
      corpus.filter($"doc_id" > 1)), s"$sh1/index", nBuckets = 4)
    val mdest = QueryGroup.scratchDir("graft-maint-merged")
    assert(Maintain.run(spark, "pipeline", "merge", mdest,
      Seq(sh0, sh1, "move")).isEmpty)
    assert(index.Indexer.readIndexLive(spark, s"$mdest/index")
      .docStats.count() === 3L)
    val e3 = intercept[IllegalArgumentException](
      Maintain.run(spark, "pipeline", "merge", mdest, Seq(sh0)))
    assert(e3.getMessage.contains(">= 2 shard-root"), e3.getMessage)
  }

  test("every malformed or out-of-range CLI number fails with its op's usage text") {
    // parse errors land before any store read: the path need not exist
    val path = QueryGroup.scratchDir("graft-maint-args")
    val dedupUsage = "dedup advise <path> [maxBucketDocs >= 1, default 32] " +
      "[minJaccard (0,1], default 0.8] [apply]"
    val cases = Seq(
      ("index", "advise", Seq("0"), "0",
        "index advise <path> [maxFilesPerLeaf >= 1, default 8] [apply]"),
      ("ivf", "advise", Seq("x"), "x",
        "ivf advise <path> [maxRangeFrac 0..1, default 0.25] [nCentroids] [apply]"),
      ("dedup", "advise", Seq("0"), "0", dedupUsage),
      ("dedup", "advise", Seq("4", "1.5"), "1.5", dedupUsage),
      ("vstore", "advise", Seq("0"), "0",
        "vstore advise <path> [maxReplay >= 1, default 8] [apply <keyCols...>]"),
      ("ivf", "gc", Seq("-1"), "-1", "ivf gc <path> [retain >= 0, default 1]"),
      ("ivf", "recluster", Seq("x"), "x",
        "ivf recluster <path> [nCentroids] [iters] [sampleMod]"),
      ("vstore", "repair-at", Seq("x", "k"), "x",
        "vstore repair-at needs a numeric <version> then the store's key column(s)"),
      ("vstore", "checkpoint", Seq("x", "k"), "x",
        "vstore checkpoint needs a numeric <version> then the store's key column(s)"),
      ("vstore", "vacuum", Seq("x"), "x",
        "vstore vacuum needs a numeric <retainVersion>"))
    for ((family, op, args, bad, usage) <- cases) {
      val e = intercept[IllegalArgumentException](
        Maintain.run(spark, family, op, path, args))
      assert(e.getMessage === s"$usage (got '$bad')",
        s"$family $op ${args.mkString(" ")}")
    }
  }

  /** Every file under `root` (markers included) with its bytes. */
  private def filesAt(root: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => base.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  test("a not-due advise apply returns the advise row and leaves the store untouched") {
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "q r s t u v w x"))
      .toDF("doc_id", "text")
    val ix = QueryGroup.scratchDir("graft-maint-noop-ix")
    index.Indexer.writeIndex(index.Indexer.buildIndex(corpus), ix, nBuckets = 2)
    val dd = QueryGroup.scratchDir("graft-maint-noop-dd")
    dedup.DedupStore.writeSignatures(corpus, dd)
    val vs = QueryGroup.scratchDir("graft-maint-noop-vs")
    streaming.VersionedStore.commit(spark, vs,
      Seq((1L, "a", "u"), (2L, "b", "u")).toDF("k", "v", "_op"))
    streaming.VersionedStore.checkpoint(spark, vs, 1L, Seq("k"))
    val cases = Seq(
      ("index", ix, Seq("apply")),
      ("dedup", dd, Seq("apply")),
      // nothing is due, so an apply without key columns must not fail
      ("vstore", vs, Seq("apply")),
      ("vstore", vs, Seq("8", "apply", "k")))
    for ((family, path, args) <- cases) {
      val nums = args.takeWhile(_ != "apply")
      val advice = Maintain.run(spark, family, "advise", path, nums).get.collect()
      assert(advice.map(_.getAs[Long]("violations")).sum === 0L,
        s"$family store must be healthy: ${advice.mkString}")
      val before = filesAt(path)
      val applied = Maintain.run(spark, family, "advise", path, args).get.collect()
      assert(applied.toSeq === advice.toSeq, s"$family advise ${args.mkString(" ")}")
      assert(filesAt(path) === before,
        s"$family advise ${args.mkString(" ")} must not touch the store")
    }
  }

  test("ivf recluster refuses a zero or out-of-Int-range centroid count and keeps the store") {
    val e = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val path = QueryGroup.scratchDir("graft-maint-ivfk")
    similarity.IvfStore.writeIndex(e, path, nCentroids = 2, kmeansIters = 0)
    val frameBefore = operators.Frames.currentVersion(spark, path)
    def liveIds = similarity.IvfStore.liveVectorIds(spark, path)
      .as[Long].collect().toSet
    assert(liveIds === Set(1L, 2L, 3L))
    // 4294967296 is 2^32: a Long read narrowed to Int would wrap it to 0
    for (k <- Seq("0", "4294967296")) {
      intercept[IllegalArgumentException](
        Maintain.run(spark, "ivf", "recluster", path, Seq(k)))
      assert(operators.Frames.currentVersion(spark, path) === frameBefore,
        s"recluster $k must not install a frame")
      assert(liveIds === Set(1L, 2L, 3L), s"recluster $k must keep every vector")
    }
  }

  test("unknown routes fail loudly") {
    val e = intercept[IllegalArgumentException](
      Maintain.run(spark, "index", "defrag", "/tmp/nowhere"))
    assert(e.getMessage.contains("unknown maintenance op"), e.getMessage)
  }
}
