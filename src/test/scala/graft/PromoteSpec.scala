package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.DedupStore
import graft.index.Indexer
import graft.operators.Frames
import graft.pipeline.{Forget, Promote}
import graft.similarity.{IvfStore, Similarity}

/** The IVF and dedup shard merges and the pipeline-root promotion
  * (graft.similarity.IvfStore.mergeStores, graft.dedup.DedupStore
  * .mergeStores, graft.pipeline.Promote.mergeRoots). */
class PromoteSpec extends SparkSpec {
  import spark.implicits._

  private val docsFx = Seq(
    (0L, "alpha beta gamma delta echo"),
    (1L, "beta gamma delta echo foxtrot"),
    (2L, "gamma delta echo foxtrot golf"),
    (3L, "delta echo foxtrot golf hotel"),
    (4L, "echo foxtrot golf hotel india"),
    (5L, "foxtrot golf hotel india juliet"),
    (6L, "golf hotel india juliet kilo"),
    (7L, "hotel india juliet kilo lima"))

  // 8 spread-out 2-d vectors: nearest-neighbor structure is obvious
  private def vecsFx = (0L to 7L).map { id =>
    val a = id.toDouble / 8.0 * math.Pi / 2
    (id, Array(math.cos(a).toFloat, math.sin(a).toFloat))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def fsAt(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ivfShard(pred: Long => Boolean, path: String, nc: Int = 2): Unit =
    IvfStore.writeIndex(vecsFx.filter(v => pred(v._1)).toDF("vec_id", "embedding"),
      path, nCentroids = nc, kmeansIters = 0)

  test("IVF centroid-union merge: probing every list equals brute force over the union") {
    val (a, b, dest) = (tmp("ivfA"), tmp("ivfB"), tmp("ivfDest") + "/store")
    ivfShard(_ % 2 == 0, a)
    ivfShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), dest)
    // centroid union with remapped cids: 2 + 2, ids 1..4
    val cids = spark.read.parquet(s"$dest/centroids")
      .select("cid").as[Int].collect().sorted.toSeq
    assert(cids === Seq(1, 2, 3, 4))
    // every vector transferred, shard-local assignment preserved
    assert(spark.read.parquet(s"$dest/lists").select("vec_id")
      .as[Long].collect().toSet === (0L to 7L).toSet)
    // nProbe = all centroids → IVF probe ≡ brute force over the union
    val all = vecsFx.toDF("vec_id", "embedding")
    val q = all.filter($"vec_id".isin(0L, 3L, 7L))
    val got = IvfStore.searchStore(spark, dest, q, 3, nProbe = 4)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    val want = Similarity.bruteForceTopK(all, q, 3)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(got === want)
    // copy mode left the shards serving
    assert(IvfStore.searchStore(spark, a, q, 1).count() > 0)
  }

  test("IVF merge: tombstones carry through; guards refuse loudly; crashed merge resumes") {
    val (a, b, dest) = (tmp("ivfTsA"), tmp("ivfTsB"), tmp("ivfTsDest") + "/store")
    ivfShard(_ % 2 == 0, a)
    ivfShard(_ % 2 == 1, b)
    IvfStore.deleteVectors(spark, a, Seq(2L).toDF("vec_id"))
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    val q = vecsFx.toDF("vec_id", "embedding").filter($"vec_id" === 1L)
    assert(!IvfStore.searchStore(spark, dest, q, 8, nProbe = 4)
      .select("vec_id").as[Long].collect().contains(2L),
      "shard A's tombstone must mask vec 2 in the merged store")
    // move mode consumed the shards' list files
    assert(fsAt(a).listStatus(new Path(s"$a/lists")).toSeq
      .filter(_.isDirectory)
      .forall(d => fsAt(a).listStatus(d.getPath).isEmpty))
    // fresh odd-half shard for the guard probes (b was consumed above)
    val b2 = tmp("ivfB2")
    ivfShard(_ % 2 == 1, b2)
    // overlap refuses (vec 1 in both)
    val ov = tmp("ivfOv")
    ivfShard(id => id % 2 == 0 || id == 1, ov)
    val e1 = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(ov, b2), tmp("ivfD1") + "/store"))
    assert(e1.getMessage.contains("share vec_ids"), e1.getMessage)
    // MIXED fresh + batch-layered sources refuse (a half-present batch
    // column serves neither audit); uniformly-layered shards merge —
    // see the dedicated test below
    val st = tmp("ivfStream")
    IvfStore.writeCentroids(vecsFx.toDF("vec_id", "embedding"), st,
      nCentroids = 2, kmeansIters = 0)
    IvfStore.appendBatch(spark, st,
      vecsFx.filter(_._1 < 4).toDF("vec_id", "embedding"), 0L)
    val e2 = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(st, b2), tmp("ivfD2") + "/store"))
    assert(e2.getMessage.contains("mix fresh and batch-layered"), e2.getMessage)
    // a quantized and a float shard refuse via schema parity (never mix)
    val qz = tmp("ivfQz")
    IvfStore.writeIndexQuantized(vecsFx.filter(_._1 % 2 == 0)
      .toDF("vec_id", "embedding"), qz, nCentroids = 2, kmeansIters = 0)
    val e3 = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(qz, b2), tmp("ivfD3") + "/store"))
    assert(e3.getMessage.contains("schema"), e3.getMessage)
    // ...but two QUANTIZED shards merge (the scale is per-vector, rows
    // self-describe): probing every list equals one full quantized store
    // probed the same way (assignment is irrelevant when all lists scan)
    val (qa, qb, qdest, qfull) =
      (tmp("ivfQa"), tmp("ivfQb"), tmp("ivfQDest") + "/store", tmp("ivfQFull"))
    IvfStore.writeIndexQuantized(vecsFx.filter(_._1 % 2 == 0)
      .toDF("vec_id", "embedding"), qa, nCentroids = 2, kmeansIters = 0)
    IvfStore.writeIndexQuantized(vecsFx.filter(_._1 % 2 == 1)
      .toDF("vec_id", "embedding"), qb, nCentroids = 2, kmeansIters = 0)
    IvfStore.mergeStores(spark, Seq(qa, qb), qdest)
    IvfStore.writeIndexQuantized(vecsFx.toDF("vec_id", "embedding"), qfull,
      nCentroids = 4, kmeansIters = 0)
    val qq = vecsFx.toDF("vec_id", "embedding").filter($"vec_id".isin(0L, 5L))
    def qTop(path: String): Set[(Long, Long, Long)] =
      IvfStore.searchStoreQuantized(spark, path, qq, 3, nProbe = 4)
        .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Long)]
        .collect().toSet
    assert(qTop(qdest) === qTop(qfull))
    // consumed husks refuse as sources (a and b were move-merged above)
    val eHusk = intercept[IllegalStateException](
      IvfStore.mergeStores(spark, Seq(a, b), tmp("ivfD4") + "/store"))
    assert(eHusk.getMessage.contains("_merged_into"), eHusk.getMessage)
    // committed dest refuses (live sources, so the dest guard is what fires)
    val a2 = tmp("ivfA2")
    ivfShard(_ % 2 == 0, a2)
    val e4 = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(a2, b2), dest))
    assert(e4.getMessage.contains("committed IVF store"), e4.getMessage)
    // crash resume: kill the commit marker (centroids) and one file
    val (c, d, dest2) = (tmp("ivfC"), tmp("ivfD"), tmp("ivfDest2") + "/store")
    ivfShard(_ % 2 == 0, c)
    ivfShard(_ % 2 == 1, d)
    IvfStore.mergeStores(spark, Seq(c, d), dest2)
    val fs = fsAt(dest2)
    fs.delete(new Path(s"$dest2/centroids"), true)
    val lost = fs.listStatus(fs.listStatus(new Path(s"$dest2/lists")).toSeq
      .filter(_.isDirectory).head.getPath).head.getPath
    fs.delete(lost, false)
    IvfStore.mergeStores(spark, Seq(c, d), dest2)
    assert(spark.read.parquet(s"$dest2/lists").select("vec_id")
      .as[Long].collect().toSet === (0L to 7L).toSet)
  }

  test("batch-layered IVF shards merge: per-layer cid remap, offset ordinals, born-audited") {
    // VERDICT r13 #5: the stream-shards-then-promote composition. Two
    // shards each built by streaming ingest (frozen per-shard centroids,
    // two appendBatch layers), merged — answers must equal the same
    // merge of one-shot-built shards (assignment per shard is identical
    // by construction, so the merged geometry is too).
    val (a, b, dest) = (tmp("ivfLgA"), tmp("ivfLgB"), tmp("ivfLgDest") + "/store")
    def streamShard(pred: Long => Boolean, path: String): Unit = {
      IvfStore.writeCentroids(vecsFx.filter(v => pred(v._1)).toDF("vec_id", "embedding"),
        path, nCentroids = 2, kmeansIters = 0)
      val vs = vecsFx.filter(v => pred(v._1))
      IvfStore.appendBatch(spark, path,
        vs.take(2).toDF("vec_id", "embedding"), 0L)
      IvfStore.appendBatch(spark, path,
        vs.drop(2).toDF("vec_id", "embedding"), 1L)
    }
    streamShard(_ % 2 == 0, a)
    streamShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), dest)
    // shard B's ordinals shift past shard A's max+1: layers 0,1 + 2,3
    assert(IvfStore.listBatches(spark, dest) === Seq(0L, 1L, 2L, 3L))
    // ...and the merge vouches for the merged layers (born-audited)
    assert(IvfStore.lastAudited(spark, dest) === Some(3L))
    assert(IvfStore.checkStoreIncremental(spark, dest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
    // answers equal the fresh-shard merge of the same halves
    val (fa, fb, fdest) = (tmp("ivfLfA"), tmp("ivfLfB"), tmp("ivfLfDest") + "/store")
    ivfShard(_ % 2 == 0, fa)
    ivfShard(_ % 2 == 1, fb)
    IvfStore.mergeStores(spark, Seq(fa, fb), fdest)
    val q = vecsFx.toDF("vec_id", "embedding").filter($"vec_id".isin(0L, 3L, 7L))
    def top(path: String) = IvfStore.searchStore(spark, path, q, 3, nProbe = 4)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(top(dest) === top(fdest))
    // full fsck green on the layered merged store
    assert(IvfStore.checkStore(spark, dest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  test("merged-store assignment audit: grouped invariant, repair, recluster, nested bounds") {
    // VERDICT r14 #1: a merged store keeps shard-local assignments by
    // contract, so the deep audit's lists_assignment must check
    // nearest-WITHIN-GROUP (bounds marker), not nearest-of-the-union.
    val (a, b, dest) = (tmp("gbA"), tmp("gbB"), tmp("gbDest") + "/store")
    ivfShard(_ % 2 == 0, a)
    ivfShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), dest)
    assert(IvfStore.mergedBounds(spark, dest) === Some(Seq(0, 2)))
    // healthy merged store: fully green (this was the r14 RED spec shape)
    assert(IvfStore.checkStore(spark, dest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
    // corrupt one row's cid WITHIN its group: the grouped audit flags it
    val lists = spark.read.parquet(s"$dest/lists")
    val c0 = lists.filter($"vec_id" === 0L).select("cid").as[Int].collect().head
    assert(c0 == 1 || c0 == 2, s"vec 0 must live in shard A's group, got $c0")
    val flipped = if (c0 == 1) 2 else 1
    val fs = fsAt(dest)
    lists.withColumn("cid",
        when($"vec_id" === 0L, lit(flipped)).otherwise($"cid"))
      .repartition($"cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dest/lists_tmp")
    FsOps.atomicSwap(fs, new Path(s"$dest/lists"), new Path(s"$dest/lists_tmp"))
    def rep(): Map[String, Long] = IvfStore.checkStore(spark, dest).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep()("lists_assignment") === 1L, "within-group corruption must flag")
    // repair reassigns WITHIN the group (merge contract preserved): green
    // again, and vec 0 is back under its original list. Repair installs
    // via a frame bump (r18), so subsequent direct reads and corruption
    // injections resolve the pointed frame
    IvfStore.repairLists(spark, dest)
    def dLists = Frames.resolve(spark, dest, "lists")
    assert(rep().values.sum === 0L)
    assert(spark.read.parquet(dLists).filter($"vec_id" === 0L)
      .select("cid").as[Int].collect().head === c0)
    // a corrupted cid in an EMPTY group (cid=0, below every bound) is
    // unreachable by probing — centroid_cover flags it — and repair
    // must RESCUE the vector (union-nearest), never drop it
    val lists2 = spark.read.parquet(dLists)
    val dLists2 = dLists
    lists2.withColumn("cid",
        when($"vec_id" === 1L, lit(0)).otherwise($"cid"))
      .repartition($"cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"${dLists2}_tmp")
    FsOps.atomicSwap(fs, new Path(dLists2), new Path(s"${dLists2}_tmp"))
    assert(rep()("centroid_cover") === 1L, "cid 0 is uncovered")
    IvfStore.repairLists(spark, dest)
    assert(spark.read.parquet(dLists).filter($"vec_id" === 1L)
      .count() === 1L, "repair must never drop a live vector")
    assert(rep().values.sum === 0L)
    // recluster re-trains one union-nearest centroid set and DROPS the
    // bounds marker — the strict union invariant is back in force
    IvfStore.reclusterStore(spark, dest, nCentroids = 4, kmeansIters = 0)
    assert(IvfStore.mergedBounds(spark, dest) === None)
    assert(rep().values.sum === 0L)
    // nested merge composes bounds: (A+B) merged with (C+D) carries all
    // four groups, shifted into the outer cid space
    def vecsAt(ids: Range) = ids.map { id =>
      val ang = id.toDouble / 16.0 * math.Pi
      (id.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }
    val (m1, c, d, m2, outer) =
      (tmp("gbM1") + "/s", tmp("gbC"), tmp("gbD"), tmp("gbM2") + "/s", tmp("gbOut") + "/s")
    val (a2, b2) = (tmp("gbA3"), tmp("gbB3"))
    ivfShard(_ % 2 == 0, a2)
    ivfShard(_ % 2 == 1, b2)
    IvfStore.mergeStores(spark, Seq(a2, b2), m1)
    IvfStore.writeIndex(vecsAt(8 to 9).toDF("vec_id", "embedding"), c,
      nCentroids = 2, kmeansIters = 0)
    IvfStore.writeIndex(vecsAt(10 to 11).toDF("vec_id", "embedding"), d,
      nCentroids = 2, kmeansIters = 0)
    IvfStore.mergeStores(spark, Seq(c, d), m2)
    IvfStore.mergeStores(spark, Seq(m1, m2), outer)
    assert(IvfStore.mergedBounds(spark, outer) === Some(Seq(0, 2, 4, 6)))
    assert(IvfStore.checkStore(spark, outer)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  private def streamedIvfShard(pred: Long => Boolean, path: String): Unit = {
    IvfStore.writeCentroids(
      vecsFx.filter(v => pred(v._1)).toDF("vec_id", "embedding"),
      path, nCentroids = 2, kmeansIters = 0)
    val vs = vecsFx.filter(v => pred(v._1))
    IvfStore.appendBatch(spark, path, vs.take(2).toDF("vec_id", "embedding"), 0L)
    IvfStore.appendBatch(spark, path, vs.drop(2).toDF("vec_id", "embedding"), 1L)
  }

  test("layered merge records batch provenance: cross-group cid rewrite surfaced and repaired") {
    // VERDICT r15 #3: the grouped recompute audits each row against the
    // group ITS CID CLAIMS, so a cid rewritten into a foreign group that
    // is locally-nearest there reads as valid. On a layered merge of
    // plain streamed shards, batch ordinals ARE per-row provenance —
    // merged_provenance flags the group mismatch, repairLists re-homes
    // into the provenance group.
    val (a, b, dest) = (tmp("provA"), tmp("provB"), tmp("provDest") + "/store")
    streamedIvfShard(_ % 2 == 0, a)
    streamedIvfShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(IvfStore.mergedBounds(spark, dest) === Some(Seq(0, 2)))
    // two plain shards → two EXACT provenance segments
    assert(IvfStore.mergedBatchSegments(spark, dest) === Some(Seq(
      IvfStore.ProvenanceSegment(-1L, 1, 1), IvfStore.ProvenanceSegment(1L, 2, 2))))
    def rep(p: String = dest): Map[String, (Long, Long)] =
      IvfStore.checkStore(spark, p).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val healthy = rep()
    assert(healthy.values.map(_._2).sum === 0L, healthy.toString)
    assert(healthy("merged_provenance")._1 === 8L,
      "every remapped-layer row is provenance-audited")
    assert(healthy("merged_provenance_range")._1 === 0L,
      "two plain shards: all provenance is EXACT, the range subset is empty")
    assert(healthy("merged_groups_advisory")._1 === 0L,
      "provenance exists: the advisory row is empty")

    // rewrite vec 0's cid (shard A, group 1) to the nearest GROUP-2
    // centroid of its vector — the exact shape the grouped recompute is
    // blind to by construction
    val foreign = spark.read.parquet(s"$dest/lists").filter($"vec_id" === 0L)
      .crossJoin(broadcast(spark.read.parquet(s"$dest/centroids")
        .filter($"cid" > 2).select($"cid".as("ccid"), $"cvec")))
      .withColumn("cos", Similarity.cosine($"v", $"cvec"))
      .orderBy($"cos".desc).select("ccid").as[Int].collect().head
    val lists = spark.read.parquet(s"$dest/lists")
    lists.withColumn("cid",
        when($"vec_id" === 0L, lit(foreign)).otherwise($"cid"))
      .repartition($"batch", $"cid")
      .write.mode("overwrite").partitionBy("batch", "cid")
      .parquet(s"$dest/lists_tmp")
    FsOps.atomicSwap(fsAt(dest), new Path(s"$dest/lists"),
      new Path(s"$dest/lists_tmp"))
    val bad = rep()
    assert(bad("lists_assignment")._2 === 0L,
      "the grouped recompute is blind to a locally-nearest foreign-group " +
        s"cid — the documented limit this invariant exists for: $bad")
    assert(bad("merged_provenance")._2 === 1L, bad.toString)
    // repair re-homes the row into its PROVENANCE group, not the foreign
    // group its corrupted cid claimed (frame-bump install: re-resolve)
    IvfStore.repairLists(spark, dest)
    val fixed = rep()
    assert(fixed.values.map(_._2).sum === 0L, fixed.toString)
    assert(spark.read.parquet(Frames.resolve(spark, dest, "lists"))
      .filter($"vec_id" === 0L)
      .select("cid").as[Int].collect().head <= 2,
      "vec 0 must be back under shard A's cid group")

    // post-merge ingest (batch > floor) is union-assigned and stays OUT
    // of provenance scope
    IvfStore.appendBatch(spark, dest,
      Seq((100L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding"), 4L)
    val post = rep()
    assert(post.values.map(_._2).sum === 0L, post.toString)
    assert(post("merged_provenance")._1 === 8L,
      "batch 4 > floor 3: outside provenance scope")

    // a NESTED layered merge COMPOSES provenance (r16): the inner
    // store's exact segments shift by the outer offsets, its post-merge
    // ingest (vec 100, union-assigned within dest) becomes a RANGE
    // segment across dest's two groups, and the new plain shard gets its
    // own exact segment
    val c = tmp("provC")
    val cVecs = Seq((200L, Array(0.1f, 0.99f)), (201L, Array(0.99f, 0.1f)))
    IvfStore.writeCentroids(cVecs.toDF("vec_id", "embedding"), c,
      nCentroids = 2, kmeansIters = 0)
    IvfStore.appendBatch(spark, c, cVecs.toDF("vec_id", "embedding"), 0L)
    val outer = tmp("provOut") + "/store"
    IvfStore.mergeStores(spark, Seq(dest, c), outer)
    // dest: ordinals 0..4 (floor 3, post-merge batch 4), groups 1-2;
    // c: one plain batch remapped to ordinal 5, group 3
    assert(IvfStore.mergedBounds(spark, outer) === Some(Seq(0, 2, 4)))
    assert(IvfStore.mergedBatchSegments(spark, outer) === Some(Seq(
      IvfStore.ProvenanceSegment(-1L, 1, 1), IvfStore.ProvenanceSegment(1L, 2, 2),
      IvfStore.ProvenanceSegment(3L, 1, 2), IvfStore.ProvenanceSegment(4L, 3, 3))))
    val orep = rep(outer)
    assert(orep.values.map(_._2).sum === 0L, orep.toString)
    assert(orep("merged_provenance")._1 === orep("ids_unique")._1,
      "every remapped row is provenance-audited through the nest: " + orep)
    // VERDICT r16 #4 — the coverage split is measurable from the report:
    // of the 11 provenance-audited rows, exactly the inner store's
    // post-merge ingest row (vec 100, the (3,1,2) range segment) is
    // auditable only up to a group range; checked_exact = total − range
    assert(orep("merged_provenance_range")._1 === 1L,
      "range-only subset = the union-assigned post-merge ingest row: " + orep)
    assert(orep("merged_groups_advisory")._1 === 0L,
      "composed provenance: the advisory row is empty")
    // VERDICT r17 #2 — the advisor closes the provenance→recluster loop
    // on exactly this evidence: 1 of 11 provenance rows is range-only,
    // so a 0.25 floor stays green and a 0.05 floor recommends recluster
    // (violations=1 — the `Maintain ivf advise` cron-gate contract)
    val okAdv = IvfStore.adviseRecluster(spark, outer, maxRangeFrac = 0.25)
      .collect().head
    assert(okAdv.getAs[Long]("violations") === 0L, okAdv.toString)
    assert(okAdv.getAs[Long]("checked") === 11L, okAdv.toString)
    assert(okAdv.getAs[Long]("range_only") === 1L, okAdv.toString)
    val dueAdv = IvfStore.adviseRecluster(spark, outer, maxRangeFrac = 0.05)
      .collect().head
    assert(dueAdv.getAs[Long]("violations") === 1L, dueAdv.toString)
    assert(dueAdv.getAs[String]("reason").contains("recluster restores exact"))
    // ...and derives identically from a PRECOMPUTED deep-audit report
    // (the scheduled-maintenance shape: one fsck feeds gate + advisor)
    assert(IvfStore.adviseRecluster(spark, outer, 0.05,
        report = Some(IvfStore.checkStore(spark, outer)))
      .collect().head.getAs[Long]("violations") === 1L)

    // cross-group rewrites against the composed segments: an exact-layer
    // row (vec 1, shard A) rewritten into the new shard's group flags,
    // and the RANGE row (vec 100) rewritten OUTSIDE its range flags —
    // while a within-range rewrite is the documented residual limit
    def rewriteCid(vecId: Long, newCid: Int): Unit = {
      // resolve per call: repairLists installs via a frame bump (r18),
      // so the injection must always target the CURRENT frame's lists
      val oLists = Frames.resolve(spark, outer, "lists")
      val ls = spark.read.parquet(oLists)
      ls.withColumn("cid",
          when($"vec_id" === vecId, lit(newCid)).otherwise($"cid"))
        .repartition($"batch", $"cid")
        .write.mode("overwrite").partitionBy("batch", "cid")
        .parquet(s"${oLists}_tmp")
      FsOps.atomicSwap(fsAt(outer), new Path(oLists),
        new Path(s"${oLists}_tmp"))
    }
    val cids = spark.read.parquet(s"$outer/centroids").select("cid")
      .as[Int].collect().sorted
    val inGroup3 = cids.filter(_ > 4).head   // a cid of shard c's group
    val inGroup2 = cids.filter(k => k > 2 && k <= 4).head // dest group 2
    val vec1Cid = spark.read.parquet(s"$outer/lists")
      .filter($"vec_id" === 1L).select("cid").as[Int].collect().head
    rewriteCid(1L, inGroup3)    // exact-layer row → foreign group
    assert(rep(outer)("merged_provenance")._2 >= 1L,
      "exact segment: cross-group rewrite flags through the nest")
    rewriteCid(1L, vec1Cid)     // restore the healthy assignment
    rewriteCid(100L, inGroup3)  // range row → OUTSIDE dest's span
    val rbad = rep(outer)
    assert(rbad("merged_provenance")._2 >= 1L,
      "range segment: rewrite outside the inner store's span flags")
    assert(rbad("merged_provenance_range")._2 >= 1L,
      "…and the violation is attributed to the range subset: " + rbad)
    // repair re-homes the range row WITHIN its provenance range
    IvfStore.repairLists(spark, outer)
    val rfixed = rep(outer)
    assert(rfixed.values.map(_._2).sum === 0L, rfixed.toString)
    val homed = spark.read.parquet(Frames.resolve(spark, outer, "lists"))
      .filter($"vec_id" === 100L).select("cid").as[Int].collect().head
    assert(homed >= 1 && homed <= 4,
      s"vec 100 must re-home inside dest's group span, got cid $homed")
    rewriteCid(100L, inGroup2)  // within-range rewrite: undetectable
    assert(rep(outer)("merged_provenance")._2 === 0L,
      "a within-range rewrite on a range segment is the documented limit")

    // ...and the CLOSED advisor loop (`Maintain ivf advise … apply`):
    // due at the 0.05 floor, the verb runs the recluster itself and
    // reports the POST-heal advice — clean exit, bounds dropped (union
    // invariant restored), the store still audits green and serves
    val healed = Maintain.run(spark, "ivf", "advise", outer,
      Seq("0.05", "apply")).get.collect().head
    assert(healed.getAs[Long]("violations") === 0L, healed.toString)
    assert(IvfStore.mergedBounds(spark, outer) === None,
      "apply ran the recluster: union invariant restored")
    assert(rep(outer).values.map(_._2).sum === 0L)
  }

  test("layered move-merge: floor and audit markers are pre-commit; resume verifies the source list") {
    // ADVICE r15 medium: _batch_floor / _last_audit / _merged_batch_bounds
    // land BEFORE the centroids commit, so the crash window between the
    // commit and the husk stamps can no longer strand a merged store
    // without its ordinal floor — the completeHuskStamps early-return on
    // resume needs nothing re-derived.
    val (a, b, dest) = (tmp("flrA"), tmp("flrB"), tmp("flrDest") + "/store")
    streamedIvfShard(_ % 2 == 0, a)
    streamedIvfShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    // forge the crash: commit landed, stamps never did
    fsAt(a).delete(new Path(s"$a/${FsOps.MergedIntoMarker}"), false)
    fsAt(b).delete(new Path(s"$b/${FsOps.MergedIntoMarker}"), false)
    assert(FsOps.readLongMarker(spark, dest, "_batch_floor") === Some(3L),
      "the ordinal floor is durable in the commit-to-stamps crash shape")
    assert(IvfStore.lastAudited(spark, dest) === Some(3L))
    // the resume completes the stamps (same source list)...
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(FsOps.mergedInto(spark, a) === Some(dest))
    assert(FsOps.mergedInto(spark, b) === Some(dest))
    // ...and the floor refuses an upstream shard's replayed ordinal
    val eR = intercept[IllegalArgumentException](IvfStore.appendBatch(spark,
      dest, vecsFx.take(1).toDF("vec_id", "embedding"), 1L))
    assert(eR.getMessage.contains("ordinal floor"), eR.getMessage)
    // a resume with a DIFFERENT source order refuses outright: the
    // dest-side _merge_sources record is the source-specific evidence
    // (ADVICE r15) — ordinal-prefix existence alone would have stamped
    fsAt(a).delete(new Path(s"$a/${FsOps.MergedIntoMarker}"), false)
    fsAt(b).delete(new Path(s"$b/${FsOps.MergedIntoMarker}"), false)
    val eS = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(b, a), dest, moveFiles = true))
    assert(eS.getMessage.contains("committed IVF store"), eS.getMessage)
    assert(FsOps.mergedInto(spark, a) === None,
      "a mismatched-source resume must not stamp invented provenance")
  }

  test("move-merge of frame-installed ivf shards: the resume probes their resolved table dirs") {
    // both shards frame-installed before promotion: a's expunge drops its
    // tombstone table, b's repair carries its tombstones by reference
    val (a, b, dest) = (tmp("fiIvfA"), tmp("fiIvfB"), tmp("fiIvfDest") + "/store")
    ivfShard(_ % 2 == 0, a)
    ivfShard(_ % 2 == 1, b)
    IvfStore.deleteVectors(spark, a, Seq(0L).toDF("vec_id"))
    IvfStore.expungeDeletes(spark, a)
    IvfStore.deleteVectors(spark, b, Seq(1L).toDF("vec_id"))
    IvfStore.repairLists(spark, b)
    assert(Frames.currentVersion(spark, a) === Some(0L))
    assert(Frames.currentVersion(spark, b) === Some(0L))
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(FsOps.visibleDataFiles(spark, Frames.resolve(spark, b, "lists")).isEmpty,
      "the move drains the source's CURRENT frame tables")
    // forge the commit-to-stamps crash: the resume recognizes the drained
    // frame-installed husks and completes the stamps
    fsAt(a).delete(new Path(s"$a/${FsOps.MergedIntoMarker}"), false)
    fsAt(b).delete(new Path(s"$b/${FsOps.MergedIntoMarker}"), false)
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(FsOps.mergedInto(spark, a) === Some(dest))
    assert(FsOps.mergedInto(spark, b) === Some(dest))
    assert(IvfStore.liveVectorIds(spark, dest).as[Long].collect().toSet ===
      (2L to 7L).toSet, "expunged and carried tombstones both hold")
    assert(IvfStore.checkStore(spark, dest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  test("half-transferred move-resume with a different source list refuses: ivf and dedup families") {
    // VERDICT r16 #7 (the index-family case lives in StoreMergeSpec):
    // the dest-side _merge_sources record refuses a resume whose source
    // list differs, driven through the REAL mid-transfer crash shape —
    // files transferred, commit and husk stamps never landed.
    val (a, b, dest) = (tmp("wsIvfA"), tmp("wsIvfB"), tmp("wsIvfDest") + "/store")
    ivfShard(_ % 2 == 0, a)
    ivfShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    fsAt(dest).delete(new Path(s"$dest/centroids"), true) // commit never landed
    fsAt(a).delete(new Path(s"$a/${FsOps.MergedIntoMarker}"), false)
    fsAt(b).delete(new Path(s"$b/${FsOps.MergedIntoMarker}"), false)
    val eIvf = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(b, a), dest, moveFiles = true))
    assert(eIvf.getMessage.contains("different merge source list"), eIvf.getMessage)
    assert(FsOps.mergedInto(spark, a) === None,
      "a refused ivf resume must not stamp invented provenance")
    IvfStore.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    val q = vecsFx.toDF("vec_id", "embedding").filter($"vec_id" === 1L)
    assert(IvfStore.searchStore(spark, dest, q, 3, nProbe = 4).count() > 0)
    assert(FsOps.mergedInto(spark, a) === Some(dest))

    val d = docsFx.toDF("doc_id", "text")
    val (da, db, ddest) = (tmp("wsDdA"), tmp("wsDdB"), tmp("wsDdDest") + "/store")
    DedupStore.writeSignatures(d.filter($"doc_id" % 2 === 0), da)
    DedupStore.writeSignatures(d.filter($"doc_id" % 2 === 1), db)
    DedupStore.mergeStores(spark, Seq(da, db), ddest, moveFiles = true)
    fsAt(ddest).delete(new Path(s"$ddest/_geometry"), false) // commit never landed
    fsAt(da).delete(new Path(s"$da/${FsOps.MergedIntoMarker}"), false)
    fsAt(db).delete(new Path(s"$db/${FsOps.MergedIntoMarker}"), false)
    val eDd = intercept[IllegalArgumentException](
      DedupStore.mergeStores(spark, Seq(db, da), ddest, moveFiles = true))
    assert(eDd.getMessage.contains("different merge source list"), eDd.getMessage)
    assert(FsOps.mergedInto(spark, da) === None,
      "a refused dedup resume must not stamp invented provenance")
    DedupStore.mergeStores(spark, Seq(da, db), ddest, moveFiles = true)
    assert(DedupStore.checkStore(spark, ddest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
    assert(FsOps.mergedInto(spark, da) === Some(ddest))
  }

  test("move resume after a partial transfer: one table drained, the other never reached the dest") {
    // the transfers overlap, so source 0's second table can drain before
    // its first reaches the dest; the recorded source list marks the
    // resume, so no guard re-reads the drained table
    val d = docsFx.toDF("doc_id", "text")
    def violations(report: DataFrame): Long =
      report.agg(sum($"violations")).as[Long].collect().head
    case class Case(family: String, build: (String, String) => Unit,
                    first: String, second: String, dir: (String, String) => String,
                    merge: (Seq[String], String) => Unit, check: String => DataFrame)
    val cases = Seq(
      Case("dedup", (a, b) => {
          DedupStore.writeSignatures(d.filter($"doc_id" % 2 === 0), a)
          DedupStore.writeSignatures(d.filter($"doc_id" % 2 === 1), b)
        }, "sets", "buckets", DedupStore.tablePath(spark, _, _),
        DedupStore.mergeStores(spark, _, _, moveFiles = true),
        DedupStore.checkStore(spark, _)),
      Case("ivf", (a, b) => {
          ivfShard(_ % 2 == 0, a)
          IvfStore.deleteVectors(spark, a, Seq(2L).toDF("vec_id"))
          ivfShard(_ % 2 == 1, b)
        }, "lists", "deletes", Frames.resolve(spark, _, _),
        IvfStore.mergeStores(spark, _, _, moveFiles = true),
        IvfStore.checkStore(spark, _)))
    for (c <- cases) {
      val (a, b, dest) = (tmp(s"pt${c.family}A"), tmp(s"pt${c.family}B"),
        tmp(s"pt${c.family}Dest") + "/store")
      c.build(a, b)
      graft.operators.ShardMerge.recordMergeSources(spark, dest, Seq(a, b))
      val fs = fsAt(dest)
      val into = new Path(s"$dest/${c.second}")
      fs.mkdirs(into)
      for (file <- fs.listStatus(new Path(c.dir(a, c.second))).toSeq
           if file.isFile && !file.getPath.getName.startsWith("_")
             && !file.getPath.getName.startsWith("."))
        assert(fs.rename(file.getPath, new Path(into, s"m0_${file.getPath.getName}")))
      assert(FsOps.visibleDataFiles(spark, c.dir(a, c.second)).isEmpty, c.family)
      assert(!fs.exists(new Path(s"$dest/${c.first}")), c.family)
      c.merge(Seq(a, b), dest)
      assert(violations(c.check(dest)) === 0L, c.family)
      assert(FsOps.mergedInto(spark, a) === Some(dest), c.family)
      assert(FsOps.mergedInto(spark, b) === Some(dest), c.family)
    }
  }

  test("dedup signature-store merge: ingest report equals a single full-store build") {
    val d = docsFx.toDF("doc_id", "text")
    val (a, b, dest, full) = (tmp("ddA"), tmp("ddB"), tmp("ddDest") + "/store", tmp("ddFull"))
    DedupStore.writeSignatures(d.filter($"doc_id" % 3 === 0), a)
    DedupStore.writeSignatures(d.filter($"doc_id" % 3 === 1), b)
    DedupStore.mergeStores(spark, Seq(a, b), dest)
    // born audited: both tables are exact unions
    assert(DedupStore.lastAudited(spark, dest) === DedupStore.lastBatch(spark, dest))
    DedupStore.writeSignatures(d.filter($"doc_id" % 3 =!= 2), full)
    val batch = d.filter($"doc_id" % 3 === 2)
    def report(path: String): Set[(Long, Long)] =
      DedupStore.ingest(spark, path, batch, 0.3)
        .select($"new_id", $"dup_of").as[(Long, Long)].collect().toSet
    val merged = report(dest)
    assert(merged === report(full))
    assert(merged.nonEmpty, "fixture must produce cross-shard near-dups")
    // ...including matches against BOTH shards' content
    assert(merged.exists(_._2 % 3 == 0) && merged.exists(_._2 % 3 == 1),
      s"expected dups against both shards, got $merged")
    // fsck green on the merged store (post-ingest)
    assert(DedupStore.checkStore(spark, dest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
    // geometry mismatch refuses
    val g = tmp("ddGeom")
    DedupStore.writeSignatures(d.filter($"doc_id" % 3 === 1), g, bands = 16)
    val e = intercept[IllegalArgumentException](
      DedupStore.mergeStores(spark, Seq(a, g), tmp("ddD1") + "/store"))
    assert(e.getMessage.contains("geometry"), e.getMessage)
    // overlap refuses
    val e2 = intercept[IllegalArgumentException](
      DedupStore.mergeStores(spark, Seq(a, full), tmp("ddD2") + "/store"))
    assert(e2.getMessage.contains("share doc_ids"), e2.getMessage)
    // shingleN mismatch refuses (invisible in the schema — marker-guarded)
    val s5 = tmp("ddSh5")
    DedupStore.writeSignatures(d.filter($"doc_id" % 3 === 1), s5, shingleN = 5)
    val e3 = intercept[IllegalArgumentException](
      DedupStore.mergeStores(spark, Seq(a, s5), tmp("ddD3") + "/store"))
    assert(e3.getMessage.contains("shingleN"), e3.getMessage)
    // ...and ingest against a mismatched shingle size refuses too
    val e4 = intercept[IllegalArgumentException](
      DedupStore.ingest(spark, s5, batch, 0.3, shingleN = 3))
    assert(e4.getMessage.contains("shingle"), e4.getMessage)
  }

  private def buildRoot(pred: Long => Boolean, root: String): Unit = {
    val part = docsFx.filter(r => pred(r._1)).toDF("doc_id", "text")
    Indexer.writeIndex(Indexer.buildIndex(part), s"$root/index")
    DedupStore.writeSignatures(part, s"$root/dedup")
    IvfStore.writeIndex(vecsFx.filter(v => pred(v._1)).toDF("vec_id", "embedding"),
      s"$root/ivf", nCentroids = 2, kmeansIters = 0)
  }

  test("mergeRoots promotes whole shard roots; the cross-store audit certifies the union") {
    val (r0, r1, dest) = (tmp("rootA"), tmp("rootB"), tmp("rootDest") + "/merged")
    buildRoot(_ % 2 == 0, r0)
    buildRoot(_ % 2 == 1, r1)
    assert(Promote.mergeRoots(spark, Seq(r0, r1), dest) ===
      Seq("dedup", "index", "ivf"))
    val rep = Forget.checkPipeline(spark, dest).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("forget_manifests_complete") === (0L, 0L))
    for (p <- Seq("index_dedup", "index_ivf", "dedup_ivf"))
      assert(rep(s"id_surface_$p") === (8L, 0L), p)
    assert(rep.values.forall(_._2 === 0L))
    // ...and the merged root takes takedowns as one unit
    Forget.forget(spark, dest, Seq(3L).toDF("doc_id"))
    val rep2 = Forget.checkPipeline(spark, dest).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep2.values.forall(_._2 === 0L))
    // family mismatch refuses
    val lop = tmp("rootLop")
    val part = docsFx.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    Indexer.writeIndex(Indexer.buildIndex(part), s"$lop/index")
    val e = intercept[IllegalArgumentException](
      Promote.mergeRoots(spark, Seq(lop, r1), tmp("rootD1") + "/m"))
    assert(e.getMessage.contains("SAME store families"), e.getMessage)
    // a root with _forget manifests refuses (per-root ordinals)
    val e2 = intercept[IllegalArgumentException](
      Promote.mergeRoots(spark, Seq(dest, r0), tmp("rootD2") + "/m"))
    assert(e2.getMessage.contains("_forget"), e2.getMessage)
    // a root with a vstore refuses
    val (v0, v1) = (tmp("rootV0"), tmp("rootV1"))
    buildRoot(_ % 2 == 0, v0)
    buildRoot(_ % 2 == 1, v1)
    graft.streaming.VersionedStore.commit(spark, s"$v0/vstore",
      Seq((0L, "u")).toDF("doc_id", "_op"))
    graft.streaming.VersionedStore.commit(spark, s"$v1/vstore",
      Seq((1L, "u")).toDF("doc_id", "_op"))
    val e3 = intercept[IllegalArgumentException](
      Promote.mergeRoots(spark, Seq(v0, v1), tmp("rootD3") + "/m"))
    assert(e3.getMessage.contains("vstore"), e3.getMessage)
  }

  test("a promotion that died between families resumes: committed families skip") {
    val (r0, r1, dest) = (tmp("resA"), tmp("resB"), tmp("resDest") + "/merged")
    buildRoot(_ % 2 == 0, r0)
    buildRoot(_ % 2 == 1, r1)
    // reproduce the crash window: the index family committed, the rest never ran
    graft.index.StoreMerge.mergeStores(spark,
      Seq(s"$r0/index", s"$r1/index"), s"$dest/index")
    assert(Promote.mergeRoots(spark, Seq(r0, r1), dest) ===
      Seq("dedup", "index", "ivf"),
      "the re-run must skip the committed index and finish dedup+ivf")
    val rep = Forget.checkPipeline(spark, dest).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (p <- Seq("index_dedup", "index_ivf", "dedup_ivf"))
      assert(rep(s"id_surface_$p") === (8L, 0L), p)
    assert(rep.values.forall(_._2 === 0L))
    // fully-promoted roots re-run as a complete no-op
    assert(Promote.mergeRoots(spark, Seq(r0, r1), dest) ===
      Seq("dedup", "index", "ivf"))
  }

  test("uncommitted family debris reads as absent: the audit reports instead of crashing") {
    val root = tmp("debris")
    val part = docsFx.toDF("doc_id", "text")
    Indexer.writeIndex(Indexer.buildIndex(part), s"$root/index")
    // a crashed vstore bootstrap (dir, no commit) and a crashed IVF
    // build (dir, no centroids) — exactly the partial-failure shapes
    // the audit exists to coexist with
    fsAt(root).mkdirs(new Path(s"$root/vstore/log"))
    fsAt(root).mkdirs(new Path(s"$root/ivf/lists"))
    assert(Forget.familiesAt(spark, root) === Seq("index"))
    val rep = Forget.checkPipeline(spark, root).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("id_surface_index_ivf") === (0L, 0L))
    assert(rep("id_surface_index_vstore") === (0L, 0L))
    assert(rep.size === 12, "stable report schema over debris")
    // ...and the cascade skips the debris instead of crashing on it
    Forget.forget(spark, root, Seq(1L).toDF("doc_id"))
    assert(Forget.checkPipeline(spark, root).collect()
      .map(r => r.getLong(2)).sum === 0L)
  }

  test("a move-merge that died between commit and husk stamps completes the stamps on re-run") {
    // ADVICE r14: stamps land only after the dest commit, so a crash in
    // between leaves drained, unstamped sources that the committed-dest
    // guard used to refuse forever and scrap refused to reclaim. The
    // re-run must detect that exact shape and complete the stamps.
    val (r0, r1, dest) = (tmp("stA"), tmp("stB"), tmp("stDest") + "/merged")
    buildRoot(_ % 2 == 0, r0)
    buildRoot(_ % 2 == 1, r1)
    import graft.index.StoreMerge
    def mergeAll(): Unit = {
      StoreMerge.mergeStores(spark,
        Seq(s"$r0/index", s"$r1/index"), s"$dest/index", moveFiles = true)
      DedupStore.mergeStores(spark,
        Seq(s"$r0/dedup", s"$r1/dedup"), s"$dest/dedup", moveFiles = true)
      IvfStore.mergeStores(spark,
        Seq(s"$r0/ivf", s"$r1/ivf"), s"$dest/ivf", moveFiles = true)
    }
    mergeAll()
    // forge the crash: commits landed, stamps never did (partial on index)
    for ((f, r) <- Seq(("index", r0), ("dedup", r0), ("dedup", r1),
                       ("ivf", r0), ("ivf", r1)))
      fsAt(r).delete(new Path(s"$r/$f/${FsOps.MergedIntoMarker}"), false)
    assert(FsOps.mergedInto(spark, s"$r0/index") === None)
    // the re-run completes the stamps instead of refusing on the commit
    mergeAll()
    for (f <- Seq("index", "dedup", "ivf"); r <- Seq(r0, r1))
      assert(FsOps.mergedInto(spark, s"$r/$f") === Some(s"$dest/$f"), s"$r/$f")
    // ...and scrap now reclaims what used to be an unfixable husk root
    assert(Promote.scrapRoot(spark, r0).toSet ===
      Set(s"$r0/index", s"$r0/dedup", s"$r0/ivf"))
    // LIVE sources against a committed dest still refuse (not that shape)
    val (c, d) = (tmp("stC"), tmp("stD"))
    ivfShard(_ % 2 == 0, c)
    ivfShard(_ % 2 == 1, d)
    val e = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(c, d), s"$dest/ivf", moveFiles = true))
    assert(e.getMessage.contains("committed IVF store"), e.getMessage)
  }

  test("husk-stamp resume never rewrites provenance: wrong dests and phantom sources refuse") {
    // sources stamped into d1; a mistaken re-run against a DIFFERENT
    // committed dest must refuse, not overwrite the _merged_into record
    val (a, b, d1) = (tmp("wdA"), tmp("wdB"), tmp("wdD1") + "/store")
    val (c, c2, d2) = (tmp("wdC"), tmp("wdC2"), tmp("wdD2") + "/store")
    ivfShard(_ % 2 == 0, a)
    ivfShard(_ % 2 == 1, b)
    IvfStore.mergeStores(spark, Seq(a, b), d1, moveFiles = true)
    ivfShard(_ % 2 == 0, c)
    ivfShard(_ % 2 == 1, c2)
    IvfStore.mergeStores(spark, Seq(c, c2), d2, moveFiles = true)
    val eWrong = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(a, b), d2, moveFiles = true))
    assert(eWrong.getMessage.contains("committed IVF store"), eWrong.getMessage)
    assert(FsOps.mergedInto(spark, a) === Some(d1),
      "a wrong-dest re-run must not rewrite where the data actually went")
    // a typo'd / never-populated source path must not read as "drained"
    // (stamping it would invent provenance and even create the dir)
    fsAt(c).delete(new Path(s"$c/${FsOps.MergedIntoMarker}"), false)
    val ghost = tmp("wdGhost") + "/nothing"
    val eGhost = intercept[IllegalArgumentException](
      IvfStore.mergeStores(spark, Seq(c, ghost), d2, moveFiles = true))
    assert(eGhost.getMessage.contains("committed IVF store"), eGhost.getMessage)
    assert(FsOps.mergedInto(spark, ghost) === None, "phantom source stamped")
    assert(FsOps.mergedInto(spark, c) === None,
      "a partial resume must not stamp anything when the set is not resumable")
  }

  test("pipeline scrap deletes certified husk roots; refuses live or uncertified ones") {
    val (r0, r1, dest) = (tmp("scrA"), tmp("scrB"), tmp("scrDest") + "/merged")
    buildRoot(_ % 2 == 0, r0)
    buildRoot(_ % 2 == 1, r1)
    // a LIVE root refuses before anything is touched
    val eLive = intercept[IllegalArgumentException](Promote.scrapRoot(spark, r0))
    assert(eLive.getMessage.contains("live"), eLive.getMessage)
    assert(fsAt(r0).exists(new Path(s"$r0/index")), "refusal must not delete")
    Promote.mergeRoots(spark, Seq(r0, r1), dest, moveFiles = true)
    // every family child is now a stamped husk pointing at its dest store
    assert(FsOps.mergedInto(spark, s"$r0/index") === Some(s"$dest/index"))
    assert(FsOps.mergedInto(spark, s"$r0/dedup") === Some(s"$dest/dedup"))
    assert(FsOps.mergedInto(spark, s"$r0/ivf") === Some(s"$dest/ivf"))
    // ...and reading a husk is a pointed refusal, not a parquet error
    val eRead = intercept[IllegalStateException](
      IvfStore.searchStore(spark, s"$r0/ivf",
        vecsFx.toDF("vec_id", "embedding").limit(1), 3))
    assert(eRead.getMessage.contains("_merged_into"), eRead.getMessage)
    val eDedup = intercept[IllegalStateException](
      DedupStore.ingest(spark, s"$r0/dedup",
        docsFx.toDF("doc_id", "text").limit(0), minJaccard = 0.5))
    assert(eDedup.getMessage.contains("consumed"), eDedup.getMessage)
    // an UNCERTIFIED husk (stamped, but the recorded dest is gone)
    // refuses: never delete the only remains
    val r2 = tmp("scrC")
    buildRoot(_ < 2, r2)
    FsOps.writeMarker(spark, s"$r2/index", FsOps.MergedIntoMarker,
      tmp("scrNowhere") + "/never")
    FsOps.writeMarker(spark, s"$r2/dedup", FsOps.MergedIntoMarker,
      tmp("scrNowhere2") + "/never")
    FsOps.writeMarker(spark, s"$r2/ivf", FsOps.MergedIntoMarker,
      tmp("scrNowhere3") + "/never")
    val eCert = intercept[IllegalArgumentException](Promote.scrapRoot(spark, r2))
    assert(eCert.getMessage.contains("no committed store"), eCert.getMessage)
    assert(fsAt(r2).exists(new Path(s"$r2/index")))
    // certified husk root scraps: all three children + the root go
    assert(Promote.scrapRoot(spark, r0).toSet ===
      Set(s"$r0/index", s"$r0/dedup", s"$r0/ivf"))
    assert(!fsAt(r0).exists(new Path(r0)), "the husk root is gone")
    // a single stamped store scraps directly (non-root form)
    assert(Promote.scrapRoot(spark, s"$r1/index") === Seq(s"$r1/index"))
    assert(!fsAt(r1).exists(new Path(s"$r1/index")))
    // the merged root still serves after the husks are gone
    assert(Forget.checkPipeline(spark, dest).collect()
      .map(r => r.getLong(2)).sum === 0L)
  }
}
