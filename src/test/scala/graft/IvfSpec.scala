package graft

import org.apache.spark.sql.functions._
import graft.operators.Frames
import graft.similarity.Similarity

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivfTopK: candidates scored identically to brute force; ranks well-formed") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val brute = Similarity.bruteForceTopK(e, q, 1000)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(e, q, 10).as[(Long, Long, Double, Long)].collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length)) // contiguous ranks
    }
    ivf.foreach { r =>
      assert(math.abs(brute((r._1, r._2)) - r._3) < 1e-12) // exact same scoring
    }
  }

  test("IVF store roundtrip: searchStore == ivfTopK, probed lists pruned at the scan") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val path = java.nio.file.Files.createTempDirectory("ivfstore").toString
    IvfStore.writeIndex(e, path, kmeansIters = 2)
    val stored = IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val direct = Similarity.ivfTopK(e, q, 10, kmeansIters = 2)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(stored.map(r => (r._1, r._2, r._4)).toSet ===
      direct.map(r => (r._1, r._2, r._4)).toSet)
    stored.sortBy(r => (r._1, r._4)).zip(direct.sortBy(r => (r._1, r._4)))
      .foreach { case (s2, d) => assert(math.abs(s2._3 - d._3) < 1e-12) }
    // the probed-cid IN-list must reach the lists scan as a PartitionFilter
    val plan = IvfStore.searchStore(spark, path, q, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"expected cid partition filter in:\n$plan")
    // maintenance composes: per-partition compaction leaves answers intact
    graft.operators.Compaction.compactPartitions(spark, s"$path/lists")
    val after = IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(after.map(r => (r._1, r._2, r._4)).toSet ===
      stored.map(r => (r._1, r._2, r._4)).toSet)
  }

  test("streaming ingest in micro-batches converges to the batch-built store") {
    import graft.similarity.IvfStore
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))

    val batchPath = java.nio.file.Files.createTempDirectory("ivfbatch").toString
    IvfStore.writeIndex(e, batchPath, kmeansIters = 0)

    val streamPath = java.nio.file.Files.createTempDirectory("ivfstream").toString
    IvfStore.writeCentroids(e, streamPath, kmeansIters = 0)
    val mem = MemoryStream[(Long, Array[Float])]
    val rows = e.as[(Long, Array[Float], Int)].collect().map(r => (r._1, r._2))
    val sq = IvfStore.writeIngesting(
      mem.toDF().toDF("vec_id", "embedding"), streamPath,
      java.nio.file.Files.createTempDirectory("ivfckpt").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toSeq); sq.processAllAvailable()
      mem.addData(second.toSeq); sq.processAllAvailable()
    } finally sq.stop()

    val fromBatch = IvfStore.searchStore(spark, batchPath, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    val fromStream = IvfStore.searchStore(spark, streamPath, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(fromStream === fromBatch)

    // two-level maintenance: recursive compaction walks batch=/cid=
    // leaves, preserves the layout (keys are relative leaf paths) and
    // leaves answers intact
    val compacted = IvfStore.compactLists(spark, streamPath)
    assert(compacted.nonEmpty &&
      compacted.keys.forall(_.matches("batch=\\d+/cid=\\d+")),
      s"unexpected leaf keys: ${compacted.keys.mkString(", ")}")
    val afterCompact = IvfStore.searchStore(spark, streamPath, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(afterCompact === fromBatch)

    // a replayed micro-batch must not duplicate vectors
    IvfStore.appendBatch(spark, streamPath,
      spark.createDataset(rows.take(5).toSeq).toDF("vec_id", "embedding"), batchId = 0L)
    val lists = spark.read.parquet(s"$streamPath/lists")
    assert(lists.groupBy("vec_id").count().filter($"count" > 1).count() === 0)
  }

  test("soft-delete thins the probed lists without rewriting them") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val path = java.nio.file.Files.createTempDirectory("ivfdel").toString
    IvfStore.writeIndex(e, path, kmeansIters = 0)
    val before = IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect()
    // tombstone every result of query 0 — they must all vanish
    val dead = before.filter(_._1 == 0L).map(_._2).toSet
    IvfStore.deleteVectors(spark, path,
      dead.toSeq.toDF("vec_id"))
    val after = IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(after.forall(r => !dead.contains(r._2)),
      "tombstoned vectors must never surface again")
    // other queries keep their surviving neighbors, ranks re-packed
    after.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length))
    }
    // lists parquet untouched — the dead vectors are still on disk
    val onDisk = spark.read.parquet(s"$path/lists")
      .filter($"vec_id".isin(dead.toSeq: _*)).count()
    assert(onDisk == dead.size, "soft delete must not rewrite lists")
    // idempotent re-delete
    IvfStore.deleteVectors(spark, path, dead.toSeq.toDF("vec_id"))
    val again = IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(again.toSet === after.toSet)

    // expunge: dead rows physically gone, tombstones dropped, answers
    // unchanged, cid partition layout (and its pruning) preserved.
    // Install is a frame flip: the rewritten lists live in a new
    // generation, the new frame drops the tombstone table, and the
    // legacy root tables are swept. Cross-verb staging debris (a
    // DIFFERENT verb's crashed install left at the next unflipped
    // centroid generation) must NOT leak into this install
    Seq((99, Array(9f, 9f))).toDF("cid", "cvec")
      .write.mode("overwrite").parquet(s"$path/tables/centroids/g=0")
    val centsBefore = spark.read.parquet(s"$path/centroids")
      .as[(Int, Array[Float])].collect()
      .map { case (c, v) => (c, v.toSeq) }.toMap
    IvfStore.expungeDeletes(spark, path)
    assert(Frames.currentVersion(spark, path) === Some(0L),
      "expunge must install via a frame-pointer bump")
    assert(!new java.io.File(Frames.resolve(spark, path, "deletes")).exists,
      "the new frame must carry no tombstone table")
    assert(!new java.io.File(s"$path/tables/centroids/g=0").exists,
      "unreferenced staging debris is swept by the install")
    // retention (VERDICT r18 #2): the superseded legacy frame survives
    // ONE install as the concurrent readers' grace window; the reclaim-
    // now sweep (Maintain ivf gc 0) collects it on demand
    assert(new java.io.File(s"$path/lists").exists,
      "the superseded legacy frame is retained for one install")
    Frames.gc(spark, path, IvfStore.Tables, retain = 0)
    assert(!new java.io.File(s"$path/lists").exists &&
      !new java.io.File(s"$path/deletes").exists,
      "gc 0 reclaims the grace-window frame immediately")
    assert(spark.read.parquet(Frames.resolve(spark, path, "lists"))
      .filter($"vec_id".isin(dead.toSeq: _*)).count() == 0,
      "expunge must rewrite the lists without the dead vectors")
    val centsAfter = spark.read.parquet(Frames.resolve(spark, path, "centroids"))
      .as[(Int, Array[Float])].collect()
      .map { case (c, v) => (c, v.toSeq) }.toMap
    assert(centsAfter === centsBefore,
      "clean staging: the installed centroids are the store's own, no " +
        "debris from another verb's crashed install mixed in")
    val expunged = IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect()
    assert(expunged.toSet === after.toSet, "expunge must not change answers")
    assert(spark.read.parquet(Frames.resolve(spark, path, "lists"))
      .columns.contains("cid"))
    // no-op on a store without tombstones
    IvfStore.expungeDeletes(spark, path)
    assert(IvfStore.searchStore(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSet === after.toSet)
  }

  test("quantized store: high-recall ranking on 4x smaller lists") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val raw = java.nio.file.Files.createTempDirectory("ivfraw").toString
    val quant = java.nio.file.Files.createTempDirectory("ivfquant").toString
    IvfStore.writeIndex(e, raw, kmeansIters = 0)
    IvfStore.writeIndexQuantized(e, quant, kmeansIters = 0)

    val exact = IvfStore.searchStore(spark, raw, q, 10)
      .as[(Long, Long, Double, Long)].collect()
    val approx = IvfStore.searchStoreQuantized(spark, quant, q, 10)
      .as[(Long, Long, Double, Long)].collect()
    // same candidates probed — quantization error only perturbs scores a
    // little, so top-10 overlap must be high and scores close
    val byQ = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val overlap = approx.count(r => byQ(r._1).contains(r._2))
    assert(overlap >= approx.length * 8 / 10,
      s"quantized top-10 must mostly agree with exact: $overlap/${approx.length}")
    val exactScores = exact.map(r => (r._1, r._2) -> r._3).toMap
    approx.foreach { r =>
      exactScores.get((r._1, r._2)).foreach { s =>
        assert(math.abs(s - r._3) < 0.02, s"score drift too large: $s vs ${r._3}")
      }
    }
    // the quantized lists are genuinely smaller on disk
    def bytes(p: String) = {
      val d = new java.io.File(s"$p/lists")
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(d)
    }
    // payload is 4x smaller (64 B codes vs 256 B floats per vector), but
    // at 500-vector fixture scale parquet's per-element repetition
    // levels, page headers and footers dominate — assert the direction
    // with headroom rather than the asymptotic ratio
    assert(bytes(quant) < bytes(raw) * 6 / 10,
      s"int8 lists must be substantially smaller: ${bytes(quant)} vs ${bytes(raw)}")
  }

  test("checkStoreIncremental audits the ingest delta only; replay duplicates flagged") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivffsckincr").toString
    IvfStore.writeCentroids(e, path, kmeansIters = 0)
    IvfStore.appendBatch(spark, path, e.filter($"vec_id" % 2 === 0), 0L)
    assert(IvfStore.listBatches(spark, path) === Seq(0L))
    IvfStore.markAudited(spark, path) // the deep audit vouched for batch 0
    IvfStore.appendBatch(spark, path, e.filter($"vec_id" % 2 === 1), 1L)

    def report(): Map[String, (Long, Long)] =
      IvfStore.checkStoreIncremental(spark, path)
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val odds = e.filter($"vec_id" % 2 === 1).count()
    val clean = report()
    assert(clean.size === 6)
    assert(clean("centroids_wellformed")._1 === 16L)
    assert(clean.values.forall(_._2 == 0L), s"clean delta has violations: $clean")
    assert(clean("delta_ids_unique")._1 === odds)
    assert(clean("delta_lists_assignment")._1 === odds)
    assert(clean("delta_norms_consistent")._1 === odds)
    assert(clean("delta_codes_wellformed")._1 === 0L) // raw store

    // a replayed delta row that bypassed the batch-partition overwrite
    // (landed under a DIFFERENT batch): cross-batch duplicate — flagged
    val lists = spark.read.parquet(s"$path/lists")
    lists.filter($"batch" === 1L).limit(1).withColumn("batch", lit(2L))
      .select(lists.columns.map(col).toSeq: _*)
      .write.mode("append").partitionBy("batch", "cid").parquet(s"$path/lists")
    assert(report()("delta_ids_unique")._2 === 1L,
      "the replayed id is a store-wide duplicate (counted once per id)")

    // the same corruption inside the ALREADY-AUDITED batch 0 stays out
    // of the incremental scope (deep-audit territory)
    lists.filter($"batch" === 0L).limit(1)
      .select(lists.columns.map(col).toSeq: _*)
      .write.mode("append").partitionBy("batch", "cid").parquet(s"$path/lists")
    assert(report()("delta_ids_unique")._2 === 1L)

    // after repair (dedup under the total order) + markAudited, the next
    // incremental audit starts empty
    IvfStore.repairLists(spark, path)
    IvfStore.markAudited(spark, path)
    val advanced = report()
    assert(advanced("delta_ids_unique")._1 === 0L)
    assert(advanced.values.forall(_._2 == 0L))
  }

  test("checkStore: healthy raw and quantized stores pass; corruption detected") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivffsck").toString
    IvfStore.writeIndex(e, path, kmeansIters = 2)
    IvfStore.deleteVectors(spark, path, e.filter($"vec_id" % 4 === 3).select("vec_id"))
    def report(p: String): Map[String, (Long, Long)] =
      IvfStore.checkStore(spark, p).as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

    val healthy = report(path)
    assert(healthy.size === 9)
    assert(healthy("centroids_wellformed")._1 === 16L)
    assert(healthy.values.forall(_._2 == 0L), s"healthy store has violations: $healthy")
    assert(healthy("lists_assignment")._1 > 0)
    assert(healthy("norms_consistent")._1 > 0)
    assert(healthy("codes_wellformed")._1 === 0L) // raw store: not applicable
    assert(healthy("merged_provenance")._1 === 0L) // never merged
    assert(healthy("merged_groups_advisory")._1 === 0L)

    // one appended copy of a row under a foreign cid: duplicate vec_id +
    // uncovered cid + mis-assignment — one violation on each invariant,
    // norms untouched (the copy's nv is still right for its vector)
    spark.read.parquet(s"$path/lists").limit(1).withColumn("cid", lit(999))
      .write.mode("append").partitionBy("cid").parquet(s"$path/lists")
    val bad = report(path)
    assert(bad("ids_unique")._2 === 1L)
    assert(bad("centroid_cover")._2 === 1L)
    assert(bad("lists_assignment")._2 === 1L)
    assert(bad("norms_consistent")._2 === 0L)

    // repair = repairLists: the duplicate drops (original cid survives),
    // every row re-assigned to its nearest persisted centroid, norms
    // recomputed — the re-check is clean and the search face answers
    // exactly like the uncorrupted store (tombstones still honored)
    val before = IvfStore.searchStore(spark, path,
      e.filter($"vec_id" === 0L), 5).as[(Long, Long, Double, Long)].collect().toSet
    IvfStore.repairLists(spark, path)
    val repaired = report(path)
    assert(repaired.values.forall(_._2 == 0L), s"repairLists left violations: $repaired")
    assert(repaired("ids_unique")._1 === healthy("ids_unique")._1,
      "repair must restore the original row count")
    assert(IvfStore.searchStore(spark, path, e.filter($"vec_id" === 0L), 5)
      .as[(Long, Long, Double, Long)].collect().toSet === before)

    val qpath = java.nio.file.Files.createTempDirectory("ivffsckq").toString
    IvfStore.writeIndexQuantized(e, qpath, kmeansIters = 2)
    val qh = report(qpath)
    assert(qh.values.forall(_._2 == 0L), s"healthy quantized store has violations: $qh")
    assert(qh("codes_wellformed")._1 > 0)

    // a ZERO vector (scale = 0, all-zero code) scores cosine −1 against
    // every centroid (Similarity.cosine's zero-norm contract — the
    // bottom of the range, so a direction-less vector can never outrank
    // a genuine neighbor in top-k): own = best = −1, so it counts as
    // checked and never as a violation under any tolerance
    val zpath = java.nio.file.Files.createTempDirectory("ivffsckz").toString
    IvfStore.writeIndexQuantized(
      Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
        .toDF("vec_id", "embedding"),
      zpath, nCentroids = 2, kmeansIters = 0)
    val zh = report(zpath)
    assert(zh.values.forall(_._2 == 0L),
      s"zero vector must not red-flag a healthy quantized store: $zh")
    assert(zh("lists_assignment")._1 === 3L, "the zero row still counts as checked")
    // VERDICT r15 #1: assignment IS audited on quantized stores — the
    // round(code·scale) reconstruction under the per-row tolerance band
    // (which must absorb the write path's raw-vs-reconstructed drift on
    // every healthy row)
    assert(qh("lists_assignment")._1 > 0)
    assert(qh("norms_consistent")._1 > 0)

    // a genuinely MIS-HOMED quantized vector (rewritten to the farthest
    // centroid — far outside the quantization band) is caught; the
    // repair verb for quantized mis-homing is reclusterStore (repairLists
    // keeps quantized cids: assignment ran on raw vectors)
    val qlists = spark.read.parquet(s"$qpath/lists")
    val qcents = spark.read.parquet(s"$qpath/centroids")
      .select(col("cid").as("ccid"), col("cvec"))
    val victim = qlists.filter($"vec_id" === 0L)
      .withColumn("rv", transform(col("qvec"),
        x => round(x.cast("double") * col("scale"), 6).cast("float")))
      .crossJoin(broadcast(qcents))
      .withColumn("cos", graft.similarity.Similarity.cosine($"rv", $"cvec"))
    val farthest = victim.orderBy($"cos".asc).select("ccid").as[Int].collect().head
    val qfs0 = new org.apache.hadoop.fs.Path(qpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    qlists.withColumn("cid",
        when($"vec_id" === 0L, lit(farthest)).otherwise($"cid"))
      .repartition($"cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$qpath/lists_tmp2")
    graft.FsOps.atomicSwap(qfs0, new org.apache.hadoop.fs.Path(s"$qpath/lists"),
      new org.apache.hadoop.fs.Path(s"$qpath/lists_tmp2"))
    val qmis = report(qpath)
    assert(qmis("lists_assignment")._2 >= 1L,
      s"mis-homed quantized vector must flag: $qmis")
    IvfStore.reclusterStore(spark, qpath, nCentroids = 16, kmeansIters = 0)
    assert(report(qpath).values.forall(_._2 == 0L),
      "recluster re-homes the quantized vector; the re-check is clean")

    // quantized repair face: stale norms (every nv drifted) — detected on
    // norms_consistent, repairLists recomputes nv from the round(code ·
    // scale, 6) reconstruction (cid kept: assignment ran on raw vectors
    // the store no longer holds) and the re-check is clean. The store is
    // frame-installed after the recluster above, so the corruption
    // injection targets the current frame's lists
    val qdir = Frames.resolve(spark, qpath, "lists")
    val qfs = new org.apache.hadoop.fs.Path(qpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(qdir).withColumn("nv", col("nv") + lit(1.0))
      .write.mode("overwrite").partitionBy("cid").parquet(s"${qdir}_bad")
    graft.FsOps.atomicSwap(qfs, new org.apache.hadoop.fs.Path(qdir),
      new org.apache.hadoop.fs.Path(s"${qdir}_bad"))
    val qbad = report(qpath)
    assert(qbad("norms_consistent")._2 === qbad("norms_consistent")._1)
    IvfStore.repairLists(spark, qpath)
    val qrep = report(qpath)
    assert(qrep.values.forall(_._2 == 0L), s"quantized repair left violations: $qrep")
  }

  test("ivfTopK with nProbe = nCentroids degenerates to brute force") {
    val e = Tables.load(spark, sf0001, "embeddings").limit(100)
    val q = e.filter($"vec_id" === 0L)
    val full = Similarity.ivfTopK(e, q, 5, nCentroids = 8, nProbe = 8)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._4, r._2)).toSet
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1 == 0L, r._4, r._2))
      .map(r => (r._2, r._3)).toSet
    assert(full === brute)
  }

  test("recluster returns a merged store to k centroids; answers = one-shot build") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val root = java.nio.file.Files.createTempDirectory("ivfrecl").toString
    IvfStore.writeIndex(e.filter($"vec_id" % 2 === 0), s"$root/a", kmeansIters = 0)
    IvfStore.writeIndex(e.filter($"vec_id" % 2 === 1), s"$root/b", kmeansIters = 0)
    IvfStore.mergeStores(spark, Seq(s"$root/a", s"$root/b"), s"$root/m",
      moveFiles = true)
    assert(spark.read.parquet(s"$root/m/centroids").count() === 32,
      "precondition: the promotion unioned the shards' centroid sets")
    // a tombstone before recluster: the rewrite must materialize it out
    IvfStore.deleteVectors(spark, s"$root/m", Seq(9L).toDF("vec_id"))
    IvfStore.reclusterStore(spark, s"$root/m", nCentroids = 16, kmeansIters = 0)
    // frame install: the new tables live in fresh generations, the
    // superseded legacy tables are swept, tombstones dropped WITH the flip
    assert(Frames.currentVersion(spark, s"$root/m") === Some(0L),
      "recluster must install via a frame bump")
    val mdirs = Frames.resolveAll(spark, s"$root/m", IvfStore.Tables)
    assert(spark.read.parquet(mdirs("centroids")).count() === 16,
      "recluster must return the centroid set to k")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mdirs("deletes"))),
      "tombstones are materialized out (expunge-class rewrite)")
    // retention: the superseded legacy frame is the readers' grace
    // window for one install; gc 0 is the reclaim-now verb
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/m/lists")),
      "the superseded legacy frame is retained for one install")
    Frames.gc(spark, s"$root/m", IvfStore.Tables, retain = 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/m/lists")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/m/centroids")),
      "gc 0 reclaims the grace-window frame immediately")
    assert(spark.read.parquet(mdirs("lists"))
      .filter($"vec_id" === 9L).isEmpty)
    // same deterministic seeding as a fresh build over the live corpus →
    // identical answers, and the probed-cid pruning still plans
    val fresh = java.nio.file.Files.createTempDirectory("ivfreclFresh").toString
    IvfStore.writeIndex(e.filter($"vec_id" =!= 9L), fresh, kmeansIters = 0)
    val got = IvfStore.searchStore(spark, s"$root/m", q, 10)
      .as[(Long, Long, Double, Long)].collect().toSeq.sortBy(r => (r._1, r._4))
    val want = IvfStore.searchStore(spark, fresh, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSeq.sortBy(r => (r._1, r._4))
    assert(got.map(r => (r._1, r._2, r._4)) === want.map(r => (r._1, r._2, r._4)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-12) }
    val plan = IvfStore.searchStore(spark, s"$root/m", q, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"expected cid partition filter in:\n$plan")
  }

  test("recluster on a quantized store stays self-consistent with its probes") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val path = java.nio.file.Files.createTempDirectory("ivfreclq").toString
    IvfStore.writeIndexQuantized(e, path, nCentroids = 8, kmeansIters = 0)
    val before = IvfStore.searchStoreQuantized(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // retrain at the same k over the reconstructed vectors (the vectors
    // every probe ranks on): answers keep high agreement with the
    // pre-recluster store — same corpus, same scoring, new list homes
    IvfStore.reclusterStore(spark, path, nCentroids = 8, kmeansIters = 1)
    assert(spark.read.parquet(
      Frames.resolve(spark, path, "centroids")).count() === 8)
    val after = IvfStore.searchStoreQuantized(spark, path, q, 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(after.nonEmpty && after.map(_._1).distinct.size === before.map(_._1).distinct.size)
    // scores of common (query, hit) pairs are identical — recluster moves
    // vectors between lists, it never changes payloads or scoring
    val bm = before.map(r => (r._1, r._2) -> r._3).toMap
    val common = after.filter(r => bm.contains((r._1, r._2)))
    assert(common.nonEmpty)
    common.foreach(r => assert(math.abs(bm((r._1, r._2)) - r._3) < 1e-12))
    // the store stays fsck-green after the rewrite
    assert(IvfStore.checkStore(spark, path)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  test("flattenBatches ends a shard's ingest life: fresh layout, same answers, merges with fresh shards") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L, 2L))
    val root = java.nio.file.Files.createTempDirectory("ivfflat").toString
    val evens = e.filter($"vec_id" % 2 === 0)
    IvfStore.writeCentroids(evens, s"$root/a", kmeansIters = 0)
    IvfStore.appendBatch(spark, s"$root/a", evens.filter($"vec_id" % 4 === 0), 0L)
    IvfStore.appendBatch(spark, s"$root/a", evens.filter($"vec_id" % 4 === 2), 1L)
    IvfStore.deleteVectors(spark, s"$root/a", Seq(2L).toDF("vec_id"))
    val before = IvfStore.searchStore(spark, s"$root/a", q, 5, nProbe = 16)
      .as[(Long, Long, Double, Long)].collect().toSet
    IvfStore.markAudited(spark, s"$root/a")
    IvfStore.flattenBatches(spark, s"$root/a")
    // layout is cid=-only, the batch watermark dropped with the layers;
    // the rewrite installed via a frame bump (r18), tombstones carried
    assert(Frames.currentVersion(spark, s"$root/a").isDefined,
      "flatten must install via a frame bump")
    val lists = spark.read.parquet(Frames.resolve(spark, s"$root/a", "lists"))
    assert(!lists.columns.contains("batch"))
    assert(IvfStore.listBatches(spark, s"$root/a") === Seq.empty)
    assert(IvfStore.lastAudited(spark, s"$root/a") === None)
    // answers unchanged (layout metadata only; tombstones carried)
    assert(IvfStore.searchStore(spark, s"$root/a", q, 5, nProbe = 16)
      .as[(Long, Long, Double, Long)].collect().toSet === before)
    assert(!lists.filter($"vec_id" === 2L).isEmpty,
      "flatten must NOT expunge — tombstones mask, expunge is its own verb")
    // idempotent re-run (the crash-resume contract)
    IvfStore.flattenBatches(spark, s"$root/a")
    // a bootstrapped shard that never ingested is trivially fresh: no-op
    val boot = java.nio.file.Files.createTempDirectory("ivfflatboot").toString
    IvfStore.writeCentroids(evens, boot, kmeansIters = 0)
    IvfStore.flattenBatches(spark, boot)
    // ingest is over: appendBatch refuses the fresh layout
    intercept[IllegalArgumentException](
      IvfStore.appendBatch(spark, s"$root/a", q, 5L))
    // ...and the flattened shard merges with a FRESH-built one
    IvfStore.writeIndex(e.filter($"vec_id" % 2 === 1), s"$root/b", kmeansIters = 0)
    IvfStore.mergeStores(spark, Seq(s"$root/a", s"$root/b"), s"$root/m")
    assert(IvfStore.checkStore(spark, s"$root/m")
      .agg(sum($"violations")).as[Long].collect().head === 0L)
    assert(IvfStore.searchStore(spark, s"$root/m", q, 5).count() > 0)
  }

  test("quantized layered shards: merge offsets ordinals, flatten is layout-only, fsck green") {
    // the layered-merge and flatten machinery is column-agnostic — prove
    // it on the int8 lists too (scale is per-vector, rows self-describe)
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id".isin(0L, 1L))
    val root = java.nio.file.Files.createTempDirectory("ivfqlay").toString
    // fresh-built quantized shards: assert the merge + the flatten no-op
    // on that shape (the streamed-quantized layered path has its own
    // test below)
    def qShard(m: Long, path: String): Unit =
      IvfStore.writeIndexQuantized(
        e.filter($"vec_id" % 2 === m && $"vec_id" % 4 === m), path,
        nCentroids = 2, kmeansIters = 0)
    qShard(0L, s"$root/a")
    qShard(1L, s"$root/b")
    IvfStore.mergeStores(spark, Seq(s"$root/a", s"$root/b"), s"$root/m")
    // flatten on a fresh-layout (quantized) store is a no-op, and the
    // merged quantized store is fully fsck-green — the GROUPED banded
    // assignment audit runs on the reconstructions (VERDICT r15 #1), and
    // a fresh-layout merge carries no per-row provenance, so the
    // advisory row records the rows audited under grouped-only
    IvfStore.flattenBatches(spark, s"$root/m")
    val rep = IvfStore.checkStore(spark, s"$root/m").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep.values.map(_._2).sum === 0L, rep.toString)
    assert(rep("lists_assignment")._1 > 0L,
      "quantized assignment is tolerance-band audited")
    assert(rep("codes_wellformed")._1 > 0L)
    assert(rep("merged_provenance")._1 === 0L, "fresh-layout merge: no provenance")
    assert(rep("merged_groups_advisory")._1 === rep("ids_unique")._1,
      "advisory row records every grouped-only-audited row")
    assert(IvfStore.searchStoreQuantized(spark, s"$root/m", q, 3, nProbe = 4)
      .count() > 0)
  }

  test("ingest and recluster guards: audited-ordinal replay, mixed layout, install window") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id" === 0L)

    // appendBatch refuses an ordinal the audit vouched for (ADVICE r14:
    // an upstream shard's checkpoint continuing into a merge-remapped
    // store would clobber a layer the `batch > since` window never
    // re-inspects)
    val root = java.nio.file.Files.createTempDirectory("ivfguard").toString
    def streamShard(m: Long, path: String): Unit = {
      IvfStore.writeCentroids(e.filter($"vec_id" % 2 === m), path,
        nCentroids = 2, kmeansIters = 0)
      IvfStore.appendBatch(spark, path,
        e.filter($"vec_id" % 2 === m && $"vec_id" < 250), 0L)
      IvfStore.appendBatch(spark, path,
        e.filter($"vec_id" % 2 === m && $"vec_id" >= 250), 1L)
    }
    streamShard(0L, s"$root/a")
    streamShard(1L, s"$root/b")
    IvfStore.mergeStores(spark, Seq(s"$root/a", s"$root/b"), s"$root/m")
    assert(IvfStore.lastAudited(spark, s"$root/m") === Some(3L))
    val eReplay = intercept[IllegalArgumentException](
      IvfStore.appendBatch(spark, s"$root/m", q, 2L))
    assert(eReplay.getMessage.contains("ordinal floor"), eReplay.getMessage)
    // ...while a fresh ordinal past the floor lands normally
    def newVec(id: Long) = Seq((id, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    IvfStore.appendBatch(spark, s"$root/m", newVec(9001L), 4L)
    assert(IvfStore.listBatches(spark, s"$root/m") === Seq(0L, 1L, 2L, 3L, 4L))
    // the floor is FIXED at merge time, not the moving audit watermark:
    // the store's OWN retried micro-batch (at-least-once delivery)
    // replays its ordinal even after an audit vouched for it
    IvfStore.markAudited(spark, s"$root/m")
    IvfStore.appendBatch(spark, s"$root/m", newVec(9002L), 4L)
    assert(spark.read.parquet(s"$root/m/lists")
      .filter($"batch" === 4L).select("vec_id").as[Long].collect().toSet
      === Set(9002L), "replay must REPLACE batch 4, not duplicate it")

    // appendBatch refuses a fresh (cid-only) store: a half-present batch
    // column serves neither audit
    val fresh = java.nio.file.Files.createTempDirectory("ivfguardf").toString
    IvfStore.writeIndex(e, fresh, kmeansIters = 0)
    val eMix = intercept[IllegalArgumentException](
      IvfStore.appendBatch(spark, fresh, q, 0L))
    assert(eMix.getMessage.contains("cid-only"), eMix.getMessage)

    // frame-pointer install (VERDICT r17 #1): a recluster killed between
    // its two table writes — the next frame partially or fully staged,
    // the pointer NOT yet flipped — costs NOTHING: readers never look
    // past the pointer, so every entry serves the OLD frame through the
    // whole crash window (the r14–r17 refuse-until-heal marker is gone)
    val preCrash = IvfStore.searchStore(spark, fresh, q, 3)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // forge the crash: stage a POISONED next frame (wrong centroids AND
    // wrong lists in the next generations, plus the manifest naming them
    // — a reader that resolved the unflipped frame would return
    // different answers or die on the alien schema)
    Seq((0, Array(9f, 9f))).toDF("cid", "cvec")
      .write.mode("overwrite").parquet(s"$fresh/tables/centroids/g=0")
    Seq((999L, Array(9f, 9f), 1.0, 0)).toDF("vec_id", "v", "nv", "cid")
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$fresh/tables/lists/g=0")
    FsOps.writeMarker(spark, s"$fresh/frames", "v=0",
      "centroids:0\ndeletes:0\nlists:0")
    assert(IvfStore.searchStore(spark, fresh, q, 3)
      .as[(Long, Long, Double, Long)].collect().toSeq === preCrash,
      "an unflipped staged frame must be invisible to every reader")
    assert(IvfStore.checkStore(spark, fresh)
      .agg(sum($"violations")).as[Long].collect().head === 0L,
      "fsck audits the OLD frame through the crash window")
    IvfStore.deleteVectors(spark, fresh, Seq(-1L).toDF("vec_id")) // ingest verbs too
    // the re-run restages past the debris and completes: ONE pointer
    // flip installs frame v=0 — lists + centroids + tombstone drop
    IvfStore.reclusterStore(spark, fresh, nCentroids = 16, kmeansIters = 0)
    assert(FsOps.readLongMarker(spark, fresh, "_frame") === Some(0L))
    assert(Frames.currentVersion(spark, fresh) === Some(0L))
    assert(spark.read.parquet(Frames.resolve(spark, fresh, "lists"))
      .filter($"vec_id" === 999L).isEmpty,
      "the install never serves the poisoned staging debris")
    assert(IvfStore.searchStore(spark, fresh, q, 3).count() === 3)
    // retention (VERDICT r18 #2): the superseded legacy frame is kept
    // for ONE install — a reader that resolved its dirs just before the
    // flip completes its (lazily planned) scan against it
    assert(new java.io.File(s"$fresh/lists").exists,
      "the superseded legacy frame is retained for one install")
    // a SECOND bump (expunge after a delete) supersedes v=0, keeps it as
    // the new grace window, and sweeps the legacy frame out of the window
    IvfStore.deleteVectors(spark, fresh, Seq(0L).toDF("vec_id"))
    val preFlip = Frames.resolve(spark, fresh, "lists") // a reader's resolved dir
    IvfStore.expungeDeletes(spark, fresh)
    assert(Frames.currentVersion(spark, fresh) === Some(1L))
    assert(!new java.io.File(s"$fresh/lists").exists,
      "two installs later the legacy frame has left the window")
    assert(spark.read.parquet(preFlip).count() > 0,
      "retain=1: the pre-flip frame still reads after one install")
    assert(IvfStore.searchStore(spark, fresh, q, 3).count() === 3)
    // reclaim-now (Maintain ivf gc 0) sweeps the grace-window frame
    Frames.gc(spark, fresh, IvfStore.Tables, retain = 0)
    assert(!new java.io.File(s"$fresh/frames/v=0").exists &&
      !new java.io.File(preFlip).exists,
      "gc 0 collects every superseded frame and its generations")
    assert(IvfStore.searchStore(spark, fresh, q, 3).count() === 3)
  }

  test("a dropped frame table reads as absent, is recreated by the next append, never shares a generation") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivfdrop").toString
    IvfStore.writeIndex(e, path, kmeansIters = 0)
    IvfStore.deleteVectors(spark, path, Seq(0L).toDF("vec_id"))
    IvfStore.expungeDeletes(spark, path)
    // the manifest still lists the dropped table — at a generation no
    // writer has created yet, so readers see no tombstones at all
    val dropped = Frames.resolve(spark, path, "deletes")
    assert(dropped.startsWith(s"$path/tables/deletes/g="))
    assert(!new java.io.File(dropped).exists)
    assert(IvfStore.liveVectorIds(spark, path).count() === e.count() - 1)
    // the next soft delete creates it in place
    IvfStore.deleteVectors(spark, path, Seq(1L).toDF("vec_id"))
    assert(new java.io.File(dropped).exists)
    assert(!IvfStore.liveVectorIds(spark, path).as[Long].collect().contains(1L))
    // a second drop allocates past the live generation: the retained
    // grace frame's tombstones are never cleared by the new install
    IvfStore.reclusterStore(spark, path, nCentroids = 8, kmeansIters = 0)
    assert(Frames.resolve(spark, path, "deletes") != dropped)
    assert(new java.io.File(dropped).exists, "retained for one install")
    assert(IvfStore.liveVectorIds(spark, path).count() === e.count() - 2)
    // an undeclared table still fails loudly
    val eU = intercept[IllegalStateException](Frames.resolve(spark, path, "bogus"))
    assert(eU.getMessage.contains("lists no 'bogus' table"), eU.getMessage)
    // a rebuild over the frame-installed store overwrites the current
    // frame's tables in place: it serves and audits like a fresh build
    IvfStore.writeIndex(e, path, kmeansIters = 0)
    assert(Frames.currentVersion(spark, path) === Some(1L))
    assert(IvfStore.liveVectorIds(spark, path).count() === e.count())
    assert(IvfStore.checkStore(spark, path)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  test("concurrent ingest during a frame rewrite is carried through the flip (ADVICE r18)") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("ivfcarry").toString
    IvfStore.writeCentroids(e, root, kmeansIters = 0)
    IvfStore.appendBatch(spark, root, e.filter($"vec_id" < 100), 0L)

    // a tombstone AND a batch land while RECLUSTER stages: with the
    // refuse-until-heal marker gone, both write into the old frame —
    // the flip must carry them, or Forget's takedown (deleteVectors)
    // silently un-forgets and the batch silently vanishes
    IvfStore.midMaintenanceHook = { s =>
      IvfStore.deleteVectors(s, root, Seq(5L).toDF("vec_id"))
      IvfStore.appendBatch(s, root,
        e.filter($"vec_id" >= 100 && $"vec_id" < 110), 1L)
    }
    try IvfStore.reclusterStore(spark, root, nCentroids = 4, kmeansIters = 0)
    finally IvfStore.midMaintenanceHook = _ => ()
    val live = IvfStore.liveVectorIds(spark, root).as[Long].collect().toSet
    assert(!live.contains(5L),
      "a tombstone landed mid-staging must survive the flip")
    assert((100L until 110L).forall(live.contains),
      "a batch appended mid-staging must survive the flip")
    assert(live.size === 109, "99 batch-0 survivors + 10 carried")
    // carried rows were re-homed against the NEW centroids: the deep
    // audit's assignment recompute must hold frame-wide
    assert(IvfStore.checkStore(spark, root)
      .agg(sum($"violations")).as[Long].collect().head === 0L)

    // same window across EXPUNGE (reassign-free carry): the new frame
    // keeps only the delta tombstone, consumed ones materialized out
    IvfStore.deleteVectors(spark, root, Seq(6L).toDF("vec_id"))
    IvfStore.midMaintenanceHook = { s =>
      IvfStore.deleteVectors(s, root, Seq(7L).toDF("vec_id"))
      IvfStore.appendBatch(s, root,
        e.filter($"vec_id" >= 110 && $"vec_id" < 120), 2L)
    }
    try IvfStore.expungeDeletes(spark, root)
    finally IvfStore.midMaintenanceHook = _ => ()
    val live2 = IvfStore.liveVectorIds(spark, root).as[Long].collect().toSet
    assert(!live2.contains(6L) && !live2.contains(7L),
      "both the consumed and the mid-staging tombstones hold after expunge")
    assert((110L until 120L).forall(live2.contains))
    assert(spark.read.parquet(Frames.resolve(spark, root, "lists"))
      .filter($"vec_id" === 6L).isEmpty,
      "the consumed tombstone was materialized out of the rewrite")
    assert(IvfStore.checkStore(spark, root)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
  }

  test("quantized streaming ingest: streamed+flattened shard equals the one-shot build; mixed layers refuse") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("ivfqstream").toString
    // stream the corpus in two quantized batches against frozen
    // centroids, flatten — row-for-row the one-shot writeIndexQuantized
    // (same raw assignment, same codes, same reconstruction norm)
    IvfStore.writeCentroids(e, s"$root/streamed", kmeansIters = 0)
    IvfStore.appendBatch(spark, s"$root/streamed",
      e.filter($"vec_id" % 2 === 0), 0L, quantize = true)
    IvfStore.appendBatch(spark, s"$root/streamed",
      e.filter($"vec_id" % 2 === 1), 1L, quantize = true)
    IvfStore.flattenBatches(spark, s"$root/streamed")
    IvfStore.writeIndexQuantized(e, s"$root/oneshot", kmeansIters = 0)
    def rows(p: String): Set[(Long, Int, Double, Seq[Byte], Double)] =
      spark.read.parquet(Frames.resolve(spark, p, "lists"))
        .select($"vec_id", $"cid", $"scale", $"qvec", $"nv")
        .as[(Long, Int, Double, Seq[Byte], Double)].collect().toSet
    assert(rows(s"$root/streamed") === rows(s"$root/oneshot"))
    // ...and fsck is green on the streamed shard (banded quantized audit)
    val rep = IvfStore.checkStore(spark, s"$root/streamed").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep.values.map(_._2).sum === 0L, rep.toString)
    assert(rep("codes_wellformed")._1 > 0L)

    // a raw batch into a quantized store (and vice versa) refuses: a
    // half-present qvec column serves neither probe path
    val mixed = java.nio.file.Files.createTempDirectory("ivfqmix").toString
    IvfStore.writeCentroids(e, mixed, kmeansIters = 0)
    IvfStore.appendBatch(spark, mixed, e.filter($"vec_id" < 100), 0L,
      quantize = true)
    val eRaw = intercept[IllegalArgumentException](
      IvfStore.appendBatch(spark, mixed, e.filter($"vec_id" >= 100), 1L))
    assert(eRaw.getMessage.contains("QUANTIZED"), eRaw.getMessage)
    val mixed2 = java.nio.file.Files.createTempDirectory("ivfqmix2").toString
    IvfStore.writeCentroids(e, mixed2, kmeansIters = 0)
    IvfStore.appendBatch(spark, mixed2, e.filter($"vec_id" < 100), 0L)
    val eQ = intercept[IllegalArgumentException](
      IvfStore.appendBatch(spark, mixed2, e.filter($"vec_id" >= 100), 1L,
        quantize = true))
    assert(eQ.getMessage.contains("RAW"), eQ.getMessage)
  }

  test("centroids_wellformed: a NaN-poisoned centroid flags where the assignment NaN guard is blind; recluster repairs") {
    // ADVICE r16: the banded assignment audit's NaN guard suppresses
    // violations for a whole group when a CENTROID (not a list row)
    // carries NaN — best = max(cos) is NaN under NaN-greatest ordering,
    // so every row of the group passes. A QUANTIZED store runs exactly
    // that banded path; the dedicated wellformedness row keeps the class
    // visible, and reclusterStore (centroids re-trained from list
    // payloads) clears it
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivfnanc").toString
    IvfStore.writeIndexQuantized(e, path, kmeansIters = 0)
    def rep(): Map[String, (Long, Long)] =
      IvfStore.checkStore(spark, path).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val healthy = rep()
    assert(healthy("centroids_wellformed") === ((16L, 0L)), healthy.toString)

    // poison one centroid component with NaN (crash-safe swap, as a
    // corrupt writer would leave it)
    val cents = spark.read.parquet(s"$path/centroids")
    cents.withColumn("cvec",
        when($"cid" === 1,
          transform($"cvec", x => lit(Float.NaN))).otherwise($"cvec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids_tmp")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.FsOps.atomicSwap(fs,
      new org.apache.hadoop.fs.Path(s"$path/centroids"),
      new org.apache.hadoop.fs.Path(s"$path/centroids_tmp"))
    val bad = rep()
    assert(bad("centroids_wellformed")._2 === 1L, bad.toString)
    assert(bad("lists_assignment")._2 === 0L,
      "the NaN guard suppresses assignment violations — exactly why the " +
        s"wellformedness row exists: $bad")
    IvfStore.reclusterStore(spark, path, nCentroids = 16, kmeansIters = 0)
    val fixed = rep()
    assert(fixed("centroids_wellformed") === ((16L, 0L)),
      s"recluster re-trains centroids from list payloads: $fixed")
    assert(fixed.values.map(_._2).sum === 0L, fixed.toString)
  }

  test("incremental audit carries centroids_wellformed") {
    import graft.similarity.IvfStore
    val e = Tables.load(spark, sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivfnanci").toString
    IvfStore.writeCentroids(e, path, nCentroids = 4, kmeansIters = 0)
    IvfStore.appendBatch(spark, path, e.filter($"vec_id" % 2 === 0), 0L)
    val rep = IvfStore.checkStoreIncremental(spark, path).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("centroids_wellformed") === ((4L, 0L)), rep.toString)
  }
}
