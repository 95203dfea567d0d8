package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.index.Indexer
import graft.search.BM25
import graft.operators.Skew

class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  // vocab/meta commit as one manifest frame (VERDICT r18 #1): every read
  // of the derived pair resolves the store's current frame — a raw
  // `<path>/vocab` read would serve a superseded generation after any
  // delete/append/refresh maintenance
  private def derivedDf(p: String, t: String) =
    spark.read.parquet(Indexer.derivedTablePath(spark, p, t))

  test("marker read recovers the swap-aside value in the swap's crash window") {
    val path = Files.createTempDirectory("fsopsmarker").toString
    FsOps.writeLongMarker(spark, path, "_lastbatch", 7L)
    assert(FsOps.readLongMarker(spark, path, "_lastbatch") === Some(7L))
    // simulate atomicSwap's residual crash window: the old value was
    // renamed aside, the new one never installed — the marker must read
    // as the last durable value, NOT as "never recorded" (for _lastbatch
    // absence would downgrade a tracked store to legacy and the next
    // append would mix schemas)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/_lastbatch"),
      new org.apache.hadoop.fs.Path(s"$path/__lastbatch.swap_old")))
    assert(FsOps.readLongMarker(spark, path, "_lastbatch") === Some(7L),
      "missing live marker must fall back to the .swap_old aside")
    // a truly absent marker still reads as never-recorded
    assert(FsOps.readLongMarker(spark, path, "_nosuch") === None)
    // and a completed re-write wins over a stale aside
    FsOps.writeLongMarker(spark, path, "_lastbatch", 9L)
    assert(FsOps.readLongMarker(spark, path, "_lastbatch") === Some(9L))
  }

  test("stale swap-aside heals via the maintenance verb, never on the read path") {
    val path = Files.createTempDirectory("fsopsstale").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate atomicSwap's OTHER crash window: new value installed,
    // stale aside not yet deleted — live says 9, aside still says 7
    FsOps.writeLongMarker(spark, path, "_lastbatch", 7L)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/_lastbatch"),
      new org.apache.hadoop.fs.Path(s"$path/__lastbatch.swap_old")))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_lastbatch"), true)
    try out.write("9".getBytes("UTF-8")) finally out.close()
    // the read returns the live value but must NOT delete the aside:
    // "live + aside" is indistinguishable from a concurrent writer's
    // mid-swap state, where the aside is the only durable copy — a
    // read-path delete could destroy the value the writer's rollback
    // needs (ADVICE r12: the TOCTOU race on serving reads)
    assert(FsOps.readLongMarker(spark, path, "_lastbatch") === Some(9L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/__lastbatch.swap_old")),
      "the read path must leave the aside in place")
    // the explicit maintenance verb (no concurrent writer by contract)
    // is where the stale aside heals — left forever, a later manual
    // delete of the live marker (a documented reset) would silently
    // revive 7 through the aside fallback (ordinal reuse on next append)
    assert(FsOps.healStaleAsides(spark, path) === Seq("_lastbatch"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/__lastbatch.swap_old")),
      "heal-markers must delete a stale aside whose live marker exists")
    // an aside WITHOUT a live file is a crashed swap's only copy: kept
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/_lastbatch"),
      new org.apache.hadoop.fs.Path(s"$path/__lastbatch.swap_old")))
    assert(FsOps.healStaleAsides(spark, path) === Seq.empty)
    assert(FsOps.readLongMarker(spark, path, "_lastbatch") === Some(9L),
      "heal-markers must keep an aside that is the only durable copy")
    // restore live, heal, then a deliberate reset reads as never-recorded
    FsOps.writeLongMarker(spark, path, "_lastbatch", 9L)
    assert(FsOps.healStaleAsides(spark, path) === Seq.empty) // swap healed it
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_lastbatch"), false)
    assert(FsOps.readLongMarker(spark, path, "_lastbatch") === None,
      "after the heal, a deliberate marker reset must read as never-recorded")
  }

  test("index store roundtrip: searchStore == search, with partition pruning") {
    val docs = Tables.load(spark, sf0001, "documents")
    val ix = Indexer.buildIndex(docs)
    val path = Files.createTempDirectory("ixstore").toString
    Indexer.writeIndex(ix, path, nBuckets = 16)

    val direct = BM25.search(ix, "fast hash join scan")
      .as[(Int, Long, Double)].collect().toSeq
    val stored = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    // same ranking; scores equal to 1e-9 (sum order differs across the
    // two physical plans, so bit-equality is not a property here)
    assert(stored.map(r => (r._1, r._2)) === direct.map(r => (r._1, r._2)))
    stored.zip(direct).foreach { case (s, d) =>
      assert(math.abs(s._3 - d._3) < 1e-9)
    }

    // the pruning literal must reach the scan as a PartitionFilter
    val plan = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [term_bucket"),
      s"expected term_bucket partition filter in:\n$plan")
  }

  test("incremental appendIndex equals a full rebuild") {
    val docs = Tables.load(spark, sf0001, "documents")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)

    val incPath = Files.createTempDirectory("ixinc").toString
    Indexer.writeIndex(Indexer.buildIndex(half1), incPath, nBuckets = 16)
    Indexer.appendIndex(spark, incPath, half2, nBuckets = 16)

    val fullPath = Files.createTempDirectory("ixfull").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), fullPath, nBuckets = 16)

    // every store table identical as a bag of CONTENT rows (`batch` is
    // ingest bookkeeping and legitimately differs: 0/1 vs all-0)
    for ((t, cols) <- Seq("doc_stats" -> Seq("doc_id", "length"),
        "vocab" -> Seq("term", "df"),
        "meta" -> Seq("total_docs", "avg_dl", "length_sum"))) {
      // vocab/meta resolve through the derived frame (the append's
      // mergeDerived frame-installs them); doc_stats stays root-flat
      def read(p: String) =
        if (t == "doc_stats") spark.read.parquet(s"$p/$t") else derivedDf(p, t)
      val inc = read(incPath)
        .select(cols.map(col): _*).collect().toSeq
        .map(_.toSeq).sortBy(_.toString)
      val full = read(fullPath)
        .select(cols.map(col): _*).collect().toSeq
        .map(_.toSeq).sortBy(_.toString)
      assert(inc === full, s"table $t differs after append")
    }
    val incP = spark.read.parquet(s"$incPath/postings")
      .select("term", "doc_id", "tf", "term_bucket").collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    val fullP = spark.read.parquet(s"$fullPath/postings")
      .select("term", "doc_id", "tf", "term_bucket").collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    assert(incP === fullP, "postings differ after append")

    // and the search behavior matches
    val a = BM25.searchStore(spark, incPath, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    val b = BM25.searchStore(spark, fullPath, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    assert(a.map(r => (r._1, r._2)) === b.map(r => (r._1, r._2)))
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._3 - y._3) < 1e-9) }
  }

  test("soft-delete: tombstoned store answers like a rebuild without the docs") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixdel").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    Indexer.deleteDocs(spark, path,
      docs.filter(col("doc_id") % 3 === 0).select("doc_id"))

    val rebuilt = BM25.search(
      Indexer.buildIndex(docs.filter(col("doc_id") % 3 =!= 0)), "fast hash join scan")
      .as[(Int, Long, Double)].collect().toSeq
    val stored = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    assert(stored.map(r => (r._1, r._2)) === rebuilt.map(r => (r._1, r._2)),
      "tombstoned store must rank exactly like the live-only rebuild")
    stored.zip(rebuilt).foreach { case (s, d) =>
      assert(math.abs(s._3 - d._3) < 1e-9)
    }
    // no deleted doc can surface
    assert(stored.forall(_._2 % 3 != 0))
    // postings parquet untouched (tombstones only); meta tracks live docs
    val deadInStore = spark.read.parquet(s"$path/postings")
      .filter(col("doc_id") % 3 === 0).count()
    assert(deadInStore > 0, "soft delete must not rewrite postings")
    val totalDocs = derivedDf(path, "meta")
      .select("total_docs").as[Long].head()
    assert(totalDocs == docs.filter(col("doc_id") % 3 =!= 0).count())
    // idempotent: re-deleting the same ids changes nothing
    Indexer.deleteDocs(spark, path,
      docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    val again = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    assert(again === stored)
  }

  test("expunge applies tombstones physically, preserves answers, releases ids") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixexp").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    val dead = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    Indexer.deleteDocs(spark, path, dead)
    val before = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    Indexer.expungeDeletes(spark, path, nBuckets = 16)
    // answers unchanged; dead rows physically gone; tombstones dropped
    val after = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    assert(after === before, "expunge must not change answers")
    assert(spark.read.parquet(s"$path/postings")
      .filter(col("doc_id") % 3 === 0).count() == 0)
    assert(!new java.io.File(s"$path/deletes").exists)
    // term-bucket pruning still works on the rewritten store
    val plan = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [term_bucket"))
    // expunged ids are released: re-appending them now succeeds — with
    // the DEFAULT nBuckets: the store's _nbuckets marker must override
    // the mismatched parameter (silent-pruning-corruption guard)
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 3 === 0))
    val restored = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    val full = BM25.search(Indexer.buildIndex(docs), "fast hash join scan")
      .as[(Int, Long, Double)].collect().toSeq
    assert(restored.map(r => (r._1, r._2)) === full.map(r => (r._1, r._2)),
      "delete -> expunge -> re-append round-trips to the full index")
  }

  test("appendIndex after deleteDocs keeps tombstoned docs out of vocab/meta") {
    // regression (ADVICE r5): appendIndex used to rebuild vocab/meta from
    // the RAW postings/doc_stats parquet, so a delete-then-append let the
    // deleted docs' df re-enter vocab and their rows re-enter meta — the
    // store stopped answering like a fresh index without the dead docs
    val docs = Tables.load(spark, sf0001, "documents")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val extra = docs.filter(col("doc_id") % 2 === 1)
    val path = Files.createTempDirectory("ixdelapp").toString
    Indexer.writeIndex(Indexer.buildIndex(base), path, nBuckets = 16)
    Indexer.deleteDocs(spark, path,
      base.filter(col("doc_id") % 4 === 0).select("doc_id"))
    Indexer.appendIndex(spark, path, extra, nBuckets = 16)

    val liveDocs = docs.filter(col("doc_id") % 4 =!= 0)
    val fresh = Indexer.buildIndex(liveDocs)
    // derived tables must track the LIVE view only
    val storedVocab = derivedDf(path, "vocab").collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    val freshVocab = fresh.vocab.collect().toSeq.map(_.toSeq).sortBy(_.toString)
    assert(storedVocab === freshVocab,
      "vocab after delete+append must exclude tombstoned docs' df")
    val storedMeta = derivedDf(path, "meta")
      .select("total_docs", "avg_dl").as[(Long, Double)].head()
    val freshMeta = fresh.meta
      .select("total_docs", "avg_dl").as[(Long, Double)].head()
    assert(storedMeta._1 == freshMeta._1)
    assert(math.abs(storedMeta._2 - freshMeta._2) < 1e-9)
    // and search answers exactly like the fresh live-only index
    val stored = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    val direct = BM25.search(fresh, "fast hash join scan")
      .as[(Int, Long, Double)].collect().toSeq
    assert(stored.map(r => (r._1, r._2)) === direct.map(r => (r._1, r._2)))
    stored.zip(direct).foreach { case (s, d) => assert(math.abs(s._3 - d._3) < 1e-9) }
  }

  test("co-located positional + frequency stores keep separate bucket markers") {
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    val path = Files.createTempDirectory("ixcoloc").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    // different layout for the positional table at the SAME store path —
    // must not clobber the frequency index's marker (ADVICE r5)
    Indexer.writePositional(docs, path, nBuckets = 8)
    assert(Indexer.storedBuckets(spark, path).contains(16))
    assert(Indexer.storedPositionalBuckets(spark, path).contains(8))
    // both access paths still answer correctly through their own layout
    val bm = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 999)
    assert(bm.count() > 0)
    val inline = graft.search.PhraseSearch
      .search(docs, "the", k = 5).select("doc_id").as[Long].collect().toSet
    val fromStore = graft.search.PhraseSearch
      .searchStore(spark, path, "the", k = 5, nBuckets = 999)
      .select("doc_id").as[Long].collect().toSet
    assert(fromStore === inline)
  }

  test("incremental vocab/meta merge is bit-identical to the full recompute") {
    // appendIndex merges the delta's derived state into the stored
    // vocab/meta (work ∝ batch) — after a MIXED append/delete/append
    // sequence the merged tables must equal a full refreshDerived
    // recompute exactly, avg_dl to the last bit (both derive it from
    // the same exact long sums)
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixincr").toString
    Indexer.writeIndex(Indexer.buildIndex(docs.filter(col("doc_id") % 3 === 0)),
      path, nBuckets = 16)
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 3 === 1))
    Indexer.deleteDocs(spark, path,
      docs.filter(col("doc_id") % 6 === 0).select("doc_id"))
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 3 === 2))

    def vocabRows = derivedDf(path, "vocab")
      .as[(String, Long)].collect().toSeq.sorted
    def metaRow = derivedDf(path, "meta")
      .select("total_docs", "avg_dl", "length_sum")
      .as[(Long, Double, Long)].head()
    val (mergedVocab, mergedMeta) = (vocabRows, metaRow)
    Indexer.refreshDerived(spark, path) // the full-recompute repair path
    assert(vocabRows === mergedVocab,
      "incrementally merged vocab must equal the full recompute")
    assert(metaRow === mergedMeta,
      "incrementally merged meta must equal the full recompute bit-for-bit")
    // sanity: the merged state tracks the live view (deletes excluded)
    val liveN = docs.filter(col("doc_id") % 6 =!= 0).count()
    assert(mergedMeta._1 === liveN)

    // delete-everything edge: the decrement must null avg_dl and empty
    // vocab exactly like the full recompute over zero live docs
    Indexer.deleteDocs(spark, path, docs.select("doc_id"))
    def metaRaw = derivedDf(path, "meta")
      .select("total_docs", "avg_dl", "length_sum")
      .collect().toSeq.map(_.toSeq)
    val emptied = metaRaw
    assert(emptied.head === Seq(0L, null, 0L), s"emptied meta: $emptied")
    assert(derivedDf(path, "vocab").count() === 0)
    Indexer.refreshDerived(spark, path)
    assert(metaRaw === emptied)
    assert(derivedDf(path, "vocab").count() === 0)
  }

  private def copyDir(src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (s, d) = (new org.apache.hadoop.fs.Path(src),
      new org.apache.hadoop.fs.Path(dst))
    org.apache.hadoop.fs.FileUtil.copy(
      s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf)
  }

  test("deleteDocs resume completes a crashed delete's pending derived swaps") {
    // ADVICE r13 (medium): deleteDocs commits its tombstone append
    // before its derived-frame flip; a crash between them left the ids
    // tombstoned but the stored vocab/meta still counting them — and the
    // resume (same ids, now all already dead) early-returned at
    // newDead.isEmpty, sealing the drift forever while Forget's manifest
    // read complete. The resume must instead detect the staleness (the
    // total_docs-vs-live witness) and rebuild the pair.
    val docs = Tables.load(spark, sf0001, "documents")
    val dead = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    val (path, oracle) = (Files.createTempDirectory("ixheal").toString,
      Files.createTempDirectory("ixhealOracle").toString)
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    Indexer.writeIndex(Indexer.buildIndex(docs), oracle, nBuckets = 16)
    Indexer.deleteDocs(spark, oracle, dead) // the state a completed delete reaches
    // forge the crash on `path`: tombstones committed (the oracle's
    // deletes table IS what the append would have written), the derived
    // frame never flipped — stored vocab/meta still count the dead docs
    copyDir(s"$oracle/deletes", s"$path/deletes")
    // resume with the same ids: nothing new to tombstone, heal rebuilds
    Indexer.deleteDocs(spark, path, dead)
    def vocabRows(p: String) = derivedDf(p, "vocab")
      .as[(String, Long)].collect().toSeq.sorted
    def metaRow(p: String) = derivedDf(p, "meta")
      .select("total_docs", "avg_dl", "length_sum")
      .as[(Long, Double, Long)].head()
    assert(vocabRows(path) === vocabRows(oracle),
      "resume must heal the stale vocab to the live view")
    assert(metaRow(path) === metaRow(oracle),
      "resume must heal the stale meta to the live view")
    // and the delete is a true no-op from here on
    Indexer.deleteDocs(spark, path, dead)
    assert(metaRow(path) === metaRow(oracle))
  }

  test("derived-pair frame install: kill mid-stage costs nothing; one flip installs vocab+meta together") {
    // VERDICT r18 #1 (index face): refreshDerived/mergeDerived/deleteDocs
    // used two sequential swaps — a crash between them served a new
    // vocab against an old meta (df and N disagreeing skews BM25 until
    // repair). The pair now commits through ONE manifest-frame flip.
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixframe").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    val preCrash = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq
    // forge the kill: a POISONED pair staged under unflipped generations
    Seq(("zzz", 999L)).toDF("term", "df")
      .write.mode("overwrite").parquet(s"$path/tables/vocab/g=0")
    Seq((1L, 1.0, 1L)).toDF("total_docs", "avg_dl", "length_sum")
      .write.mode("overwrite").parquet(s"$path/tables/meta/g=0")
    assert(BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq === preCrash,
      "an unflipped staged pair is invisible to every reader")
    assert(Indexer.checkStore(spark, path).agg(sum($"violations"))
      .as[Long].collect().head === 0L,
      "fsck audits the OLD pair through the crash window")
    // the re-run restages over the debris; ONE flip installs both tables
    Indexer.refreshDerived(spark, path)
    assert(graft.operators.Frames.currentVersion(spark, path) === Some(0L))
    assert(BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
      .as[(Int, Long, Double)].collect().toSeq === preCrash,
      "a pure refresh changes no answers")
    // retention: the superseded legacy pair survives one install as the
    // readers' grace window, then leaves at the next flip
    assert(new java.io.File(s"$path/vocab").exists)
    val preInstall = Indexer.derivedTablePath(spark, path, "meta")
    Indexer.refreshDerived(spark, path) // v=1
    assert(!new java.io.File(s"$path/vocab").exists,
      "the legacy pair left the retention window at the second install")
    assert(spark.read.parquet(preInstall).count() === 1,
      "retain=1: the pre-install generation still reads after one flip")
    assert(Indexer.checkStore(spark, path).agg(sum($"violations"))
      .as[Long].collect().head === 0L)
  }

  test("deleteDocs resume never installs a pre-append crash's staged frame") {
    // the OTHER side of the crash window: the decremented pair staged
    // but the tombstone append never ran — those decrements never
    // committed, so a later resume (triggered by a different, fully-
    // tombstoned id set) must NOT surface them: the staged generations
    // are unflipped debris readers can never resolve, and the staleness
    // witness sees a CONSISTENT store (total_docs equals the live
    // count), so the heal correctly does nothing
    val docs = Tables.load(spark, sf0001, "documents")
    val idsA = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    val (path, forged) = (Files.createTempDirectory("ixheal2").toString,
      Files.createTempDirectory("ixheal2Forge").toString)
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    Indexer.writeIndex(Indexer.buildIndex(docs), forged, nBuckets = 16)
    Indexer.deleteDocs(spark, path, idsA) // committed state: only A dead
    def metaRow(p: String) = derivedDf(p, "meta")
      .select("total_docs", "avg_dl", "length_sum")
      .as[(Long, Double, Long)].head()
    def vocabRows(p: String) = derivedDf(p, "vocab")
      .as[(String, Long)].collect().toSeq.sorted
    val (wantMeta, wantVocab) = (metaRow(path), vocabRows(path))
    // forge a crashed delete of B that died BEFORE its tombstone append:
    // a staged (unflipped) generation reflecting A∪B dead sits under
    // tables/, while the deletes table still carries only A
    Indexer.deleteDocs(spark, forged, idsA)
    Indexer.deleteDocs(spark, forged,
      docs.filter(col("doc_id") % 7 === 1).select("doc_id"))
    copyDir(Indexer.derivedTablePath(spark, forged, "vocab"),
      s"$path/tables/vocab/g=99")
    copyDir(Indexer.derivedTablePath(spark, forged, "meta"),
      s"$path/tables/meta/g=99")
    Indexer.deleteDocs(spark, path, idsA) // resume; newDead empty
    assert(metaRow(path) === wantMeta,
      "staged pre-append debris must not surface (B was never tombstoned)")
    assert(vocabRows(path) === wantVocab)
    // and the next REAL install stages past the debris and sweeps it
    // out with the superseded frames (gc retain=1 keeps one)
    Indexer.refreshDerived(spark, path)
    Indexer.refreshDerived(spark, path)
    graft.operators.Frames.gc(spark, path, Seq("vocab", "meta"), retain = 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tables/vocab/g=99")),
      "unreferenced staged debris is swept by the frame gc")
    assert(metaRow(path) === wantMeta)
    assert(vocabRows(path) === wantVocab)
  }

  test("positional store: tombstones excluded, expunge rewrites positional table") {
    // regression (VERDICT r6): the positional faces used to ignore the
    // delete lifecycle — searchStore/proximityStore returned tombstoned
    // docs, and expungeDeletes dropped the tombstone table WITHOUT
    // rewriting the positional table, making dead docs permanent
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixposdel").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    Indexer.writePositional(docs, path, nBuckets = 8) // its OWN layout
    Indexer.deleteDocs(spark, path,
      docs.filter(col("doc_id") % 3 === 0).select("doc_id"))

    val live = docs.filter(col("doc_id") % 3 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSeq
    val freshPhrase = rows(graft.search.PhraseSearch.search(live, "the", k = 10))
    val freshProx = rows(graft.search.PhraseSearch.proximitySearch(live, "the", 3, k = 10))
    assert(freshPhrase.nonEmpty, "fixture term must match some live docs")

    // soft-deleted: both positional faces answer like a fresh live-only index
    val delPhrase = rows(graft.search.PhraseSearch
      .searchStore(spark, path, "the", k = 10, nBuckets = 999))
    val delProx = rows(graft.search.PhraseSearch
      .proximityStore(spark, path, "the", 3, k = 10, nBuckets = 999))
    assert(delPhrase === freshPhrase, "phrase store must exclude tombstoned docs")
    assert(delProx === freshProx, "proximity store must exclude tombstoned docs")

    // expunged: tombstones gone, positional physically clean, answers stable
    Indexer.expungeDeletes(spark, path, nBuckets = 16)
    assert(!new java.io.File(s"$path/deletes").exists)
    assert(spark.read.parquet(s"$path/positional")
      .filter(col("doc_id") % 3 === 0).count() == 0,
      "expunge must rewrite the co-located positional table")
    assert(rows(graft.search.PhraseSearch
      .searchStore(spark, path, "the", k = 10, nBuckets = 999)) === freshPhrase)
    assert(rows(graft.search.PhraseSearch
      .proximityStore(spark, path, "the", 3, k = 10, nBuckets = 999)) === freshProx)
    // the positional table's own layout survived the rewrite
    assert(Indexer.storedPositionalBuckets(spark, path).contains(8))
    assert(spark.read.parquet(s"$path/positional").columns.contains("term_bucket"))
  }

  test("appendIndex grows a co-located positional table with the batch") {
    // append-side twin of the delete-consistency invariant: without it,
    // phrase/proximity over a co-located store silently miss appended docs
    val docs = Tables.load(spark, sf0001, "documents")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val path = Files.createTempDirectory("ixposapp").toString
    Indexer.writeIndex(Indexer.buildIndex(half1), path, nBuckets = 16)
    Indexer.writePositional(half1, path, nBuckets = 8) // its OWN layout
    Indexer.appendIndex(spark, path, half2, nBuckets = 16)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSeq
    val full = rows(graft.search.PhraseSearch.search(docs, "the", k = 10))
    assert(rows(graft.search.PhraseSearch
      .searchStore(spark, path, "the", k = 10, nBuckets = 999)) === full,
      "appended co-located store must answer like a full-corpus positional index")
    // the appended rows landed in the positional table's OWN 8-bucket layout
    assert(Indexer.storedPositionalBuckets(spark, path).contains(8))
    assert(spark.read.parquet(s"$path/positional")
      .filter(col("term_bucket") >= 8).count() === 0)

    // standalone appendPositional refuses doc_ids already in the store
    val e = intercept[IllegalArgumentException] {
      Indexer.appendPositional(spark, path, docs.limit(3))
    }
    assert(e.getMessage.contains("double-count"))
  }

  test("lifecycle matrix: all four store faces answer like a fresh rebuild after every step") {
    // The r6 positional finding and the r7 TF-IDF-face finding were both
    // the same defect class: ONE read face missing ONE lifecycle event.
    // This closes the class structurally — after EVERY lifecycle step,
    // EVERY face (BM25, phrase, proximity, sparse TF-IDF) must answer
    // exactly like a fresh index built on the live population.
    import graft.search.{PhraseSearch, SparseSim}
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixmatrix").toString
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 =!= 0)
    val b3 = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0)

    Indexer.writeIndex(Indexer.buildIndex(b1), path, nBuckets = 16)
    Indexer.writePositional(b1, path, nBuckets = 8)

    def faces(live: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val bmF = BM25.search(Indexer.buildIndex(live), "fast hash join scan")
        .as[(Int, Long, Double)].collect().toSeq
      val bmS = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
        .as[(Int, Long, Double)].collect().toSeq
      assert(bmS.map(r => (r._1, r._2)) === bmF.map(r => (r._1, r._2)),
        s"[$tag] bm25 ranking diverged from fresh rebuild")
      bmS.zip(bmF).foreach { case (s, f) =>
        assert(math.abs(s._3 - f._3) < 1e-9, s"[$tag] bm25 score diverged") }

      def trip(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(trip(PhraseSearch.searchStore(spark, path, "slow hash batch", nBuckets = 8))
        === trip(PhraseSearch.search(live, "slow hash batch")),
        s"[$tag] phrase face diverged from fresh rebuild")
      assert(trip(PhraseSearch.proximityStore(spark, path, "slow hash batch", 4, nBuckets = 8))
        === trip(PhraseSearch.proximitySearch(live, "slow hash batch", 4)),
        s"[$tag] proximity face diverged from fresh rebuild")

      val tfF = SparseSim.tfidfTopK(live, Seq(2L, 4L), 5)
        .as[(Long, Long, Double, Long)].collect().toSeq
      val tfS = SparseSim.tfidfTopKStore(spark, path, Seq(2L, 4L), 5)
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(tfS === tfF, s"[$tag] tfidf face diverged from fresh rebuild")
    }

    faces(b1, "build")
    Indexer.appendIndex(spark, path, b2)
    val live1 = b1.unionByName(b2)
    faces(live1, "append")
    Indexer.deleteDocs(spark, path,
      live1.filter(col("doc_id") % 5 === 0).select("doc_id"))
    val live2 = live1.filter(col("doc_id") % 5 =!= 0)
    faces(live2, "delete")
    Indexer.expungeDeletes(spark, path, nBuckets = 16)
    faces(live2, "expunge")
    // re-growth after expunge: includes % 5 ids released by the purge
    Indexer.appendIndex(spark, path, b3)
    faces(live2.unionByName(b3), "re-append")
  }

  test("bucket markers go through FsOps: the swap aside is recovered, an empty marker fails by name") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixnbmarker").toString
    Indexer.writeIndex(Indexer.buildIndex(docs.limit(50)), path, nBuckets = 16)
    assert(Indexer.storedBuckets(spark, path) === Some(16))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the swap's crash window: the recorded count survives only as the
    // aside — the store still reads as committed with its own layout
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/_nbuckets"),
      new org.apache.hadoop.fs.Path(s"$path/__nbuckets.swap_old")))
    assert(Indexer.storedBuckets(spark, path) === Some(16))
    // an empty marker (what a truncating in-place write leaves behind on
    // a crash) fails with FsOps' named error, not a bare parse exception
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_nbuckets"), true).close()
    val e = intercept[IllegalStateException](Indexer.storedBuckets(spark, path))
    assert(e.getMessage.contains(s"corrupt marker $path/_nbuckets"), e.getMessage)
  }

  test("checkStore: healthy lifecycle store passes; corruption detected; repair restores") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixfsck").toString
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    Indexer.writeIndex(Indexer.buildIndex(half1), path, nBuckets = 16)
    Indexer.writePositional(half1, path, nBuckets = 8)
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 2 === 1))
    Indexer.deleteDocs(spark, path, docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def report(): Map[String, (Long, Long)] =
      Indexer.checkStore(spark, path, nBuckets = 16)
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val healthy = report()
    assert(healthy.size === 7)
    assert(healthy.values.forall(_._2 == 0L), s"healthy store has violations: $healthy")
    // the checker audited real cardinalities, not empty frames
    assert(healthy("postings_bucket_layout")._1 > 0)
    assert(healthy("positional_matches_postings")._1 > 0)
    assert(healthy("tombstones_valid")._1 > 0)
    assert(healthy("meta_matches_live") === ((1L, 0L)))

    // derived-table drift (every df off by one — the shape a crashed
    // delete's stale vocab takes): flagged on exactly one invariant,
    // repaired by refreshDerived
    val liveVocabDir = Indexer.derivedTablePath(spark, path, "vocab")
    derivedDf(path, "vocab").withColumn("df", col("df") + lit(1L))
      .write.mode("overwrite").parquet(s"$path/vocab_bad")
    fs.delete(new org.apache.hadoop.fs.Path(liveVocabDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/vocab_bad"),
      new org.apache.hadoop.fs.Path(liveVocabDir))
    val drifted = report()
    assert(drifted("vocab_matches_live")._2 > 0)
    assert((drifted - "vocab_matches_live").values.forall(_._2 == 0L))
    Indexer.refreshDerived(spark, path)
    assert(report().values.forall(_._2 == 0L), "refreshDerived must repair the drift")

    // foreign + duplicate tombstones: one orphan id and one repeat — the
    // checker counts both, and nothing else is affected (the live view
    // semantics are unchanged)
    val dup = spark.read.parquet(s"$path/deletes").limit(1)
    dup.union(Seq(-42L).toDF("doc_id")).write.mode("append").parquet(s"$path/deletes")
    val badTombs = report()
    assert(badTombs("tombstones_valid")._2 === 2L)
    assert((badTombs - "tombstones_valid").values.forall(_._2 == 0L))

    // stale layout record (a hand-migration gone wrong): recorded bucket
    // count disagrees with the bucket function that placed the rows
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_nbuckets"), true)
    out.write("4".getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    assert(report()("postings_bucket_layout")._2 > 0)
  }

  test("standalone positional backfill inherits doc ordinals; legacy stores never gain a marker") {
    val docs = Tables.load(spark, sf0001, "documents")
    // co-located TRACKED store: a standalone appendPositional backfill
    // inherits each doc's ordinal and creates no new batch
    val path = Files.createTempDirectory("ixposbackfill").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    assert(Indexer.lastBatch(spark, path) === Some(0L))
    // bootstrap with one doc so checkDuplicates has a table to read,
    // then backfill the rest standalone
    Indexer.writePositional(docs.filter(col("doc_id") === 0L), path, nBuckets = 8)
    Indexer.appendPositional(spark, path, docs.filter(col("doc_id") =!= 0L),
      nBuckets = 8)
    val batches = spark.read.parquet(s"$path/positional")
      .select(col("batch").cast("long")).distinct().as[Long].collect().toSet
    assert(batches === Set(0L), s"backfill must inherit doc ordinals: $batches")
    assert(Indexer.lastBatch(spark, path) === Some(0L),
      "a backfill creates no new ingest batch")
    // docs absent from doc_stats cannot be batch-tagged consistently —
    // the raise_error guard fails the write job before any file commits
    val alien = Seq((999999L, "unindexed doc text here")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Indexer.appendPositional(spark, path, alien, nBuckets = 8))
    def chain(t: Throwable): String =
      Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString("\n")
    assert(chain(e).contains("absent from doc_stats"), chain(e))

    // LEGACY co-located store (untagged tables, no marker): retrofitting
    // a positional table must NOT start a batch sequence — the next
    // appendIndex would tag its rows and mix schemas in the old tables
    val legacy = Files.createTempDirectory("ixlegacy").toString
    val ix = Indexer.buildIndex(docs.limit(50))
    ix.docStats.write.parquet(s"$legacy/doc_stats")
    ix.postings.withColumn("term_bucket", lit(0)).write
      .partitionBy("term_bucket").parquet(s"$legacy/postings")
    Indexer.writePositional(docs.limit(50), legacy, nBuckets = 8)
    assert(Indexer.lastBatch(spark, legacy).isEmpty,
      "legacy co-located store must stay marker-less")
    // ...and the positional table itself must be UNTAGGED like the rest
    // of the store: a batch column here plus a later legacy (untagged)
    // append would give the table a mixed schema that silently nulls
    // `batch` on combined reads and breaks the positional audit join
    assert(!spark.read.parquet(s"$legacy/positional").columns.contains("batch"),
      "retrofitted legacy positional table must match the store's untagged schema")
    val lateDocs = Seq((999998L, "late crawl batch doc one"),
      (999999L, "late crawl batch doc two")).toDF("doc_id", "text")
    Indexer.appendPositional(spark, legacy, lateDocs, nBuckets = 8)
    val grown = spark.read.parquet(s"$legacy/positional")
    assert(!grown.columns.contains("batch"),
      "appending to a retrofitted legacy store must stay untagged")
    assert(grown.filter(col("doc_id") >= 999998L).select("doc_id").distinct().count() === 2L)
  }

  test("writePositional retrofitted onto a multi-batch store inherits per-doc batch ordinals") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixposretro").toString
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    Indexer.writeIndex(Indexer.buildIndex(half1), path, nBuckets = 16)
    Indexer.markAudited(spark, path) // deep audit vouched for batch 0
    Indexer.appendIndex(spark, path, half2) // batch 1
    // the positional table arrives LATE, over the full corpus: each row
    // must join the store's batch sequence at ITS DOC'S ordinal (evens
    // 0, odds 1) — a flat newest-ordinal tag would drag the vouched
    // half into the next incremental audit's delta and fail its
    // positional⟷postings join
    Indexer.writePositional(docs, path, nBuckets = 8)
    val posBatches = spark.read.parquet(s"$path/positional")
      .select((col("doc_id") % 2).cast("long").as("par"), col("batch").cast("long"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(posBatches === Set((0L, 0L), (1L, 1L)),
      s"positional rows must inherit per-doc ordinals: $posBatches")
    val incr = Indexer.checkStoreIncremental(spark, path, nBuckets = 16)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(incr.values.forall(_._2 == 0L),
      s"retrofitted positional store must audit clean: $incr")
    // the delta's positional surface is the odd half only
    assert(incr("delta_positional_matches_postings")._1 > 0)
  }

  test("checkStoreIncremental audits the delta only; old-batch corruption is deep-audit scope") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixfsckincr").toString
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    Indexer.writeIndex(Indexer.buildIndex(half1), path, nBuckets = 16)
    Indexer.writePositional(half1, path, nBuckets = 8)
    assert(Indexer.lastBatch(spark, path) === Some(0L))
    Indexer.markAudited(spark, path) // the deep audit vouched for batch 0
    Indexer.appendIndex(spark, path, half2)
    assert(Indexer.lastBatch(spark, path) === Some(1L))
    assert(Indexer.lastAudited(spark, path) === Some(0L))

    def report(): Map[String, (Long, Long)] =
      Indexer.checkStoreIncremental(spark, path, nBuckets = 16)
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val clean = report()
    assert(clean.size === 5)
    // no doc-bucketed compaction ever ran: the forced-full advisory
    // row is present (stable schema) but reads checked = 0
    assert(clean("delta_full_audit_forced_doc_compaction") === ((0L, 0L)))
    assert(clean.values.forall(_._2 == 0L), s"clean delta has violations: $clean")
    // audited exactly the appended population, not the store
    assert(clean("delta_docs_unique")._1 === half2.count())
    assert(clean("delta_postings_bucket_layout")._1 > 0)
    assert(clean("delta_positional_matches_postings")._1 ===
      clean("delta_postings_bucket_layout")._1)

    // a double-applied delta row is exactly what the incremental audit flags
    spark.read.parquet(s"$path/doc_stats").filter(col("batch") === 1L).limit(1)
      .write.mode("append").parquet(s"$path/doc_stats")
    assert(report()("delta_docs_unique")._2 === 1L)

    // the same corruption in an ALREADY-AUDITED batch stays out of the
    // incremental scope by design — the scheduled full checkStore owns it
    spark.read.parquet(s"$path/doc_stats").filter(col("batch") === 0L).limit(1)
      .write.mode("append").parquet(s"$path/doc_stats")
    assert(report()("delta_docs_unique") === ((half2.count() + 1, 1L)))

    // once the delta passes (or is repaired), markAudited advances the
    // watermark and the next incremental audit starts empty
    Indexer.markAudited(spark, path)
    val advanced = report()
    assert(advanced("delta_docs_unique")._1 === 0L)
    assert(advanced.values.forall(_._2 == 0L))
  }

  test("incremental audit reports its forced-full degradation after doc-bucketed compaction") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixforcedfull").toString
    Indexer.writeIndex(
      Indexer.buildIndex(docs.filter(col("doc_id") % 2 === 0)),
      path, nBuckets = 16, docBuckets = Some(4))
    Indexer.markAudited(spark, path) // deep audit vouched for batch 0
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 2 === 1))

    def forced(): (Long, Long) =
      Indexer.checkStoreIncremental(spark, path, nBuckets = 16)
        .as[(String, Long, Long)].collect()
        .collectFirst { case ("delta_full_audit_forced_doc_compaction", c, v) => (c, v) }
        .get

    // pre-compaction: batch-per-file skipping intact, no degradation
    assert(forced() === ((0L, 0L)))
    // the layout-preserving compaction merges batches 0 and 1 inside
    // each bucket file: the next `batch > 0` audit can no longer skip
    // any merged file on footer min/max — the report says so loudly
    // (checked = 1) instead of silently paying the full scan
    Indexer.compactDocBucketed(spark, path)
    assert(forced() === ((1L, 0L)),
      "post-compaction incremental audit must report the forced-full degradation")
    // mark-audited past the merge watermark retires the advisory
    Indexer.markAudited(spark, path)
    assert(forced() === ((0L, 0L)),
      "an audit whose watermark covers the merge skips the merged files again")
  }

  test("clobbered legacy root marker degrades to an unpruned (correct) read") {
    // a pre-per-table-marker co-located store: writePositional overwrote
    // the root _nbuckets with the POSITIONAL layout — BM25.searchStore
    // must detect the marker/layout mismatch and read unpruned instead of
    // silently mis-pruning the frequency postings (ADVICE r6)
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixlegacy").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    Indexer.writePositional(docs, path, nBuckets = 8)
    val expected = BM25.searchStore(spark, path, "fast hash join scan")
      .as[(Int, Long, Double)].collect().toSeq
    // simulate the legacy clobber: root marker says 8, per-table marker
    // absent (write through the Hadoop fs so the checksum sidecar tracks)
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(new org.apache.hadoop.fs.Path(s"$path/_nbuckets"), true)
    out.write("8".getBytes); out.close()
    hfs.delete(new org.apache.hadoop.fs.Path(s"$path/_nbuckets_positional"), false)
    val legacy = BM25.searchStore(spark, path, "fast hash join scan")
      .as[(Int, Long, Double)].collect().toSeq
    assert(legacy === expected,
      "stale marker must degrade to an unpruned read, not mis-prune")
    // the positional face (root fallback = 8 matches its real layout) stays pruned+correct
    val pos = graft.search.PhraseSearch.searchStore(spark, path, "the", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(pos === graft.search.PhraseSearch.search(docs, "the", k = 5)
      .select("doc_id").as[Long].collect().toSet)
  }

  test("appendIndex rejects doc_ids already in the store, store untouched") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixdup").toString
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    val before = spark.read.parquet(s"$path/doc_stats").count()

    val overlapping = docs.limit(5) // all 5 already indexed
    val e = intercept[IllegalArgumentException] {
      Indexer.appendIndex(spark, path, overlapping, nBuckets = 16)
    }
    assert(e.getMessage.contains("double-count"))
    // the guard fired before any write: store unchanged
    assert(spark.read.parquet(s"$path/doc_stats").count() === before)
    assert(derivedDf(path, "vocab").count() > 0)
  }

  test("writeIndex over a frame-installed store refuses before its first write: every file byte-identical") {
    // an append installs the derived pair as a manifest frame (`_frame`
    // pointer); a rebuild over that store must refuse before it replaces
    // doc_stats/postings, or the new postings serve against the old
    // frame's vocab/meta, tombstones and `_lastbatch`
    val docs = Tables.load(spark, sf0001, "documents")
    val path = Files.createTempDirectory("ixframedrebuild").toString
    Indexer.writeIndex(Indexer.buildIndex(docs.filter(col("doc_id") % 2 === 0)), path,
      nBuckets = 16)
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 2 === 1), nBuckets = 16)
    assert(graft.operators.Frames.currentVersion(spark, path).nonEmpty,
      "precondition: the append installed a frame")
    def filesAt(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(path)
      val walk = Files.walk(base)
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => base.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      finally walk.close()
    }
    val before = filesAt()
    val e = intercept[IllegalArgumentException] {
      Indexer.writeIndex(Indexer.buildIndex(docs.filter(col("doc_id") % 3 === 0)), path,
        nBuckets = 16)
    }
    assert(e.getMessage.contains("frame-installed"), e.getMessage)
    val after = filesAt()
    val changed = (before.keySet ++ after.keySet).filter(f => before.get(f) != after.get(f))
    assert(changed.size == 0, s"the refused rebuild changed store files, e.g. " +
      changed.take(3).mkString(", "))
  }

  test("appendIndex that dies in its doc_stats write leaves no postings: the retry neither double-counts nor refuses") {
    // the duplicate guard probes doc_stats only, so doc_stats must land
    // before postings/positional: an append whose postings committed
    // while its doc_stats write failed would let the retry pass the
    // guard and append the same postings a second time
    val docs = Tables.load(spark, sf0001, "documents").limit(40)
    val path = Files.createTempDirectory("ixappfail").toString
    val base = docs.filter(col("doc_id") % 2 === 0).withColumn("title", lit("t"))
    Indexer.writeIndex(Indexer.buildIndex(base, titleCol = Some("title")), path,
      nBuckets = 16)
    Indexer.writePositional(base, path, nBuckets = 8)
    val more = docs.filter(col("doc_id") % 2 === 1)
    // the title column feeds only the doc_stats lineage: poisoning it
    // fails that one table write
    val poisoned = more.withColumn("title",
      when(col("doc_id") % 4 === 1, raise_error(lit("poisoned title")))
        .otherwise(lit("t")))
    intercept[Exception](Indexer.appendIndex(spark, path, poisoned,
      titleCol = Some("title"), nBuckets = 16))
    Indexer.appendIndex(spark, path, more.withColumn("title", lit("t")),
      titleCol = Some("title"), nBuckets = 16)
    val doubled = spark.read.parquet(s"$path/postings")
      .groupBy("term", "doc_id").count().filter(col("count") > 1).count()
    assert(doubled === 0L, "the retry double-counted postings")
    val rep = Indexer.checkStore(spark, path, nBuckets = 16)
      .as[(String, Long, Long)].collect()
    assert(rep.forall(_._3 == 0L), rep.mkString(", "))
  }

  test("driver-side bucket function matches the executor-side column") {
    val terms = Seq("fast", "hash", "join", "scan", "zebra")
    val fromSpark = terms.toDF("t")
      .select(col("t"), Indexer.termBucket(col("t"), 16)).as[(String, Long)]
      .collect().toMap
    terms.foreach { t =>
      assert(Indexer.termBucketOf(t, 16) === fromSpark(t), s"bucket mismatch for $t")
    }
  }

  test("graft_dot SQL function registered on a session") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].first()
    assert(r === 11.0)
  }

  test("graft_char_hist SQL function registered on a session") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val bins = spark.sql("SELECT graft_char_hist('abca z') AS h")
      .as[Seq[Long]].first()
    assert(bins(0) === 2L && bins(1) === 1L && bins(2) === 1L && bins(25) === 1L)
    assert(bins.sum === 5L)
  }

  test("salted join output identical to plain join") {
    val li = Tables.load(spark, sf0001, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf0001, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, "l_orderkey").groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedJoin(li, o, "l_orderkey", salt = 8)
      .groupBy("o_orderpriority").count().as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("salted count equals plain count per key") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val plain = li.groupBy("l_returnflag").count().as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(li, "l_returnflag", salt = 8)
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }
}
