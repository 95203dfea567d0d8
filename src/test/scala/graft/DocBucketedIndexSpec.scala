package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.index.Indexer
import graft.search.BM25

/** The doc-bucketed index-store layout: postings and doc_stats
  * co-bucketed by doc_id as external catalog tables, so the scoring join
  * plans exchange-free — answers must be IDENTICAL to the plain layout
  * through every lifecycle face, and the plan must actually lose its
  * doc_id exchanges.
  */
class DocBucketedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Query = "fast hash join scan"

  private def docs = Tables.load(spark, sf0001, "documents")

  private def searchRows(path: String): Seq[(Int, Long, String, Double)] =
    BM25.searchStore(spark, path, Query, nBuckets = 16)
      .select(col("rank"), col("doc_id"), col("title"),
        round(col("score"), 6).as("score"))
      .as[(Int, Long, String, Double)].collect().toSeq

  /** Force the scoring join out of broadcast range so the bucketed SMJ
    * shape is observable on the small fixture; restores the session. */
  private def withSmj[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevA.foreach(spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
      if (prevA.isEmpty)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("doc-bucketed store answers exactly like the plain store, single and batch") {
    val ix = Indexer.buildIndex(docs, titleCol = Some("source"))
    val plain = Files.createTempDirectory("ixplain").toString
    val bucketed = Files.createTempDirectory("ixdocbkt").toString
    Indexer.writeIndex(ix, plain, nBuckets = 16)
    Indexer.writeIndex(ix, bucketed, nBuckets = 16, docBuckets = Some(4))
    assert(Indexer.docBucketsOf(spark, bucketed) === Some(4))
    assert(Indexer.docBucketsOf(spark, plain) === None)

    assert(searchRows(bucketed) === searchRows(plain))

    val log = Seq(1L -> Query, 2L -> "slow hash batch").toDF("query_id", "query_text")
    def batchRows(p: String) =
      BM25.searchManyStore(spark, p, log, nBuckets = 16)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 6).as("score"))
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    assert(batchRows(bucketed) === batchRows(plain))
  }

  test("scoring join over the doc-bucketed store has NO doc_id exchange; pruning survives") {
    val path = Files.createTempDirectory("ixdocbktplan").toString
    Indexer.writeIndex(Indexer.buildIndex(docs, titleCol = Some("source")),
      path, nBuckets = 16, docBuckets = Some(4))
    withSmj {
      val df = BM25.searchStore(spark, path, Query, nBuckets = 16)
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"scoring join still shuffles on doc_id:\n$p")
      assert("Bucketed: true".r.findAllIn(p).size >= 2,
        s"both join sides must be bucketed scans:\n$p")
      // static term pruning composes with the bucketed layout
      assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
        s"term_bucket partition pruning lost:\n$p")
    }
  }

  test("a fresh catalog re-registers from the marker (cross-session read)") {
    val path = Files.createTempDirectory("ixdocbktreg").toString
    Indexer.writeIndex(Indexer.buildIndex(docs, titleCol = Some("source")),
      path, nBuckets = 16, docBuckets = Some(4))
    val before = searchRows(path)
    // simulate a fresh session: the in-memory catalog entries are gone,
    // only the files + markers remain
    Seq("doc_stats", "postings").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `${Indexer.catalogTableName(spark, path, t)}`")
    }
    assert(searchRows(path) === before)
    withSmj {
      val df = BM25.searchStore(spark, path, Query, nBuckets = 16)
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("Bucketed: true"),
        "re-registered read lost the bucketed scan")
    }
  }

  test("a plain rebuild over a doc-bucketed store retires its layout record") {
    // a stale `_docbuckets` would route reads through a bucket spec the
    // rebuilt files no longer honor
    val path = Files.createTempDirectory("ixdocbktrebuild").toString
    val ix = Indexer.buildIndex(docs, titleCol = Some("source"))
    Indexer.writeIndex(ix, path, nBuckets = 16, docBuckets = Some(4))
    val bucketed = searchRows(path)
    Indexer.writeIndex(ix, path, nBuckets = 16)
    assert(Indexer.docBucketsOf(spark, path) === None)
    assert(searchRows(path) === bucketed)
  }

  test("append / delete / expunge / rollback / compact preserve layout and answers") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val path = Files.createTempDirectory("ixdocbktlife").toString
    Indexer.writeIndex(Indexer.buildIndex(half1, titleCol = Some("source")),
      path, nBuckets = 16, docBuckets = Some(4))
    Indexer.appendIndex(spark, path, half2, titleCol = Some("source"), nBuckets = 16)

    val full = Files.createTempDirectory("ixdocbktfull").toString
    Indexer.writeIndex(Indexer.buildIndex(docs, titleCol = Some("source")),
      full, nBuckets = 16)
    val grown = searchRows(path)
    assert(grown === searchRows(full),
      "incrementally-grown doc-bucketed store must answer like a full build")

    // compaction through the layout-aware twin, run while the store
    // still holds the append's extra per-bucket files: fewer files,
    // same answers, layout intact
    val postingsDir = new java.io.File(s"$path/postings")
    def bucketFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.startsWith("part-")) 1 else 0)
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      walk(postingsDir)
    }
    val filesBefore = bucketFiles()
    Indexer.compactDocBucketed(spark, path)
    assert(bucketFiles() < filesBefore,
      s"compaction must merge the appends' per-bucket files ($filesBefore before)")
    assert(searchRows(path) === grown, "compaction must not change answers")
    withSmj {
      val df = BM25.searchStore(spark, path, Query, nBuckets = 16)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") &&
        !p.contains("Exchange hashpartitioning(doc_id"),
        s"compacted store lost the bucketed layout:\n$p")
    }

    // tombstones, then the physical rewrite — layout preserved both sides
    val dead = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    Indexer.deleteDocs(spark, path, dead)
    val afterDelete = searchRows(path)
    Indexer.expungeDeletes(spark, path, nBuckets = 16)
    assert(searchRows(path) === afterDelete,
      "expunge must not change answers")
    withSmj {
      val df = BM25.searchStore(spark, path, Query, nBuckets = 16)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") &&
        !p.contains("Exchange hashpartitioning(doc_id"),
        s"expunged store lost the bucketed layout:\n$p")
    }

    // crash-rollback: drop the marker back and verify the orphaned batch
    // (the post-rollback store must answer like the pre-append one)
    val reAdd = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 === 0)
    Indexer.appendIndex(spark, path, reAdd, titleCol = Some("source"), nBuckets = 16)
    val prevBatch = Indexer.lastBatch(spark, path).get - 1
    FsOps.writeLongMarker(spark, path, "_lastbatch", prevBatch)
    Indexer.rollbackPartialAppend(spark, path)
    Indexer.refreshDerived(spark, path) // the append merged vocab/meta; restore
    assert(searchRows(path) === afterDelete,
      "rollback must restore the pre-append answers")

    // duplicate-append guard unchanged on the bucketed path (a doc the
    // expunge did NOT release — %5 ids left doc_stats with the rewrite)
    val e = intercept[IllegalArgumentException] {
      Indexer.appendIndex(spark, path,
        half1.filter(col("doc_id") % 5 =!= 0).limit(1), titleCol = Some("source"))
    }
    assert(e.getMessage.contains("already exist"))
  }

  // ---- the POSITIONAL table's doc-bucketed layout ----

  private val Phrase = "hash join"
  private def proxLog = {
    import spark.implicits._
    Seq(1L -> Phrase, 2L -> "scan filter").toDF("query_id", "phrase")
  }

  private def phraseRows(p: String): Seq[(Long, Long, Long)] =
    graft.search.PhraseSearch.searchStore(spark, p, Phrase, 10, nBuckets = 16)
      .select(col("rank"), col("doc_id"), col("phrase_tf"))
      .as[(Long, Long, Long)].collect().toSeq

  private def proxRows(p: String): Seq[(Long, Long, Long, Long)] =
    graft.search.PhraseSearch.proximityStoreMany(spark, p, proxLog,
        window = 3, k = 10, nBuckets = 16)
      .select(col("query_id"), col("rank"), col("doc_id"), col("prox_tf"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("doc-bucketed positional store answers exactly like the plain one, all faces") {
    val plain = Files.createTempDirectory("posplain").toString
    val bucketed = Files.createTempDirectory("posdocbkt").toString
    Indexer.writePositional(docs, plain, nBuckets = 16)
    // built on half and grown through the bucketed APPEND path
    Indexer.writePositional(docs.filter(col("doc_id") % 2 === 0), bucketed,
      nBuckets = 16, docBuckets = Some(4))
    Indexer.appendPositional(spark, bucketed,
      docs.filter(col("doc_id") % 2 =!= 0), nBuckets = 16)
    assert(Indexer.positionalDocBucketsOf(spark, bucketed) === Some(4))
    assert(Indexer.positionalDocBucketsOf(spark, plain) === None)

    assert(phraseRows(bucketed) === phraseRows(plain))
    assert(proxRows(bucketed) === proxRows(plain))
    import spark.implicits._
    def batchRows(p: String) =
      graft.search.PhraseSearch.searchStoreMany(spark, p,
          Seq(1L -> Phrase, 2L -> "fast scan").toDF("query_id", "phrase"),
          k = 10, nBuckets = 16)
        .select(col("query_id"), col("rank"), col("doc_id"), col("phrase_tf"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(batchRows(bucketed) === batchRows(plain))
  }

  test("batch rollup over the doc-bucketed positional store loses its exchange") {
    val path = Files.createTempDirectory("posdocbktplan").toString
    Indexer.writePositional(docs, path, nBuckets = 16, docBuckets = Some(4))
    def assertPlan(tag: String): Unit = {
      val df = graft.search.PhraseSearch.searchStoreMany(spark, path, proxLog,
        k = 10, nBuckets = 16)
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"$tag: positional scan must be bucketed:\n$p")
      // the per-(query,doc) rollup groups on (query_id, doc_id); the
      // bucketed doc_id partitioning already satisfies that clustering,
      // so NO exchange may precede the aggregation (the TopKPerKey
      // repartition on query_id alone is expected and bounded)
      assert(!"Exchange hashpartitioning\\(query_id#\\d+L?, doc_id".r
          .findFirstIn(p).isDefined,
        s"$tag: rollup still shuffles on (query_id, doc_id):\n$p")
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"$tag: rollup still shuffles on doc_id:\n$p")
      // static term-bucket pruning composes with the doc-bucketed layout
      assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
        s"$tag: term_bucket partition pruning lost:\n$p")
    }
    assertPlan("fresh store")
    // the layout survives append and the layout-aware compaction
    Indexer.appendPositional(spark, path,
      docs.limit(0), nBuckets = 16, checkDuplicates = false) // schema-only append
    Indexer.compactDocBucketed(spark, path)
    assertPlan("after compaction")
  }

  test("co-located layouts, frequency x positional plain or doc-bucketed: the lifecycle answers like a fresh plain build") {
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") % 3 =!= 0)
    val b3 = docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") % 3 === 0)
    val dead = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    def answers(p: String) = (
      BM25.searchStore(spark, p, Query, nBuckets = 16)
        .select(col("rank"), col("doc_id"), round(col("score"), 6))
        .as[(Int, Long, Double)].collect().toSeq,
      phraseRows(p))
    // one fresh plain build per live population, shared by every layout
    val fresh = scala.collection.mutable.Map
      .empty[String, (Seq[(Int, Long, Double)], Seq[(Long, Long, Long)])]
    def freshAnswers(tag: String, live: => org.apache.spark.sql.DataFrame) =
      fresh.getOrElseUpdate(tag, {
        val p = Files.createTempDirectory(s"ixlayoutfresh_$tag").toString
        Indexer.writeIndex(Indexer.buildIndex(live), p, nBuckets = 16)
        Indexer.writePositional(live, p, nBuckets = 16)
        answers(p)
      })
    val Markers = Seq("_nbuckets", "_nbuckets_positional", "_docbuckets",
      "_docbuckets_positional")
    for (freqDb <- Seq(None, Some(4)); posDb <- Seq(None, Some(3))) {
      val layout = s"frequency ${freqDb.getOrElse("plain")}, positional ${posDb.getOrElse("plain")}"
      val path = Files.createTempDirectory("ixlayouts").toString
      // the positional table first: writePositional defaults to the
      // frequency store's doc buckets, so a plain positional table beside
      // a doc-bucketed frequency store is written before it
      Indexer.writePositional(b1, path, nBuckets = 16, docBuckets = posDb)
      Indexer.writeIndex(Indexer.buildIndex(b1), path, nBuckets = 16, docBuckets = freqDb)
      assert(Indexer.docBucketsOf(spark, path) === freqDb, layout)
      assert(Indexer.positionalDocBucketsOf(spark, path) === posDb, layout)
      val markers = Markers.map(FsOps.readLongMarker(spark, path, _))
      def step(name: String, liveTag: String, live: => org.apache.spark.sql.DataFrame): Unit = {
        assert(answers(path) === freshAnswers(liveTag, live), s"[$layout] after $name")
        assert(Markers.map(FsOps.readLongMarker(spark, path, _)) === markers,
          s"[$layout] $name changed a layout marker")
      }
      val live1 = b1.unionByName(b2)
      val live2 = live1.join(dead, Seq("doc_id"), "left_anti")
      Indexer.appendIndex(spark, path, b2, nBuckets = 16)
      step("appendIndex", "append", live1)
      Indexer.deleteDocs(spark, path, dead)
      step("deleteDocs", "delete", live2)
      Indexer.expungeDeletes(spark, path, nBuckets = 16)
      step("expungeDeletes", "delete", live2)
      Indexer.compactStore(spark, path)
      step("compactStore", "delete", live2)
      // a partial append: its rows land, the batch marker never advances
      val before = Indexer.lastBatch(spark, path).get
      Indexer.appendIndex(spark, path, b3, nBuckets = 16)
      FsOps.writeLongMarker(spark, path, "_lastbatch", before)
      Indexer.rollbackPartialAppend(spark, path)
      Indexer.refreshDerived(spark, path) // the append merged vocab/meta; restore
      step("rollbackPartialAppend", "delete", live2)
    }
  }

  test("streamed ingest into a doc-bucketed store keeps the zero-shuffle plan") {
    val src = Files.createTempDirectory("ixstreamdbsrc").toString
    val store = Files.createTempDirectory("ixstreamdbstore").toString
    graft.streaming.StreamRuntime.orderedDrops(spark,
      Seq(0, 1, 2).map(r => docs.filter(col("doc_id") % 3 === r)
        .select("doc_id", "text", "source")), src)
    graft.streaming.StreamRuntime.runIndexIngest(spark, src, store,
      titleCol = Some("source"), nBuckets = 16, docBuckets = Some(4))
    assert(Indexer.docBucketsOf(spark, store) === Some(4))
    assert(Indexer.lastBatch(spark, store) === Some(2L),
      "three drops must land as three ingest ordinals")
    // answers like a one-shot full build
    val full = Files.createTempDirectory("ixstreamdbfull").toString
    Indexer.writeIndex(Indexer.buildIndex(docs, titleCol = Some("source")),
      full, nBuckets = 16)
    assert(searchRows(store) === searchRows(full))
    // ...and the plan is still exchange-free after >= 2 streamed batches
    // (per-batch bucket files accumulate; the catalog re-sync must keep
    // reporting a bucketed scan)
    withSmj {
      val df = BM25.searchStore(spark, store, Query, nBuckets = 16)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") &&
        !p.contains("Exchange hashpartitioning(doc_id"),
        s"streamed doc-bucketed store lost the zero-shuffle plan:\n$p")
    }
  }
}
