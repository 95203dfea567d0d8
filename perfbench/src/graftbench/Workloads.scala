package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.dedup.{Dedup, DedupStore}
import graft.index.Indexer
import graft.search.{BM25, PhraseSearch}

/** Bookkeeping of one run: every program call is an operation; a call
  * that throws, or whose output fails its check, is a failed operation.
  * Latencies are kept per operation kind. */
final class Run(val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Σ latency of every operation inside the measured loop. */
  var loopS = 0.0

  /** Run one program call as span `span`, timed under `kind`. A failed
    * call's time counts towards the loop too. */
  def op[A](span: String, kind: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime
    try {
      val (out, s) = tracer.span(span)(body)
      latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
      loopS += s
      Some(out)
    } catch {
      case e: Exception =>
        loopS += (System.nanoTime - t0) / 1e9
        failed += 1
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** Start the measured loop: forget set-up and warm-up calls. */
  def startLoop(): Unit = { latencies.clear(); loopS = 0.0 }

  /** Loops stop at the first failure: the run is invalid from there on. */
  def continues(seconds: Double): Boolean = loopS < seconds && failed == 0

  /** Record a check of an operation's output (run outside timed regions). */
  def check(kind: String, mismatch: Option[String]): Unit = mismatch.foreach { m =>
    failed += 1
    failures += s"$kind: $m".take(400)
  }

  def samples(kind: String): Seq[Double] = latencies.get(kind).map(_.toSeq).getOrElse(Nil)
}

/** A workload's result: named metrics with unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

object Workloads {
  val Threshold = Gen.NearDupJaccard
  /** Term buckets of the index stores, sized to the small corpora. */
  val Buckets = 16

  // serve: store size and the repeating request pattern
  val ServeDocs = 600
  /** A serve pattern is `rounds` × (singles, a query log, singles, a
    * phrase log). A measured pattern (8 singles, 4 logs, 13-18 s on a
    * 4-core VM) takes longer than a 10 s run, so a run measures one
    * whole pattern whatever the host's speed, and every run's samples sit
    * at the same point of the JIT warm-up. */
  val ServeSingles = 2
  val ServeRounds = 2
  /** The untimed warm-up pattern that follows set-up: a serving process
    * answers warm, so first-call JIT and cache costs stay out of the
    * latencies. */
  val WarmupSingles = 1
  val WarmupRounds = 1
  /** Untimed single queries after set-up on `ingest`. */
  val WarmupQueries = 2
  val LogSize = 200

  // ingest: store size and per-cycle mutation sizes
  val IngestDocs = 600
  val BatchFresh = 450
  val BatchPlanted = 50
  val DeletesPerCycle = 100
  val ProbesPerMutation = 2
  val PoolFirstId = 10000000L

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text")

  /** Bytes of the store's files (checksum side files excluded). */
  def storeBytes(root: Path): Long = {
    val st = Files.walk(root)
    try st.iterator.asScala.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.endsWith(".crc")).map(Files.size).sum
    finally st.close()
  }

  def textBytes(docs: Iterable[Doc]): Long =
    docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum

  private def scored(rows: Seq[Row]): Seq[(Long, Double)] =
    rows.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  private def phraseTop(counts: Map[Long, Long]): Seq[(Long, Long)] =
    counts.toSeq.sortBy { case (d, c) => (-c, d) }.take(Oracle.TopK)

  /** One `searchStore` call, checked against the live-corpus oracle. */
  def probe(spark: SparkSession, run: Run, path: String, oracle: Oracle.Bm25,
            q: String): Unit =
    run.op("search.searchStore", "query") {
      BM25.searchStore(spark, path, q).collect().toSeq
    }.foreach(rows => run.check("query", Oracle.checkTopK(scored(rows), oracle.scores(q))
      .map(m => s"'$q': $m")))

  /** Read-only serving against a prebuilt store: one untimed warm-up
    * pattern, then repeating patterns of single queries, one 200-query
    * BM25 log, single queries, one 200-phrase log, until `seconds` of
    * call time have run. */
  def serve(spark: SparkSession, run: Run, seed: Long, seconds: Double,
            store: Path, setupDone: () => Double): Seq[Metric] = {
    val path = store.resolve("index").toString
    val docs = Gen.corpus(seed, ServeDocs)
    val df = frame(spark, docs)
    run.op("index.writeIndex", "setup") { Indexer.writeIndex(Indexer.buildIndex(df), path, Buckets) }
    run.op("index.writePositional", "setup") { Indexer.writePositional(df, path, Buckets) }
    val setupS = setupDone()
    val oracle = new Oracle.Bm25
    docs.foreach(oracle.add)
    val queries = new Gen.Queries(seed)
    val phrases = new Gen.Phrases(seed, docs)
    var answered = 0L
    def singles(n: Int): Unit = for (_ <- 0 until n) {
      probe(spark, run, path, oracle, queries.next()); answered += 1
    }
    import spark.implicits._
    def pattern(n: Int, rounds: Int): Unit = for (_ <- 0 until rounds) {
      singles(n)
      val log = (0 until LogSize).map(i => (i.toLong, queries.next()))
      run.op("search.searchManyStore", "batch") {
        BM25.searchManyStore(spark, path, log.toDF("query_id", "query_text")).collect().toSeq
      }.foreach { rows =>
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        run.check("batch", log.iterator.flatMap { case (id, q) =>
          Oracle.checkTopK(scored(byQ.getOrElse(id, Nil)), oracle.scores(q))
            .map(m => s"query $id '$q': $m")
        }.nextOption())
        answered += LogSize
      }
      singles(n)
      val plog = (0 until LogSize).map(i => (i.toLong, phrases.next()))
      run.op("search.searchStoreMany", "phrase") {
        PhraseSearch.searchStoreMany(spark, path, plog.toDF("query_id", "phrase")).collect().toSeq
      }.foreach { rows =>
        val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        run.check("phrase", plog.iterator.flatMap { case (id, p) =>
          val got = byQ.getOrElse(id, Nil).sortBy(_.getAs[Long]("rank"))
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf")))
          val want = phraseTop(oracle.phraseCounts(p))
          if (got == want) None else Some(s"phrase $id '$p': got $got, want $want")
        }.nextOption())
        answered += LogSize
      }
    }
    pattern(WarmupSingles, WarmupRounds)
    run.startLoop()
    answered = 0
    while (run.continues(seconds)) pattern(ServeSingles, ServeRounds)
    val logQps = (kind: String) => LogSize * run.samples(kind).size / run.samples(kind).sum
    Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("query_p50_s", Tracer.median(run.samples("query")), "s", run.samples("query").size),
      Metric("items_per_s", answered / run.loopS, "1/s", answered.toInt),
      Metric("space_amp", storeBytes(store).toDouble / textBytes(docs), "ratio", 1),
      Metric("batch_qps", logQps("batch"), "1/s", run.samples("batch").size),
      Metric("phrase_qps", logQps("phrase"), "1/s", run.samples("phrase").size))
  }

  /** Crawl-ingest lifecycle on a mutating store. Each cycle offers a batch
    * (fresh docs plus planted near-duplicates) to the dedup gate, appends
    * the survivors to the index, probes, deletes live ids, probes, and
    * audits the new batch incrementally; cycles run until `seconds` of
    * call time have passed. Then the clustering pass over an edit-chain
    * pool, expunge, and a full audit. */
  def ingest(spark: SparkSession, run: Run, seed: Long, seconds: Double,
             store: Path, setupDone: () => Double): Seq[Metric] = {
    val path = store.resolve("index").toString
    val dpath = store.resolve("dedup").toString
    val docs = Gen.corpus(seed, IngestDocs)
    val df = frame(spark, docs)
    run.op("index.writeIndex", "setup") {
      Indexer.writeIndex(Indexer.buildIndex(df), path, Buckets)
      Indexer.markAudited(spark, path)
    }
    run.op("dedup.writeSignatures", "setup") { DedupStore.writeSignatures(df, dpath) }
    val setupS = setupDone()
    val oracle = new Oracle.Bm25
    docs.foreach(oracle.add)
    val stored = mutable.HashMap.empty[Long, Doc] ++ docs.map(d => d.id -> d)
    val queries = new Gen.Queries(seed)
    for (_ <- 0 until WarmupQueries) probe(spark, run, path, oracle, queries.next())
    run.startLoop()
    val muts = new Gen.Mutations(seed)
    var nextId = IngestDocs.toLong
    var appended = 0L
    var offered = 0L
    import spark.implicits._
    def clean(kind: String, rows: Seq[Row]): Unit = run.check(kind,
      rows.find(_.getAs[Long]("violations") != 0).map(r => s"violations: $r"))

    while (run.continues(seconds)) {
      val batch = muts.batch(nextId, BatchFresh, BatchPlanted, docs)
      nextId += batch.docs.size
      offered += batch.docs.size
      val byId = batch.docs.map(d => d.id -> d).toMap
      val report = run.op("dedup.ingest", "dedup") {
        DedupStore.ingest(spark, dpath, frame(spark, batch.docs), Threshold).collect().toSeq
      }.getOrElse(Nil)
      val pairs = report.map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard")))
      run.check("dedup", pairs.iterator.flatMap { case (n, s, j) =>
        (byId.get(n), stored.get(s)) match {
          case (Some(a), Some(b)) =>
            val want = Oracle.jaccard(Oracle.shingles(a.tokens, Gen.ShingleN),
              Oracle.shingles(b.tokens, Gen.ShingleN))
            if (want >= Threshold && math.abs(want - j) < 1e-9) None
            else Some(s"pair ($n, $s) jaccard $j, true $want")
          case _ => Some(s"pair ($n, $s) names a doc outside the batch or the store")
        }
      }.nextOption().orElse {
        val missing = batch.planted.toSet -- pairs.map(p => (p._1, p._2))
        if (missing.isEmpty) None else Some(s"planted pairs not found: ${missing.take(5)}")
      })
      val dupIds = pairs.map(_._1).toSet
      val survivors = batch.docs.filterNot(d => dupIds(d.id))
      run.op("index.appendIndex", "append") {
        Indexer.appendIndex(spark, path, frame(spark, survivors))
      }.foreach { _ =>
        survivors.foreach { d => oracle.add(d); stored(d.id) = d }
        appended += survivors.size
      }
      for (_ <- 0 until ProbesPerMutation) probe(spark, run, path, oracle, queries.next())
      val dels = muts.deletes(oracle.liveIds, DeletesPerCycle)
      run.op("index.deleteDocs", "delete") {
        Indexer.deleteDocs(spark, path, dels.toDF("doc_id"))
      }.foreach(_ => dels.foreach(oracle.delete))
      for (_ <- 0 until ProbesPerMutation) probe(spark, run, path, oracle, queries.next())
      run.op("index.checkStoreIncremental", "audit") {
        Indexer.checkStoreIncremental(spark, path).collect().toSeq
      }.foreach(clean("audit", _))
    }

    val (pool, links) = Gen.chainPool(seed, PoolFirstId)
    val truePairs = Oracle.pairs(pool, Gen.ShingleN, Threshold)
    run.op("dedup.minhashLshPairs", "cluster") {
      Dedup.minhashLshPairs(Dedup.shingles(frame(spark, pool)), Threshold).collect().toSeq
    }.foreach { rows =>
      val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      run.check("cluster", if (got == truePairs.keySet && links.forall(got)) None
        else Some(s"pairs: ${(got -- truePairs.keySet).take(5)} extra, " +
          s"${(truePairs.keySet -- got).take(5)} missing"))
      run.op("dedup.duplicateClusters", "cluster") {
        Dedup.duplicateClusters(got.toSeq.toDF("doc_a", "doc_b")).collect().toSeq
      }.foreach { rows =>
        val labels = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
        val want = Oracle.clusters(truePairs.keys)
        run.check("cluster", if (labels == want) None
          else Some(s"${(labels.toSet diff want.toSet).take(5)} differ from union-find"))
      }
    }
    run.op("index.expungeDeletes", "maint") { Indexer.expungeDeletes(spark, path) }
    run.op("index.checkStore", "maint") {
      Indexer.checkStore(spark, path).collect().toSeq
    }.foreach(clean("maint", _))

    val live = oracle.liveIds.map(stored)
    val n = (k: String) => run.samples(k).size
    Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("query_p50_s", Tracer.median(run.samples("query")), "s", n("query")),
      Metric("items_per_s", appended / run.loopS, "1/s", appended.toInt),
      Metric("space_amp", storeBytes(store.resolve("index")).toDouble / textBytes(live),
        "ratio", 1),
      Metric("append_p50_s", Tracer.median(run.samples("append")), "s", n("append")),
      Metric("delete_p50_s", Tracer.median(run.samples("delete")), "s", n("delete")),
      Metric("audit_incr_p50_s", Tracer.median(run.samples("audit")), "s", n("audit")),
      Metric("dedup_docs_per_s", offered / run.samples("dedup").sum, "1/s", offered.toInt),
      Metric("cluster_s", run.samples("cluster").sum, "s", n("cluster")),
      Metric("maint_s", run.samples("maint").sum, "s", n("maint")))
  }
}
