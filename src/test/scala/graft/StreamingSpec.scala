package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming behavior of the event-time transforms: the same
  * code paths as the batch queries, driven through MemoryStream.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long = 1L, typ: String = "click",
                 v: Double = 1.0) =
    Event(id, Timestamp.valueOf(t), user, typ, v, "{}")

  test("tumbling window aggregation over a stream matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:05:00"), ev(2, "2024-01-01 00:55:00"),
        ev(3, "2024-01-01 01:05:00", typ = "view"))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select(col("window_start").cast("string"), col("event_type"), col("n"))
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00", "click", 2L),
        ("2024-01-01 01:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("watermark drops events later than the bound after advancement") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, "2024-01-01 05:00:00"))
      q.processAllAvailable()
      // watermark is now 04:50; an hour-3 event is beyond it
      mem.addData(ev(2, "2024-01-01 03:00:00"))
      q.processAllAvailable()
      mem.addData(ev(3, "2024-01-01 07:00:00")) // advance, closing hour 5
      q.processAllAvailable()
      val rows = spark.table("late_test")
        .select(col("window_start").cast("string"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(rows.get("2024-01-01 05:00:00") === Some(1L)) // late row not counted
      assert(!rows.contains("2024-01-01 03:00:00"))
    } finally q.stop()
  }

  test("native session_window groups by 30-minute gaps") {
    val df = Seq(
      ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:20:00"),
      ev(3, "2024-01-01 00:49:59"),                  // still in session (gap < 30m)
      ev(4, "2024-01-01 01:30:00"),                  // new session
      ev(5, "2024-01-01 00:00:00", user = 2L)
    ).toDF()
    val res = EventStreams.sessionize(df)
      .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(res === Set(
      (1L, "2024-01-01 00:00:00", 3L),
      (1L, "2024-01-01 01:30:00", 1L),
      (2L, "2024-01-01 00:00:00", 1L)))
  }

  test("flatMapGroupsWithState sessionizer agrees with session_window on batch") {
    implicit val s = spark
    val events = Tables.loadEvents(spark, sf0001)
      .as[Event]
    val builtin = EventStreams.sessionize(events.toDF())
      .select(col("user_id"), col("session_start").cast("long"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    val custom = EventStreams.sessionizeWithState(events)
      .select(col("user_id"), col("session_start").cast("long"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(custom === builtin)
  }

  test("sessionizeWithState on a real stream: closed sessions emitted exactly once") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // EventTimeTimeout requires the input stream to carry a watermark
    val ds = mem.toDF().withWatermark("ts", "0 seconds").as[Event]
    val q = EventStreams.sessionizeWithState(ds)
      .writeStream.format("memory").queryName("session_state_stream")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:10:00"),
        ev(3, "2024-01-01 00:05:00", user = 2L))
      q.processAllAvailable()
      // advance the watermark far past both sessions' close times…
      mem.addData(ev(4, "2024-01-01 02:00:00", user = 3L))
      q.processAllAvailable()
      // …then trigger one more batch so the event-time timeouts fire
      mem.addData(ev(5, "2024-01-01 04:00:00", user = 3L))
      q.processAllAvailable()
      val rows = spark.table("session_state_stream")
        .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
        .as[(Long, String, Long)].collect().toSeq
      assert(rows.distinct.size === rows.size, s"duplicate session emissions: $rows")
      val set = rows.toSet
      assert(set.contains((1L, "2024-01-01 00:00:00", 2L)), s"user 1 session missing: $rows")
      assert(set.contains((2L, "2024-01-01 00:05:00", 1L)), s"user 2 session missing: $rows")
      // user 3's sessions are still open or awaiting timeout — not emitted
      assert(!set.exists(r => r._1 == 3L && r._3 != 1L))
    } finally q.stop()
  }

  test("stream-stream time-bounded join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Event]
    val memR = MemoryStream[Event]
    val q = EventStreams.correlate(memL.toDF(), memR.toDF(), "15 minutes")
      .writeStream.format("memory").queryName("corr_test")
      .outputMode("append").start()
    try {
      val views = Seq(ev(1, "2024-01-01 00:00:00", typ = "view"),
        ev(2, "2024-01-01 01:00:00", typ = "view"))
      val clicks = Seq(ev(10, "2024-01-01 00:10:00", typ = "click"), // within 15m of view 1
        ev(11, "2024-01-01 00:30:00", typ = "click"),                // too late for view 1
        ev(12, "2024-01-01 01:05:00", typ = "click"))                // within 15m of view 2
      memL.addData(views: _*)
      memR.addData(clicks: _*)
      q.processAllAvailable()
      // advance both watermarks so all joinable rows are emitted
      memL.addData(ev(3, "2024-01-01 03:00:00", typ = "view"))
      memR.addData(ev(13, "2024-01-01 03:00:00", typ = "click"))
      q.processAllAvailable()
      val streamed = spark.table("corr_test")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      val batch = EventStreams.correlate(
          views.toDF(), clicks.toDF(), "15 minutes")
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(batch === Set((1L, 10L), (2L, 12L)))
      assert(batch.subsetOf(streamed), s"stream missed pairs: $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming dedup within watermark drops replayed events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupeWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:01:00"))
      q.processAllAvailable()
      mem.addData(ev(1, "2024-01-01 00:00:00")) // exact replay (same id)
      q.processAllAvailable()
      val ids = spark.table("dedup_stream_test")
        .select("event_id").as[Long].collect().toSeq
      assert(ids.sorted === Seq(1L, 2L), s"replay not dropped: $ids")
    } finally q.stop()
  }

  test("file-source streaming: parquet-dir stream matches the batch result") {
    val events = Tables.loadEvents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_stream_test")
        .select(col("window_start").cast("long"), col("event_type"), col("n"), col("total"))
        .as[(Long, String, Long, Double)].collect().toSet
      val want = EventStreams.tumblingCounts(events)
        .select(col("window_start").cast("long"), col("event_type"), col("n"), col("total"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(got === want, "write-once/run-both-ways: file stream ≡ batch")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("AvailableNow runtime: tumbling + session file streams ≡ batch results") {
    import graft.streaming.StreamRuntime
    val events = Tables.loadEvents(spark, sf0001)
    val src = StreamRuntime.eventsStreamSource(spark, sf0001)

    val gotTumbling = StreamRuntime.runAvailableNow(spark, src,
        EventStreams.tumblingCounts(_))
      .select(col("window_start").cast("long"), col("event_type"), col("n"), col("total"))
      .as[(Long, String, Long, Double)].collect().toSet
    val wantTumbling = EventStreams.tumblingCounts(events)
      .select(col("window_start").cast("long"), col("event_type"), col("n"), col("total"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(gotTumbling === wantTumbling && gotTumbling.nonEmpty)

    val gotSession = StreamRuntime.runAvailableNow(spark, src,
        EventStreams.sessionize(_))
      .select(col("user_id"), col("session_start").cast("long"), col("n_events"), col("sum_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val wantSession = EventStreams.sessionize(events)
      .select(col("user_id"), col("session_start").cast("long"), col("n_events"), col("sum_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(gotSession === wantSession && gotSession.nonEmpty)
  }

  test("foreachBatch upsert sink: store converges to the batch answer across micro-batches") {
    import graft.streaming.UpsertSink
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val scratch = java.nio.file.Files.createTempDirectory("upsert").toString
    val store = s"$scratch/user_totals"
    val agg = mem.toDF().groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    val q = UpsertSink.writeUpserting(agg, store, Seq("user_id"), s"$scratch/ckpt")
    try {
      mem.addData(ev(1, "2024-01-01 00:00:00", user = 1L, v = 2.0),
        ev(2, "2024-01-01 00:01:00", user = 2L, v = 3.0))
      q.processAllAvailable()
      // second batch updates user 1 and introduces user 3
      mem.addData(ev(3, "2024-01-01 00:02:00", user = 1L, v = 5.0),
        ev(4, "2024-01-01 00:03:00", user = 3L, v = 7.0))
      q.processAllAvailable()
      val got = spark.read.parquet(store)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((1L, 2L, 7.0), (2L, 1L, 3.0), (3L, 1L, 7.0)))
      // no swap residue
      val names = new java.io.File(scratch).listFiles().map(_.getName)
      assert(!names.exists(n => n.contains("upsert_tmp") || n.contains("swap_old")),
        names.mkString(","))
    } finally q.stop()
  }

  test("partition-wise upsert rewrites only touched partitions") {
    import graft.streaming.UpsertSink
    val scratch = java.nio.file.Files.createTempDirectory("pupsert").toString
    val store = s"$scratch/t"
    // seed: 100 keys over 8 partitions
    val seed = (1L to 100L).map(k => (k, k * 10.0)).toDF("user_id", "total")
    UpsertSink.upsertBatchPartitioned(spark, store, seed, Seq("user_id"), nParts = 8)
    val filesBefore = new java.io.File(store).listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toMap
    assert(filesBefore.nonEmpty)

    // update ONE key: only its partition's files may change
    val batch = Seq((7L, 777.0)).toDF("user_id", "total")
    UpsertSink.upsertBatchPartitioned(spark, store, batch, Seq("user_id"), nParts = 8)
    val after = spark.read.parquet(store)
      .select("user_id", "total").as[(Long, Double)].collect().toMap
    assert(after(7L) === 777.0 && after(8L) === 80.0 && after.size === 100)
    val survivors = new java.io.File(store).listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toMap
    val untouchedKept = filesBefore.count { case (p, m) =>
      survivors.get(p).contains(m) }
    // 7 of 8 partitions keep their original files byte-for-byte
    assert(untouchedKept >= filesBefore.size - 2,
      s"too many partitions rewritten: kept $untouchedKept of ${filesBefore.size}")

    // a different nParts against the same store is a layout violation
    val e = intercept[IllegalArgumentException] {
      UpsertSink.upsertBatchPartitioned(spark, store,
        Seq((9L, 1.0)).toDF("user_id", "total"), Seq("user_id"), nParts = 16)
    }
    assert(e.getMessage.contains("nParts=8"))
  }

  test("changelog apply: upserts land, tombstones delete, replay is idempotent") {
    import graft.streaming.UpsertSink
    val scratch = java.nio.file.Files.createTempDirectory("cdc").toString
    val store = s"$scratch/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").write.parquet(store)
    // update 1, delete 2, insert 4
    val changelog = Seq((1L, "a2", "u"), (2L, "b", "d"), (4L, "d", "u"))
      .toDF("id", "v", "_op")
    UpsertSink.applyChangelog(spark, store, changelog, Seq("id"))
    val expect = Set((1L, "a2"), (3L, "c"), (4L, "d"))
    assert(spark.read.parquet(store).as[(Long, String)].collect().toSet === expect)
    // a retried (replayed) batch must not change the outcome
    UpsertSink.applyChangelog(spark, store, changelog, Seq("id"))
    assert(spark.read.parquet(store).as[(Long, String)].collect().toSet === expect)
    // no swap residue
    val names = new java.io.File(scratch).listFiles().map(_.getName)
    assert(!names.exists(n => n.contains("upsert_tmp") || n.contains("swap_old")),
      names.mkString(","))
  }

  test("incremental aggregate view: merge(base, delta) equals full recompute") {
    import graft.pipeline.IncrementalAgg
    val rows = (1L to 200L).map(k => (k, s"g${k % 7}", k * 3))
      .toDF("id", "grp", "x")
    val base = IncrementalAgg.partial(rows.filter($"id" <= 150), Seq("grp"), "x")
    val delta = IncrementalAgg.partial(rows.filter($"id" > 150), Seq("grp"), "x")
    val merged = IncrementalAgg.merge(base, delta, Seq("grp"))
      .as[(String, Long, Long)].collect().toSet
    val full = IncrementalAgg.partial(rows, Seq("grp"), "x")
      .as[(String, Long, Long)].collect().toSet
    assert(merged === full)
  }

  test("sliding windows place each event in width/slide windows") {
    val df = Seq(ev(1, "2024-01-01 00:40:00")).toDF()
    val res = EventStreams.slidingCounts(df)
      .select(col("window_start").cast("string")).as[String].collect().toSet
    assert(res === Set("2024-01-01 00:00:00", "2024-01-01 00:30:00"))
  }

  test("streamed index ingest == sequential appendIndex; replays skip; crashed appends halt, roll back, retry clean") {
    import graft.index.Indexer
    import graft.streaming.StreamRuntime
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "source")
    val slice = (r: Int) => docs.filter(col("doc_id") % 3 === r)
    val root = graft.queries.QueryGroup.scratchDir("graft-ixingest-spec")

    // streamed: three file drops, one micro-batch each
    StreamRuntime.orderedDrops(spark, Seq(0, 1, 2).map(slice), s"$root/src")
    StreamRuntime.runIndexIngest(spark, s"$root/src", s"$root/streamed",
      titleCol = Some("source"), nBuckets = 16)
    // sequential: the same three batches through the batch lifecycle
    Indexer.writeIndex(Indexer.buildIndex(slice(0), titleCol = Some("source")),
      s"$root/seq", nBuckets = 16)
    Indexer.appendIndex(spark, s"$root/seq", slice(1), titleCol = Some("source"))
    Indexer.appendIndex(spark, s"$root/seq", slice(2), titleCol = Some("source"))
    def surface(path: String) = spark.read.parquet(s"$path/postings")
      .select(col("term"), col("doc_id"), col("tf").cast("long"), col("batch"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(surface(s"$root/streamed") === surface(s"$root/seq"),
      "streamed ingest must land the same postings under the same ordinals")
    assert(Indexer.lastBatch(spark, s"$root/streamed") === Some(2L))

    // an engine replay of a fully-applied batch is a no-op
    val before = spark.read.parquet(s"$root/streamed/doc_stats").count()
    StreamRuntime.indexIngestBatch(spark, s"$root/streamed", slice(2), 2L,
      titleCol = Some("source"), nBuckets = 16)
    assert(spark.read.parquet(s"$root/streamed/doc_stats").count() === before)

    // crash INSIDE an append: doc_stats rows landed under ordinal 3, the
    // marker never advanced — the replay must REFUSE (halt loudly), and
    // rollback must restore the store so the retry applies clean
    val late = Seq((900001L, "late crawl alpha", "s"),
      (900002L, "late crawl beta", "s")).toDF("doc_id", "text", "source")
    Indexer.docStats(late, titleCol = Some("source"))
      .withColumn("batch", lit(3L))
      .write.mode("append").parquet(s"$root/streamed/doc_stats")
    val e = intercept[IllegalArgumentException](
      StreamRuntime.indexIngestBatch(spark, s"$root/streamed", late, 3L,
        titleCol = Some("source"), nBuckets = 16))
    assert(e.getMessage.contains("already exist"), e.getMessage)
    Indexer.rollbackPartialAppend(spark, s"$root/streamed")
    assert(spark.read.parquet(s"$root/streamed/doc_stats").count() === before,
      "rollback must drop exactly the orphaned ordinal's rows")
    StreamRuntime.indexIngestBatch(spark, s"$root/streamed", late, 3L,
      titleCol = Some("source"), nBuckets = 16)
    assert(Indexer.lastBatch(spark, s"$root/streamed") === Some(3L))
    assert(spark.read.parquet(s"$root/streamed/doc_stats").count() === before + 2)

    // out-of-band append desyncs the mapping: the stream refuses rather
    // than shift every later batch's ordinal
    val e2 = intercept[IllegalArgumentException](
      StreamRuntime.indexIngestBatch(spark, s"$root/streamed",
        Seq((900003L, "gamma", "s")).toDF("doc_id", "text", "source"), 9L,
        titleCol = Some("source"), nBuckets = 16))
    assert(e2.getMessage.contains("outside the stream"), e2.getMessage)

    // marker at/past the ordinal: a true replay (docs already in the
    // store) skips — but NEW docs at an aliased ordinal are the
    // out-of-band desync, refused rather than silently dropped
    StreamRuntime.indexIngestBatch(spark, s"$root/streamed", late, 3L,
      titleCol = Some("source"), nBuckets = 16) // replay again: no-op
    assert(spark.read.parquet(s"$root/streamed/doc_stats").count() === before + 2)
    val e3 = intercept[IllegalArgumentException](
      StreamRuntime.indexIngestBatch(spark, s"$root/streamed",
        Seq((900004L, "delta", "s")).toDF("doc_id", "text", "source"), 3L,
        titleCol = Some("source"), nBuckets = 16))
    assert(e3.getMessage.contains("modified outside the stream"), e3.getMessage)

    // a legacy (marker-less) store refuses streaming ingest instead of
    // being silently overwritten by the ordinal-0 bootstrap
    val legacyStore = graft.queries.QueryGroup.scratchDir("graft-ixingest-legacy")
    Indexer.buildIndex(slice(0)).docStats.write.parquet(s"$legacyStore/doc_stats")
    val e4 = intercept[IllegalArgumentException](
      StreamRuntime.runIndexIngest(spark, s"$root/src", legacyStore,
        titleCol = Some("source"), nBuckets = 16))
    assert(e4.getMessage.contains("no batch marker"), e4.getMessage)

    // a stream over a MANUALLY bootstrapped store maps its ids after the
    // store's existing ordinals (base marker beside the checkpoint)
    StreamRuntime.orderedDrops(spark, Seq(slice(1), slice(2)), s"$root/src2")
    Indexer.writeIndex(Indexer.buildIndex(slice(0), titleCol = Some("source")),
      s"$root/manual", nBuckets = 16)
    StreamRuntime.runIndexIngest(spark, s"$root/src2", s"$root/manual",
      titleCol = Some("source"), nBuckets = 16)
    assert(Indexer.lastBatch(spark, s"$root/manual") === Some(2L))
    assert(surface(s"$root/manual") === surface(s"$root/seq"))
  }

  test("append-mode runtime dedup: a replayed drop emits each key exactly once") {
    import graft.streaming.StreamRuntime
    val root = graft.queries.QueryGroup.scratchDir("graft-sdedup-spec")
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s")
    StreamRuntime.replayDrops(spark, df, s"$root/src", 3)
    val out = StreamRuntime.runAvailableNowAppend(spark, s"$root/src",
        _.dropDuplicates("k"))
      .as[(Long, String)].collect()
    assert(out.length == 20, s"each key exactly once, got ${out.length}")
    assert(out.toSet === (1L to 20L).map(i => (i, s"v$i")).toSet)
  }

  test("a volume-narrowed stream runs on its own session: the caller's shuffle width never changes") {
    import graft.streaming.StreamRuntime
    val key = "spark.sql.shuffle.partitions"
    val root = graft.queries.QueryGroup.scratchDir("graft-narrow-spec")
    StreamRuntime.replayDrops(spark, (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s"),
      s"$root/src", 3)
    val width = spark.conf.get(key)
    assert(width.toInt > 1, "the spec needs a session wider than the narrowed run")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    poller.start()
    @volatile var streamWidth = ""
    val out = try StreamRuntime.runAvailableNowAppend(spark, s"$root/src", { df =>
        streamWidth = df.sparkSession.conf.get(key)
        df.dropDuplicates("k")
      }).count()
    finally { running = false; poller.join() }
    assert(out == 20)
    assert(streamWidth == "1", "the stream itself still runs narrowed")
    assert(!seen.isEmpty)
    assert(seen.asScala.forall(_ == width),
      s"caller width changed during the run: ${seen.asScala.toSet}")
  }
}
