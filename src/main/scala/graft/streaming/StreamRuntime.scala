package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Drives the write-once/run-both-ways event transforms through the REAL
  * streaming runtime: file source → transform → sink, with
  * `Trigger.AvailableNow` (bounded catch-up over everything currently in
  * the source, then stop — the batch-of-a-stream execution mode a backfill
  * job uses in production).
  *
  * The sink is `foreachBatch` writing parquet in complete mode: each
  * trigger overwrites the output with the full aggregate state, entirely
  * on executors — no driver-side collect, unlike the memory sink, so the
  * same shape holds when the aggregate itself is large. (Append mode into
  * a plain file sink would only emit watermark-closed windows, which by
  * design never includes the windows nearest the end of a bounded input —
  * complete mode is the apples-to-apples face for a batch oracle.)
  */
object StreamRuntime {

  // one events stream-source copy per sf dir per JVM: the fixture's
  // TIMESTAMP(NANOS) column can't feed readStream directly (Tables.loadEvents
  // truncates it to µs), and re-writing the copy per invocation would bill
  // repeated Bench reps for source prep instead of stream execution
  private val srcCache = scala.collection.concurrent.TrieMap.empty[String, String]

  def eventsStreamSource(spark: SparkSession, sfDir: String): String =
    srcCache.getOrElseUpdate(sfDir, {
      val dir = graft.queries.QueryGroup.scratchDir("graft-evsrc")
      graft.FsOps.writeParquet(graft.Tables.loadEvents(spark, sfDir), dir)
      dir
    })

  // same per-(sfDir, table) caching for general fixture tables streamed
  // through a file source (file streams want a listable directory, and
  // repeated Bench reps shouldn't re-bill the source copy)
  private val tblCache = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def tableStreamSource(spark: SparkSession, sfDir: String, table: String): String =
    tblCache.getOrElseUpdate((sfDir, table), {
      val dir = graft.queries.QueryGroup.scratchDir(s"graft-$table-src")
      graft.FsOps.writeParquet(graft.Tables.load(spark, sfDir, table), dir)
      dir
    })

  /** Run `body` with `spark.sql.shuffle.partitions` derived from the
    * SOURCE VOLUME instead of the session core count (guide §2.5
    * "synthetic partitioning keys", §2.2 "fewer, larger partitions"):
    * a streaming query fixes its state-store partition count from this
    * conf at first start, and AQE does NOT coalesce stateful stream
    * shuffles — so a micro-batch over kilobytes of input was paying a
    * core-count-wide state shuffle per trigger, which is why the
    * streaming runtimes measured SLOWER at 32 cores than at 8
    * (PERF_r19 scaling 0.33–0.51). One partition per ~32 MB of source,
    * clamped to [1, session width]: tiny fixtures collapse to a few
    * state partitions, large inputs keep the session's width. A
    * narrowed run gets its own `spark.newSession()` carrying the
    * caller's SQL conf with only the width changed, and `body` builds
    * the stream on that session: the caller's session conf is never
    * written, so concurrent work on it keeps its width. Results are
    * unaffected — partition count never changes what a stateful
    * aggregate computes, only how wide it shuffles. */
  private def withVolumeShuffleWidth[T](spark: SparkSession, srcDir: String)
                                       (body: SparkSession => T): T = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val bytes =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.min(session.toLong,
      math.max(1L, bytes / (32L << 20) + 1L)).toInt
    if (target >= session) body(spark)
    else {
      val narrowed = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) =>
        if (spark.conf.isModifiable(k)) narrowed.conf.set(k, v)
      }
      narrowed.conf.set("spark.sql.shuffle.partitions", target)
      body(narrowed)
    }
  }

  /** Stream a directory of CDC changelog files into a
    * [[VersionedStore]]: one micro-batch per source file
    * (`maxFilesPerTrigger=1`, files processed oldest-first), each batch
    * committed at version `batchId + 1` via the replay-safe
    * [[VersionedStore.commitAt]]. The streaming write side of the
    * versioned store — ingest work per trigger ∝ that batch alone, and
    * a crash-replayed batch overwrites its own version directory. */
  def runCommits(spark: SparkSession, srcDir: String, storePath: String): Unit = {
    val scratch = graft.queries.QueryGroup.scratchDir("graft-cdc-run")
    val schema = graft.FsOps.readParquet(spark, srcDir).schema
    withVolumeShuffleWidth(spark, srcDir) { streamSpark =>
      val q = streamSpark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          VersionedStore.commitAt(batch.sparkSession, storePath, batch, id + 1)
        }
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Run `transform` over a file-source stream of `srcDir` to completion
    * with AvailableNow and return the final result as a batch DataFrame. */
  def runAvailableNow(spark: SparkSession, srcDir: String,
                      transform: DataFrame => DataFrame): DataFrame = {
    val scratch = graft.queries.QueryGroup.scratchDir("graft-stream-run")
    val out = s"$scratch/result"
    val schema = graft.FsOps.readParquet(spark, srcDir).schema
    withVolumeShuffleWidth(spark, srcDir) { streamSpark =>
      val q = transform(streamSpark.readStream.schema(schema).parquet(srcDir))
        .writeStream
        .outputMode("complete")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          graft.FsOps.writeParquet(batch, out)
        }
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.FsOps.readParquet(spark, out)
  }

  /** Run `transform` in APPEND mode with one micro-batch per source file
    * (oldest-first): each trigger's NEWLY-emitted rows append into the
    * result — the execution face for stateful operators that emit a row
    * exactly once (`dropDuplicates`, watermark-closed windows), where
    * complete-mode re-emission would be wrong. Sink stays executor-side
    * parquet (no driver collect). */
  def runAvailableNowAppend(spark: SparkSession, srcDir: String,
                            transform: DataFrame => DataFrame): DataFrame = {
    val scratch = graft.queries.QueryGroup.scratchDir("graft-stream-append")
    val out = s"$scratch/result"
    val schema = graft.FsOps.readParquet(spark, srcDir).schema
    withVolumeShuffleWidth(spark, srcDir) { streamSpark =>
      val q = transform(streamSpark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          graft.FsOps.writeParquet(batch, out, "append")
        }
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.FsOps.readParquet(spark, out)
  }

  /** Drop each frame into `srcDir` as ONE single-file batch, with
    * strictly increasing modification times in sequence order — the
    * arrives-over-time fixture for the file stream source: with
    * `maxFilesPerTrigger=1` (oldest-first) each frame becomes its own
    * micro-batch, in exactly this order. */
  def orderedDrops(spark: SparkSession, frames: Seq[DataFrame], srcDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(srcDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    // each frame stages under its OWN tmp dir and lands at its own dst —
    // independent, so the drops are written concurrently (guide §2.6);
    // the explicit per-index mod times still define the arrival order
    graft.operators.Par.run(frames.zipWithIndex.map { case (df, i) => () =>
      val tmp = s"$srcDir/_tmp$i"
      graft.FsOps.writeParquet(df.coalesce(1), tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      val dst = new org.apache.hadoop.fs.Path(srcDir, f"drop_$i%03d.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      fs.setTimes(dst, 1000L * (i + 1), -1)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      ()
    }: _*)
  }

  /** Stream a directory of corpus-batch files through the INCREMENTAL
    * prep-ingest face ([[graft.pipeline.PrepPipeline.dedupIngest]]):
    * one micro-batch per source file (oldest-first), each batch
    * within-batch deduped, deduped against the signature store AS GROWN
    * BY EVERY EARLIER BATCH, and its survivors ingested — the
    * continuous-crawl execution shape of the corpus build, where
    * today's accepted docs are tomorrow's dedup reference. Surviving
    * doc_ids land in `outDir/batch=<id>` (executor-side parquet, no
    * driver collect), each trigger OVERWRITING its own batch directory —
    * so a crash-replayed batch rewrites its own output instead of
    * appending duplicates (the same replay discipline as [[runCommits]]).
    * When the crashed attempt's store ingest fully landed (both
    * signature tables), the replayed content is IDENTICAL, not empty:
    * the store declines to re-append a doc that matches its own stored
    * signature, and [[graft.pipeline.PrepPipeline.dedupIngest]] counts
    * exactly those self-matches back into the survivor set (spec-pinned
    * end to end). A crash INSIDE the store append itself (sets landed,
    * buckets lost) is the store's own documented crash window — the
    * self-match has no bucket row to collide on, so the replay
    * re-appends and the duplicate is exactly what the daily
    * `DedupStore.checkStoreIncremental` audit flags (`delta_ids_unique`)
    * and `refreshBuckets` + `removeDocs` repair; it is not silently
    * absorbed here. Per-trigger work stays ∝ that batch, exactly the
    * batch face's cost model. Returns the accumulated survivor ids. */
  def runPrepIngest(spark: SparkSession, srcDir: String, storePath: String,
                    jaccardThreshold: Double, outDir: String): DataFrame = {
    val scratch = graft.queries.QueryGroup.scratchDir("graft-prepingest-run")
    val schema = graft.FsOps.readParquet(spark, srcDir).schema
    // NOT width-derived from srcDir: each batch dedups against the STORE
    // (band-bucket collision joins over stored signatures), so sizing
    // those shuffles from the batch volume would underprovision them —
    // measured slower even at gate scale
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        graft.FsOps.writeParquet(graft.pipeline.PrepPipeline
          .dedupIngest(batch.sparkSession, storePath, batch, jaccardThreshold)
          .select("doc_id"), s"$outDir/batch=$id")
      }
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.FsOps.readParquet(spark, Seq(outDir), basePath = Some(outDir)).drop("batch")
  }

  /** Checkpoint-scoped marker mapping stream batch ids to store ingest
    * ordinals ([[runIndexIngest]]): `ordinal = base + batchId`, with
    * `base` fixed at the checkpoint's first start. Lives BESIDE THE
    * CHECKPOINT, not the store — a fresh checkpoint (new stream over new
    * files) gets a fresh base from the store's current `_lastbatch`,
    * while a crash-restart on the same checkpoint keeps the mapping its
    * replayed batch ids were written under. */
  private[graft] val StreamBaseMarker = "_stream_base"

  /** The per-micro-batch body of [[runIndexIngest]], public so specs can
    * drive engine-replay scenarios directly: apply `batch` to the index
    * store at ingest ordinal `ordinal`, skipping it when the store's own
    * `_lastbatch` marker already vouches for that ordinal (an engine
    * replay of a fully-applied batch). Ordinal 0 bootstraps the store
    * (overwrite — a crashed bootstrap replays clean); every later
    * ordinal appends, with a fail-fast check that the store's ordinal
    * sequence still matches the stream's mapping (an out-of-band append
    * would silently shift every later batch's ordinal — refuse instead).
    */
  def indexIngestBatch(spark: SparkSession, storePath: String, batch: DataFrame,
                       ordinal: Long, titleCol: Option[String] = None,
                       nBuckets: Int = 64,
                       docBuckets: Option[Int] = None): Unit = {
    val last = graft.index.Indexer.lastBatch(spark, storePath)
    if (last.exists(_ >= ordinal)) {
      // the store marker at/past this ordinal is EITHER an engine replay
      // of a fully-applied batch (skip) or an out-of-band append that
      // shifted the mapping (a skip would silently drop NEW documents) —
      // indistinguishable by markers alone, so prove the replay by the
      // batch's own content: a genuinely applied batch's docs are all in
      // doc_stats AND its tokened docs all have postings (doc_stats
      // alone is not proof — appendIndex writes it first, so a crash
      // between the two writes leaves doc_stats-only rows that would
      // fake an applied batch). Two probe joins, on this rare path only.
      val docStats = graft.FsOps.readParquet(spark, s"$storePath/doc_stats")
      val absent = batch.select("doc_id").distinct()
        .join(docStats.select("doc_id"), Seq("doc_id"), "left_anti")
      val unposted = batch
        .filter(graft.analyzer.Analyzer.tokenCount(
          org.apache.spark.sql.functions.col("text")) > 0)
        .select("doc_id").distinct()
        .join(graft.FsOps.readParquet(spark, s"$storePath/postings").select("doc_id"),
          Seq("doc_id"), "left_anti")
      require(absent.isEmpty && unposted.isEmpty,
        s"index ingest stream at $storePath: store batch marker ($last) is " +
          s"at or past this batch's ordinal $ordinal, but the batch is not " +
          "fully applied (docs missing from doc_stats, or tokened docs " +
          "missing postings) — the store was modified outside the stream " +
          "(an out-of-band append shifting the mapping, or a crashed " +
          "partial append overlaid by one; run rollbackPartialAppend " +
          "BEFORE any out-of-band maintenance). A deleteDocs+expunge of " +
          "this batch's docs between crash and restart also lands here " +
          "(safe halt): re-bootstrap with a fresh checkpoint over the " +
          "remaining files")
      return // replayed, fully applied
    }
    if (ordinal == 0L)
      // docBuckets only matters at bootstrap: every later append routes
      // by the store's own _docbuckets marker (appendIndex), so each
      // micro-batch lands bucket-suffixed and the zero-shuffle scoring
      // join stays valid across the whole stream
      graft.index.Indexer.writeIndex(
        graft.index.Indexer.buildIndex(batch, titleCol = titleCol),
        storePath, nBuckets, docBuckets = docBuckets)
    else {
      require(last.contains(ordinal - 1),
        s"index ingest stream at $storePath: store is at batch $last but the " +
          s"stream expects to write ordinal $ordinal — the store was appended " +
          "outside the stream (the stream must own the store's append " +
          "lifecycle) or its marker was reset; re-bootstrap with a fresh " +
          "checkpoint")
      graft.index.Indexer.appendIndex(spark, storePath, batch,
        titleCol = titleCol, nBuckets = nBuckets)
    }
  }

  /** Stream a directory of corpus-batch files into a persisted BM25 index
    * store: one micro-batch per file drop (oldest-first), the first
    * bootstrapping the store ([[graft.index.Indexer.writeIndex]]), each
    * later one appended via [[graft.index.Indexer.appendIndex]] — postings
    * and doc_stats growing as new row-groups in the store's term-bucket
    * partitions, vocab/meta merged incrementally, a co-located positional
    * table growing with the same batch. The continuous-crawl execution
    * shape of the reference's own lifecycle (`app/index.sh` re-run per
    * crawl), with per-trigger work ∝ that batch alone.
    *
    * Crash-replay contract (the store's batch-ordinal + marker-advances-
    * last discipline does the work): stream batch ids map to store
    * ordinals through a checkpoint-scoped base marker, so
    *   - a replayed batch whose append fully landed (store marker
    *     advanced) is SKIPPED outright — [[indexIngestBatch]] sees the
    *     store already vouches for its ordinal;
    *   - a crash inside the append before the marker advanced leaves
    *     rows tagged with the never-recorded ordinal; the replay's
    *     appendIndex REFUSES them (duplicate guard) and the stream halts
    *     loudly rather than double-count — repair with
    *     [[graft.index.Indexer.rollbackPartialAppend]] (drops exactly
    *     the orphaned ordinal's rows) and restart;
    *   - a crash after the marker advanced but before the derived merge
    *     is the store's own documented window: the replay skips the
    *     batch, and the stale vocab/meta are what the scheduled
    *     [[graft.index.Indexer.checkStore]] flags and
    *     [[graft.index.Indexer.refreshDerived]] repairs.
    * The stream must own the store's append lifecycle; `checkpointDir`
    * (default: fresh scratch) is the restartable identity — reuse it to
    * resume, never to re-stream different files. */
  def runIndexIngest(spark: SparkSession, srcDir: String, storePath: String,
                     titleCol: Option[String] = None, nBuckets: Int = 64,
                     checkpointDir: Option[String] = None,
                     docBuckets: Option[Int] = None): Unit = {
    val ckpt = checkpointDir.getOrElse(
      graft.queries.QueryGroup.scratchDir("graft-ixingest-run") + "/ckpt")
    val base = graft.FsOps.readLongMarker(spark, ckpt, StreamBaseMarker).getOrElse {
      val b = graft.index.Indexer.lastBatch(spark, storePath).map(_ + 1).getOrElse {
        // no marker: only an EMPTY path may bootstrap — a legacy
        // (pre-batch-tracking) store here would be silently overwritten
        // by the ordinal-0 writeIndex, the opposite of every other
        // legacy-store path's loud refusal. (A crashed bootstrap also
        // lands here: its partial store is disposable by definition —
        // delete the store directory and restart.)
        val ds = new org.apache.hadoop.fs.Path(s"$storePath/doc_stats")
        require(!ds.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ds),
          s"runIndexIngest: $storePath holds an index store with no batch " +
            "marker (legacy, or a crashed bootstrap) — streaming ingest " +
            "cannot own it; for a crashed bootstrap delete the store " +
            "directory and restart, for a legacy store rebuild it tracked")
        0L
      }
      graft.FsOps.writeLongMarker(spark, ckpt, StreamBaseMarker, b)
      b
    }
    val schema = graft.FsOps.readParquet(spark, srcDir).schema
    withVolumeShuffleWidth(spark, srcDir) { streamSpark =>
      val q = streamSpark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          // the caller's session: the store-side work of the append (the
          // vocab-sized mergeDerived) runs at the store's width, only the
          // batch's own frames at the narrowed one
          indexIngestBatch(spark, storePath, batch.toDF(),
            base + id, titleCol, nBuckets, docBuckets)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Stream a TAKEDOWN QUEUE into the cross-store forget cascade: a
    * directory of id-batch files (each a parquet of `doc_id`s — the
    * shape a compliance system drops takedown requests in), one
    * micro-batch per file (oldest-first), each becoming ONE write-ahead
    * forget manifest driven through every store family at the pipeline
    * root ([[graft.pipeline.Forget.forgetAt]]).
    *
    * Crash-replay contract: stream batch ids map to manifest ordinals
    * through the same checkpoint-scoped base marker as
    * [[runIndexIngest]], and `forgetAt` is replay-idempotent — a
    * replayed batch whose manifest completed is a no-op; one that
    * crashed mid-cascade is RESUMED (per-family done markers), never
    * duplicated. Batch-mode `Forget.forget` calls may interleave
    * between runs (the base is fixed per checkpoint at first start, so
    * reuse a checkpoint only when the queue owns the ordinals it was
    * started with — same contract as the index ingest stream). The
    * audit trail is the manifest history itself; per-trigger work is
    * ∝ that takedown batch. */
  def runForgetQueue(spark: SparkSession, srcDir: String, root: String,
                     checkpointDir: Option[String] = None): Unit = {
    val ckpt = checkpointDir.getOrElse(
      graft.queries.QueryGroup.scratchDir("graft-forgetq-run") + "/ckpt")
    val base = graft.FsOps.readLongMarker(spark, ckpt, StreamBaseMarker)
      .getOrElse {
        val b = graft.pipeline.Forget.nextOrdinal(spark, root)
        graft.FsOps.writeLongMarker(spark, ckpt, StreamBaseMarker, b)
        b
      }
    val schema = graft.FsOps.readParquet(spark, srcDir).schema
    // NOT width-derived from srcDir: a takedown batch is tiny but its
    // per-batch cascade works over the STORES (the dedup family rewrite
    // is store-sized) — sizing those shuffles from the id-batch volume
    // would underprovision them at scale
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        graft.pipeline.Forget.forgetAt(batch.sparkSession, root,
          batch.toDF(), base + id)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stage each frame into `srcDir` as ONE parquet file with strictly
    * increasing modification times, so the file stream source
    * (oldest-first, `maxFilesPerTrigger=1`) replays them as ordered
    * micro-batches — the distinct-drops twin of [[replayDrops]]. */
  def stageDrops(spark: SparkSession, dfs: Seq[DataFrame], srcDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    // independent per-index tmp dirs and destinations: stage concurrently
    // (guide §2.6); mod times, not completion order, define arrival order
    graft.operators.Par.run(dfs.zipWithIndex.map { case (df, i) => () =>
      val tmp = s"$srcDir/_tmp$i"
      graft.FsOps.writeParquet(df.coalesce(1), tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      val dst = new org.apache.hadoop.fs.Path(srcDir, f"drop_$i%03d.parquet")
      require(fs.rename(part, dst), s"rename $part -> $dst failed")
      fs.setTimes(dst, 1000L * (i + 1), -1)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      ()
    }: _*)
  }

  /** Drop `df` into `srcDir` as `n` identical single-file batches with
    * strictly increasing modification times — a replayed-ingest fixture
    * for the file stream source (oldest-first, one batch per file). */
  def replayDrops(spark: SparkSession, df: DataFrame, srcDir: String, n: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val tmp = s"$srcDir/_tmp"
    graft.FsOps.writeParquet(df.coalesce(1), tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    (0 until n).foreach { i =>
      val dst = new org.apache.hadoop.fs.Path(srcDir, f"drop_$i%03d.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      fs.setTimes(dst, 1000L * (i + 1), -1)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
