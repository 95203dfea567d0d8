package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Interval arithmetic for span attribution; times in epoch milliseconds. */
object Intervals {
  /** Length of the part of `[from, to]` covered by the union of `ivs`.
    * Intervals may overlap (the program overlaps independent jobs). */
  def covered(from: Long, to: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The per-call record of one span: a named call into a program layer. */
final case class SpanCall(name: String, startMs: Long, endMs: Long, wallNs: Long,
                          readB: Long, writtenB: Long, files: Long)

/** What one span's call cost, attributed from the listener by interval. */
final case class SpanCost(call: SpanCall, jobs: Int, taskS: Double, gapS: Double,
                          shuffleB: Long)

/** Span recorder. Untraced, a span only times its body. Traced, it also
  * snapshots Hadoop FileSystem statistics and the file count under the
  * store roots around the body; a SparkListener records every job's
  * interval and every task's metrics. Spans are kept in memory and
  * attributed once, after the workload: jobs by start time and tasks by
  * finish time within a span's interval (one client, so calls never
  * overlap), and the span's gap (driver-only self time) is its wall time
  * minus the union of its jobs' intervals.
  */
final class Tracer(spark: SparkSession, traced: Boolean, roots: () => Seq[Path]) {
  private val calls = mutable.ArrayBuffer.empty[SpanCall]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // start, end ms
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Double, Long)] // finish, run s, shuffle B

  // the listener bus thread writes what costs() reads: one lock, the tracer's
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += ((e.taskInfo.finishTime, m.executorRunTime / 1000.0,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
    }
  }
  if (traced) spark.sparkContext.addSparkListener(listener)

  private def fsBytes: (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  /** Time `body` as one call of span `name`; returns its result and its
    * wall time in seconds. */
  def span[A](name: String)(body: => A): (A, Double) = {
    if (!traced) {
      val t0 = System.nanoTime
      val out = body
      return (out, (System.nanoTime - t0) / 1e9)
    }
    val files0 = Tracer.countFiles(roots())
    val (r0, w0) = fsBytes
    val s = System.currentTimeMillis
    val t0 = System.nanoTime
    val out = body
    val ns = System.nanoTime - t0
    val e = System.currentTimeMillis
    val (r1, w1) = fsBytes
    calls += SpanCall(name, s, e, ns, r1 - r0, w1 - w0,
      Tracer.countFiles(roots()) - files0)
    (out, ns / 1e9)
  }

  /** Attribute jobs and tasks to the recorded calls. */
  def costs(): Seq[SpanCost] = {
    if (!traced) return Nil
    org.apache.spark.ListenerDrain(spark.sparkContext)
    synchronized(Tracer.attribute(calls.toSeq, jobs.toSeq, tasks.toSeq))
  }
}

object Tracer {
  /** The span names the benchmark records, one per program call it
    * makes, grouped by the layer (package) the call belongs to. */
  val Spans: Seq[String] = Seq(
    "search.searchStore", "search.searchManyStore", "search.searchStoreMany",
    "index.writeIndex", "index.writePositional", "index.appendIndex",
    "index.deleteDocs", "index.checkStoreIncremental", "index.expungeDeletes",
    "index.checkStore",
    "dedup.writeSignatures", "dedup.ingest", "dedup.minhashLshPairs",
    "dedup.duplicateClusters")

  /** Per-span metric name -> unit. Values are medians over the span's
    * calls in the run (0 for spans the workload does not call). */
  val Metrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "task_s" -> "s", "gap_s" -> "s",
    "shuffle_b" -> "B", "read_b" -> "B", "written_b" -> "B", "files" -> "count")

  /** Jobs belong to the call whose interval holds their start, tasks to
    * the call whose interval holds their finish; a call's gap is its wall
    * time minus the union of its jobs' intervals. `jobs` are (start, end)
    * ms, `tasks` (finish ms, run s, shuffle bytes). */
  def attribute(calls: Seq[SpanCall], jobs: Seq[(Long, Long)],
                tasks: Seq[(Long, Double, Long)]): Seq[SpanCost] =
    calls.map { c =>
      val js = jobs.filter { case (s, _) => s >= c.startMs && s <= c.endMs }
      val ts = tasks.filter { case (f, _, _) => f >= c.startMs && f <= c.endMs }
      val busyS = Intervals.covered(c.startMs, c.endMs, js) / 1000.0
      SpanCost(c, js.size, ts.map(_._2).sum, math.max(0.0, c.wallNs / 1e9 - busyS),
        ts.map(_._3).sum)
    }

  def countFiles(roots: Seq[Path]): Long = roots.filter(Files.exists(_)).map { r =>
    val st = Files.walk(r)
    try st.iterator.asScala.count(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toLong
    finally st.close()
  }.sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics for every span in [[Spans]]. */
  def perLayer(costs: Seq[SpanCost]): Seq[(String, Double, String)] =
    for (span <- Spans; (m, unit) <- Metrics) yield {
      val cs = costs.filter(_.call.name == span)
      val v = median(cs.map { c =>
        m match {
          case "wall_s" => c.call.wallNs / 1e9
          case "jobs" => c.jobs.toDouble
          case "task_s" => c.taskS
          case "gap_s" => c.gapS
          case "shuffle_b" => c.shuffleB.toDouble
          case "read_b" => c.call.readB.toDouble
          case "written_b" => c.call.writtenB.toDouble
          case "files" => c.call.files.toDouble
        }
      })
      (s"$span.$m", v, unit)
    }
}
