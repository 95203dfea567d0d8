package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import scala.collection.mutable

/** Measurement aid (guide §1): run named gate queries under a
  * SparkListener and report where the wall-clock goes — per-job wall
  * time vs. summed task time, driver-side gaps between jobs, shuffle
  * bytes, and task counts. Purely diagnostic; never part of the gate.
  *
  *   sbt "runMain graft.Profile q_stream_forget,q_store_fsck"
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in [[Bench]].
  */
object Profile {
  private case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L, var tasks: Int = 0,
                            var taskTimeMs: Long = 0L,
                            var shuffleReadB: Long = 0L,
                            var shuffleWriteB: Long = 0L)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_stream_forget"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          // fall back to the leading stage's callsite (first graft frame
          // if any — attributes the job to the store verb that ran it)
          .orElse(js.stageInfos.headOption.flatMap(si =>
            si.details.linesIterator.find(_.contains("graft."))
              .map(_.trim.take(110))))
          .getOrElse("?")
        jobs(js.jobId) = JobRec(js.jobId, desc, js.time)
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (jid <- stageToJob.get(te.stageId); j <- jobs.get(jid)) {
          j.tasks += 1
          if (te.taskInfo != null) j.taskTimeMs += te.taskInfo.duration
          if (te.taskMetrics != null) {
            j.shuffleReadB += te.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shuffleWriteB += te.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = ()
    }

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val df = fn(spark, sfDir)
      df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    }

    // warmup as in Bench
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case scala.util.control.NonFatal(_) => () }
    try FsOps.readParquet(spark, s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case scala.util.control.NonFatal(_) => () }

    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      runOnce(fn) // warm rep, unprofiled
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      runOnce(fn)
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus BEFORE detaching, or queued
      // JobEnd/TaskEnd events are silently dropped (ADVICE r19)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.synchronized { jobs.values.toSeq }
      // merge overlapping [start,end] intervals so concurrent jobs
      // (broadcast subjobs, AQE) are not double-counted and "gaps"
      // stays a true driver-idle measure (ADVICE r19)
      val jobWall = {
        val iv = js.filter(j => j.end > j.start).map(j => (j.start, j.end))
          .sortBy(_._1)
        var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        for ((s, e) <- iv) {
          if (s > curE) { busy += (curE - curS).max(0L); curS = s; curE = e }
          else if (e > curE) curE = e
        }
        busy += (curE - curS).max(0L)
        busy / 1e3
      }
      val taskTime = js.map(_.taskTimeMs).sum / 1e3
      println(f"\n=== $name: wall $wall%.2f s, ${js.size} jobs, " +
        f"job-wall $jobWall%.2f s, gaps ${wall - jobWall}%.2f s, " +
        f"task-time $taskTime%.2f s ===")
      val byDesc = js.groupBy(_.desc).map { case (d, g) =>
        (d, g.size, g.map(j => (j.end - j.start).max(0L)).sum / 1e3,
          g.map(_.tasks).sum, g.map(_.taskTimeMs).sum / 1e3,
          g.map(_.shuffleReadB).sum, g.map(_.shuffleWriteB).sum)
      }.toSeq.sortBy(-_._3)
      for ((d, n, w, t, tt, sr, sw) <- byDesc.take(30))
        println(f"  $w%7.2f s  jobs=$n%-3d tasks=$t%-5d taskT=$tt%7.2f s " +
          f"shufR=${sr / 1024}%8d KB shufW=${sw / 1024}%8d KB  ${d.take(110)}")
    }
    spark.stop()
  }
}
