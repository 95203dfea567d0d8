package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one client, one process.
  *
  * {{{
  *   Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *        --work DIR --cpus C
  * }}}
  *
  * Prints one `[graftbench]` line per metric (name, value, unit, sample
  * count) and per failed check, then as its last stdout line one JSON
  * object `{"correct", "attempted", "failed", "metrics"}` carrying the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). Exits 1 when any operation failed or any check did not
  * match. `DIR` holds the stores and Spark's scratch space and is
  * deleted on exit; the traced run's spans go to `DIR/../trace`.
  */
object Main {
  /** End-to-end metrics every workload reports in its JSON line. */
  val EndToEnd = Seq("setup_s", "query_p50_s", "items_per_s", "space_amp")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cpus = args.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val body = workload match {
      case "serve" => Workloads.serve _
      case "ingest" => Workloads.ingest _
      case other => Console.err.println(s"unknown workload '$other'"); sys.exit(2)
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[graftbench] session up after ${(System.currentTimeMillis - jvmStart) / 1000.0} s")
    val store = work.resolve("store")
    val tracer = new Tracer(spark, traced, () => Seq(store))
    val run = new Run(tracer)
    var code = 1
    try {
      val metrics = body(spark, run, seed, seconds, store,
        () => (System.currentTimeMillis - jvmStart) / 1000.0)
      val ratio = run.failed.toDouble / run.attempted
      for (m <- metrics :+ Metric("failed_ratio", ratio, "ratio", run.attempted))
        println(f"[graftbench] $workload%s ${m.name}%s = ${m.value}%.6f ${m.unit}%s (n=${m.n}%d)")
      run.failures.foreach(f => println(s"[graftbench] FAILED $f"))
      val correct = run.failed == 0
      println(s"[graftbench] $workload checks ${if (correct) "PASS" else "FAIL"}: " +
        s"${run.failed} of ${run.attempted} operations failed")
      val costs = tracer.costs()
      if (traced) {
        for (c <- costs)
          println(f"[graftbench] span ${c.call.name}%s wall_s=${c.call.wallNs / 1e9}%.4f " +
            f"jobs=${c.jobs}%d task_s=${c.taskS}%.4f gap_s=${c.gapS}%.4f")
        writeSpans(work.getParent.resolve("trace").resolve(s"$workload-seed$seed.jsonl"), costs)
      }
      val reported =
        if (traced) Tracer.perLayer(costs)
        else EndToEnd.map(n => metrics.find(_.name == n).get).map(m => (m.name, m.value, m.unit))
      println(Json.result(correct, run.attempted, run.failed, reported))
      code = if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        Console.err.println(s"[graftbench] aborted: $e")
        e.printStackTrace()
    } finally {
      spark.stop()
      deleteTree(work)
    }
    sys.exit(code)
  }

  private def writeSpans(to: Path, costs: Seq[SpanCost]): Unit = {
    Files.createDirectories(to.getParent)
    val lines = costs.map { c =>
      Json.obj(Seq("span" -> Json.str(c.call.name), "start_ms" -> c.call.startMs.toString,
        "end_ms" -> c.call.endMs.toString, "wall_s" -> Json.num(c.call.wallNs / 1e9),
        "jobs" -> c.jobs.toString, "task_s" -> Json.num(c.taskS), "gap_s" -> Json.num(c.gapS),
        "shuffle_b" -> c.shuffleB.toString, "read_b" -> c.call.readB.toString,
        "written_b" -> c.call.writtenB.toString, "files" -> c.call.files.toString))
    }
    Files.write(to, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally st.close()
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      })))
}
