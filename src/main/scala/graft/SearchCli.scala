package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.Indexer
import graft.search.BM25
import graft.sources.WikiCorpus

/** Search entry point mirroring the reference's `search.sh`/`app.sh` UX
  * (`search.sh:5-22`): query from argv or stdin, top-10 printed as
  * `rank\tdoc_id\ttitle\tscore`.
  *
  * {{{
  *   sbt "runMain graft.SearchCli big data analytics"
  *   echo "machine learning model" | sbt "runMain graft.SearchCli"
  * }}}
  *
  * Corpus selection via SPARK_GRAFT_CORPUS: a `<id>_<title>.txt`
  * directory (e.g. the reference's app/data) or a documents parquet
  * (defaults to the sf0.001 fixture).
  */
object SearchCli {

  /** Build, rank and format — the testable core of [[main]] (the golden
    * spec drives it in-process against the reference corpus, the same
    * separation as [[Maintain.run]]): returns exactly the lines main
    * prints, `rank\tdoc_id\ttitle\tscore` (`search.sh:20-22`'s shape). */
  def run(spark: SparkSession, docs: org.apache.spark.sql.DataFrame,
          query: String): Seq[String] = {
    // title flows through the index's doc_stats (reference layout,
    // query.py:86 first(title)) — no corpus re-join at query time
    BM25.search(Indexer.buildIndex(docs, titleCol = Some("title")), query)
      .orderBy("rank")
      .select(col("rank"), col("doc_id"), coalesce(col("title"), lit("")).as("title"),
        col("score"))
      .collect()
      .map(r => s"${r.getInt(0)}\t${r.getLong(1)}\t${r.getString(2)}\t${r.getDouble(3)}")
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val query =
      if (args.nonEmpty) args.mkString(" ")
      else scala.io.Source.stdin.getLines().mkString(" ").trim
    if (query.isEmpty) { println("No query provided."); return }

    val corpus = sys.env.getOrElse("SPARK_GRAFT_CORPUS",
      "/root/testdata/sf0.001/documents.parquet")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // rank windows over already-limited (<= topK) frames are
    // single-partition by design; WindowExec's no-partition warning is
    // noise for them (and a literal partition key gets optimizer-folded)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    val docs =
      if (corpus.endsWith(".parquet"))
        FsOps.readParquet(spark, corpus)
          .select(col("doc_id"), coalesce(col("source"), lit("")).as("title"), col("text"))
      else WikiCorpus.read(spark, corpus)

    run(spark, docs, query).foreach(println)
    spark.stop()
  }
}
