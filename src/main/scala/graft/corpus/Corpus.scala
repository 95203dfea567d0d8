package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzer
import graft.sources.{PerDocTextSink, TsvCorpus}

/** Corpus preparation — the reference's E1 lifecycle
  * (`app/prepare_data.py`): read parquet → project (id, title, text) →
  * limit → clean text and titles → persist, with optional side outputs
  * (TSV corpus + per-document text files).
  *
  * One DataFrame lineage end-to-end: the reference's `collect()` of all
  * rows into the driver, its per-document `hdfs put` subprocess (1000
  * process forks), and its re-`parallelize` round trip
  * (`prepare_data.py:37-55`) all collapse into distributed writes.
  */
object Corpus {

  /** Cleaned corpus: `(doc_id, title, clean_text)`.
    * `limit` < 0 keeps everything. Rows are ordered by id before a limit
    * so sampling is deterministic (the reference's bare `limit(1000)` is
    * partition-order-dependent; we pin it).
    */
  def prepare(df: DataFrame, limit: Int = -1,
              idCol: String = "doc_id", titleCol: String = "title",
              textCol: String = "text"): DataFrame = {
    val projected = df.select(
      col(idCol).as("doc_id"),
      regexp_replace(col(titleCol), "[\\t\\n]", " ").as("title"),
      Analyzer.normText(col(textCol)).as("clean_text"))
    if (limit < 0) projected
    else projected.orderBy(col("doc_id")).limit(limit)
  }

  /** Full E1: prepare + write parquet corpus + optional reference-shaped
    * side outputs. */
  def ingest(df: DataFrame, outDir: String, limit: Int = -1,
             writeTsv: Boolean = false, writePerDoc: Boolean = false,
             idCol: String = "doc_id", titleCol: String = "title",
             textCol: String = "text"): DataFrame = {
    val prepared = prepare(df, limit, idCol, titleCol, textCol)
    graft.FsOps.writeParquet(prepared, s"$outDir/corpus")
    if (writeTsv)
      TsvCorpus.write(prepared, s"$outDir/corpus_tsv",
        idCol = "doc_id", titleCol = "title", textCol = "clean_text")
    if (writePerDoc)
      PerDocTextSink.write(prepared, s"$outDir/docs",
        idCol = "doc_id", titleCol = "title", textCol = "clean_text")
    prepared
  }
}
