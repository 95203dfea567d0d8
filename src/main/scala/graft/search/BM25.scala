package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzer
import graft.index.Indexer.InvertedIndex
import graft.index.TableLayout

/** BM25 ranking, expressed entirely in native Catalyst column arithmetic —
  * the reference's flagship derived expression (`app/query.py:60-92`),
  * minus its RDD escape, Python-closure UDF, hand-rolled broadcast, and
  * driver-side `collect()` of vocab/meta.
  *
  * Formula (reference `query.py:74-81`, k1 = 1.2, b = 0.75):
  * {{{
  *   idf     = ln(1 + (N - df + 0.5) / (df + 0.5))        // non-negative variant
  *   norm_tf = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avg_dl))
  *   score   = Σ_terms idf * norm_tf
  * }}}
  *
  * Scale design: postings are pre-filtered to the query's terms (an
  * `In`-list predicate pushed into the parquet scan — row-group and
  * dictionary pruning; with the bucketed index store, partition pruning
  * too). `vocab` restricted to k query terms is ≤ k rows → broadcast hash
  * join. `meta` is one row → broadcast cross join, never a collect. The
  * only big join is postings ⋈ doc_stats on `doc_id` — sort-merge at
  * scale, BHJ when AQE sees the filtered postings are small. The final
  * top-k plans as `TakeOrderedAndProject` (per-partition heaps, driver
  * merges k rows — the same algorithm as the reference's `takeOrdered`,
  * `query.py:92`, but on codegen'd rows).
  *
  * A store query ([[searchStore]]) is bound by orchestration, not data:
  * its cost is the number of Spark jobs it starts. Opening the store
  * starts none — every table's schema comes from one parquet footer read
  * on the driver ([[graft.FsOps.readParquet]]), tombstones included — so
  * each job belongs to the query's own execution.
  */
object BM25 {

  final case class Params(k1: Double = 1.2, b: Double = 0.75, topK: Int = 10)

  /** Per-posting partial score as a Column expression; all inputs are
    * columns so the whole thing fuses into one codegen stage.
    */
  def scoreExpr(tf: Column, df: Column, docLen: Column,
                totalDocs: Column, avgDl: Column,
                k1: Double = 1.2, b: Double = 0.75): Column = {
    val idf    = log(lit(1.0) + (totalDocs - df + lit(0.5)) / (df + lit(0.5)))
    val normTf = tf * (lit(k1) + lit(1.0)) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * docLen / avgDl))
    idf * normTf
  }

  /** Rank documents for a free-text query against a built index.
    *
    * Returns `(rank, doc_id, score)`, rank 1-based, ties broken by
    * `(score desc, doc_id asc)` — the reference's tie order is
    * partition-dependent (`query.py:92`); we pin it (SURVEY.md §7.4).
    */
  def search(ix: InvertedIndex, queryText: String, params: Params = Params()): DataFrame = {
    val terms = Analyzer.analyzeQuery(queryText).distinct
    if (terms.isEmpty) return emptyResult(ix)
    searchTerms(ix, terms, params)
  }

  /** Query a *persisted* index store ([[graft.index.Indexer.writeIndex]]):
    * adds a `term_bucket` IN-literal computed on the driver with the
    * store's bucket function, so the parquet reader statically prunes to
    * ≤ |terms| of the store's partitions before any IO — the Spark-native
    * analog of the reference's Cassandra partition-key lookup.
    */
  def searchStore(spark: org.apache.spark.sql.SparkSession, path: String,
                  queryText: String, params: Params = Params(),
                  nBuckets: Int = 64): DataFrame = {
    // live view: a store with soft-deletes must never return dead docs;
    // without tombstones this is a plain readIndex (no extra IO)
    val (docStats, postings) = TableLayout.frequency(spark, path, nBuckets)
    val ix = graft.index.Indexer.readIndexLive(spark, path, (docStats, postings))
    val terms = Analyzer.analyzeQuery(queryText).distinct
    if (terms.isEmpty) return emptyResult(ix)
    // the store's recorded bucket count wins over the parameter, once
    // validated against the physical partitions (TableLayout.prune)
    val pruned = postings.prune(ix.postings, terms)
    searchTerms(ix.copy(postings = pruned), terms, params)
  }

  /** Batch query serving: rank EVERY query in a query frame
    * (`query_id`, `query_text`) against the index in ONE job — the face a
    * real engine answers a query log with, vs the reference's
    * one-query-per-spark-submit shape (`app/query.py:15-19`) that
    * [[search]] mirrors. Same formula, same analyzer chain, same
    * tie-break; a query whose text normalizes to no tokens (or whose
    * tokens match no postings) simply contributes no rows.
    *
    * Scale shape: the query log's `(query_id, term)` pairs join the
    * postings on `term` — a shuffle join in general (AQE broadcasts the
    * query side when the log is small, the common serving case), which
    * replaces [[search]]'s pushed-down IN-literal: a frame of queries has
    * no driver-side literal to push. vocab joins on the same `term` key
    * (|terms| rows, broadcast-eligible), meta broadcasts as 1 row, and
    * the big join stays postings ⋈ doc_stats on `doc_id`. Per-query
    * top-k runs on [[org.apache.spark.sql.graft.TopKPerKey]]'s bounded
    * per-group heaps — state ∝ k per query, never a global sort or an
    * unbounded window over all scored docs.
    */
  def searchMany(ix: InvertedIndex, queries: DataFrame,
                 params: Params = Params(),
                 idCol: String = "query_id",
                 textCol: String = "query_text"): DataFrame =
    searchManyOn(ix, queryTerms(queries, idCol, textCol), params)

  /** [[searchMany]] against a PERSISTED index store
    * ([[graft.index.Indexer.writeIndex]]): the batch-serving analog of
    * [[searchStore]]'s static partition pruning. A query FRAME has no
    * driver literal to push — but the bucket DOMAIN is ≤ nBuckets, so
    * one tiny aggregate over the log (distinct `term_bucket` under the
    * store's recorded bucket function) collects a ≤ nBuckets-value
    * IN-list: bounded driver METADATA even for a million-query log,
    * never a data-path collect. The postings scan then statically
    * prunes to the union of the log's buckets (plan-asserted in
    * PlanSpec; Spark's dynamic partition pruning was measured NOT to
    * fire here — the query side carries no selective predicate, so the
    * planner's heuristic skips insertion). Tombstoned docs excluded via
    * the live view; a store with an invalidated layout record degrades
    * to the unpruned (correct) read, same as [[searchStore]]. */
  def searchManyStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, params: Params = Params(),
                      idCol: String = "query_id", textCol: String = "query_text",
                      nBuckets: Int = 64): DataFrame = {
    val (docStats, postings) = TableLayout.frequency(spark, path, nBuckets)
    val ix = graft.index.Indexer.readIndexLive(spark, path, (docStats, postings))
    val qt = queryTerms(queries, idCol, textCol)
    // the analyzed frame feeds the bucket collect AND the scoring join:
    // TableLayout.pruneForLog materializes it once so both see the same rows
    val (pruned, qtUsed) = postings.pruneForLog(ix.postings, qt)
    searchManyOn(ix.copy(postings = pruned), qtUsed, params)
  }

  /** Per-query distinct terms; array_distinct BEFORE explode so a
    * repeated term in one query scores once (analyzeQuery(...).distinct
    * parity with the single-query face). */
  private def queryTerms(queries: DataFrame, idCol: String, textCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
      explode(array_distinct(Analyzer.tokens(col(textCol)))).as("term"))

  private def searchManyOn(ix: InvertedIndex, qTerms: DataFrame,
                           params: Params): DataFrame = {
    val hasTitle = ix.docStats.columns.contains("title")
    val scored = ix.postings.select("term", "doc_id", "tf")
      .join(qTerms, "term")                       // the IN-list, as a join
      .join(ix.docStats, "doc_id")                // big ⋈ big on doc_id
      .join(ix.vocab, "term")                     // |terms| rows; AQE broadcasts
      .crossJoin(broadcast(ix.meta))              // 1 row (N, avg_dl)
      .withColumn("part_score",
        scoreExpr(col("tf"), col("df"), col("length"),
          col("total_docs"), col("avg_dl"), params.k1, params.b))

    val aggs =
      if (hasTitle) Seq(sum(col("part_score")).as("score"), first(col("title")).as("title"))
      else Seq(sum(col("part_score")).as("score"))
    val perQuery = scored.groupBy("query_id", "doc_id").agg(aggs.head, aggs.tail: _*)
    val top = org.apache.spark.sql.graft.TopKOps.topKPerKey(perQuery,
      keys = Seq("query_id"), order = Seq("score" -> false, "doc_id" -> true),
      params.topK)
    // rank within the ≤ k surviving rows per query — the window runs
    // AFTER TopKPerKey bounded the frame, so its state is ∝ k, not ∝ docs
    import org.apache.spark.sql.expressions.Window
    val ranked = top.withColumn("rank",
      row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)))
    if (hasTitle)
      ranked.select(col("query_id"), col("rank"), col("doc_id"), col("title"), col("score"))
    else
      ranked.select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  private def searchTerms(ix: InvertedIndex, terms: Seq[String],
                          params: Params): DataFrame = {
    // When the index was built with a title column (reference doc_stats
    // layout), results carry it via first(title) — deterministic because
    // title is functionally dependent on the doc_id group key
    // (`app/query.py:86,96`: rank \t doc_id \t title \t score).
    val hasTitle = ix.docStats.columns.contains("title")
    val posts = ix.postings.filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf")
    val voc   = ix.vocab.filter(col("term").isin(terms: _*))

    val scored = posts
      .join(ix.docStats, "doc_id")                 // big ⋈ big on doc_id
      .join(broadcast(voc), "term")                // ≤ |terms| rows
      .crossJoin(broadcast(ix.meta))               // 1 row (N, avg_dl)
      .withColumn("part_score",
        scoreExpr(col("tf"), col("df"), col("length"),
          col("total_docs"), col("avg_dl"), params.k1, params.b))

    val aggs =
      if (hasTitle) Seq(sum(col("part_score")).as("score"), first(col("title")).as("title"))
      else Seq(sum(col("part_score")).as("score"))
    val ranked = scored
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(params.topK)

    import org.apache.spark.sql.expressions.Window
    // a global (unpartitioned) window over the already-limited <= topK
    // rows — single-partition by design; WindowExec's no-partition
    // warning is benign here (a constant partition key would not help:
    // the optimizer folds literal partition specs away)
    val withRank = ranked.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
    if (hasTitle)
      withRank.select(col("rank"), col("doc_id"), col("title"), col("score"))
    else
      withRank.select(col("rank"), col("doc_id"), col("score"))
  }

  private def emptyResult(ix: InvertedIndex): DataFrame = {
    val base = ix.docStats.sparkSession.emptyDataFrame
    val cols =
      if (ix.docStats.columns.contains("title"))
        Seq(lit(0).as("rank"), lit(0L).as("doc_id"), lit("").as("title"), lit(0.0).as("score"))
      else
        Seq(lit(0).as("rank"), lit(0L).as("doc_id"), lit(0.0).as("score"))
    base.select(cols: _*).limit(0)
  }
}
