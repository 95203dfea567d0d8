package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analyzer.Analyzer
import graft.index.{Indexer, TableLayout}

/** Exact phrase search over the positional inverted index
  * ([[Indexer.positionalPostings]]).
  *
  * The reference engine ranks bags of words only (`app/query.py:58-86`
  * scores every query term independently); phrase matching is the
  * canonical positional-index extension: a document matches iff the
  * phrase's terms occur at consecutive token offsets, and `phrase_tf`
  * is the number of such start offsets.
  *
  * Algorithm — the classic postings-intersection, expressed in Spark
  * Column algebra so the whole match stays in whole-stage codegen:
  * for phrase terms t_0..t_{n-1}, take each term's position list,
  * shift term i's positions by −i, and intersect: a surviving value p
  * is a token offset where t_0 = p, t_1 = p+1, … align — i.e. a phrase
  * start. No UDF, no explode of positions: the intersection is
  * per-(doc) array arithmetic after an n-way equi-join on `doc_id`.
  *
  * Scale (100 TB corpus): each leg of the join is ONE term's postings
  * list (the scan prunes on `term IN (...)` — pushed to parquet, and to
  * a single `term_bucket` partition each when reading the persisted
  * store). Candidate docs after the first join are bounded by the
  * rarest term's document frequency; joins are doc_id equi-joins that
  * AQE plans as broadcasts when a term is rare. Duplicate phrase terms
  * ("buffalo buffalo") cost no extra join legs — each occurrence index
  * reuses the same term frame with a different shift.
  */
object PhraseSearch {

  /** Top-`k` documents containing `phrase` as consecutive tokens, ranked
    * by occurrence count: `(rank, doc_id, phrase_tf)`. */
  def search(corpus: DataFrame, phrase: String, k: Int = 10): DataFrame =
    searchPostings(Indexer.positionalPostings(corpus), phrase, k)

  /** Same, over an already-built positional postings table
    * `(term, doc_id, positions)` — e.g. a persisted index store. */
  def searchPostings(positional: DataFrame, phrase: String, k: Int = 10): DataFrame = {
    val terms = Analyzer.analyzeQuery(phrase)
    require(terms.nonEmpty, s"phrase analyzed to zero terms: '$phrase'")
    // one pruned read per DISTINCT term; occurrence i of a duplicated
    // term re-uses the same frame with a different shift
    val byTerm: Map[String, DataFrame] = terms.distinct.map { t =>
      t -> positional.filter(col("term") === lit(t))
        .select(col("doc_id"), col("positions"))
    }.toMap
    val legs = terms.zipWithIndex.map { case (t, i) =>
      byTerm(t).select(col("doc_id"),
        transform(col("positions"), p => p - lit(i)).as(s"s_$i"))
    }
    val joined = legs.reduce(_.join(_, "doc_id"))
    val starts = (1 until terms.length)
      .foldLeft(col("s_0"))((acc, i) => array_intersect(acc, col(s"s_$i")))
    joined
      .select(col("doc_id"), size(starts).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("doc_id").asc)
      .limit(k) // TakeOrderedAndProject: per-partition heaps, no full sort
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("phrase_tf").desc, col("doc_id").asc)).cast("long").as("rank"),
        col("doc_id"), col("phrase_tf"))
  }

  /** Phrase search against a PERSISTED positional store
    * ([[Indexer.writePositional]]): the phrase's term buckets become a
    * driver-computed IN-literal, so the parquet reader statically prunes
    * to ≤ |distinct terms| of the store's partitions before any IO —
    * the same access-path story as [[BM25.searchStore]], now for
    * positions. Like that reader, this is a LIVE view: a store carrying
    * soft-delete tombstones ([[Indexer.deleteDocs]] on a co-located
    * index) never returns dead docs — the anti-join applies after the
    * pruned scan, so pruning is unaffected. */
  def searchStore(spark: org.apache.spark.sql.SparkSession, path: String,
                  phrase: String, k: Int = 10, nBuckets: Int = 64): DataFrame = {
    val terms = Analyzer.analyzeQuery(phrase)
    require(terms.nonEmpty, s"phrase analyzed to zero terms: '$phrase'")
    searchPostings(livePositional(spark, path, terms, nBuckets), phrase, k)
  }

  /** Batch phrase serving: rank EVERY phrase in a query frame
    * (`query_id`, `phrase`) in ONE job — the positional twin of
    * [[BM25.searchMany]]. The per-query join LEGS of [[searchPostings]]
    * (one pruned read per term, driver-known leg count) generalize to a
    * frame as: explode each phrase into ordered `(query_id, ord, term)`
    * rows, join the positional postings ONCE on `term`, shift each
    * match's positions by −ord, and roll up per `(query_id, doc_id)` —
    * a doc matches iff it produced ALL `n` legs, and `phrase_tf` is the
    * size of the intersection of its shifted lists (order-independent,
    * so the unordered `collect_list` is safe). A phrase that analyzes
    * to zero tokens contributes no rows (the frame face's twin of the
    * single face's `require`).
    *
    * Scale: one postings ⋈ query-terms join (AQE broadcasts the log
    * side in the common serving case) replaces |log| × per-term pruned
    * reads; the rollup groups ≤ |phrase| position lists per (query,
    * doc) — state bounded by phrase length × positions, never corpus.
    * Per-query top-k on [[org.apache.spark.sql.graft.TopKPerKey]]'s
    * bounded heaps. */
  def searchMany(positional: DataFrame, queries: DataFrame, k: Int = 10,
                 idCol: String = "query_id", textCol: String = "phrase"): DataFrame =
    searchManyOn(positional, phraseTerms(queries, idCol, textCol), k)

  private def searchManyOn(positional: DataFrame, qt: DataFrame,
                           k: Int): DataFrame = {
    val grouped = positional.select(col("term"), col("doc_id"), col("positions"))
      .join(qt, "term")
      .select(col("query_id"), col("n"), col("doc_id"),
        transform(col("positions"), p => p - col("ord")).as("shifted"))
      .groupBy("query_id", "doc_id")
      .agg(first(col("n")).as("n"), count(lit(1)).as("legs"),
        collect_list(col("shifted")).as("ls"))
      .filter(col("legs") === col("n")) // every phrase term present
    val starts = aggregate(
      slice(col("ls"), lit(2), size(col("ls")) - 1),
      element_at(col("ls"), 1),
      (acc, l) => array_intersect(acc, l))
    rankPerQuery(
      grouped.select(col("query_id"), col("doc_id"),
          size(starts).cast("long").as("phrase_tf"))
        .filter(col("phrase_tf") > 0),
      "phrase_tf", k)
  }

  /** [[searchMany]] against a persisted positional store: the postings
    * scan statically prunes to the union of the log's term buckets (a
    * ≤ nBuckets IN-list collected from one tiny aggregate over the log —
    * bounded driver metadata, the same mechanism as
    * [[BM25.searchManyStore]]), tombstones excluded via the live view. */
  def searchStoreMany(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int = 10,
                      idCol: String = "query_id", textCol: String = "phrase",
                      nBuckets: Int = 64): DataFrame = {
    val (pos, qt) = liveForLog(spark, path,
      phraseTerms(queries, idCol, textCol), nBuckets)
    searchManyOn(pos, qt, k)
  }

  /** Batch proximity serving: every query's sloppy-phrase match in one
    * job — same frame shape as [[searchMany]] with DISTINCT terms per
    * query (first-occurrence order; ord 0 is the anchor term) and a
    * proximity filter instead of the intersection: anchors are ord-0
    * positions with every other term within `window` tokens. */
  def proximityMany(positional: DataFrame, queries: DataFrame, window: Int,
                    k: Int = 10, idCol: String = "query_id",
                    textCol: String = "phrase"): DataFrame =
    proximityManyOn(positional, distinctTerms(queries, idCol, textCol),
      window, k)

  private def proximityManyOn(positional: DataFrame, qt: DataFrame,
                              window: Int, k: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val grouped = positional.select(col("term"), col("doc_id"), col("positions"))
      .join(qt, "term")
      .select(col("query_id"), col("n"), col("doc_id"),
        struct(col("ord").as("ord"), col("positions").as("p")).as("leg"))
      .groupBy("query_id", "doc_id")
      .agg(first(col("n")).as("n"), count(lit(1)).as("legs"),
        collect_list(col("leg")).as("ls"))
      .filter(col("legs") === col("n"))
    val anchorSeed = element_at(
      filter(col("ls"), l => l.getField("ord") === 0), 1).getField("p")
    val anchors = aggregate(
      filter(col("ls"), l => l.getField("ord") =!= 0),
      anchorSeed,
      (acc, l) => filter(acc, x =>
        exists(l.getField("p"), y => abs(y - x) <= lit(window))))
    rankPerQuery(
      grouped.select(col("query_id"), col("doc_id"),
          size(anchors).cast("long").as("prox_tf"))
        .filter(col("prox_tf") > 0),
      "prox_tf", k)
  }

  /** [[proximityMany]] against a persisted positional store — bucket-
    * union pruned, tombstone-aware, like [[searchStoreMany]]. */
  def proximityStoreMany(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, window: Int, k: Int = 10,
                         idCol: String = "query_id", textCol: String = "phrase",
                         nBuckets: Int = 64): DataFrame = {
    val (pos, qt) = liveForLog(spark, path,
      distinctTerms(queries, idCol, textCol), nBuckets)
    proximityManyOn(pos, qt, window, k)
  }

  /** Per-query ORDERED terms with their ordinal: `(query_id, n, ord,
    * term)`; zero-token phrases drop. */
  private def phraseTerms(queries: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
        Analyzer.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("query_id"), size(col("toks")).as("n"),
        posexplode(col("toks")).as(Seq("ord", "term")))

  /** Per-query DISTINCT terms (first-occurrence order — ord 0 is the
    * proximity anchor), `(query_id, n, ord, term)`. */
  private def distinctTerms(queries: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
        array_distinct(Analyzer.tokens(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("query_id"), size(col("toks")).as("n"),
        posexplode(col("toks")).as(Seq("ord", "term")))

  /** Store access path for a query LOG: bucket-union static pruning of
    * the positional layout ([[TableLayout.pruneForLog]], which also
    * returns the term frame the caller must join with) + the live-view
    * tombstone anti-join. */
  private def liveForLog(spark: org.apache.spark.sql.SparkSession,
                         path: String, qt: DataFrame,
                         nBuckets: Int): (DataFrame, DataFrame) = {
    val layout = TableLayout(spark, path, "positional", nBuckets)
    val (pruned, qtUsed) = layout.pruneForLog(layout.read, qt)
    (Indexer.minusDeletes(spark, path, pruned), qtUsed)
  }

  /** Rank + bound each query's matches: top-`k` per query on the
    * bounded-heap operator, then a per-query rank window over the ≤ k
    * survivors. */
  private def rankPerQuery(scored: DataFrame, tfCol: String, k: Int): DataFrame = {
    val top = org.apache.spark.sql.graft.TopKOps.topKPerKey(scored,
      keys = Seq("query_id"), order = Seq(tfCol -> false, "doc_id" -> true), k)
    top.select(col("query_id"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col(tfCol).desc, col("doc_id").asc)).cast("long").as("rank"),
      col("doc_id"), col(tfCol))
  }

  /** Proximity search: top-`k` documents where every query term occurs
    * within `window` tokens of an anchor occurrence of the FIRST term,
    * in any order — the sloppy-phrase relaxation of [[search]].
    * `prox_tf` counts qualifying anchor positions. Same join shape and
    * scale posture as the exact phrase: one pruned postings leg per
    * distinct term, doc_id equi-joins, per-doc array math (nested
    * higher-order `exists` — no position explode).
    */
  def proximitySearch(corpus: DataFrame, query: String, window: Int,
                      k: Int = 10): DataFrame =
    proximityPostings(Indexer.positionalPostings(corpus), query, window, k)

  /** Proximity search against the persisted positional store — same
    * bucket-pruned, tombstone-aware access path as [[searchStore]]. */
  def proximityStore(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: String, window: Int, k: Int = 10,
                     nBuckets: Int = 64): DataFrame = {
    val terms = Analyzer.analyzeQuery(query).distinct
    require(terms.nonEmpty, s"query analyzed to zero terms: '$query'")
    proximityPostings(livePositional(spark, path, terms, nBuckets), query, window, k)
  }

  /** The store readers' shared access path: bucket-pruned positional scan
    * (the store's validated layout record builds the static IN-literal;
    * an untrustworthy record — e.g. a legacy co-located store whose root
    * marker was clobbered — degrades to an unpruned read instead of
    * mis-pruning), then the tombstone anti-join for the live view. */
  private def livePositional(spark: org.apache.spark.sql.SparkSession,
                             path: String, terms: Seq[String],
                             nBuckets: Int): DataFrame = {
    val layout = TableLayout(spark, path, "positional", nBuckets)
    Indexer.minusDeletes(spark, path, layout.prune(layout.read, terms))
  }

  private def proximityPostings(positional: DataFrame, query: String,
                                window: Int, k: Int): DataFrame = {
    val terms = Analyzer.analyzeQuery(query).distinct
    require(terms.nonEmpty, s"query analyzed to zero terms: '$query'")
    require(window >= 1, s"window must be >= 1, got $window")
    val legs = terms.zipWithIndex.map { case (t, i) =>
      positional.filter(col("term") === lit(t))
        .select(col("doc_id"), col("positions").as(s"p_$i"))
    }
    val joined = legs.reduce(_.join(_, "doc_id"))
    val anchors = (1 until terms.length).foldLeft(col("p_0")) { (acc, i) =>
      filter(acc, x => exists(col(s"p_$i"), y => abs(y - x) <= lit(window)))
    }
    joined
      .select(col("doc_id"), size(anchors).cast("long").as("prox_tf"))
      .filter(col("prox_tf") > 0)
      .orderBy(col("prox_tf").desc, col("doc_id").asc)
      .limit(k)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("prox_tf").desc, col("doc_id").asc)).cast("long").as("rank"),
        col("doc_id"), col("prox_tf"))
  }
}
