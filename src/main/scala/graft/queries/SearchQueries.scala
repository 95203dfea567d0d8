package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analyzer.Analyzer
import graft.index.Indexer
import graft.search.BM25

/** Reference-parity query surface: the analyzer → inverted index → BM25
  * pipeline over the `documents` fixture (the stand-in for the reference's
  * Wikipedia corpus — FIXTURES.md). Every entry has a DuckDB oracle.
  *
  * Output typing convention (driver hash-compare): counts are BIGINT,
  * computed doubles are rounded, column names aliased identically on both
  * sides.
  */
object SearchQueries extends QueryGroup {

  /** The three reference smoke queries (`app/app.sh:22-27`) use corpus
    * vocabulary; our fixture corpus has its own — this query uses words
    * that actually occur in `documents.text`.
    */
  val FlagshipQuery = "fast hash join scan"

  /** Phrase whose tokens occur consecutively in multiple fixture docs
    * (picked by trigram frequency over the sf0.01 corpus). */
  val PhraseQuery = "slow hash batch"

  /** Proximity window (tokens) for the sloppy-phrase query. */
  val ProxWindow = 4

  /** The query log for the batch-serving face (q_bm25_batch): the two
    * standing queries plus one with out-of-vocabulary terms, so the gate
    * covers per-query partial matching (unknown terms contribute no
    * postings rows, exactly like the single-query face). */
  val BatchQueries: Seq[(Long, String)] = Seq(
    1L -> FlagshipQuery,
    2L -> PhraseQuery,
    3L -> "columnar zebra sort")

  /** Phrase log for the positional batch faces: the standing phrase, a
    * guaranteed-matching prefix of it, and a no-match phrase. All
    * distinct-term (the oracle builder's leg naming assumes it). */
  val BatchPhrases: Seq[(Long, String)] = Seq(
    1L -> PhraseQuery,
    2L -> "slow hash",
    3L -> "zebra stripes qq")

  /** Proximity log: any-order matches within ProxWindow of the anchor. */
  val BatchProx: Seq[(Long, String)] = Seq(
    1L -> PhraseQuery,
    2L -> "batch slow",
    3L -> "zebra qq")

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  // DuckDB-side analyzer chain, kept textually in sync with Analyzer.normText.
  private val SqlNorm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
  private val SqlCorpus  = s"SELECT doc_id, $SqlNorm AS t FROM documents"
  private val SqlTok     =
    s"SELECT doc_id, unnest(string_split_regex(t, ' ')) AS term FROM ($SqlCorpus) WHERE t <> ''"
  private val SqlDocStats =
    s"SELECT doc_id, count(*) AS length FROM ($SqlTok) GROUP BY doc_id"
  private val SqlPostings =
    s"SELECT term, doc_id, count(*) AS tf FROM ($SqlTok) GROUP BY term, doc_id"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_clean" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), Analyzer.normText(col("text")).as("clean_text"))),

    // E1 lifecycle: project + clean + deterministic limit (the reference's
    // prepare_data.py select/limit/clean chain; `source` stands in for title)
    "q_corpus_prep" -> ((s, dir) =>
      graft.corpus.Corpus.prepare(
        docs(s, dir), limit = 100, titleCol = "source")),

    "q_doc_stats" -> ((s, dir) =>
      Indexer.docStats(docs(s, dir))
        .select(col("doc_id"), col("length").cast("long").as("length"))),

    "q_postings" -> ((s, dir) =>
      Indexer.postings(docs(s, dir))
        .select(col("term"), col("doc_id"), col("tf").cast("long").as("tf"))),

    "q_vocab" -> ((s, dir) => {
      val ix = Indexer.buildIndex(docs(s, dir))
      ix.vocab.select(col("term"), col("df").as("df"))
    }),

    "q_corpus_meta" -> ((s, dir) =>
      Indexer.docStats(docs(s, dir)).agg(
        count(lit(1)).as("total_docs"),
        (sum(col("length")).cast("double") / count(lit(1))).as("avg_dl"))),

    // batch query serving: the whole query log ranked in ONE job (query
    // terms join the postings; per-query top-k on TopKPerKey's bounded
    // heaps) — vs the reference's one-query-per-spark-submit shape
    "q_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val ix = Indexer.buildIndex(docs(s, dir), titleCol = Some("source"))
      BM25.searchMany(ix, BatchQueries.toDF("query_id", "query_text"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("title"), round(col("score"), 4).as("score"))
    }),

    // ...and the store-backed serving path: same query log against the
    // persisted bucketed store, the postings scan statically pruned to
    // the union of the log's term buckets (collected as a <= nBuckets
    // IN-list — bounded driver metadata even for a huge log)
    "q_bm25_batch_store" -> ((s, dir) => {
      import s.implicits._
      val path = QueryGroup.scratchDir("graft-batchstore")
      Indexer.writeIndex(
        Indexer.buildIndex(docs(s, dir), titleCol = Some("source")), path)
      BM25.searchManyStore(s, path, BatchQueries.toDF("query_id", "query_text"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("title"), round(col("score"), 4).as("score"))
    }),

    "q_bm25_search" -> ((s, dir) => {
      val ix = Indexer.buildIndex(docs(s, dir), titleCol = Some("source"))
      BM25.search(ix, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // S-series: JSONL sink → source roundtrip on the oracle surface —
    // the driver verifies every value survives the line-JSON encoding
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-jsonl")
      graft.sources.JsonlCorpus.write(
        docs(s, dir).select("doc_id", "text", "lang", "source"), path)
      graft.sources.JsonlCorpus.read(s, path)
    }),

    // same roundtrip through gzip shards — the compressed interchange
    // form crawl corpora actually ship as (non-splittable: one shard =
    // one read task; the writer keeps shards near partition size)
    "q_jsonl_gzip" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-jsonl-gz")
      graft.sources.JsonlCorpus.write(
        docs(s, dir).select("doc_id", "text", "lang", "source"), path, Some("gzip"))
      graft.sources.JsonlCorpus.read(s, path)
    }),

    // table-maintenance lifecycle: fragment the corpus into 64 small
    // parquet files (an append-heavy store's natural state), compact to
    // target-sized files with a crash-safe swap, read the result — the
    // oracle proves compaction is content-preserving
    "q_compact" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-compact") + "/docs"
      graft.FsOps.writeParquet(docs(s, dir).select("doc_id", "text", "lang", "source")
        .repartition(64), path, "errorifexists")
      val stats = graft.operators.Compaction.compact(s, path)
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not reduce file count: $stats")
      graft.FsOps.readParquet(s, path)
    }),

    // S-series: the DataSource V2 connector (format("graft-tsv")) on the
    // oracle surface — write the reference's id\ttitle\ttext shape, read
    // it back through the connector (reader-level pruning + malformed
    // guard), and let the driver verify every value
    "q_dsv2_tsv" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-dsv2")
      graft.sources.TsvCorpus.write(
        docs(s, dir).select(col("doc_id"), col("source").as("title"), col("text")), path)
      s.read.format("graft-tsv").load(path)
    }),

    // E3 at-scale lifecycle: build → persist the bucketed index store →
    // query it with static partition pruning (the Spark-native analog of
    // the reference's Cassandra partition-key lookup, `app/query.py:43,50`).
    // The store round-trip is part of the measured query on purpose: it is
    // the production retrieval path, not an in-memory shortcut.
    "q_bm25_store" -> ((s, dir) => {
      val ix = Indexer.buildIndex(docs(s, dir), titleCol = Some("source"))
      val path = QueryGroup.scratchDir("graft-ixstore")
      Indexer.writeIndex(ix, path)
      BM25.searchStore(s, path, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // E2/E3 incremental lifecycle: build the store on half the corpus,
    // APPEND the other half (postings/doc_stats grow in place, vocab/meta
    // recompute+swap), query the combined store — the oracle proves the
    // incrementally-built store answers exactly like a full build
    // S-series: schema-evolution read — two parquet batches written with
    // DIFFERENT column sets (an evolving corpus's natural state), read
    // back as one table via mergeSchema: missing columns null-fill, no
    // rewrite of old data. The oracle proves the merged read is exactly
    // the union-with-nulls.
    "q_schema_merge" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-mergeschema")
      val d = docs(s, dir)
      graft.FsOps.writeParquet(d.select("doc_id", "text"), s"$path/part1", "errorifexists")
      graft.FsOps.writeParquet(d.select("doc_id", "lang", "n_chars"), s"$path/part2",
        "errorifexists")
      s.read.option("mergeSchema", "true").parquet(s"$path/part1", s"$path/part2")
    }),

    // positional-index phrase search: consecutive-token match through
    // the positional postings (shifted-position-list intersection), the
    // canonical extension of the reference's frequency-only index
    "q_phrase_search" -> ((s, dir) =>
      graft.search.PhraseSearch.search(docs(s, dir), PhraseQuery, 10)),

    // sloppy-phrase relaxation: all terms within ProxWindow tokens of a
    // first-term anchor, any order — same pruned-leg join shape
    "q_proximity_search" -> ((s, dir) =>
      graft.search.PhraseSearch.proximitySearch(docs(s, dir), PhraseQuery,
        ProxWindow, 10)),

    // phrase search through a PERSISTED positional store: term-bucketed
    // layout, driver-computed bucket IN-list → static partition pruning
    // (the positional analog of q_bm25_store's access path)
    "q_phrase_store" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-posstore")
      Indexer.writePositional(docs(s, dir), path)
      graft.search.PhraseSearch.searchStore(s, path, PhraseQuery, 10)
    }),

    // ...and the tombstones physically APPLIED (maintenance rewrite,
    // layout preserved, anti-join gone, ids released) — answers must not
    // change (same oracle as q_bm25_delete)
    "q_bm25_expunge" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-ixexp")
      Indexer.writeIndex(Indexer.buildIndex(d, titleCol = Some("source")), path)
      Indexer.deleteDocs(s, path, d.filter(col("doc_id") % 3 === 0).select("doc_id"))
      Indexer.expungeDeletes(s, path)
      BM25.searchStore(s, path, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // batch phrase serving: a whole phrase log answered in one job
    // (one postings⋈query-terms join, per-(query,doc) shifted-list
    // intersection, per-query top-k on bounded heaps) — the positional
    // twin of q_bm25_batch
    "q_phrase_batch" -> ((s, dir) => {
      import s.implicits._
      graft.search.PhraseSearch.searchMany(
        Indexer.positionalPostings(docs(s, dir)),
        BatchPhrases.toDF("query_id", "phrase"))
    }),

    // ...and through the PERSISTED positional store, the scan pruned to
    // the union of the log's term buckets (bounded driver metadata)
    "q_phrase_batch_store" -> ((s, dir) => {
      import s.implicits._
      val path = QueryGroup.scratchDir("graft-posbatch")
      Indexer.writePositional(docs(s, dir), path)
      graft.search.PhraseSearch.searchStoreMany(s, path,
        BatchPhrases.toDF("query_id", "phrase"))
    }),

    // the SHARD MERGE promotion path: two halves of the corpus indexed
    // as independent stores (the parallel-shard-build pattern), one
    // shard tombstones part of its docs, then StoreMerge promotes both
    // into one serving store — metadata-level file transfer (aligned
    // CRC32 term buckets: no postings row read or shuffled) plus the
    // vocab/meta partial-aggregate merge, tombstones carried through.
    // moveFiles=true is the production O(files) rename path. The merged
    // store must answer exactly like a fresh build over the live docs
    "q_store_merge" -> ((s, dir) => {
      val d = docs(s, dir)
      val root = QueryGroup.scratchDir("graft-ixmerge")
      val ixFor = (part: org.apache.spark.sql.DataFrame) =>
        Indexer.buildIndex(part, titleCol = Some("source"))
      // independent shard builds at disjoint paths: overlap (guide §2.6)
      graft.operators.Par.run(
        () => Indexer.writeIndex(ixFor(d.filter(col("doc_id") % 2 === 0)), s"$root/shardA"),
        () => Indexer.writeIndex(ixFor(d.filter(col("doc_id") % 2 === 1)), s"$root/shardB"))
      Indexer.deleteDocs(s, s"$root/shardA",
        d.filter(col("doc_id") % 6 === 0).select("doc_id"))
      graft.index.StoreMerge.mergeStores(s,
        Seq(s"$root/shardA", s"$root/shardB"), s"$root/merged", moveFiles = true)
      BM25.searchStore(s, s"$root/merged", FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // ...and the merged store keeps its full lifecycle: a third shard
    // arrives AFTER the merge through the ordinary incremental append
    // (batch sequencing continues from the merged _lastbatch), and the
    // result answers like a one-shot full build (shared bm25Oracle)
    "q_store_merge_append" -> ((s, dir) => {
      val d = docs(s, dir)
      val root = QueryGroup.scratchDir("graft-ixmergeapp")
      val ixFor = (part: org.apache.spark.sql.DataFrame) =>
        Indexer.buildIndex(part, titleCol = Some("source"))
      // independent shard builds at disjoint paths: overlap (guide §2.6)
      graft.operators.Par.run(
        () => Indexer.writeIndex(ixFor(d.filter(col("doc_id") % 3 === 0)), s"$root/shardA"),
        () => Indexer.writeIndex(ixFor(d.filter(col("doc_id") % 3 === 1)), s"$root/shardB"))
      graft.index.StoreMerge.mergeStores(s,
        Seq(s"$root/shardA", s"$root/shardB"), s"$root/merged", moveFiles = true)
      Indexer.appendIndex(s, s"$root/merged",
        d.filter(col("doc_id") % 3 === 2), titleCol = Some("source"))
      BM25.searchStore(s, s"$root/merged", FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // ...and the promotion's TERMINAL state (VERDICT r13 #3): a
    // production merge ends in a doc-bucketed serving copy, not the
    // plain merged store — StoreMerge refuses doc-bucketed sources by
    // design (bucket-spec file names can't interleave by rename) and
    // prescribes exactly this rebuild: merge the plain shards, then one
    // writeIndex(readIndexLive(merged), docBuckets=...) pays the
    // doc_id shuffle once so every serving query plans the scoring join
    // exchange-free (zero-shuffle plan spec-asserted in
    // StoreMergeSpec; measured 1.17-1.78x warm p50 in
    // bench_serving.json). Answers identical to serving the merged
    // store directly — oracle shared with q_store_merge, tombstones
    // carried through the live view into the rebuild
    "q_store_merge_bucketed" -> ((s, dir) => {
      val d = docs(s, dir)
      val root = QueryGroup.scratchDir("graft-ixmergebkt")
      val ixFor = (part: org.apache.spark.sql.DataFrame) =>
        Indexer.buildIndex(part, titleCol = Some("source"))
      // independent shard builds at disjoint paths: overlap (guide §2.6)
      graft.operators.Par.run(
        () => Indexer.writeIndex(ixFor(d.filter(col("doc_id") % 2 === 0)), s"$root/shardA"),
        () => Indexer.writeIndex(ixFor(d.filter(col("doc_id") % 2 === 1)), s"$root/shardB"))
      Indexer.deleteDocs(s, s"$root/shardA",
        d.filter(col("doc_id") % 6 === 0).select("doc_id"))
      graft.index.StoreMerge.mergeStores(s,
        Seq(s"$root/shardA", s"$root/shardB"), s"$root/merged", moveFiles = true)
      Indexer.writeIndex(Indexer.readIndexLive(s, s"$root/merged"),
        s"$root/serving", docBuckets = Some(8))
      BM25.searchStore(s, s"$root/serving", FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // the sloppy-phrase batch face over the store: any-order matches
    // within ProxWindow of each query's anchor term
    "q_prox_batch_store" -> ((s, dir) => {
      import s.implicits._
      val path = QueryGroup.scratchDir("graft-proxbatch")
      Indexer.writePositional(docs(s, dir), path)
      graft.search.PhraseSearch.proximityStoreMany(s, path,
        BatchProx.toDF("query_id", "phrase"), ProxWindow)
    }),

    // the DOC-BUCKETED positional layout (writePositional with
    // docBuckets): rows co-bucketed by doc_id as a catalog table, so the
    // batch rollup's (query_id, doc_id) grouping plans exchange-free —
    // built on half the corpus and grown through the bucketed append
    // path; answers must be byte-identical to the plain layout
    // (oracle shared with q_phrase_store)
    "q_phrase_store_bucketed" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-posdocbkt")
      Indexer.writePositional(d.filter(col("doc_id") % 2 === 0), path,
        docBuckets = Some(8))
      Indexer.appendPositional(s, path, d.filter(col("doc_id") % 2 === 1))
      graft.search.PhraseSearch.searchStore(s, path, PhraseQuery, 10)
    }),

    // ...and the batch proximity face over the same layout: bucket-union
    // term pruning composes with the doc-co-located rollup (oracle
    // shared with q_prox_batch_store)
    "q_prox_batch_store_bucketed" -> ((s, dir) => {
      import s.implicits._
      val path = QueryGroup.scratchDir("graft-proxdocbkt")
      Indexer.writePositional(docs(s, dir), path, docBuckets = Some(8))
      graft.search.PhraseSearch.proximityStoreMany(s, path,
        BatchProx.toDF("query_id", "phrase"), ProxWindow)
    }),

    // ...and the sloppy-phrase face of the same store
    "q_proximity_store" -> ((s, dir) => {
      val path = QueryGroup.scratchDir("graft-proxstore")
      Indexer.writePositional(docs(s, dir), path)
      graft.search.PhraseSearch.proximityStore(s, path, PhraseQuery,
        ProxWindow, 10)
    }),

    // the positional face of the APPEND lifecycle: a co-located store
    // built on half the corpus, the other half appended through
    // appendIndex (which must grow the positional table with the same
    // batch) — phrase search answers exactly like a store built on the
    // full corpus (oracle shared with q_phrase_store)
    "q_phrase_store_append" -> ((s, dir) => {
      val d = docs(s, dir)
      val half1 = d.filter(col("doc_id") % 2 === 0)
      val path = QueryGroup.scratchDir("graft-posapp")
      Indexer.writeIndex(Indexer.buildIndex(half1), path)
      Indexer.writePositional(half1, path)
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 2 === 1))
      graft.search.PhraseSearch.searchStore(s, path, PhraseQuery, 10)
    }),

    // the positional face of the DELETE lifecycle: frequency index and
    // positional store co-located at ONE path, a third of the corpus
    // tombstoned — phrase search over the store must answer exactly like
    // a fresh positional index built without the deleted docs (the same
    // "answers like a fresh index" invariant q_bm25_delete verifies for
    // the frequency face)
    "q_phrase_store_delete" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-posdel")
      Indexer.writeIndex(Indexer.buildIndex(d), path)
      Indexer.writePositional(d, path)
      Indexer.deleteDocs(s, path, d.filter(col("doc_id") % 3 === 0).select("doc_id"))
      graft.search.PhraseSearch.searchStore(s, path, PhraseQuery, 10)
    }),

    // ...and after the tombstones are physically APPLIED: expunge
    // rewrites the co-located positional table too (its own layout
    // preserved) BEFORE dropping the tombstone set, so the sloppy-phrase
    // face keeps excluding the dead docs once the anti-join is gone
    "q_proximity_store_expunge" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-posexp")
      Indexer.writeIndex(Indexer.buildIndex(d), path)
      Indexer.writePositional(d, path)
      Indexer.deleteDocs(s, path, d.filter(col("doc_id") % 3 === 0).select("doc_id"))
      Indexer.expungeDeletes(s, path)
      graft.search.PhraseSearch.proximityStore(s, path, PhraseQuery,
        ProxWindow, 10)
    }),

    // store integrity check ("fsck") after a full mixed lifecycle:
    // co-located frequency + positional store built on half the corpus,
    // the other half appended, a third soft-deleted — every invariant
    // must hold with zero violations, and the CHECKED counts are
    // data-derived (postings/vocab/tombstone cardinalities), so the
    // oracle verifies what the checker actually audited, not just zeros
    "q_store_fsck" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-fsck")
      val half1 = d.filter(col("doc_id") % 2 === 0)
      Indexer.writeIndex(Indexer.buildIndex(half1), path)
      Indexer.writePositional(half1, path)
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 2 === 1))
      Indexer.deleteDocs(s, path, d.filter(col("doc_id") % 3 === 0).select("doc_id"))
      Indexer.checkStore(s, path)
    }),

    // ...and the INCREMENTAL audit a 100 TB store runs daily: the full
    // fsck above is the scheduled deep audit (one unpruned pass per
    // invariant); this one audits ONLY the rows appended since the last
    // vouched-for batch. Store rows carry their ingest-batch ordinal
    // (constant per parquet file → min/max statistics skip pre-audit
    // files before any row IO), so cost tracks the delta, not the
    // store. Here: co-located store built on the even half (batch 0,
    // vouched by markAudited), the odd half appended (batch 1) — every
    // checked cardinality the oracle derives is an odd-half population,
    // proving the audit scoped itself to the delta
    "q_store_fsck_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-fsckincr")
      val half1 = d.filter(col("doc_id") % 2 === 0)
      Indexer.writeIndex(Indexer.buildIndex(half1), path)
      Indexer.writePositional(half1, path)
      Indexer.markAudited(s, path)
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 2 === 1))
      Indexer.checkStoreIncremental(s, path)
    }),

    // ...and the full corrupt → DETECT → REPAIR → re-check loop an
    // operator actually runs, as one composed entry. The corruption is
    // deleteDocs' own documented crash window, reproduced exactly: the
    // tombstone append committed, the derived swap never ran — so the
    // stored vocab/meta still describe the full corpus while the live
    // view excludes the tombstoned third. checkStore flags exactly the
    // two derived-state invariants (the oracle derives HOW MANY terms
    // drift, not just that some do), refreshDerived repairs, and the
    // re-check is all-zero. Phase labels carry an ordinal prefix so the
    // report sorts in lifecycle order; the detect report materializes
    // BEFORE the repair mutates the store (a lazy frame would otherwise
    // re-audit the repaired store).
    "q_store_repair" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-repair")
      Indexer.writeIndex(Indexer.buildIndex(d), path)
      graft.FsOps.writeParquet(d.filter(col("doc_id") % 3 === 0).select("doc_id").distinct(),
        s"$path/deletes", "append")
      graft.FsOps.writeParquet(Indexer.checkStore(s, path)
        .select(lit("0_detect").as("phase"), col("invariant"),
          col("checked"), col("violations")), s"$path/detect_report")
      Indexer.refreshDerived(s, path)
      graft.FsOps.readParquet(s, s"$path/detect_report").unionByName(
        Indexer.checkStore(s, path)
          .select(lit("1_repaired").as("phase"), col("invariant"),
            col("checked"), col("violations")))
    }),

    // the streaming twin of the append lifecycle, on the REAL runtime:
    // three corpus drops arrive as files, each becoming one micro-batch —
    // the first bootstraps the store, the later two append (postings grow
    // in place, vocab/meta merge incrementally) — then BM25 over the
    // grown store must answer exactly like an index built on the full
    // corpus in one shot (oracle shared with q_bm25_search). The
    // reference's own continuous-crawl shape: `app/index.sh` re-run per
    // crawl, minus the drop-and-rebuild.
    "q_stream_index_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val src = QueryGroup.scratchDir("graft-ixingest-src")
      val store = QueryGroup.scratchDir("graft-ixingest-store")
      graft.streaming.StreamRuntime.orderedDrops(s,
        Seq(0, 1, 2).map(r => d.filter(col("doc_id") % 3 === r)
          .select("doc_id", "text", "source")), src)
      graft.streaming.StreamRuntime.runIndexIngest(s, src, store,
        titleCol = Some("source"))
      BM25.searchStore(s, store, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    "q_bm25_append" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-ixapp")
      Indexer.writeIndex(
        Indexer.buildIndex(d.filter(col("doc_id") % 2 === 0), titleCol = Some("source")), path)
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 2 === 1),
        titleCol = Some("source"))
      BM25.searchStore(s, path, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // the DOC-BUCKETED store layout: postings and doc_stats co-bucketed
    // (and sorted) by doc_id as catalog tables, so the scoring join
    // plans with NO exchange on either side (the last big shuffle on the
    // serving path, paid once at write time — see SCALE.md). Built on
    // half the corpus and grown by append so the gate covers the
    // bucketed append path too; answers must be byte-identical to the
    // plain layout (shared oracle).
    "q_bm25_store_bucketed" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-ixdocbkt")
      Indexer.writeIndex(
        Indexer.buildIndex(d.filter(col("doc_id") % 2 === 0), titleCol = Some("source")),
        path, docBuckets = Some(8))
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 2 === 1),
        titleCol = Some("source"))
      BM25.searchStore(s, path, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // ...and the batch-serving face over the same layout: the query
    // log's bucket-union pruning composes with the exchange-free
    // doc_id join (shared oracle with the plain batch store)
    "q_bm25_batch_store_bucketed" -> ((s, dir) => {
      import s.implicits._
      val path = QueryGroup.scratchDir("graft-batchdocbkt")
      Indexer.writeIndex(
        Indexer.buildIndex(docs(s, dir), titleCol = Some("source")), path,
        docBuckets = Some(8))
      BM25.searchManyStore(s, path, BatchQueries.toDF("query_id", "query_text"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("title"), round(col("score"), 4).as("score"))
    }),

    // the MAINTENANCE loop under the oracle: grow a store over three
    // ingest batches (its append-heavy natural state), compact through
    // the cron verb (batch-range layout preserved for the incremental
    // audits), and prove the compacted store answers exactly like an
    // uncompacted build (shared oracle)
    "q_store_compact" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-ixcompact")
      Indexer.writeIndex(
        Indexer.buildIndex(d.filter(col("doc_id") % 3 === 0), titleCol = Some("source")), path)
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 3 === 1),
        titleCol = Some("source"))
      Indexer.appendIndex(s, path, d.filter(col("doc_id") % 3 === 2),
        titleCol = Some("source"))
      def dsFiles: Int = new java.io.File(s"$path/doc_stats")
        .listFiles().count(f => f.isFile && f.getName.startsWith("part-"))
      val before = dsFiles
      graft.Maintain.run(s, "index", "compact", path)
      require(dsFiles < before,
        s"compaction did not reduce doc_stats file count ($before before)")
      BM25.searchStore(s, path, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),

    // E3 delete lifecycle: soft-delete a third of the corpus from the
    // persisted store (tombstones — postings never rewritten; vocab/meta
    // recomputed live), then search — the oracle proves the store
    // answers exactly like a fresh index built WITHOUT the deleted docs
    "q_bm25_delete" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = QueryGroup.scratchDir("graft-ixdel")
      Indexer.writeIndex(Indexer.buildIndex(d, titleCol = Some("source")), path)
      Indexer.deleteDocs(s, path, d.filter(col("doc_id") % 3 === 0).select("doc_id"))
      BM25.searchStore(s, path, FlagshipQuery)
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("title"), round(col("score"), 4).as("score"))
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_corpus_clean" ->
      s"SELECT doc_id, $SqlNorm AS clean_text FROM documents",

    "q_corpus_prep" ->
      s"""SELECT doc_id,
                 regexp_replace(source, '[\\t\\n]', ' ', 'g') AS title,
                 $SqlNorm AS clean_text
          FROM documents ORDER BY doc_id LIMIT 100""",

    "q_doc_stats" ->
      s"""SELECT c.doc_id, coalesce(t.length, 0) AS length
          FROM ($SqlCorpus) c LEFT JOIN ($SqlDocStats) t USING (doc_id)""",

    "q_postings" -> SqlPostings,

    "q_vocab" ->
      s"SELECT term, count(*) AS df FROM ($SqlPostings) GROUP BY term",

    "q_corpus_meta" ->
      s"""SELECT count(*) AS total_docs,
                 CAST(sum(coalesce(t.length, 0)) AS DOUBLE) / count(*) AS avg_dl
          FROM ($SqlCorpus) c LEFT JOIN ($SqlDocStats) t USING (doc_id)""",

    "q_phrase_search" -> phraseOracle,
    "q_phrase_store" -> phraseOracle,
    // the doc-bucketed positional layout is answer-identical to the
    // plain store (single face grown by append, and the batch face)
    "q_phrase_store_bucketed" -> phraseOracle,
    "q_prox_batch_store_bucketed" -> proxBatchOracle,
    // the batch faces: the single-phrase chain run once per query id
    "q_phrase_batch" -> phraseBatchOracle,
    "q_phrase_batch_store" -> phraseBatchOracle,
    "q_prox_batch_store" -> proxBatchOracle,
    // the incrementally-appended co-located store answers like one built
    // on the full corpus
    "q_phrase_store_append" -> phraseOracle,
    "q_proximity_search" -> proximityOracle,
    "q_proximity_store" -> proximityOracle,
    // the live-subset recompute: a tombstoned (or expunged) co-located
    // store must answer like a fresh positional index without the dead docs
    "q_phrase_store_delete" -> phraseOracleFor(SqlCorpusLive),
    "q_proximity_store_expunge" -> proximityOracleFor(SqlCorpusLive),

    "q_schema_merge" ->
      """SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_chars
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(NULL AS VARCHAR) AS text, lang, n_chars FROM documents""",

    // the fsck report over the lifecycle store: tombstoned docs stay in
    // the physical postings/positional tables (checked = full-corpus
    // cardinalities) while the derived/live-surface checks count the
    // live subset — and every invariant holds (violations = 0)
    "q_store_fsck" ->
      s"""WITH tok AS ($SqlTok),
               pairs AS (SELECT DISTINCT term, doc_id FROM tok)
          SELECT 'meta_matches_live' AS invariant,
                 CAST(1 AS BIGINT) AS checked, CAST(0 AS BIGINT) AS violations
          UNION ALL SELECT 'positional_bucket_layout',
                 (SELECT count(*) FROM pairs), 0
          UNION ALL SELECT 'positional_matches_postings',
                 (SELECT count(*) FROM pairs WHERE doc_id % 3 <> 0), 0
          UNION ALL SELECT 'postings_bucket_layout',
                 (SELECT count(*) FROM pairs), 0
          UNION ALL SELECT 'postings_docs_in_doc_stats',
                 (SELECT count(DISTINCT doc_id) FROM tok), 0
          UNION ALL SELECT 'tombstones_valid',
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 0), 0
          UNION ALL SELECT 'vocab_matches_live',
                 (SELECT count(DISTINCT term) FROM tok WHERE doc_id % 3 <> 0), 0""",

    // the incremental audit's report: every checked count is an
    // ODD-half (batch-1 delta) population — the even half was appended
    // as batch 0 and vouched for, so the audit never touches it; the
    // forced-full advisory row reads checked=0 (no doc-bucketed
    // compaction ever ran on this store)
    "q_store_fsck_incr" ->
      s"""WITH tok AS ($SqlTok),
               pairs AS (SELECT DISTINCT term, doc_id FROM tok WHERE doc_id % 2 = 1)
          SELECT 'delta_docs_unique' AS invariant,
                 (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS checked,
                 CAST(0 AS BIGINT) AS violations
          UNION ALL SELECT 'delta_full_audit_forced_doc_compaction', 0, 0
          UNION ALL SELECT 'delta_positional_matches_postings',
                 (SELECT count(*) FROM pairs), 0
          UNION ALL SELECT 'delta_postings_bucket_layout',
                 (SELECT count(*) FROM pairs), 0
          UNION ALL SELECT 'delta_postings_docs_in_doc_stats',
                 (SELECT count(DISTINCT doc_id) FROM tok WHERE doc_id % 2 = 1), 0""",

    // the detect→repair loop: in the detect phase the stored meta (1 row)
    // drifts, and the drifted vocab terms are EXACTLY the distinct terms
    // occurring in any tombstoned doc (stored df counts them, live df
    // doesn't — including terms that only live in dead docs, which the
    // full-outer check counts as violations too). After refreshDerived
    // every violation is zero; the physical postings/doc_stats (and so
    // every `checked` cardinality) are untouched by the repair
    "q_store_repair" ->
      s"""WITH tok AS ($SqlTok),
               pairs AS (SELECT DISTINCT term, doc_id FROM tok),
               dead_terms AS (SELECT count(DISTINCT term) AS n FROM tok
                              WHERE doc_id % 3 = 0),
               live_terms AS (SELECT count(DISTINCT term) AS n FROM tok
                              WHERE doc_id % 3 <> 0)
          SELECT '0_detect' AS phase, 'meta_matches_live' AS invariant,
                 CAST(1 AS BIGINT) AS checked, CAST(1 AS BIGINT) AS violations
          UNION ALL SELECT '0_detect', 'positional_bucket_layout', 0, 0
          UNION ALL SELECT '0_detect', 'positional_matches_postings', 0, 0
          UNION ALL SELECT '0_detect', 'postings_bucket_layout',
                 (SELECT count(*) FROM pairs), 0
          UNION ALL SELECT '0_detect', 'postings_docs_in_doc_stats',
                 (SELECT count(DISTINCT doc_id) FROM tok), 0
          UNION ALL SELECT '0_detect', 'tombstones_valid',
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 0), 0
          UNION ALL SELECT '0_detect', 'vocab_matches_live',
                 (SELECT n FROM live_terms), (SELECT n FROM dead_terms)
          UNION ALL SELECT '1_repaired', 'meta_matches_live', 1, 0
          UNION ALL SELECT '1_repaired', 'positional_bucket_layout', 0, 0
          UNION ALL SELECT '1_repaired', 'positional_matches_postings', 0, 0
          UNION ALL SELECT '1_repaired', 'postings_bucket_layout',
                 (SELECT count(*) FROM pairs), 0
          UNION ALL SELECT '1_repaired', 'postings_docs_in_doc_stats',
                 (SELECT count(DISTINCT doc_id) FROM tok), 0
          UNION ALL SELECT '1_repaired', 'tombstones_valid',
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 0), 0
          UNION ALL SELECT '1_repaired', 'vocab_matches_live',
                 (SELECT n FROM live_terms), 0""",

    "q_bm25_search" -> bm25Oracle,
    "q_bm25_store"  -> bm25Oracle,
    "q_bm25_append" -> bm25Oracle,
    // the doc-bucketed layout is answer-identical to the plain store
    "q_bm25_store_bucketed" -> bm25Oracle,
    "q_bm25_batch_store_bucketed" -> bm25BatchOracle,
    // compaction is content-preserving: the compacted store answers
    // like an uncompacted build
    "q_store_compact" -> bm25Oracle,
    // the streamed store answers like a one-shot full build
    "q_stream_index_ingest" -> bm25Oracle,
    "q_bm25_batch" -> bm25BatchOracle,
    // the store is a lossless persistence of the same four index tables
    "q_bm25_batch_store" -> bm25BatchOracle,
    // the merged shards answer like a fresh build over the live docs
    // (shard A tombstoned its %6 band before the merge)
    "q_store_merge" -> bm25OracleFor(
      s"SELECT doc_id, $SqlNorm AS t FROM documents WHERE doc_id % 6 <> 0"),
    // the merged store's doc-bucketed serving copy answers exactly like
    // the merged store it was rebuilt from (same live view)
    "q_store_merge_bucketed" -> bm25OracleFor(
      s"SELECT doc_id, $SqlNorm AS t FROM documents WHERE doc_id % 6 <> 0"),
    // merge + post-merge append = a one-shot full build
    "q_store_merge_append" -> bm25Oracle,
    "q_bm25_delete" -> bm25OracleFor(
      s"SELECT doc_id, $SqlNorm AS t FROM documents WHERE doc_id % 3 <> 0"),
    "q_bm25_expunge" -> bm25OracleFor(
      s"SELECT doc_id, $SqlNorm AS t FROM documents WHERE doc_id % 3 <> 0"),

    "q_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source FROM documents",

    "q_jsonl_gzip" ->
      "SELECT doc_id, text, lang, source FROM documents",

    "q_compact" ->
      "SELECT doc_id, text, lang, source FROM documents",

    // the TSV line format squashes tabs/newlines inside fields on write
    // (prepare_data.py:33) — the oracle applies the same squash
    "q_dsv2_tsv" ->
      """SELECT doc_id,
                regexp_replace(source, '[\t\n]', ' ', 'g') AS title,
                regexp_replace(text, '[\t\n]', ' ', 'g') AS text
         FROM documents""",
  )

  /** The tombstone-lifecycle entries' corpus: live docs only. */
  private lazy val SqlCorpusLive =
    s"SELECT doc_id, $SqlNorm AS t FROM documents WHERE doc_id % 3 <> 0"

  /** Phrase oracle: per-term position lists, then count the start offsets
    * of term 0 from which every later term sits at the right shift —
    * textually the same intersection PhraseSearch does with
    * `array_intersect` over shifted lists. */
  private lazy val phraseOracle: String = phraseOracleFor(SqlCorpus)

  private def phraseOracleFor(corpusSql: String): String = {
    val terms = graft.analyzer.Analyzer.analyzeQuery(PhraseQuery)
    val legs = terms.distinct // oracle builder assumes distinct terms (the fixture phrase is)
    val legCtes = legs.zipWithIndex.map { case (t, i) =>
      s"p$i AS (SELECT doc_id, list(pos) AS l_$t FROM tok WHERE term = '$t' GROUP BY doc_id)"
    }.mkString(",\n             ")
    val joins = (1 until legs.length).map(i => s"JOIN p$i USING (doc_id)").mkString(" ")
    val contains = terms.zipWithIndex.tail.map { case (t, i) =>
      s"list_contains(l_$t, x + $i)"
    }.mkString(" AND ")
    s"""WITH lists AS (SELECT doc_id, string_split(t, ' ') AS l FROM ($corpusSql) WHERE t <> ''),
             tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS term
                     FROM lists),
             $legCtes,
             m AS (SELECT p0.doc_id,
                          CAST(len(list_filter(l_${terms.head}, x -> $contains)) AS BIGINT) AS phrase_tf
                   FROM p0 $joins),
             f AS (SELECT doc_id, phrase_tf FROM m WHERE phrase_tf > 0)
        SELECT CAST(row_number() OVER (ORDER BY phrase_tf DESC, doc_id ASC) AS BIGINT) AS rank,
               doc_id, phrase_tf
        FROM f ORDER BY phrase_tf DESC, doc_id ASC LIMIT 10"""
  }

  /** Batch-phrase oracle: the single-phrase intersection chain run once
    * per query id over a shared token CTE, ranked per query. Leg CTEs
    * are `q<id>_<term>`-named, so phrases must have distinct terms
    * (the standing logs do). */
  private lazy val phraseBatchOracle: String =
    positionalBatchOracleFor(BatchPhrases, "phrase_tf") { terms =>
      val contains = terms.zipWithIndex.tail.map { case (t, i) =>
        s"list_contains(l_$t, x + $i)"
      }.mkString(" AND ")
      s"len(list_filter(l_${terms.head}, x -> $contains))"
    }

  /** Batch-proximity oracle: per query, anchors of the first distinct
    * term with every other term within ProxWindow. */
  private lazy val proxBatchOracle: String =
    positionalBatchOracleFor(BatchProx.map { case (id, q) => (id, q) },
      "prox_tf", distinctTerms = true) { terms =>
      val conds = terms.tail.map { t =>
        s"len(list_filter(l_$t, y -> abs(y - x) <= $ProxWindow)) > 0"
      }.mkString(" AND ")
      s"len(list_filter(l_${terms.head}, x -> $conds))"
    }

  /** Shared builder for the positional batch oracles: one lists/tok CTE,
    * per-query leg CTEs + a per-query match SELECT (tfExpr builds the
    * count expression from the query's term sequence), union, then
    * per-query rank ≤ 10. Queries whose terms all miss the corpus (or
    * analyze to nothing) contribute no rows, like the Spark faces. */
  private def positionalBatchOracleFor(log: Seq[(Long, String)], tfName: String,
                                       distinctTerms: Boolean = false)
                                      (tfExpr: Seq[String] => String): String = {
    val perQuery = log.flatMap { case (id, q) =>
      val analyzed = graft.analyzer.Analyzer.analyzeQuery(q)
      val terms = if (distinctTerms) analyzed.distinct else analyzed
      if (terms.isEmpty) None
      else {
        val legs = terms.distinct
        require(legs == terms || distinctTerms,
          s"batch oracle builder assumes distinct terms per phrase: '$q'")
        val legCtes = legs.map { t =>
          s"q${id}_$t AS (SELECT doc_id, list(pos) AS l_$t FROM tok WHERE term = '$t' GROUP BY doc_id)"
        }
        val joins = legs.tail.map(t => s"JOIN q${id}_$t USING (doc_id)").mkString(" ")
        val sel =
          s"""SELECT $id AS query_id, q${id}_${legs.head}.doc_id,
                     CAST(${tfExpr(terms)} AS BIGINT) AS $tfName
              FROM q${id}_${legs.head} $joins"""
        Some((legCtes, sel))
      }
    }
    val allCtes = perQuery.flatMap(_._1).mkString(",\n             ")
    val union = perQuery.map(_._2).mkString("\n UNION ALL ")
    s"""WITH lists AS (SELECT doc_id, string_split(t, ' ') AS l FROM ($SqlCorpus) WHERE t <> ''),
             tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS term
                     FROM lists),
             $allCtes,
             allm AS ($union)
        SELECT query_id, rank, doc_id, $tfName FROM (
          SELECT CAST(query_id AS BIGINT) AS query_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY $tfName DESC, doc_id ASC) AS BIGINT) AS rank,
                 doc_id, $tfName
          FROM allm WHERE $tfName > 0)
        WHERE rank <= 10"""
  }

  /** Proximity oracle: anchors of term 0 from which every other term has
    * an occurrence within ProxWindow — nested list_filter mirroring the
    * nested `exists` the Spark side runs. */
  private lazy val proximityOracle: String = proximityOracleFor(SqlCorpus)

  private def proximityOracleFor(corpusSql: String): String = {
    val terms = graft.analyzer.Analyzer.analyzeQuery(PhraseQuery).distinct
    val legCtes = terms.zipWithIndex.map { case (t, i) =>
      s"p$i AS (SELECT doc_id, list(pos) AS l_$t FROM tok WHERE term = '$t' GROUP BY doc_id)"
    }.mkString(",\n             ")
    val joins = (1 until terms.length).map(i => s"JOIN p$i USING (doc_id)").mkString(" ")
    val conds = terms.tail.map { t =>
      s"len(list_filter(l_$t, y -> abs(y - x) <= $ProxWindow)) > 0"
    }.mkString(" AND ")
    s"""WITH lists AS (SELECT doc_id, string_split(t, ' ') AS l FROM ($corpusSql) WHERE t <> ''),
             tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS term
                     FROM lists),
             $legCtes,
             m AS (SELECT p0.doc_id,
                          CAST(len(list_filter(l_${terms.head}, x -> $conds)) AS BIGINT) AS prox_tf
                   FROM p0 $joins),
             f AS (SELECT doc_id, prox_tf FROM m WHERE prox_tf > 0)
        SELECT CAST(row_number() OVER (ORDER BY prox_tf DESC, doc_id ASC) AS BIGINT) AS rank,
               doc_id, prox_tf
        FROM f ORDER BY prox_tf DESC, doc_id ASC LIMIT 10"""
  }

  /** The batch-serving oracle: the single-query bm25 chain run once per
    * query id — the query log enters as a `(query_id, term)` VALUES
    * table (terms derived with the same driver-side analyzer the Spark
    * face's column twin mirrors), scored/aggregated per (query_id,
    * doc_id), ranked per query. */
  private lazy val bm25BatchOracle: String = {
    val pairs = BatchQueries.flatMap { case (id, q) =>
      Analyzer.analyzeQuery(q).distinct.map(t => s"($id, '$t')")
    }.mkString(", ")
    s"""WITH doc_stats AS ($SqlDocStats),
             postings AS ($SqlPostings),
             vocab AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
             meta AS (SELECT count(*) AS n,
                             CAST(sum(coalesce(t.length, 0)) AS DOUBLE) / count(*) AS avg_dl
                      FROM ($SqlCorpus) c LEFT JOIN doc_stats t USING (doc_id)),
             q AS (SELECT * FROM (VALUES $pairs) AS v(query_id, term)),
             scored AS (
               SELECT q.query_id, p.doc_id,
                      ln(1 + (m.n - v.df + 0.5) / (v.df + 0.5))
                        * (p.tf * (1.2 + 1) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.length / m.avg_dl))) AS s
               FROM postings p
               JOIN q USING (term)
               JOIN vocab v USING (term)
               JOIN doc_stats d USING (doc_id)
               CROSS JOIN meta m),
             agg AS (SELECT query_id, doc_id, sum(s) AS score
                     FROM scored GROUP BY query_id, doc_id),
             ranked AS (SELECT query_id,
                               CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
                               doc_id, round(score, 4) AS score
                        FROM agg)
        SELECT CAST(r.query_id AS BIGINT) AS query_id, r.rank, r.doc_id,
               d.source AS title, r.score
        FROM ranked r JOIN documents d USING (doc_id) WHERE r.rank <= 10"""
  }

  /** Shared oracle: the store query's answer is definitionally the same as
    * the in-memory search — the store is a lossless persistence of the
    * same four index tables. `title` comes from `first(title)` over the
    * doc_id group (functionally dependent → a plain join here).
    */
  private lazy val bm25Oracle: String = bm25OracleFor(SqlCorpus)

  /** The full BM25 pipeline over an arbitrary corpus CTE — shared by the
    * build/store/append oracles (whole corpus), the delete oracle
    * (live docs only: a tombstoned store must answer exactly like a
    * fresh index built without the deleted documents), and
    * PipelineQueries' q_prep_index (the prep-cleaned corpus). */
  private[queries] def bm25OracleFor(corpusSql: String): String = {
    val tok =
      s"SELECT doc_id, unnest(string_split_regex(t, ' ')) AS term FROM ($corpusSql) WHERE t <> ''"
    val terms = Analyzer.analyzeQuery(FlagshipQuery).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH doc_stats AS (SELECT doc_id, count(*) AS length FROM ($tok) GROUP BY doc_id),
             postings AS (SELECT term, doc_id, count(*) AS tf FROM ($tok) GROUP BY term, doc_id),
             vocab AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
             meta AS (SELECT count(*) AS n,
                             CAST(sum(coalesce(t.length, 0)) AS DOUBLE) / count(*) AS avg_dl
                      FROM ($corpusSql) c LEFT JOIN doc_stats t USING (doc_id)),
             q AS (SELECT unnest([$terms]) AS term),
             scored AS (
               SELECT p.doc_id,
                      ln(1 + (m.n - v.df + 0.5) / (v.df + 0.5))
                        * (p.tf * (1.2 + 1) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.length / m.avg_dl))) AS s
               FROM postings p
               JOIN q USING (term)
               JOIN vocab v USING (term)
               JOIN doc_stats d USING (doc_id)
               CROSS JOIN meta m),
             agg AS (SELECT doc_id, sum(s) AS score FROM scored GROUP BY doc_id),
             sel AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
                            doc_id, round(score, 4) AS score
                     FROM agg ORDER BY score DESC, doc_id ASC LIMIT 10)
        SELECT sel.rank, sel.doc_id, d.source AS title, sel.score
        FROM sel JOIN documents d USING (doc_id)""".stripMargin
  }
}
