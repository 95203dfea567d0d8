package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.FsOps

/** The physical layout of one big index table — `doc_stats`, `postings`
  * or `positional` — and the one place it is decided; the verbs say which
  * tables they touch, the layout says how. The reference declares the
  * same decision once per table in its Cassandra schema (`doc_stats`
  * keyed on `doc_id`, `inverted_index` on `(term, doc_id)`,
  * `app/load_index.py:27-41`).
  *
  * Two layouts:
  *   - plain: parquet at `<store>/<table>`; postings and positional are
  *     partitioned by `term_bucket` ([[Indexer.termBucket]]), one file
  *     per bucket per write, so a k-term query reads ≤ k partitions.
  *   - doc-bucketed: the same files also bucketed and sorted by `doc_id`
  *     and saved as an EXTERNAL catalog table at the same directory
  *     ([[Indexer.catalogTableName]]). Spark exposes bucketed-scan
  *     metadata only through the catalog, so readers (re-)register the
  *     entry idempotently; the postings ⋈ doc_stats scoring join and the
  *     positional `(query_id, doc_id)` rollup then plan without a doc_id
  *     exchange. Term-bucket partitioning is kept, so pruning composes,
  *     and a plain parquet read of the files stays valid for every
  *     path-based maintenance read (fsck, audits).
  *
  * The layout is read from the markers the writers leave: `_nbuckets`
  * (postings; the store's commit marker), `_nbuckets_positional` (falling
  * back to `_nbuckets` for stores written before it existed),
  * `_docbuckets` (doc_stats and postings share one record) and
  * `_docbuckets_positional`. Each record is read lazily, at most once per
  * layout, so a reader pays for exactly the markers it uses.
  */
private[graft] final class TableLayout private (spark: SparkSession, path: String,
                                                val table: String, fallback: Int,
                                                termRecord: => Option[Int],
                                                docRecord: => Option[Int]) {

  /** The term-bucket count the table's marker records (None: doc_stats,
    * or a store written before the marker). */
  lazy val recordedTermBuckets: Option[Int] = termRecord

  /** The doc-bucket count of a doc-bucketed table; None: plain. */
  lazy val docBuckets: Option[Int] = docRecord

  /** The term-bucket count rows are written with: the recorded one wins
    * over the caller's fallback, so a mismatched append cannot land rows
    * in partitions pruning never probes. */
  def termBuckets: Int = recordedTermBuckets.getOrElse(fallback)

  private val dir = s"$path/$table"
  private val termBucketed = table != "doc_stats"
  private val partitionCols = if (termBucketed) Seq("term_bucket") else Nil
  private def catalogName = Indexer.catalogTableName(spark, path, table)
  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(dir))

  /** The table's rows: through the catalog when doc-bucketed (the
    * bucketed scan is what makes the doc_id join exchange-free), a plain
    * parquet read otherwise. A registration failure degrades to the plain
    * read — correct, just shuffled — rather than failing the query. */
  def read: DataFrame = docBuckets match {
    case Some(db) =>
      try spark.table(register(db))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] $dir: doc-bucketed catalog registration " +
            s"failed (${e.getMessage}) — reading unbucketed (correct, but the " +
            "doc_id join pays its exchange again)")
          FsOps.readParquet(spark, dir)
      }
    case None => FsOps.readParquet(spark, dir)
  }

  /** Write `rows` (the table's columns, without `term_bucket`) in `mode`
    * (`overwrite` or `append`). The layout adds `term_bucket` and
    * co-locates each task's rows before the write — by term bucket when
    * plain (without it every task writes a file into every bucket dir),
    * by doc bucket when doc-bucketed, where an append goes THROUGH the
    * catalog with the table's own bucket spec (a mismatched spec fails
    * loudly; bucket-suffixed names keep the zero-shuffle join valid). */
  def write(rows: DataFrame, mode: String): Unit = {
    val df =
      if (!termBucketed) rows
      else rows.withColumn("term_bucket", Indexer.termBucket(col("term"), termBuckets))
    docBuckets match {
      case Some(db) if mode == "overwrite" => saveBucketedAt(df, catalogName, db, dir)
      case Some(db) => saveBucketed(df, register(db), db, mode, location = None)
      case None => Indexer.writeTable(clustered(df), table, dir, mode)
    }
  }

  /** Replace the table with `df` (rows read from it, `term_bucket`
    * included), layout preserved: the replacement lands at `<table>_tmp`
    * and the crash-safe rename-aside swap ([[FsOps.atomicSwap]]) installs
    * it. A doc-bucketed tmp is a bucketed external table (bucket-suffixed
    * file names survive the directory rename); both catalog entries then
    * drop — metadata only — and the next read re-registers from the
    * marker. */
  def rewrite(df: DataFrame): Unit = {
    val tmp = s"${dir}_tmp"
    docBuckets match {
      case Some(db) =>
        val tmpName = s"${catalogName}_tmp"
        saveBucketedAt(df, tmpName, db, tmp)
        spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
        spark.sql(s"DROP TABLE IF EXISTS `$catalogName`")
      case None => Indexer.writeTable(clustered(df), table, tmp)
    }
    FsOps.atomicSwap(fs, new Path(dir), new Path(tmp))
  }

  /** Small-file compaction, layout preserved. A doc-bucketed table
    * rewrites through [[rewrite]], merging every append's per-bucket files
    * back to one per (bucket × term partition) — the generic rewrite
    * would strip the bucket-suffixed names the zero-shuffle join depends
    * on. A plain table compacts through [[graft.operators.Compaction]] in
    * its declared [[Indexer.RowOrder]], range-partitioned by `batch` when
    * batch-tracked, term-bucketed tables leaf by leaf. */
  def compact(): Unit = docBuckets match {
    case Some(_) => rewrite(read)
    case None =>
      val range = graft.operators.Compaction.batchRange(spark, dir)
      val order = Indexer.RowOrder(table)
      if (termBucketed)
        graft.operators.Compaction.compactPartitionsRecursive(spark, dir,
          rangeBy = range, rowOrder = order)
      else graft.operators.Compaction.compact(spark, dir, rangeBy = range, rowOrder = order)
  }

  /** `df` (this table's rows) narrowed to the term buckets of `terms`: a
    * static partition filter the parquet scan applies before any IO — the
    * Spark-native analog of the reference's Cassandra partition-key
    * lookup. */
  def prune(df: DataFrame, terms: Seq[String]): DataFrame = pruningBuckets match {
    case Some(nb) =>
      df.filter(col("term_bucket").isin(terms.map(Indexer.termBucketOf(_, nb)).distinct: _*))
    case None => df
  }

  /** [[prune]] for a query LOG `(query_id, term)`, whose terms are no
    * driver literal: one tiny aggregate collects the log's distinct term
    * buckets (≤ the bucket count — bounded driver metadata at any log
    * size) into the IN-list. Returns the pruned rows and the term frame
    * the caller must join with. On the pruned path that frame is
    * materialized ONCE (eager localCheckpoint), so the bucket collect and
    * the join see the same rows: a nondeterministic log (sample, rand-
    * derived ids) re-evaluated per consumer could yield a bucket union
    * inconsistent with the join's terms and silently drop matches. Costs,
    * by design: the checkpointed pairs pin executor block storage ∝ log
    * size until the ContextCleaner reclaims them, and the frame is
    * non-recomputable — an executor lost after the checkpoint fails the
    * query loudly rather than risking an inconsistent recompute. */
  def pruneForLog(df: DataFrame, queryTerms: DataFrame): (DataFrame, DataFrame) =
    pruningBuckets match {
      case Some(nb) =>
        val once = queryTerms.localCheckpoint(true)
        val buckets = once.select(Indexer.termBucket(col("term"), nb).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq
        (df.filter(col("term_bucket").isin(buckets: _*)), once)
      case None => (df, queryTerms) // single consumer: no double-read
    }

  /** The bucket count to PRUNE with, or None for "read the whole table":
    * [[termBuckets]] is trusted only after validation against the table's
    * physical `term_bucket=` dirs. A partition value ≥ the count proves
    * the record stale (e.g. a legacy co-located store whose root marker
    * was clobbered — see [[Indexer.storedPositionalBuckets]]); pruning
    * with it would silently skip the partitions a query's terms live in,
    * so the read degrades to unpruned (correct, slower) instead. */
  private lazy val pruningBuckets: Option[Int] = {
    val nb = termBuckets
    val bad = observedBuckets.filter(_ >= nb)
    if (bad.isEmpty) Some(nb)
    else {
      System.err.println(s"[graft] $dir: recorded bucket count $nb is " +
        s"inconsistent with on-disk partitions (saw term_bucket=${bad.max}) — " +
        "reading UNPRUNED; rewrite the layout markers to restore pruning " +
        "(see Indexer.storedPositionalBuckets)")
      None
    }
  }

  /** `term_bucket=` partition values physically present — one driver-side
    * listing (≤ the bucket count entries), at most once per layout, so
    * the catalog re-sync check ([[register]]) and the stale-record
    * validation ([[pruningBuckets]]) of one query share it. */
  private lazy val observedBuckets: Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("term_bucket="))
      .map(_.stripPrefix("term_bucket=").toLong)
  }

  private def clustered(df: DataFrame): DataFrame =
    if (termBucketed) df.repartition(termBuckets, col("term_bucket")) else df

  private def saveBucketed(df: DataFrame, name: String, db: Int, mode: String,
                           location: Option[String]): Unit =
    FsOps.saveBucketedTable(df.repartition(db, col("doc_id")), name, db, "doc_id", mode,
      partitionBy = partitionCols, location = location)

  /** Overwrite `at` with `df` as the external bucketed table `name`,
    * replacing any stale registration and any previous files. */
  private def saveBucketedAt(df: DataFrame, name: String, db: Int, at: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    fs.delete(new Path(at), true)
    saveBucketed(df, name, db, "overwrite", Some(Indexer.qualifiedUri(spark, at).toString))
  }

  /** Idempotently (re-)register the table's catalog entry and return its
    * name. An existing entry is kept only if its location AND bucket spec
    * match the record (a moved store, a colliding name or a changed
    * layout drops and re-creates); a term-bucketed table re-syncs its
    * partition list when the on-disk `term_bucket=` dirs and the
    * catalog's partitions DIVERGE (an append or rewrite from another
    * session) — an unconditional MSCK per read taxed every warm query
    * (~0.2 s of driver metadata at p50) for a sync that is almost always
    * a no-op. */
  private def register(db: Int): String = {
    val name = catalogName
    val loc = Indexer.qualifiedUri(spark, dir)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
    val cat = spark.sessionState.catalog
    val ok = cat.tableExists(ident) && {
      val md = cat.getTableMetadata(ident)
      md.location == loc && md.bucketSpec.exists(b =>
        b.numBuckets == db && b.bucketColumnNames == Seq("doc_id"))
    }
    if (!ok) {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      // data-column DDL from the files themselves (title is optional;
      // future columns survive re-registration unchanged)
      val dataCols = FsOps.readParquet(spark, dir).schema
        .filterNot(_.name == "term_bucket")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val (cols, partClause) =
        if (termBucketed) (s"$dataCols, `term_bucket` BIGINT", "PARTITIONED BY (term_bucket) ")
        else (dataCols, "")
      spark.sql(
        s"CREATE TABLE `$name` ($cols) USING PARQUET $partClause" +
          s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $db BUCKETS " +
          s"LOCATION '$loc'")
    }
    if (termBucketed &&
        observedBuckets.map(b => s"term_bucket=$b").toSet != cat.listPartitionNames(ident).toSet)
      spark.sql(s"MSCK REPAIR TABLE `$name` SYNC PARTITIONS")
    name
  }
}

private[graft] object TableLayout {

  /** The stored layout of `table`; `fallback` is the term-bucket count of
    * a store written before its marker. */
  def apply(spark: SparkSession, path: String, table: String,
            fallback: Int = 64): TableLayout =
    new TableLayout(spark, path, table, fallback, termRecord(spark, path, table),
      Indexer.storedBuckets(spark, path, docMarker(table)))

  /** The stored layouts of `doc_stats` and `postings`, sharing one read of
    * their doc-bucket record. */
  def frequency(spark: SparkSession, path: String,
                fallback: Int = 64): (TableLayout, TableLayout) = {
    lazy val db = Indexer.storedBuckets(spark, path, Indexer.DocBucketsMarker)
    (new TableLayout(spark, path, "doc_stats", fallback, None, db),
      new TableLayout(spark, path, "postings", fallback, termRecord(spark, path, "postings"), db))
  }

  /** The stored layouts of all three big tables, present or not. */
  def all(spark: SparkSession, path: String, fallback: Int = 64): Seq[TableLayout] = {
    val (ds, po) = frequency(spark, path, fallback)
    Seq(po, ds, apply(spark, path, "positional", fallback))
  }

  /** Fresh overwrite of the tables of one doc-bucket record — doc_stats
    * and postings together, or positional — in the layout the writer
    * declares: `termBuckets` term buckets (never the old store's), doc-
    * bucketed by `docBuckets`. A positional table defaults to the
    * co-located frequency store's doc buckets, so the two compose. A
    * plain overwrite of a doc-bucketed store first retires the record and
    * the catalog entries (a stale record would route readers through a
    * bucket spec the new files no longer honor); a doc-bucketed one
    * records it after every table landed. The tables come from disjoint lineages and land at disjoint
    * paths, so their writes overlap (guide §2.6). */
  def overwrite(spark: SparkSession, path: String, termBuckets: Int,
                docBuckets: Option[Int], tables: (String, DataFrame)*): Unit = {
    val marker = docMarker(tables.head._1)
    val db =
      if (marker == Indexer.PositionalDocBucketsMarker)
        docBuckets.orElse(Indexer.storedBuckets(spark, path, Indexer.DocBucketsMarker))
      else docBuckets
    if (db.isEmpty && Indexer.storedBuckets(spark, path, marker).nonEmpty) {
      tables.foreach { case (t, _) =>
        spark.sql(s"DROP TABLE IF EXISTS `${Indexer.catalogTableName(spark, path, t)}`") }
      FsOps.deleteMarker(spark, path, marker)
    }
    graft.operators.Par.run(tables.map { case (t, df) =>
      () => new TableLayout(spark, path, t, termBuckets, Some(termBuckets), db)
        .write(df, "overwrite")
    }: _*)
    db.foreach(FsOps.writeLongMarker(spark, path, marker, _))
  }

  private def docMarker(table: String): String =
    if (table == "positional") Indexer.PositionalDocBucketsMarker else Indexer.DocBucketsMarker

  private def termRecord(spark: SparkSession, path: String, table: String): Option[Int] =
    table match {
      case "postings" => Indexer.storedBuckets(spark, path)
      case "positional" => Indexer.storedBuckets(spark, path, Indexer.PositionalBucketsMarker)
        .orElse(Indexer.storedBuckets(spark, path))
      case _ => None
    }
}
