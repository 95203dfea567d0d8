package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._

import graft.dedup.DedupStore
import graft.index.{Indexer, StoreMerge}
import graft.operators.{Compaction, Frames}
import graft.search.BM25
import graft.similarity.IvfStore
import graft.streaming.{UpsertSink, VersionedStore}

/** The store's physical encoding is decided in one place
  * ([[FsOps.writeParquet]]): every data file of every store family is
  * zstd on every column chunk, the index tables hold their rows in the
  * family's declared order ([[Indexer.RowOrder]]) within each file, and
  * a store written with the earlier encoding (snappy, rows unsorted)
  * keeps working under every verb. */
class StoreEncodingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sf0001, "documents")
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Visible parquet data files under `dir`, recursing into partitions. */
  private def dataFiles(dir: String): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
    walk(root)
  }

  private def codecs(file: Path): Seq[CompressionCodecName] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec))
    finally reader.close()
  }

  /** Every column chunk of every data file under `dirs` uses `codec`. */
  private def assertCodec(codec: CompressionCodecName, dirs: String*): Unit = dirs.foreach { d =>
    val files = dataFiles(d)
    assert(files.nonEmpty, s"no data files under $d")
    val chunks = files.map(f => f -> codecs(f))
    assert(chunks.exists(_._2.nonEmpty), s"no column chunk under $d")
    val wrong = chunks.filter(_._2.exists(_ != codec))
    assert(wrong.isEmpty, s"not $codec under $d: ${wrong.map(w => s"${w._1} ${w._2.distinct}")}")
  }

  /** The `(batch, term, doc_id)` key of each row of one parquet file, in
    * file order (a column outside `cols` reads as 0 / ""). */
  private def keysOf(file: Path, cols: Seq[String]): Seq[(Long, String, Long)] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
    def value(g: Group, c: String): Any =
      g.getType.getType(c).asPrimitiveType.getPrimitiveTypeName match {
        case PrimitiveTypeName.BINARY => g.getString(c, 0)
        case PrimitiveTypeName.INT32 => g.getInteger(c, 0).toLong
        case _ => g.getLong(c, 0)
      }
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      (if (cols.contains("batch")) value(g, "batch").asInstanceOf[Long] else 0L,
        if (cols.contains("term")) value(g, "term").asInstanceOf[String] else "",
        if (cols.contains("doc_id")) value(g, "doc_id").asInstanceOf[Long] else 0L)
    }.toSeq
    finally reader.close()
  }

  /** The data files of `dir` whose rows are out of `order`. */
  private def unorderedFiles(dir: String, order: Seq[String]): Seq[Path] = {
    val files = dataFiles(dir)
    assert(files.nonEmpty, s"no data files under $dir")
    files.filter { f =>
      val keys = keysOf(f, order)
      keys.zip(keys.drop(1)).exists { case (a, b) =>
        Ordering[(Long, String, Long)].compare(a, b) > 0 }
    }
  }

  /** Rows are non-decreasing in the table's declared order within every
    * data file of `dir`, after the `leading` columns (a range compaction
    * leads with `batch`). */
  private def assertOrdered(dir: String, table: String, leading: Seq[String] = Nil): Unit = {
    val order = leading ++ Indexer.RowOrder(table)
    val unordered = unorderedFiles(dir, order)
    assert(unordered.isEmpty, s"$table files out of ${order.mkString(",")} order: $unordered")
  }

  /** Every index table of the store at `path` holds its declared order
    * (the batch-tracked tables after `leading`). */
  private def assertIndexOrdered(path: String, leading: Seq[String] = Nil): Unit = {
    assertOrdered(s"$path/postings", "postings", leading)
    assertOrdered(s"$path/doc_stats", "doc_stats", leading)
    assertOrdered(Indexer.derivedTablePath(spark, path, "vocab"), "vocab")
    if (new Path(s"$path/positional").getFileSystem(conf).exists(new Path(s"$path/positional")))
      assertOrdered(s"$path/positional", "positional", leading)
  }

  /** A copy of the store at `fresh` with `tables` rewritten as the earlier
    * writer left them: Spark's snappy default, rows in shuffled order. */
  private def legacyCopy(fresh: String, tables: Seq[String]): String = {
    val legacy = s"${tmp("enclegacy")}/store"
    FileUtil.copy(new Path(fresh).getFileSystem(conf), new Path(fresh),
      new Path(legacy).getFileSystem(conf), new Path(legacy), false, conf)
    val fs = new Path(legacy).getFileSystem(conf)
    for (t <- tables) {
      fs.delete(new Path(s"$legacy/$t"), true)
      val w = spark.read.parquet(s"$fresh/$t").orderBy(rand(7)).repartition(3)
        .write.option("compression", "snappy")
      (if (Set("postings", "positional")(t)) w.partitionBy("term_bucket") else w)
        .parquet(s"$legacy/$t")
    }
    legacy
  }

  test("every data file of every store family is zstd on every column chunk") {
    val zstd = CompressionCodecName.ZSTD
    // index + positional, after an append and a delete
    val ix = tmp("encindex")
    Indexer.writeIndex(Indexer.buildIndex(docs.filter($"doc_id" % 2 === 0)), ix, nBuckets = 16)
    Indexer.writePositional(docs.filter($"doc_id" % 2 === 0), ix, nBuckets = 8)
    Indexer.appendIndex(spark, ix, docs.filter($"doc_id" % 2 === 1))
    Indexer.deleteDocs(spark, ix, docs.filter($"doc_id" % 5 === 0).select("doc_id"))
    assertCodec(zstd, Seq("doc_stats", "postings", "positional", "deletes").map(t => s"$ix/$t") ++
      Indexer.DerivedTables.map(Indexer.derivedTablePath(spark, ix, _)): _*)
    // the doc-bucketed layout, written and appended through the catalog
    val bucketed = tmp("encbucketed")
    Indexer.writeIndex(Indexer.buildIndex(docs.filter($"doc_id" % 2 === 0)), bucketed,
      nBuckets = 16, docBuckets = Some(4))
    Indexer.appendIndex(spark, bucketed, docs.filter($"doc_id" % 2 === 1))
    assertCodec(zstd, s"$bucketed/doc_stats", s"$bucketed/postings")

    // dedup, after an ingest
    val dd = tmp("encdedup")
    DedupStore.writeSignatures(docs.filter($"doc_id" % 2 === 0), dd)
    DedupStore.ingest(spark, dd, docs.filter($"doc_id" % 2 === 1), 0.5).collect()
    assertCodec(zstd, DedupStore.Tables.map(DedupStore.tablePath(spark, dd, _)): _*)

    // IVF raw and quantized, and a soft delete
    val e = Tables.load(spark, sf0001, "embeddings")
    val (raw, quant) = (tmp("encivf"), tmp("encivfq"))
    IvfStore.writeIndex(e, raw, kmeansIters = 0)
    IvfStore.deleteVectors(spark, raw, e.filter($"vec_id" % 7 === 0).select("vec_id"))
    IvfStore.writeIndexQuantized(e, quant, kmeansIters = 0)
    assertCodec(zstd, IvfStore.Tables.map(Frames.resolve(spark, raw, _)): _*)
    assertCodec(zstd, Seq("centroids", "lists").map(Frames.resolve(spark, quant, _)): _*)

    // versioned store: log and checkpoint
    val vs = tmp("encvstore")
    def ch(rows: (Long, String, String)*) = rows.toSeq.toDF("k", "val", VersionedStore.OpCol)
    VersionedStore.commit(spark, vs, ch((1L, "a", "u"), (2L, "b", "u")))
    VersionedStore.commit(spark, vs, ch((2L, "b2", "u"), (1L, "a", "d")))
    VersionedStore.checkpoint(spark, vs, 2L, Seq("k"))
    assertCodec(zstd, s"$vs/log", s"$vs/checkpoint")

    // an upsert table: the first write and a merge
    val up = s"${tmp("encupsert")}/t"
    UpsertSink.upsertBatch(spark, up, Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v"), Seq("k"))
    UpsertSink.upsertBatch(spark, up, Seq((1L, 5.0), (3L, 1.0)).toDF("k", "v"), Seq("k"))
    assertCodec(zstd, up)
  }

  test("index tables hold their declared row order within every file, verb by verb") {
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    val path = tmp("encorder")
    Indexer.writeIndex(Indexer.buildIndex(half1), path, nBuckets = 16)
    Indexer.writePositional(half1, path, nBuckets = 8)
    assertIndexOrdered(path)
    Indexer.appendIndex(spark, path, half2)
    assertIndexOrdered(path)
    // compaction merges each bucket's batch files into one, batch by
    // batch: each batch run in the declared order
    Maintain.run(spark, "index", "compact", path)
    assertIndexOrdered(path, leading = Seq("batch"))
    Indexer.deleteDocs(spark, path, docs.filter($"doc_id" % 3 === 0).select("doc_id"))
    assertOrdered(Indexer.derivedTablePath(spark, path, "vocab"), "vocab")
    Indexer.expungeDeletes(spark, path)
    assertIndexOrdered(path)

    // a shard merge transfers files and re-aggregates vocab
    val (a, b, dest) = (tmp("encshardA"), tmp("encshardB"), tmp("encmerged") + "/store")
    for ((p, part) <- Seq(a -> half1, b -> half2)) {
      Indexer.writeIndex(Indexer.buildIndex(part), p, nBuckets = 8)
      Indexer.writePositional(part, p, nBuckets = 8)
    }
    StoreMerge.mergeStores(spark, Seq(a, b), dest)
    assertIndexOrdered(dest)
  }

  test("index compact re-sorts a store range-compacted without a row order") {
    val fresh = tmp("encrecompact")
    Indexer.writeIndex(Indexer.buildIndex(docs.filter($"doc_id" % 2 === 0)), fresh, nBuckets = 8)
    Indexer.appendIndex(spark, fresh, docs.filter($"doc_id" % 2 === 1))
    val store = legacyCopy(fresh, Seq("postings"))
    val postings = s"$store/postings"
    // the earlier compaction request: batch ranges, no declared row order;
    // it leaves its `_compact_range_state` marker in every leaf
    Compaction.compactPartitionsRecursive(spark, postings, rangeBy = Seq("batch"))
    val order = "batch" +: Indexer.RowOrder("postings")
    assert(unorderedFiles(postings, order).nonEmpty)
    // the same listing under a request that now carries the row order is
    // a new request: the leaves are rewritten, not skipped
    Maintain.run(spark, "index", "compact", store)
    assertOrdered(postings, "postings", leading = Seq("batch"))
  }

  test("a store at the earlier encoding (snappy, unsorted) keeps serving and auditing") {
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    val dead = docs.filter($"doc_id" % 3 === 0).select("doc_id")
    // build a store, then rewrite every table as the earlier writer left it
    val fresh = tmp("encfresh")
    Indexer.writeIndex(Indexer.buildIndex(half1), fresh, nBuckets = 16)
    Indexer.writePositional(half1, fresh, nBuckets = 8)
    val legacy = legacyCopy(fresh, Seq("doc_stats", "postings", "positional", "vocab", "meta"))
    assertCodec(CompressionCodecName.SNAPPY, s"$legacy/postings", s"$legacy/vocab")

    Indexer.appendIndex(spark, legacy, half2)
    Indexer.deleteDocs(spark, legacy, dead)
    val live = docs.join(dead, Seq("doc_id"), "left_anti")
    val rebuilt = tmp("encrebuilt")
    Indexer.writeIndex(Indexer.buildIndex(live), rebuilt, nBuckets = 16)
    Indexer.writePositional(live, rebuilt, nBuckets = 8)

    val queries = Seq("data stream", "query engine", "spark", "fast hash join scan")
    val log = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("query_id", "query_text")
    def top10(p: String): Seq[Seq[(Long, Double)]] = queries.map(q =>
      BM25.searchStore(spark, p, q).select($"doc_id", round($"score", 9))
        .as[(Long, Double)].collect().toSeq)
    def many(p: String): Set[(Long, Int, Long, Double)] = BM25.searchManyStore(spark, p, log)
      .select($"query_id", $"rank", $"doc_id", round($"score", 9))
      .as[(Long, Int, Long, Double)].collect().toSet
    def violations(p: String): Long =
      Indexer.checkStore(spark, p).agg(sum($"violations")).as[Long].collect().head

    val expected = top10(rebuilt)
    assert(expected.exists(_.nonEmpty))
    assert(top10(legacy) === expected)
    assert(many(legacy) === many(rebuilt))
    assert(violations(legacy) === 0L)
    Indexer.expungeDeletes(spark, legacy)
    assert(top10(legacy) === expected)
    assert(many(legacy) === many(rebuilt))
    assert(violations(legacy) === 0L)
  }
}
