package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.dedup.DedupStore
import graft.index.Indexer
import graft.operators.Frames
import graft.search.BM25
import graft.similarity.IvfStore
import graft.streaming.VersionedStore

/** Store-table reads resolve their schema from one parquet footer on the
  * driver ([[FsOps.readParquet]]): the schema equals Spark's own
  * inference on every table of every store family, errors are Spark's
  * own, and a store read starts no schema-inference job. */
class StoreReadSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sf0001, "documents")

  private def assertParity(dirs: String*): Unit = {
    val inferred = spark.read.parquet(dirs: _*).schema
    val resolved = FsOps.readParquet(spark, dirs: _*).schema
    assert(resolved === inferred, s"schema of ${dirs.mkString(", ")}")
    assert(resolved.fields.map(_.metadata) === inferred.fields.map(_.metadata))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def tombstonedStore(): String = {
    val path = tmp("readtomb")
    Indexer.writeIndex(Indexer.buildIndex(docs), path, nBuckets = 16)
    Indexer.deleteDocs(spark, path, docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    path
  }

  /** Properties of every Spark job started while `body` ran. */
  private def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.add(Option(js.properties).getOrElse(new java.util.Properties()))
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    started.asScala.toSeq
  }

  test("index store tables: footer schema equals the inferred one, flat and frame-installed") {
    val path = tmp("readix")
    val d = docs
    Indexer.writeIndex(Indexer.buildIndex(d.filter(col("doc_id") % 2 === 0)), path,
      nBuckets = 16)
    Indexer.writePositional(d.filter(col("doc_id") % 2 === 0), path, nBuckets = 16)
    def tables = Seq("doc_stats", "postings", "positional").map(t => s"$path/$t") ++
      Indexer.DerivedTables.map(Indexer.derivedTablePath(spark, path, _))
    assert(Frames.currentVersion(spark, path).isEmpty, "vocab/meta still flat")
    tables.foreach(assertParity(_))
    Indexer.appendIndex(spark, path, d.filter(col("doc_id") % 2 === 1), nBuckets = 16)
    Indexer.deleteDocs(spark, path, d.filter(col("doc_id") % 5 === 0).select("doc_id"))
    assert(Frames.currentVersion(spark, path).nonEmpty, "vocab/meta frame-installed")
    (tables :+ s"$path/deletes").foreach(assertParity(_))

    // a legacy store: no batch column anywhere
    val legacy = tmp("readixlegacy")
    val ix = Indexer.buildIndex(d)
    ix.docStats.write.parquet(s"$legacy/doc_stats")
    ix.postings.withColumn("term_bucket", lit(0L))
      .write.partitionBy("term_bucket").parquet(s"$legacy/postings")
    assert(!FsOps.readParquet(spark, s"$legacy/doc_stats").columns.contains("batch"))
    Seq("doc_stats", "postings").foreach(t => assertParity(s"$legacy/$t"))

    // a doc-bucketed store (bucket-suffixed file names)
    val bucketed = tmp("readixbucketed")
    Indexer.writeIndex(ix, bucketed, nBuckets = 16, docBuckets = Some(4))
    Seq("doc_stats", "postings").foreach(t => assertParity(s"$bucketed/$t"))
  }

  test("dedup, IVF and versioned-store tables: footer schema equals the inferred one") {
    val dedup = tmp("readdedup")
    DedupStore.writeSignatures(docs.select("doc_id", "text"), dedup)
    DedupStore.Tables.foreach(t => assertParity(DedupStore.tablePath(spark, dedup, t)))
    DedupStore.removeDocs(spark, dedup, Seq(1L, 2L).toDF("doc_id"))
    assert(Frames.currentVersion(spark, dedup).nonEmpty)
    DedupStore.Tables.foreach(t => assertParity(DedupStore.tablePath(spark, dedup, t)))

    val e = Tables.load(spark, sf0001, "embeddings")
    val plain = tmp("readivf")
    val quantized = tmp("readivfq")
    IvfStore.writeIndex(e, plain, kmeansIters = 0)
    IvfStore.writeIndexQuantized(e, quantized, kmeansIters = 0)
    Seq(plain, quantized).foreach { p =>
      IvfStore.deleteVectors(spark, p, Seq(0L, 1L).toDF("vec_id"))
      IvfStore.Tables.foreach(t => assertParity(Frames.resolve(spark, p, t)))
    }
    IvfStore.expungeDeletes(spark, plain)
    Seq("centroids", "lists").foreach(t => assertParity(Frames.resolve(spark, plain, t)))

    val vstore = graft.queries.QueryGroup.scratchDir("graft-readvstore")
    Seq(1L, 2L, 3L).foreach(v => VersionedStore.commit(spark, vstore,
      Seq((v, s"x$v", "u")).toDF("k", "val", VersionedStore.OpCol)))
    VersionedStore.checkpoint(spark, vstore, 2L, Seq("k"))
    val logDirs = Seq(1L, 2L, 3L).map(v => s"$vstore/log/v=$v")
    val inferred = spark.read.option("basePath", s"$vstore/log").parquet(logDirs: _*).schema
    assert(FsOps.readParquet(spark, logDirs, basePath = Some(s"$vstore/log")).schema ===
      inferred)
    assert(inferred.fieldNames.contains("v"), "basePath keeps v as a partition column")
    assertParity(s"$vstore/checkpoint/v=2")
  }

  test("fixture parquet, field metadata and multi-directory reads: footer schema equals the inferred one") {
    val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"
    Tables.all.foreach(t => assertParity(s"$sf001/$t.parquet"))
    val p = tmp("readmeta")
    val md = new MetadataBuilder().putString("comment", "doc key").build()
    Seq((1L, "a")).toDF("doc_id", "s")
      .select(col("doc_id").as("doc_id", md), col("s"))
      .write.mode("overwrite").parquet(s"$p/a")
    Seq((2L, "b")).toDF("doc_id", "s").write.mode("overwrite").parquet(s"$p/b")
    assertParity(s"$p/a")
    assertParity(s"$p/b", s"$p/a")
    assertParity(s"$p/a", s"$p/b")
  }

  test("missing and drained directories raise Spark's own error") {
    val p = tmp("readempty")
    val husk = s"$p/husk"
    Seq((1L, "a")).toDF("doc_id", "s").write.parquet(husk)
    new java.io.File(husk).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(f => assert(f.delete()))
    Seq(s"$p/missing", husk).foreach { d =>
      val want = intercept[AnalysisException](spark.read.parquet(d))
      val got = intercept[AnalysisException](FsOps.readParquet(spark, d))
      assert(got.getClass === want.getClass)
      assert(got.getCondition === want.getCondition, d)
    }
  }

  test("readIndexLive on a tombstoned store starts no Spark job") {
    val path = tombstonedStore()
    val jobs = jobsDuring(Indexer.readIndexLive(spark, path))
    assert(jobs.size === 0, "jobs started resolving the live view")
  }

  test("searchStore on a tombstoned store starts no job outside a SQL execution") {
    val path = tombstonedStore()
    var rows = 0
    val jobs = jobsDuring {
      rows = BM25.searchStore(spark, path, "fast hash join scan", nBuckets = 16)
        .collect().length
    }
    assert(rows > 0)
    val outside = jobs.filter(_.getProperty("spark.sql.execution.id") == null)
    assert(outside.size === 0, s"of ${jobs.size} jobs, these ran outside a query")
  }

  private def mainSources: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    files(root).map(f => f -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
  }

  private def lineOf(src: String, at: Int): Int = src.take(at).count(_ == '\n') + 1

  test("no raw parquet read in the main sources outside FsOps.readParquet") {
    val raw = """\bread\s*\.\s*(option\([^)]*\)\s*\.\s*)*parquet\(""".r
    // Bench keeps its own timing path; the mergeSchema read is the one
    // read that asks Spark to merge every footer
    val allowed = Set("FsOps.scala", "Bench.scala")
    val hits = for {
      (f, src) <- mainSources if !allowed(f.getName)
      m <- raw.findAllMatchIn(src)
      if !(f.getName == "SearchQueries.scala" &&
        m.matched.startsWith("read.option(\"mergeSchema\", \"true\")"))
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    assert(hits.isEmpty, s"raw parquet reads:\n${hits.mkString("\n")}")
  }

  test("no parquet write in the main sources outside FsOps' write entry") {
    // every table graft writes carries the store's one encoding (codec,
    // declared row order) through FsOps.writeParquet / saveBucketedTable;
    // Verify's gate outputs and Bench keep their raw writes
    val allowed = Set("FsOps.scala", "Verify.scala", "Bench.scala")
    val writer = """\.\s*(write|writeStream)\b(?!\s*\()""".r
    val link = """\s*\.\s*(\w+)\s*""".r
    // the `.name(args)` / `.name { block }` links chained after `from`
    def chain(src: String, from: Int): Seq[(String, String)] = {
      val links = Seq.newBuilder[(String, String)]
      var i = from
      var more = true
      while (more) link.findPrefixMatchOf(src.substring(i)) match {
        case Some(m) =>
          val name = m.group(1)
          var j = i + m.end
          val args = if (j < src.length && (src(j) == '(' || src(j) == '{')) {
            val open = j
            var depth = 0
            do {
              if (src(j) == '(' || src(j) == '{') depth += 1
              else if (src(j) == ')' || src(j) == '}') depth -= 1
              j += 1
            } while (depth > 0 && j < src.length)
            src.substring(open, j)
          } else ""
          links += name -> args
          i = j
        case None => more = false
      }
      links.result()
    }
    val hits = for {
      (f, src) <- mainSources if !allowed(f.getName)
      m <- writer.findAllMatchIn(src)
      if chain(src, m.end).exists { case (name, args) =>
        name == "parquet" || name == "saveAsTable" ||
          (name == "format" && args.contains("\"parquet\"")) }
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    val catalogSaves = for {
      (f, src) <- mainSources if !allowed(f.getName)
      m <- """\bsaveAsTable\s*\(""".r.findAllMatchIn(src)
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    val all = (hits ++ catalogSaves).distinct
    assert(all.isEmpty, s"parquet writes outside FsOps:\n${all.mkString("\n")}")
  }

  test("no shard-merge protocol step in the main sources outside ShardMerge") {
    // the transfer, the source record, the husk-stamp resume and the
    // _merged_into stamp are the one merge lifecycle's business; FsOps
    // keeps only the definitions of its file primitive
    val step = """\b(transferDataFiles|recordMergeSources|completeHuskStamps)\s*\(""".r
    val stamp = """\bwriteMarker\s*\([^)]*\bMergedIntoMarker\b""".r
    val hits = for {
      (f, src) <- mainSources if f.getName != "ShardMerge.scala"
      m <- step.findAllMatchIn(src).toSeq ++ stamp.findAllMatchIn(src)
      if !(f.getName == "FsOps.scala" && m.matched.startsWith("transferDataFiles"))
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    assert(hits.isEmpty, s"merge protocol steps outside ShardMerge:\n${hits.mkString("\n")}")
  }

  test("no index-table layout decision in the main sources outside TableLayout") {
    // the plain/doc-bucketed switch, its markers' readers, term-bucket
    // pruning and the crash-safe table rewrite of doc_stats, postings and
    // positional are TableLayout's business; elsewhere only the public
    // names' definitions remain. FsOps defines the catalog write, and
    // Bucketing's bucketed tables are not index tables.
    val call = ("""\b(docBucketsOf|positionalDocBucketsOf|storedPositionalBuckets|""" +
      """pruningBuckets|swapTable|\w*[Bb]ucketed\w*Table)\s*\(""").r
    val hits = for {
      (f, src) <- mainSources
      if !Set("TableLayout.scala", "Bucketing.scala")(f.getName)
      m <- call.findAllMatchIn(src)
      if !src.substring(0, m.start).endsWith("def ")
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    assert(hits.isEmpty, s"layout decisions outside TableLayout:\n${hits.mkString("\n")}")
  }

  test("no IVF frame install or int8 reconstruction in the main sources outside their one definition") {
    // IvfStore.rewriteLists is the frame install of the four lists
    // rewrites, and Quantize.dequantized the one int8 reconstruction
    val install = """\bFrames\.begin\(|\bmidMaintenanceHook\(spark\)|\bcarryFrameDelta\(""".r
    val ivf = mainSources.collect { case (f, src) if f.getName == "IvfStore.scala" => src }
    assert(ivf.size === 1)
    val src = ivf.head
    val helper = src.indexOf("private def rewriteLists(")
    assert(helper >= 0, "IvfStore.rewriteLists is gone")
    val helperEnd = src.indexOf("\n  }\n", helper)
    val installs = for {
      m <- install.findAllMatchIn(src).toSeq
      if !src.substring(0, m.start).endsWith("def ")
      if m.start < helper || m.start > helperEnd
    } yield s"IvfStore.scala:${lineOf(src, m.start)}"
    val reconstruction = java.util.regex.Pattern.quote("col(\"scale\"), 6)").r
    val rebuilt = for {
      (f, s) <- mainSources if f.getName != "Quantize.scala"
      m <- reconstruction.findAllMatchIn(s)
    } yield s"${f.getPath}:${lineOf(s, m.start)}"
    assert(installs.isEmpty && rebuilt.isEmpty,
      s"IVF frame installs outside rewriteLists:\n${installs.mkString("\n")}\n" +
        s"int8 reconstructions outside Quantize:\n${rebuilt.mkString("\n")}")
  }

  test("no FileSystem create/open in the main sources outside FsOps") {
    // every marker is written tmp-first and swapped in, and read back with
    // the swap-aside fallback, only by FsOps; a hand-rolled create()
    // truncates the old value before the new bytes land
    val call = """(\w*)\s*\.\s*(create|open)\s*\(""".r
    val notFileSystem = Set("UnsafeProjection", "RowOrdering")
    val hits = for {
      (f, src) <- mainSources
      // TSV data files, not markers
      if !Set("FsOps.scala", "TsvTableProvider.scala")(f.getName)
      m <- call.findAllMatchIn(src) if !notFileSystem(m.group(1))
      line = src.linesIterator.drop(lineOf(src, m.start) - 1).next()
      // Forget's empty `_done_*`/`_complete` presence files carry no value
      if !(f.getName == "Forget.scala" &&
        (line.contains("_done_") || line.contains("_complete")))
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    assert(hits.isEmpty, s"FileSystem create/open outside FsOps:\n${hits.mkString("\n")}")
  }

  test("no Path built from a .swap_old name in the main sources outside FsOps") {
    // the aside of a marker swap is FsOps' business (read fallback,
    // deleteMarker, healStaleAsides); Frames.gc sweeps its manifests'
    // asides by listing. Error-message text naming an aside is no Path.
    val pathCall = """\bPath\s*\(""".r
    def argsOf(src: String, open: Int): String = {
      var depth = 1
      var i = open
      while (i < src.length && depth > 0) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      src.substring(open, i)
    }
    val hits = for {
      (f, src) <- mainSources if !Set("FsOps.scala", "Frames.scala")(f.getName)
      m <- pathCall.findAllMatchIn(src) if argsOf(src, m.end).contains("swap_old")
    } yield s"${f.getPath}:${lineOf(src, m.start)}"
    assert(hits.isEmpty, s"swap-aside paths outside FsOps:\n${hits.mkString("\n")}")
  }
}
