package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.DedupStore
import graft.index.Indexer
import graft.similarity.IvfStore
import graft.streaming.VersionedStore

/** The deep and incremental audit of every store family share their
  * invariant definitions ([[graft.operators.StoreCheck]]): scoped to
  * everything, the incremental audit reports for `delta_<x>` exactly the
  * `(checked, violations)` the deep audit reports for `<x>` — on a clean
  * store and on a copy corrupted once for each shared invariant. Each
  * checker's invariant names, in report order, are the monitoring
  * schema and are pinned here. */
class StoreCheckSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def rows(report: DataFrame): Seq[(String, (Long, Long))] =
    report.as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toSeq

  /** A corrupted copy of the store at `src` (`corrupt` gets the copy). */
  private def corruptedCopy(src: String)(corrupt: String => Unit): String = {
    val dst = s"${tmp("storecheck")}/store"
    val conf = spark.sparkContext.hadoopConfiguration
    val (s, d) = (new Path(src), new Path(dst))
    FileUtil.copy(s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf)
    corrupt(dst)
    dst
  }

  /** Append one row derived from the table under `dir`, keeping its
    * column order, types and partition layout. */
  private def appendRow(dir: String, partitionBy: String*)(
      derive: DataFrame => DataFrame): Unit = {
    val table = spark.read.parquet(dir)
    derive(table).limit(1)
      .select(table.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      .write.mode("append").partitionBy(partitionBy: _*).parquet(dir)
  }

  /** Run both audits on every store and check the parity of each shared
    * row; `corruptions(x)` must make the deep audit flag `x`. */
  private def assertParity(shared: Seq[String], clean: String,
                           corruptions: Seq[(String, String)],
                           deep: String => DataFrame,
                           incremental: String => DataFrame): Unit =
    (("clean", clean) +: corruptions).foreach { case (what, path) =>
      val (d, i) = (rows(deep(path)).toMap, rows(incremental(path)).toMap)
      shared.foreach(x => assert(i(s"delta_$x") === d(x), s"$what store: delta_$x vs $x"))
      if (what == "clean") assert(d.values.forall(_._2 == 0L), s"clean store: $d")
      else assert(d(what)._2 > 0L, s"the $what corruption must be flagged: $d")
    }

  test("index: scoped to everything, every delta_ row equals its deep row; report names pinned") {
    val docs = Tables.load(spark, sf0001, "documents")
    val path = tmp("ckindex")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    Indexer.writeIndex(Indexer.buildIndex(half1), path, nBuckets = 16)
    Indexer.writePositional(half1, path, nBuckets = 8)
    Indexer.appendIndex(spark, path, docs.filter(col("doc_id") % 2 === 1))
    Indexer.deleteDocs(spark, path, docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    def deep(p: String) = Indexer.checkStore(spark, p, nBuckets = 16)
    def incr(p: String) = Indexer.checkStoreIncremental(spark, p, nBuckets = 16,
      sinceBatch = Some(-1L))

    assert(rows(deep(path)).map(_._1) === Seq("meta_matches_live",
      "positional_bucket_layout", "positional_matches_postings",
      "postings_bucket_layout", "postings_docs_in_doc_stats", "tombstones_valid",
      "vocab_matches_live"))
    assert(rows(incr(path)).map(_._1) === Seq("delta_docs_unique",
      "delta_full_audit_forced_doc_compaction", "delta_positional_matches_postings",
      "delta_postings_bucket_layout", "delta_postings_docs_in_doc_stats"))

    // live (never tombstoned) doc ids: a corrupt row on a deleted doc
    // would leave the live view
    val live = col("doc_id") % 3 =!= 0
    assertParity(
      Seq("postings_bucket_layout", "postings_docs_in_doc_stats",
        "positional_matches_postings"),
      path,
      Seq(
        // a stale layout record: the recorded bucket function disagrees
        // with the one that placed the rows
        "postings_bucket_layout" -> corruptedCopy(path)(p =>
          FsOps.writeLongMarker(spark, p, "_nbuckets", 4L)),
        // a posting whose doc has no doc_stats row
        "postings_docs_in_doc_stats" -> corruptedCopy(path)(p =>
          appendRow(s"$p/postings", "term_bucket")(_.withColumn("doc_id", lit(-7L)))),
        // a positional row whose tf disagrees with its postings row and
        // with its own positions list
        "positional_matches_postings" -> corruptedCopy(path)(p =>
          appendRow(s"$p/positional", "term_bucket")(
            _.filter(live).withColumn("tf", col("tf") + 1)))),
      deep, incr)
  }

  test("dedup: scoped to everything, every delta_ row equals its deep row; report names pinned") {
    val path = tmp("ckdedup")
    DedupStore.writeSignatures(
      Seq((1L, "a b c d e f g h"), (2L, "q r s t u v w x")).toDF("doc_id", "text"), path)
    DedupStore.ingest(spark, path,
      Seq((10L, "a b c d e f g z"), (11L, "m n o p h i j k")).toDF("doc_id", "text"), 0.5)
    def deep(p: String) = DedupStore.checkStore(spark, p)
    def incr(p: String) = DedupStore.checkStoreIncremental(spark, p, sinceBatch = Some(-1L))

    assert(rows(deep(path)).map(_._1) === Seq("bucket_cardinality",
      "buckets_match_signatures", "id_surface_match", "ids_unique"))
    assert(rows(incr(path)).map(_._1) === Seq("delta_bucket_cardinality",
      "delta_buckets_match_signatures", "delta_id_surface_match", "delta_ids_unique"))

    assertParity(
      Seq("bucket_cardinality", "buckets_match_signatures", "id_surface_match"),
      path,
      Seq(
        // a doc with one bucket row too many
        "bucket_cardinality" -> corruptedCopy(path)(p =>
          appendRow(s"$p/buckets")(_.filter(col("doc_id") === 2L)
            .withColumn("bucket", col("bucket") + 1))),
        // a second shingle set for a stored doc: the recompute no longer
        // matches its stored buckets
        "buckets_match_signatures" -> corruptedCopy(path)(p =>
          appendRow(s"$p/sets")(_.filter(col("doc_id") === 1L)
            .withColumn("doc_id", lit(11L)))),
        // ingest's crash window: a sets append whose buckets never landed
        "id_surface_match" -> corruptedCopy(path)(p =>
          appendRow(s"$p/sets")(_.withColumn("doc_id", lit(12L))
            .withColumn("batch", lit(2L))))),
      deep, incr)
  }

  test("IVF: scoped to everything, every delta_ row equals its deep row; report names pinned") {
    val e = Tables.load(spark, sf0001, "embeddings")
    def layered(quantize: Boolean): String = {
      val path = tmp("ckivf")
      IvfStore.writeCentroids(e, path, kmeansIters = 0)
      IvfStore.appendBatch(spark, path, e.filter($"vec_id" % 2 === 0), 0L, quantize = quantize)
      IvfStore.appendBatch(spark, path, e.filter($"vec_id" % 2 === 1), 1L, quantize = quantize)
      path
    }
    val (raw, quant) = (layered(quantize = false), layered(quantize = true))
    def deep(p: String) = IvfStore.checkStore(spark, p)
    def incr(p: String) = IvfStore.checkStoreIncremental(spark, p, sinceBatch = Some(-1L))

    assert(rows(deep(raw)).map(_._1) === Seq("centroid_cover", "centroids_wellformed",
      "codes_wellformed", "ids_unique", "lists_assignment", "merged_groups_advisory",
      "merged_provenance", "merged_provenance_range", "norms_consistent"))
    assert(rows(incr(raw)).map(_._1) === Seq("centroids_wellformed",
      "delta_centroid_cover", "delta_codes_wellformed", "delta_ids_unique",
      "delta_lists_assignment", "delta_norms_consistent"))

    val shared = Seq("centroid_cover", "lists_assignment", "norms_consistent",
      "codes_wellformed")
    def listsRow(p: String)(derive: DataFrame => DataFrame): Unit =
      appendRow(graft.operators.Frames.resolve(spark, p, "lists"), "batch", "cid")(derive)
    assertParity(shared, raw,
      Seq(
        // a row under a cid the centroid table does not have
        "centroid_cover" -> corruptedCopy(raw)(p =>
          listsRow(p)(_.withColumn("cid", lit(999)))),
        // a row homed under a centroid that is not its nearest
        "lists_assignment" -> corruptedCopy(raw)(p =>
          listsRow(p)(_.withColumn("cid", (col("cid") + 1) % 16))),
        // a stale precomputed norm
        "norms_consistent" -> corruptedCopy(raw)(p =>
          listsRow(p)(_.withColumn("nv", col("nv") + 1.0)))),
      deep, incr)
    assertParity(shared, quant,
      // a negative quantization scale
      Seq("codes_wellformed" -> corruptedCopy(quant)(p =>
        listsRow(p)(_.withColumn("scale", -col("scale") - 1.0)))),
      deep, incr)
  }

  test("versioned store: scoped to everything, every delta_ row equals its deep row; report names pinned") {
    def ch(rows: (Long, String, String)*) =
      rows.toSeq.toDF("k", "val", VersionedStore.OpCol)
    val path = tmp("ckvstore")
    VersionedStore.commit(spark, path, ch((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u")))
    VersionedStore.commit(spark, path, ch((2L, "b2", "u"), (3L, "c1", "d")))
    VersionedStore.checkpoint(spark, path, 1L, Seq("k"))
    VersionedStore.commit(spark, path, ch((3L, "c3", "u"), (4L, "d3", "u")))
    VersionedStore.checkpoint(spark, path, 3L, Seq("k"))
    def deep(p: String) = VersionedStore.checkStore(spark, p, Seq("k"))
    def incr(p: String) = VersionedStore.checkStoreIncremental(spark, p, Seq("k"),
      sinceVersion = Some(0L))
    def fs(p: String) = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

    assert(rows(deep(path)).map(_._1) === Seq("checkpoint_matches_log",
      "commit_key_unique", "log_contiguous", "op_wellformed"))
    assert(rows(incr(path)).map(_._1) === Seq("delta_checkpoint_matches_log",
      "delta_commit_key_unique", "delta_log_contiguous", "delta_op_wellformed"))

    assertParity(
      Seq("commit_key_unique", "op_wellformed", "log_contiguous", "checkpoint_matches_log"),
      path,
      Seq(
        // an uncompacted CDC batch: one key twice in one commit
        "commit_key_unique" -> corruptedCopy(path)(p =>
          VersionedStore.commit(spark, p, ch((5L, "e4", "u"), (5L, "e4b", "u")))),
        "op_wellformed" -> corruptedCopy(path)(p =>
          VersionedStore.commit(spark, p, ch((6L, "f4", "x")))),
        // a lost log version with no checkpoint above it to replay from
        "log_contiguous" -> corruptedCopy(path)(p => {
          fs(p).delete(new Path(s"$p/log/v=2"), true)
          fs(p).delete(new Path(s"$p/checkpoint/v=3"), true)
        }),
        // a checkpoint rewritten by a buggy job
        "checkpoint_matches_log" -> corruptedCopy(path)(p => {
          spark.read.parquet(s"$p/checkpoint/v=3")
            .withColumn("val", when(col("k") === 2L, lit("WRONG")).otherwise(col("val")))
            .write.parquet(s"$p/checkpoint/_v=3_bad")
          FsOps.atomicSwap(fs(p), new Path(s"$p/checkpoint/v=3"),
            new Path(s"$p/checkpoint/_v=3_bad"))
        })),
      deep, incr)
  }
}
