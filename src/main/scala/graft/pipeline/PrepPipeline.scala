package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** The composed training-data prep pipeline: quality filter → in-pool
  * MinHash+LSH near-dup removal → benchmark decontamination — the
  * end-to-end corpus build whose composition the q_prep_pipeline /
  * q_prep_funnel gate entries hash-verify (each stage is individually
  * oracle-verified by q_quality_filter / q_dedup_keep / q_decontaminate).
  *
  * Two execution shapes, SAME answers (gate-verified: the staged twin
  * q_prep_pipeline_staged shares q_prep_pipeline's oracle):
  *
  *   - '''Unstaged''' (default [[stages]]): one declarative plan; each
  *     stage frame carries the full upstream lineage. Catalyst sees the
  *     whole pipeline, but a consumer touching several stages (the
  *     attrition funnel) re-derives shared ancestry per stage — the LSH
  *     banding ran ~3× inside one funnel entry.
  *   - '''Staged''' ([[stages]] with a [[stageTo]] boundary): each stage
  *     boundary materializes its surviving `doc_id` set (a NARROW table —
  *     ids only, never text) and downstream stages reconstitute rows by
  *     joining the id set back onto the corpus. Every stage computes
  *     exactly once regardless of how many consumers read it — at 100 TB
  *     this is how a corpus build actually runs (each boundary doubles as
  *     a restart point), at the cost of one id-table write + corpus
  *     re-join per stage. SCALE.md documents the trade with measured
  *     numbers.
  */
object PrepPipeline {

  /** The pipeline's stage frames, all carrying the corpus' full columns:
    * `raw` (the input), `bench` (held-out benchmark docs), `pool`
    * (candidate training docs), `quality` (quality-kept pool), `deduped`
    * (near-dup survivors), `clean` (decontaminated survivors). */
  final case class Stages(raw: DataFrame, bench: DataFrame, pool: DataFrame,
                          quality: DataFrame, deduped: DataFrame,
                          clean: DataFrame)

  /** A stage-boundary hook: receives each stage's output frame and its
    * ordinal name, returns the frame downstream stages consume. Identity
    * → unstaged single plan; [[stageTo]] → materialized boundaries. */
  type Boundary = (DataFrame, String) => DataFrame

  /** Benchmark split: every 50th doc is held out as the eval set the
    * pool is decontaminated against. Public so the pipeline's other
    * faces (the incremental ingest entry) share the SAME holdout
    * definition instead of re-deriving it. */
  def isBench: org.apache.spark.sql.Column = col("doc_id") % 50 === 0

  /** The quality stage's join: `df` restricted to its quality-kept
    * doc_ids ([[TextAnalysis.qualityFilter]]'s `kept = 1`). Shared by
    * [[stages]] and the incremental ingest face so the two can never
    * disagree on what "kept" means. */
  def qualityKept(df: DataFrame): DataFrame =
    df.join(
      TextAnalysis.qualityFilter(df).filter(col("kept") === 1).select("doc_id"),
      Seq("doc_id"))

  /** In-pool near-dup removal: MinHash+LSH pairs over `pool` only →
    * connected components → min-id survivor per component; non-survivors
    * drop. ONE definition shared by the batch pipeline's dedup stage and
    * the incremental ingest face ([[dedupIngest]]'s within-batch pass),
    * so "near-dup inside the pool" can never mean two different things
    * depending on how the corpus arrived. */
  def dedupInPool(pool: DataFrame, jaccardThreshold: Double): DataFrame = {
    val clusters = Dedup.duplicateClusters(
      Dedup.minhashLshPairs(Dedup.shingles(pool), jaccardThreshold))
    pool.join(
      clusters.filter(col("is_survivor") === 0).select("doc_id"),
      Seq("doc_id"), "left_anti")
  }

  /** Build the stage lineage over `docs`. The near-dup step runs INSIDE
    * the pool only (restricting pairwise edges to the pool commutes with
    * the pairwise Jaccard predicate); the benchmark side of
    * decontamination broadcasts ([[Contamination]]). */
  def stages(docs: DataFrame, jaccardThreshold: Double,
             boundary: Boundary = (df, _) => df): Stages = {
    val bench = docs.filter(isBench)
    val pool = docs.filter(!isBench)
    val quality = boundary(qualityKept(pool), "1_quality")
    val deduped = boundary(dedupInPool(quality, jaccardThreshold), "2_dedup")
    val clean = boundary(
      Contamination.decontaminate(deduped, bench, minShared = 2L),
      "3_decontam")
    Stages(docs, bench, pool, quality, deduped, clean)
  }

  /** The incremental face's dedup step: the within-batch in-pool pass
    * ([[dedupInPool]] — the exact pass the batch pipeline runs) composed
    * IN FRONT of the store-backed dedup ([[graft.dedup.DedupStore
    * .ingest]]), so the batch and incremental faces give the same answer
    * for the same corpus however it is sliced into batches. Without the
    * front pass, two near-identical docs arriving in the SAME batch
    * both enter the store and both count as clean additions — while the
    * batch face (and a two-batch slicing) keeps only the min-id
    * survivor.
    *
    * Returns the batch docs that survived BOTH passes — exactly the
    * docs the store grew by. Scale: the within-batch pass is banded LSH
    * over the batch alone (∝ batch, like every other per-batch cost
    * here); the store-side pass stays ∝ batch band-bucket collisions.
    *
    * The survivor frame `wb` feeds two consumers (the store ingest and
    * the final anti-join) WITHOUT a staging boundary, deliberately:
    * [[Dedup.duplicateClusters]] eagerly localCheckpoints the components
    * walk, so the expensive in-pool lineage executes once at call time
    * and re-consumers replay only a cheap batch-side anti-join —
    * staging the ids through parquet was tried and MEASURED slower at
    * both sf0.1 and sf1 (the boundary write + reconstitution join buys
    * back recompute that the checkpoint already prevents). */
  def dedupIngest(spark: org.apache.spark.sql.SparkSession, storePath: String,
                  batch: DataFrame, jaccardThreshold: Double): DataFrame =
    dedupIngestPrepared(spark, storePath, dedupInPool(batch, jaccardThreshold),
      jaccardThreshold)

  /** [[dedupIngest]] with the within-batch pass ALREADY run — the face a
    * caller uses to overlap the (store-independent) in-pool dedup of the
    * first batch with the signature-store bootstrap (guide §2.6): the
    * in-pool pass reads only the batch, the store build reads only the
    * history, and [[dedupInPool]]'s duplicateClusters runs eagerly at
    * call time. Semantics identical to [[dedupIngest]] by construction
    * (it delegates here). */
  def dedupIngestPrepared(spark: org.apache.spark.sql.SparkSession,
                          storePath: String, wb: DataFrame,
                          jaccardThreshold: Double): DataFrame = {
    val report = graft.dedup.DedupStore.ingest(spark, storePath, wb, jaccardThreshold)
    // `new_id === dup_of` is a SELF-match: this doc's own signature is
    // already stored, i.e. a previous attempt of THIS batch appended it
    // (doc_ids are unique store-wide, the fsck invariant). The store
    // side correctly declines to re-append it, but for the SURVIVOR set
    // it is a clean addition, not a withheld near-dup — without this
    // filter a crash-replayed batch would report zero survivors and a
    // foreachBatch runtime would overwrite its output with an empty
    // batch. In a first attempt batch ids are disjoint from the store,
    // so the filter never fires (gate oracles unchanged). Scope: the
    // rescue assumes the prior attempt's ingest fully landed; a crash
    // INSIDE the store append (sets without buckets) is the store's
    // documented crash window, caught by its incremental audit, not
    // absorbed here (see StreamRuntime.runPrepIngest).
    wb.join(report.filter(col("new_id") =!= col("dup_of"))
        .select(col("new_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** The materializing [[Boundary]]: write the stage's surviving doc_id
    * set to `dir/<stage>` (ids only — at 100 TB the boundary table is
    * ~1e9 longs, not the corpus) and reconstitute the stage's rows by
    * joining the ids back onto `corpus`. The id write is the barrier
    * that makes every stage compute exactly once; the reconstitution
    * join is doc_id-keyed and AQE-sized (the id side is the smaller
    * one). Each boundary doubles as a restart/inspection point — the
    * operational reason real corpus builds stage.
    *
    * '''Resume''' (`resume = true`): a boundary whose table already
    * landed completely (`_SUCCESS` present) AND whose recorded
    * `_fingerprint` equals the caller's is REUSED — its upstream
    * computation is skipped entirely and downstream stages read the
    * existing id table. A crashed build therefore restarts at the first
    * incomplete boundary instead of from scratch: the restart cost is
    * the remaining stages only (SCALE.md). The fingerprint is the
    * guard: pass a string that encodes every input the staged ids
    * depend on — the dedup threshold, the holdout/quality definitions'
    * version, and the corpus identity/snapshot — so a changed config or
    * corpus invalidates the boundary (mismatch → recompute) rather than
    * silently resuming stale ids. The marker is written AFTER the
    * table, so a crash between the two leaves a boundary that resume
    * treats as incomplete (recompute — never a half-trusted table). */
  def stageTo(dir: String, corpus: DataFrame, resume: Boolean = false,
              fingerprint: String = ""): Boundary = (df, name) => {
    val p = s"$dir/$name"
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // underscore prefix: ignored by Spark's file listing, like _SUCCESS
    def markerMatches: Boolean =
      graft.FsOps.readMarker(spark, p, "_fingerprint").contains(fingerprint)
    val reusable = resume &&
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) && markerMatches
    if (!reusable) {
      graft.FsOps.writeParquet(df.select("doc_id"), p)
      graft.FsOps.writeMarker(spark, p, "_fingerprint", fingerprint)
    }
    corpus.join(graft.FsOps.readParquet(spark, p), Seq("doc_id"))
  }
}
