package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared report shape and lifecycle for the store integrity checkers
  * ("fsck") of the four store families — [[graft.index.Indexer]],
  * [[graft.dedup.DedupStore]], [[graft.similarity.IvfStore]] and
  * [[graft.streaming.VersionedStore]]: one row per invariant,
  * `(invariant: string, checked: long, violations: long)`, all-zero
  * `violations` on a healthy store. Checks absent by design report
  * `checked = 0` instead of dropping the row, so every checker's report
  * schema is stable for monitoring.
  *
  * Full/incremental contract. Each family has a deep `checkStore` (the
  * scheduled audit over the whole store) and a daily
  * `checkStoreIncremental` scoped to the batches (versions, for the
  * versioned store) after the [[lastAudited]] watermark. Every invariant
  * both audits check is defined ONCE per family, as a private function
  * of the frames it audits and a name prefix: the deep audit calls it on
  * the whole tables with prefix `""`, the incremental one on the
  * `batch > since` frames with prefix `"delta_"` — so `delta_<x>` is
  * `<x>` restricted to the delta, and the two audits cannot drift apart.
  * Scoped to everything (`sinceBatch = Some(-1)`; `sinceVersion =
  * Some(0)` for the versioned store) the incremental audit reports the
  * deep audit's `(checked, violations)` for every shared row. The shared
  * invariants:
  *   - index: `postings_bucket_layout`, `postings_docs_in_doc_stats`,
  *     `positional_matches_postings`
  *   - dedup: `bucket_cardinality`, `buckets_match_signatures`,
  *     `id_surface_match`
  *   - IVF: `centroid_cover`, `lists_assignment`, `norms_consistent`,
  *     `codes_wellformed` (plus the unprefixed `centroids_wellformed`,
  *     a whole-store row both modes carry)
  *   - versioned store: `commit_key_unique`, `op_wellformed`,
  *     `log_contiguous`, `checkpoint_matches_log`
  *
  * Rows only one mode has, and why:
  *   - deep only — index `tombstones_valid`, `vocab_matches_live`,
  *     `meta_matches_live`: whole-store statements with no delta
  *     decomposition (derived state over the live view); index
  *     `positional_bucket_layout`: the incremental audit covers the
  *     positional delta through `delta_positional_matches_postings`,
  *     and a new row would change its report schema; IVF
  *     `merged_provenance`, `merged_provenance_range`,
  *     `merged_groups_advisory`: they audit the merged layers, which lie
  *     at or below the merge's ordinal floor, where the merge sets the
  *     watermark.
  *   - incremental only — index `delta_docs_unique` (a delta doc_id
  *     against the whole doc_stats surface) and
  *     `delta_full_audit_forced_doc_compaction` (reports a compaction
  *     that defeated the delta's file skipping).
  *   - both, defined separately — `ids_unique` (deep: duplicates within
  *     the table) and `delta_ids_unique` (delta ids against the whole id
  *     surface): different statements, so they are not one function.
  *
  * The checkers never advance the watermark themselves — an audit that
  * mutates the store it audits would make a red report unrepeatable;
  * callers [[markAudited]] after a clean report.
  */
object StoreCheck {

  /** Normalize a 1-row aggregate carrying `checked`/`violations` into a
    * report row. Null aggregates (sums over empty tables) coalesce to 0. */
  def row(name: String, agg: DataFrame): DataFrame =
    agg.select(lit(name).as("invariant"),
      coalesce(col("checked"), lit(0L)).cast("long").as("checked"),
      coalesce(col("violations"), lit(0L)).cast("long").as("violations"))

  /** Report row for a check that does not apply to this store. */
  def emptyRow(spark: SparkSession, name: String): DataFrame =
    spark.range(1).select(lit(name).as("invariant"),
      lit(0L).as("checked"), lit(0L).as("violations"))

  /** Assemble the final report: union the per-invariant rows, ordered by
    * invariant name for deterministic output. */
  def report(rows: Seq[DataFrame]): DataFrame =
    rows.reduce(_.unionByName(_)).orderBy("invariant")

  /** Run a deep checker. The deep checkers cache their audited tables so
    * every invariant reads ONE shared materialization instead of
    * re-scanning the store per check (a deep audit at 100 TB is priced
    * per pass over the big tables): `rows` builds the report rows,
    * persisting each audited table through the function it is handed.
    * Two or more cached tables fill CONCURRENTLY ([[Par]]) before the
    * report's single collect consumes them — left lazy, they would fill
    * one by one inside that job's stage schedule; a lone table fills
    * inside the report's own job, since filling it first would only add
    * an action. The caches are released in a `finally` whatever
    * happens. */
  def audit(spark: SparkSession)(
      rows: (DataFrame => DataFrame) => Seq[DataFrame]): DataFrame = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val rep = report(rows { df =>
        cached += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.last
      })
      if (cached.size > 1) Par.run(cached.toSeq.map(df => () => { df.count(); () }): _*)
      materialize(spark, rep)
    } finally cached.foreach(_.unpersist())
  }

  /** Force the report NOW and return it as a small local frame: the
    * cache can only be released once the report rows are computed, so a
    * lazily-returned report would either leak the cache or re-scan at
    * every later evaluation. The report is ≤ a dozen rows — bounded
    * driver metadata by design — and an eager report is also what the
    * detect→repair compositions want: a lazy frame would silently
    * re-audit the REPAIRED store when evaluated after the repair. */
  def materialize(spark: SparkSession, report: DataFrame): DataFrame = {
    val rows = report.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
  }

  // ---- the audit watermark: the highest batch ordinal (log version, for
  // the versioned store) an audit has vouched for, one long in a
  // driver-side marker at the store root. Every family's
  // `lastAudited`/`markAudited` forwards here.

  private[graft] val LastAuditMarker = "_last_audit"

  /** Highest ordinal an audit has vouched for (None = never audited). */
  def lastAudited(spark: SparkSession, path: String): Option[Long] =
    graft.FsOps.readLongMarker(spark, path, LastAuditMarker)

  /** Record that every ordinal up to `upTo` (default: `newest`, the
    * family's newest ordinal) has been audited, and return it; with
    * neither, fail with `markAudited: <unscoped>`. */
  def markAudited(spark: SparkSession, path: String, upTo: Option[Long],
                  newest: => Option[Long], unscoped: => String): Long = {
    val v = upTo.orElse(newest).getOrElse(
      throw new IllegalStateException(s"markAudited: $unscoped"))
    graft.FsOps.writeLongMarker(spark, path, LastAuditMarker, v)
    v
  }
}
