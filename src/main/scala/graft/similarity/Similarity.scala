package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), using only higher-order column functions — the dot
  * product and norms fold inside whole-stage codegen; no UDFs.
  *
  * Scale design: [[bruteForceTopK]] broadcasts the (small) query set and
  * scans the corpus once — O(corpus × queries) multiply-adds, embarrassingly
  * parallel, per-partition top-k via window-free TakeOrdered when k is
  * global or window row_number per query (shuffle on query_id). For
  * corpus-scale ANN, [[signBuckets]] assigns each vector to a
  * random-hyperplane sign bucket; the bucketed join touches only
  * same-bucket candidates (tunable recall via `nPlanes` and multi-probe).
  */
object Similarity {

  /** Sequential left-fold dot product of two float arrays as double —
    * element order fixed, so the result is bit-deterministic. Declarative
    * reference implementation; the hot paths use [[dotFast]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot product (custom Catalyst expression) — bit-identical
    * to [[dot]] (same left-to-right double accumulation) but a primitive
    * loop with no per-row array allocation. */
  def dotFast(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotF(a, b)

  def norm(a: Column): Column = sqrt(dotFast(a, a))

  /** Division that treats a zero denominator as similarity −1 — the
    * BOTTOM of the cosine range: a ZERO vector has no direction, so it
    * must never outrank a genuine neighbor (a similarity of 0 would
    * place a corrupt all-zero embedding ABOVE real negative-cosine
    * results in top-k; −1 makes direction-less vectors sink, tied only
    * with exact-opposite matches). Under Spark 4's default ANSI mode a
    * bare `/` THROWS DIVIDE_BY_ZERO, so without this guard one zero
    * embedding anywhere in a corpus kills the whole build/probe/audit
    * job at 100 TB — row-level bad data must degrade per-row, never
    * fail the job. CaseWhen branches evaluate lazily, so healthy rows
    * run the exact same division as before (bit-identical scores). */
  private def zeroSafeCos(num: Column, den: Column): Column =
    when(den === 0.0, lit(-1.0)).otherwise(num / den)

  def cosine(a: Column, b: Column): Column =
    zeroSafeCos(dotFast(a, b), norm(a) * norm(b))

  /** Cosine from a precomputed-norm layout: at N·M pair volume this does
    * one dot per pair instead of three. */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    zeroSafeCos(dotFast(a, b), normA * normB)

  /** Exact top-k neighbors for each query vector: `(query_id, vec_id, cos,
    * rank)`, self-matches excluded, ties broken by vec_id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("nq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePrenormed(col("v"), col("qv"), col("nv"), col("nq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic Rademacher (±1) hyperplane component for plane `p`,
    * dimension `d`: +1 iff the top bit of md5("p_d") is set. ±1 planes
    * lose nothing vs Gaussian for sign-LSH (the collision probability
    * 1 − θ/π only needs symmetric random directions) and — unlike a
    * seeded Gaussian — the whole bucketing is *portable*: any engine
    * with md5 reproduces it bit-for-bit (DuckDB:
    * `('0x' || substr(md5(p || '_' || d), 1, 1))::INT >= 8`), which is
    * what lets sign-LSH gate queries carry full SQL oracles.
    */
  def radComponent(p: Int, d: Int): Float =
    if (org.apache.spark.sql.graft.VectorExpressions.radPositive(p, d)) 1.0f else -1.0f

  /** Sign-LSH bucket id for a vector column: bit i = sign(v · plane_i),
    * planes drawn from the deterministic family above. One custom
    * expression evaluates all planes in a single pass
    * ([[org.apache.spark.sql.graft.RadSignBuckets]] — the
    * literal-array-per-plane formulation put bands·bits·dim literals into
    * codegen and made Janino compilation the query's dominant cost). */
  def signBucket(v: Column, nPlanes: Int = 12, dim: Int = 64): Column =
    element_at(
      org.apache.spark.sql.graft.VectorExpressions.radBuckets(v, 1, nPlanes, dim), 1)

  /** Banded sign-LSH buckets as one `array<long>` (index = band, value =
    * bucket id), band b using planes [b·bandBits, (b+1)·bandBits). A pair
    * is a candidate if it collides in ANY band — recall
    * 1-(1-p^bandBits)^bands for per-bit collision p = 1 - θ/π. Few bits
    * per band → high recall at a given similarity; more bits → fewer
    * candidates (buckets = 2^bandBits per band). At 100 TB: bandBits must
    * grow with log₂(n) to keep per-bucket occupancy bounded; the fixture
    * gate uses 16×4 for ~97% recall at cos 0.5.
    */
  def radBandBuckets(v: Column, bands: Int, bandBits: Int, dim: Int = 64): Column =
    org.apache.spark.sql.graft.VectorExpressions.radBuckets(v, bands, bandBits, dim)

  /** K-means centroids over an embedding column, as pure DataFrame ops:
    * deterministic seeding from the lowest-id vectors, then `iters` Lloyd
    * iterations (assign to nearest centroid by cosine distance →
    * recompute elementwise means). The per-iteration shape is the
    * standard scalable one: centroids broadcast (≤ nCentroids rows), one
    * corpus pass for assignment, one (cid, dim)-keyed aggregation for the
    * means — no driver-side math, no collect. Zero centroids would give
    * every vector no list home (an inner assignment join drops them all),
    * so `nCentroids` must be positive.
    */
  def kmeansCentroids(corpus: DataFrame, nCentroids: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nCentroids >= 1, s"nCentroids must be >= 1 (got $nCentroids)")
    var cents = corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cent_src"), col(vecCol).as("cvec"))
      // global window numbering nCentroids (<= dozens) seed rows —
      // single-partition by design; the WindowExec warning is benign
      .withColumn("cid", row_number().over(Window.orderBy(col("cent_src"))))
      .select("cid", "cvec")
    for (_ <- 0 until iters) {
      val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
        .crossJoin(broadcast(cents))
        .withColumn("cdist", lit(1.0) - cosine(col("v"), col("cvec")))
        .groupBy(col("id"), col("v"))
        .agg(min_by(col("cid"), col("cdist")).as("cid"))
      cents = assigned
        .select(col("cid"), posexplode(col("v")))
        // Lloyd means pin to a 4-dp grid before the float cast: the
        // distributed sum's order-dependent noise (~1e-13) cannot flip
        // a 0.5e-4 rounding boundary, so the refined centroids are
        // REPRODUCIBLE arithmetic — any engine (or the DuckDB oracle,
        // q_ann_ivf_refined) summing the same components in any order
        // lands on the same grid point. Retrieval-neutral: a 1e-4
        // centroid perturbation is far below cluster radii (centroids
        // are list homes, never scores).
        .groupBy("cid", "pos").agg(round(avg(col("col")), 4).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), x => x.getField("m").cast("float")).as("cvec"))
    }
    cents
  }

  /** IVF-style ANN: corpus vectors are assigned to their nearest of
    * `nCentroids` centroid vectors (deterministically seeded from the
    * lowest-id corpus vectors, refined by `kmeansIters` Lloyd
    * iterations); a query probes its `nProbe` nearest centroid lists
    * only. Candidate volume ≈ corpus·nProbe/nCentroids per query.
    * Output shape matches [[bruteForceTopK]]; recall is the IVF curve.
    */
  /** Nearest-centroid assignment (keep = 1) or nProbe-nearest (keep > 1)
    * against an already-broadcast centroid frame `(cid, cvec)` — shared by
    * the in-memory [[ivfTopK]] and the persisted [[graft.similarity.IvfStore]]. */
  def assignToCentroids(df: DataFrame, cents: DataFrame,
                        id: String, v: String, keep: Int): DataFrame = {
    val scored = df.crossJoin(cents)
      .withColumn("cdist", lit(1.0) - cosine(col(v), col("cvec")))
    if (keep == 1)
      scored.groupBy(col(id), col(v))
        .agg(min_by(col("cid"), col("cdist")).as("cid"))
    else {
      val w = Window.partitionBy(col(id)).orderBy(col("cdist").asc, col("cid").asc)
      scored.withColumn("r", row_number().over(w)).filter(col("r") <= keep)
        .select(col(id), col(v), col("cid"))
    }
  }

  /** The probe-join + rank tail shared by the in-memory and store paths:
    * `lists` = (cid, vec_id, v, nv), `q` = (cid, query_id, qv, nq);
    * `dotOf` scores the pairs ([[dotFast]] needs float arrays on both
    * sides; [[dot]] takes any numeric arrays). */
  private[similarity] def probeRank(lists: DataFrame, q: DataFrame, k: Int,
                                    dotOf: (Column, Column) => Column = dotFast): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    lists.join(broadcast(q), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", zeroSafeCos(dotOf(col("v"), col("qv")), col("nv") * col("nq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = broadcast(kmeansCentroids(corpus, nCentroids, kmeansIters, idCol, vecCol))
    val c = assignToCentroids(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v")),
      cents, "vec_id", "v", keep = 1)
      .withColumn("nv", norm(col("v")))
    val q = assignToCentroids(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      cents, "query_id", "qv", keep = nProbe)
      .withColumn("nq", norm(col("qv")))
    probeRank(c, q, k)
  }

  /** ANN top-k via sign-LSH bucketing: candidates = same-bucket vectors
    * (approximate — recall grows as nPlanes shrinks). Output shape matches
    * [[bruteForceTopK]].
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 12, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              probeBits: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv"),
      signBucket(col(vecCol), nPlanes, dim).as("bucket"))
    // multi-probe: a near neighbor on the far side of one hyperplane
    // lands in a 1-bit-flipped bucket — probe those too (probeBits=1
    // multiplies candidates by nPlanes+1 and sharply lifts recall).
    val baseQ = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("nq"),
      signBucket(col(vecCol), nPlanes, dim).as("bucket"))
    val q =
      if (probeBits == 0) baseQ
      else baseQ.withColumn("bucket",
        explode(array(col("bucket") +:
          (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    c.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePrenormed(col("v"), col("qv"), col("nv"), col("nq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }
}
