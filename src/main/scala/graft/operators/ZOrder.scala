package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering — multi-dimensional data skipping
  * for scans that filter on MORE than the one column a sort can serve
  * (the `OPTIMIZE ZORDER BY` of Delta/Iceberg, re-expressed as plain
  * Spark: a derived clustering key + `repartitionByRange` +
  * `sortWithinPartitions`).
  *
  * Why it matters at 100 TB: parquet scans skip row groups / files via
  * per-column min/max footers. A layout sorted by `x` gives tight `x`
  * ranges but every file spans all of `y` — a predicate on `y` reads
  * everything. Interleaving the bits of `x` and `y` into one key and
  * clustering on it makes each file cover a small RECTANGLE in (x, y)
  * space, so a box predicate on either (or both) columns intersects only
  * a few files' bounds and ordinary pushdown skips the rest
  * (`ZOrderSpec` asserts the measured footer rectangles).
  *
  * The z-value is pure integer Column arithmetic (shift/and/or) —
  * whole-stage-codegen'd, engine-portable (the oracle reproduces it with
  * the same shifts in SQL), and usable directly as a clustering,
  * bucketing, or range-partitioning key.
  */
object ZOrder {

  /** Interleave the low `bits` bits of two non-negative integral columns:
    * bit i of `x` → bit 2i, bit i of `y` → bit 2i+1. Values ≥ 2^bits wrap
    * into the grid (callers pick `bits` to cover their domain; 20 bits ≈
    * 1M cells/dimension is plenty for file-level skipping — z-order needs
    * locality, not uniqueness). */
  def zValue2(x: Column, y: Column, bits: Int = 20): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xs = x.cast("long"); val ys = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The same interleave as DuckDB-runnable SQL (oracle twin). */
  def zValue2Sql(x: String, y: String, bits: Int = 20): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  private val Scratch = Seq("__zx", "__zy", "__xmin", "__xmax", "__ymin", "__ymax")

  /** `df` plus a `__z` column: each dimension min/max-normalized onto the
    * full `[0, 2^bits)` grid, then interleaved. Normalization is what
    * makes the curve balanced — on a skewed domain (say 150k × 200) a raw
    * interleave is dominated by the wider dimension's high bits and the
    * narrow dimension gets no file-level resolution. All arithmetic is
    * exact integer (`div`), so the oracle reproduces z bit-for-bit; the
    * corpus-wide min/max ride along as a broadcast 1-row cross join (no
    * driver collect, and at 100 TB the stats pass is a cheap
    * footer-served column-pruned scan). */
  def zOrdered(df: DataFrame, xCol: String, yCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val clash = df.columns.toSeq.intersect(Scratch :+ "__z")
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} are reserved as ZOrder scratch names")
    val scale = (1L << bits) - 1
    val stats = df.agg(
      min(col(xCol)).cast("long").as("__xmin"), max(col(xCol)).cast("long").as("__xmax"),
      min(col(yCol)).cast("long").as("__ymin"), max(col(yCol)).cast("long").as("__ymax"))
    def grid(c: String, lo: String, hi: String) =
      expr(s"CASE WHEN $hi = $lo THEN CAST(0 AS BIGINT) " +
           s"ELSE (CAST($c AS BIGINT) - $lo) * $scale div ($hi - $lo) END")
    df.crossJoin(broadcast(stats))
      .withColumn("__zx", grid(xCol, "__xmin", "__xmax"))
      .withColumn("__zy", grid(yCol, "__ymin", "__ymax"))
      .withColumn("__z", zValue2(col("__zx"), col("__zy"), bits))
      .drop(Scratch: _*)
  }

  /** The normalized z as DuckDB-runnable SQL over table `table` (oracle
    * twin of [[zOrdered]]): yields `outCols…, zval`. */
  def zOrderedSql(table: String, xCol: String, yCol: String,
                  outCols: Seq[String], bits: Int = 16): String = {
    val scale = (1L << bits) - 1
    def grid(c: String, lo: String, hi: String) =
      s"CASE WHEN $hi = $lo THEN 0 ELSE ($c - $lo) * $scale // ($hi - $lo) END"
    s"""SELECT ${outCols.mkString(", ")},
               CAST(${zValue2Sql("gx", "gy", bits)} AS BIGINT) AS zval
        FROM (SELECT ${outCols.mkString(", ")},
                     ${grid(xCol, "xmin", "xmax")} AS gx,
                     ${grid(yCol, "ymin", "ymax")} AS gy
              FROM $table CROSS JOIN
                   (SELECT min($xCol) AS xmin, max($xCol) AS xmax,
                           min($yCol) AS ymin, max($yCol) AS ymax FROM $table))"""
  }

  /** Rewrite `df` at `path` clustered on the normalized z-value of
    * (`xCol`, `yCol`): `nFiles` range partitions of the z-curve, rows
    * sorted by z within each — every output file covers one contiguous
    * curve segment, i.e. a small (x, y) rectangle. The scratch key is
    * dropped before write; the projection preserves the established
    * order. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    nFiles: Int, bits: Int = 16): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    graft.FsOps.writeParquet(zOrdered(df, xCol, yCol, bits)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"), path)
  }
}
