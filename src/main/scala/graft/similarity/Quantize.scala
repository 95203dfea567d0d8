package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric int8 vector quantization — the storage/bandwidth half of a
  * vector index: each embedding is stored as `(scale, array<tinyint
  * as int>)` with `q_i = round(v_i / scale)`, `scale = max|v| / 127`,
  * reconstructing to within scale/2 per component. A 64-dim float
  * vector (256 B) becomes 64 B + one float — the 4× that decides
  * whether an ANN corpus fits executor memory at 100 TB.
  *
  * Pure per-row Column arithmetic fused into the scan (higher-order
  * functions, no UDF); dequantization is the inverse transform. All
  * arithmetic is double-precision with explicit rounding, so the
  * quantized codes are engine-reproducible and oracle-verifiable.
  */
object Quantize {

  /** `(id, scale, qvec)` — scale rounded to 9 dp (reproducibility),
    * codes CLAMPED to [-127, 127]. Zero vectors get scale 0 and all-zero
    * codes. The clamp is load-bearing, not belt-and-braces: the 9-dp
    * rounding can round scale DOWN (e.g. max|v| = 1.2e-5 → scale
    * 9.4e-8), so round(max|v|/scale) can reach 128 — which would
    * overflow the byte cast in IvfStore.writeIndexQuantized under
    * Spark 4's default ANSI mode. */
  def toInt8(df: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = round(maxAbs / lit(127.0), 9)
    df.select(col(idCol).as("id"), v.as("v"), scale.as("scale"))
      .select(col("id"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => greatest(lit(-127L),
              least(lit(127L), round(x / col("scale"), 0).cast("long")))))
          .as("qvec"))
  }

  /** Inverse transform: `(id, vec)` with `vec_i = q_i · scale` (doubles,
    * rounded to 6 dp). */
  def fromInt8(q: DataFrame): DataFrame =
    q.select(col("id"), dequantized.as("vec"))

  /** The reconstruction `round(q_i · scale, 6)` of a row's `qvec` and
    * `scale` columns, as doubles — the one definition every reader of the
    * codes uses (IVF probes, norms, audits and re-assignment); a caller
    * that needs floats casts the result. */
  private[graft] def dequantized: Column =
    transform(col("qvec"), x => round(x.cast("double") * col("scale"), 6))
}
