package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embedding columns.
  *
  * Built on `zip_with`/`aggregate` higher-order functions: no UDF, no
  * serialization boundary, works on any array length. Accumulation is in
  * double (promoted element-wise) and strictly left-to-right by index, so
  * results are deterministic and reproducible across runs and engines.
  * For the 100 TB path, a codegen'd Catalyst `Expression` over the raw
  * float arrays is the planned upgrade; the call sites only use this API.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ with double accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with zero-vector guard (0.0 for zero norms). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  /** Deterministic random-hyperplane weights, derived ONCE at plan-build
    * time (not per row — the per-row xxhash64-of-string-concat form cost
    * dim×nPlanes hashes per row inside interpreted lambdas). Weights are
    * integer-valued (uniform in [-500, 500]), so they are exactly
    * representable in float/double on any engine — the projection's sign
    * is scale-free, so integer weights lose nothing, and an external
    * oracle (DuckDB) can embed the same literals and reproduce buckets
    * bit-for-bit. Seeded from xxhash64 of "plane_index" (the same
    * deterministic no-RNG-state construction as before).
    */
  def hyperplaneWeights(plane: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"${plane}_$i"),
        org.apache.spark.sql.types.StringType, 42L)
      (java.lang.Math.floorMod(h, 1001L) - 500L).toFloat
    }

  /** Sign bit of hyperplane `plane` applied to an `array<float>` vector of
    * known width `dim`: a single codegen'd fused dot against a literal
    * weight array.
    */
  def hyperplaneBit(vec: Column, plane: Int, dim: Int): Column =
    when(graft.plans.VectorExpressions.dotNative(
      vec, lit(hyperplaneWeights(plane, dim))) >= 0, 1).otherwise(0)

  /** Random-hyperplane LSH bucket id from `nPlanes` sign bits. `dim` is the
    * (fixed, known) embedding width — literal planes are built for it at
    * plan time.
    *
    * Fails fast on a width mismatch: without the guard, the literal-weight
    * dot is NULL for every row, every sign bit silently falls to 0, and
    * all rows share bucket 0 — turning the "LSH" join into a full cross
    * product with no error anywhere.
    */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column = {
    val bucket = (0 until nPlanes).map(p => hyperplaneBit(vec, p, dim) * (1 << p)).reduce(_ + _)
    when(assert_true(size(vec) === dim,
      lit(s"lshBucket: embedding width must be $dim")).isNull, bucket)
  }

  /** DuckDB twin of [[lshBucket]] over a DOUBLE[] expression `v`: the same
    * literal weights interpolated into SQL. Kept next to the Spark form so
    * the two can never drift.
    */
  def lshBucketSql(v: String, nPlanes: Int, dim: Int): String =
    (0 until nPlanes).map { p =>
      val ws = hyperplaneWeights(p, dim).map(w => w.toInt.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product($v, $ws) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Full SRP (signed-random-projection) binary code — Charikar's
    * SimHash for vectors (STOC 2002): `nPlanes` sign bits packed into
    * ONE BIGINT, so a 256-byte float embedding compresses to 8 bytes
    * whose Hamming distance estimates the angle. Where [[lshBucket]]
    * uses a few bits as an equality-join BUCKET, the code is a RANKING
    * sketch: scan-by-XOR-popcount, shortlist, exact rerank — the binary
    * sibling of the PQ/ADC family. Same deterministic plan-time literal
    * planes ([[hyperplaneWeights]]); capped at 62 bits so the code stays
    * non-negative on any engine (DuckDB overflows on BIGINT << 63).
    */
  def srpCode(vec: Column, nPlanes: Int, dim: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"srpCode supports 1..62 planes, got $nPlanes")
    // ONE SrpPackedCode expression, not nPlanes composed hyperplaneBit
    // dots: 62 inlined dot loops blow the generated method past
    // HotSpot's JIT threshold and the stage runs interpreted (~100×,
    // measured — see the expression's scaladoc). Same bit semantics.
    val code = graft.plans.SrpCodeExpression.srpPackedCode(vec,
      Array.tabulate(nPlanes)(p => hyperplaneWeights(p, dim)))
    when(assert_true(size(vec) === dim,
      lit(s"srpCode: embedding width must be $dim")).isNull, code)
  }

  /** DuckDB twin of [[srpCode]] — same literal planes, same bit layout. */
  def srpCodeSql(v: String, nPlanes: Int, dim: Int): String = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"srpCodeSql supports 1..62 planes, got $nPlanes")
    (0 until nPlanes).map { p =>
      val ws = hyperplaneWeights(p, dim).map(w => w.toInt.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product($v, $ws) >= 0 THEN (CAST(1 AS BIGINT) << $p) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")
  }
}
