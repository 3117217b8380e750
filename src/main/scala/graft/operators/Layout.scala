package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional file layout: Z-order (Morton) clustering so that
  * parquet row-group/file min-max statistics prune on EVERY clustered
  * dimension, not just the leading sort key. Sorting 100 TB by
  * `(part, supplier)` lexicographically gives perfect pruning on
  * `part` and none on `supplier`; interleaving the two keys' bits
  * keeps both dimensions' per-file ranges narrow, which is what makes
  * a point/range predicate on either column skip most files at scan
  * time. Same layout idea as Delta/Iceberg OPTIMIZE ZORDER, built from
  * plain bit arithmetic.
  *
  * Everything here is exact integer arithmetic on BIGINT — codegen'd
  * built-ins only, bit-identical on any engine.
  */
object Layout {

  /** 2-D Morton key: the low `bits` bits of `x` and `y` interleaved
    * (x in even positions, y in odd). Inputs are expected already
    * quantized to [0, 2^bits) — pass `pmod(col, lit(1L << bits))` or a
    * range-bucketized value; high bits beyond `bits` are ignored.
    * 2·bits ≤ 62 keeps the key in a positive BIGINT.
    */
  def zOrderKey2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The same interleave as ANSI SQL text (for oracles / SQL engines):
    * a `|`-chain of shift-mask-shift terms over `xExpr`/`yExpr`.
    */
  def zOrderKey2Sql(xExpr: String, yExpr: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($xExpr >> $i) & 1) << ${2 * i})",
        s"((($yExpr >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")

  /** Cluster `df` for writing: range-partition by the Morton key into
    * `nFiles` output tasks and sort within each — the distributed
    * layout path (sampled range bounds, no global sort barrier, no
    * driver involvement beyond bound sampling). Write the result with
    * one file per partition and both dimensions' file-level min-max
    * stats stay narrow.
    */
  def clusterByZOrder(df: DataFrame, x: Column, y: Column, nFiles: Int,
      bits: Int = 16): DataFrame = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val keyed = df.withColumn("__zkey", zOrderKey2(x, y, bits))
    keyed.repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  /** n-D Morton key — [[zOrderKey2]] generalized to 3–4 clustering
    * dimensions (real lakehouse clustering specs are rarely 2-D): bit
    * `b` of dimension `d` lands at position `b·n + d`, so
    * `zOrderKeyN(Seq(x, y), bits) ≡ zOrderKey2(x, y, bits)`. Inputs
    * quantized to [0, 2^bits) as before; n·bits ≤ 62.
    */
  def zOrderKeyN(coords: Seq[Column], bits: Int): Column = {
    val n = coords.size
    require(n >= 2, s"need >= 2 dims, got $n")
    require(bits >= 1 && n * bits <= 62,
      s"n*bits must fit a positive BIGINT: $n dims x $bits bits")
    (0 until bits).flatMap { b =>
      coords.zipWithIndex.map { case (c, d) =>
        shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + d)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** [[zOrderKeyN]] as ANSI SQL text (oracle twin). */
  def zOrderKeyNSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.size
    (0 until bits).flatMap { b =>
      exprs.zipWithIndex.map { case (e, d) =>
        s"((($e >> $b) & 1) << ${b * n + d})"
      }
    }.mkString(" | ")
  }

  /** n-D Hilbert key ([[graft.plans.HilbertIndex]] — Skilling 2004):
    * same input contract as [[zOrderKeyN]], strictly better range-scan
    * locality (consecutive key values are always unit neighbors in
    * space, where Morton takes long diagonal jumps at power-of-two
    * boundaries — the reason Delta/Iceberg clustering is moving to
    * Hilbert). Spec-pinned: per-file span product ≤ Morton's on the
    * same data.
    */
  def hilbertKey(coords: Seq[Column], bits: Int): Column = {
    require(coords.size >= 2, s"need >= 2 dims, got ${coords.size}")
    graft.plans.HilbertIndex.column(bits, coords.map(_.cast("long")))
  }

  /** [[hilbertKey]] as an unrolled ANSI-SQL CTE chain — the oracle twin
    * of the sequential Skilling loop (each invert/exchange step is one
    * CTE so the oracle replays the exact state machine; the loop cannot
    * be one expression without exponential duplication).
    *
    * Emits CTE definitions (no leading/trailing comma) reading from
    * `from`, which must expose BIGINT columns `x0..x{n−1}` ALREADY
    * masked to [0, 2^bits) plus the `carry` columns; the final CTE
    * `h_key` exposes `carry` + `hkey`.
    */
  def hilbertSqlCtes(n: Int, bits: Int, carry: Seq[String],
      from: String): String = {
    require(n >= 2 && bits >= 1 && n * bits <= 62,
      s"n*bits must fit a positive BIGINT: $n dims x $bits bits")
    val xs = (0 until n).map(i => s"x$i")
    val carryList = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    val steps = scala.collection.mutable.ArrayBuffer.empty[String]
    var src = from
    var step = 0
    // inverse undo: one CTE per (bit level, dimension) invert/exchange
    for (qi <- (bits - 1) to 1 by -1; i <- 0 until n) {
      val q = 1L << qi
      val p = q - 1L
      val cols = xs.zipWithIndex.map {
        case (x, 0) if i == 0 =>
          s"CASE WHEN (x0 & $q) <> 0 THEN xor(x0, $p) ELSE x0 END AS x0"
        case (x, 0) =>
          s"CASE WHEN (x$i & $q) <> 0 THEN xor(x0, $p) " +
            s"ELSE xor(x0, (xor(x0, x$i) & $p)) END AS x0"
        case (x, j) if j == i =>
          s"CASE WHEN (x$i & $q) <> 0 THEN x$i " +
            s"ELSE xor(x$i, (xor(x0, x$i) & $p)) END AS x$i"
        case (x, _) => x
      }
      steps += s"h_s$step AS (SELECT $carryList${cols.mkString(", ")} FROM $src)"
      src = s"h_s$step"
      step += 1
    }
    // Gray encode: new_xi = xi ^ new_x{i−1}, cumulative
    val grayExprs = xs.indices.map { i =>
      (0 to i).map(j => s"x$j").reduceRight((a, b) => s"xor($a, $b)")
    }
    val grayCols = xs.indices.map {
      case 0 => "x0"
      case i => s"${grayExprs(i)} AS x$i"
    }
    steps += s"h_gray AS (SELECT $carryList${grayCols.mkString(", ")} FROM $src)"
    // t = xor-fold of (q−1) over set bits of x{n−1}, q from 2^{bits−1} to 2
    val tExpr = ((bits - 1) to 1 by -1).map { qi =>
      val q = 1L << qi
      s"CASE WHEN (x${n - 1} & $q) <> 0 THEN ${q - 1} ELSE 0 END"
    }.reduceOption((a, b) => s"xor($a, $b)").getOrElse("0")
    steps += s"h_t AS (SELECT $carryList${xs.mkString(", ")}, $tExpr AS t FROM h_gray)"
    val finCols = xs.map(x => s"xor($x, t) AS $x")
    steps += s"h_fin AS (SELECT $carryList${finCols.mkString(", ")} FROM h_t)"
    val interleave = (0 until bits).flatMap { b =>
      (0 until n).map(i => s"(((x$i >> $b) & 1) << ${b * n + (n - 1 - i)})")
    }.mkString(" | ")
    steps += s"h_key AS (SELECT $carryList$interleave AS hkey FROM h_fin)"
    steps.mkString(",\n")
  }
}
