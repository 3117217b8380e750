package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Run-wide settings handed to every workload. */
final case class Ctx(
    seed: Long,
    seconds: Double,
    cores: Int,
    benchDir: String,
    workDir: String) {
  def dataDir: String = s"$benchDir/data/sf0.01"
  def dir(name: String): String = s"$workDir/$name"
}

/** One timed op (tick, micro-batch, request, query or lifecycle phase).
  * Times are epoch milliseconds on the [[Clock]] base, so they line up
  * with Spark listener timestamps. `ok = false` marks a thrown or
  * mismatched op; its time never enters a latency sample.
  */
final case class OpSpan(id: String, kind: String, name: String,
    startMs: Double, endMs: Double, ok: Boolean) {
  def ms: Double = endMs - startMs
}

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one measured pass of a workload produced.
  *
  *  - `e2e`: the workload-independent end-to-end metrics (`p50_ms`,
  *    `throughput_per_s`, and `tail_ms` where at least ten samples lie
  *    beyond the p95; `setup_s` is added by [[Main]]).
  *  - `named`: the workload's own end-to-end metrics under their
  *    workload-specific names (`serving_p95_ms`, `batch_s`, ...).
  *  - `ops`: the spans the trace attributes Spark jobs to.
  *  - `layers`: workload-specific per-layer metrics; filled only when the
  *    pass is traced.
  */
final case class PassResult(
    e2e: Seq[Metric],
    named: Seq[Metric],
    attempted: Long,
    failed: Long,
    ops: Seq[OpSpan],
    layers: Seq[Metric] = Nil,
    context: Seq[(String, Any)] = Nil)

/** A workload: inputs and references are built by `setup`, `warm` lets
  * caches and the JIT settle (both count in `setup_s`), then `run`
  * measures one pass against the prepared state.
  */
trait Workload {
  type Prepared
  def setup(spark: SparkSession, ctx: Ctx): Prepared
  def warm(spark: SparkSession, ctx: Ctx, prep: Prepared): Unit = ()
  def run(spark: SparkSession, ctx: Ctx, prep: Prepared,
      tracer: Option[Tracer]): PassResult
}

/** Epoch-millisecond wall clock with sub-millisecond resolution. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

object Stats {
  /** Nearest-rank quantile (q in [0, 1]); NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** p95 is only reported when at least ten samples lie beyond it. */
  def p95Supported(n: Int): Boolean = n - math.ceil(0.95 * n).toInt >= 10
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => obj(Seq("value" -> m.value, "unit" -> m.unit))
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty =>
      obj(s.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def metrics(ms: Seq[Metric]): String = obj(ms.map(m => m.name -> m))
}

/** Order- and column-order-insensitive content hash of a result, the
  * same canonical form the oracle comparison uses: columns sorted by
  * name, rows sorted by their rendering.
  */
object Canon {
  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => o.toString
  }

  def hash(rows: Array[Row]): String = {
    val lines = if (rows.isEmpty) Array.empty[String] else {
      val names = rows.head.schema.fieldNames
      val order = names.indices.sortBy(names(_))
      rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .take(12).map("%02x".format(_)).mkString
  }
}

object Files {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }
}

object Ops {
  /** Runs `body` as op `id` (its Spark jobs are attributed to it); an
    * exception or a `false` result marks the op failed.
    */
  def timed(spark: SparkSession, id: String, kind: String, name: String)
      (body: => Boolean): OpSpan = {
    val a = Clock.nowMs
    val ok = try Tracer.asOp(spark, id)(body) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    OpSpan(id, kind, name, a, Clock.nowMs, ok)
  }

  def hashMatches(key: String, rows: Array[Row], expected: String): Boolean = {
    val h = Canon.hash(rows)
    if (h != expected) System.err.println(s"[perfbench] $key hash $h != expected $expected")
    h == expected
  }
}
