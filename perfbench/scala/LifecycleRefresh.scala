package graft.perfbench

import graft.queries.LifecycleOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One cycle of the generation store's write side, in a fresh base
  * directory, as three timed ops:
  *
  *  - `lifecycle.build`: `LifecycleOps.benchSnapshots` and `priorBuild`
  *    (gen_0);
  *  - `lifecycle.refresh`: `refreshTo` the newer snapshot (gen_1),
  *    collecting the per-shard result that q206 returns;
  *  - `lifecycle.read`: `generationDatasheet` over both generations.
  *
  * The refresh result must hash to q206's oracle-verified result, and the
  * datasheet to the generation 0 and 1 rows of q212's.
  */
object LifecycleRefresh {

  val Keys: Seq[String] = Seq("q206_incremental_refresh", "lifecycle_datasheet")
  val Phases: Seq[String] = Seq("build", "refresh", "read")

  /** The cycle's phases in order, each with the (key, result) it is
    * checked by; the build phase checks nothing. A phase may only run
    * after the one before it.
    */
  def steps(spark: SparkSession, dataDir: String, base: String)
      : Seq[(String, () => Option[(String, DataFrame)])] = {
    var newer: DataFrame = null
    Seq(
      "build" -> { () =>
        val (a, b) = LifecycleOps.benchSnapshots(spark, dataDir)
        newer = b
        LifecycleOps.priorBuild(spark, base, a)
        None
      },
      "refresh" -> (() => Some(Keys(0) -> LifecycleOps.refreshTo(spark, base, newer))),
      "read" -> (() => Some(Keys(1) -> LifecycleOps.generationDatasheet(spark, base))))
  }

  /** Runs one cycle as timed ops; a failed phase ends the cycle. */
  def cycle(spark: SparkSession, ctx: Ctx, expected: Map[String, String],
      tag: String): Seq[OpSpan] = {
    val base = ctx.dir(s"lifecycle-$tag")
    var ok = true
    val spans = steps(spark, ctx.dataDir, base).flatMap { case (name, step) =>
      if (!ok) None else {
        val span = Ops.timed(spark, s"$tag-lifecycle.$name", "lifecycle", s"lifecycle.$name") {
          step().forall { case (key, df) => Ops.hashMatches(key, df.collect(), expected(key)) }
        }
        ok = span.ok
        Some(span)
      }
    }
    Files.deleteRecursively(new java.io.File(base))
    spans
  }

  /** Per-layer metrics of the cycles in `ops` (traced pass only). */
  def layers(tr: Tracer, ops: Seq[OpSpan]): Seq[Metric] = {
    val mine = ops.filter(o => o.kind == "lifecycle" && o.ok)
    val per = mine.map(s => tr.op(s.id))
    val cycles = math.max(1, mine.count(_.name == "lifecycle.build")).toDouble
    Phases.map(p => Metric(s"lifecycle.${p}_s",
      Stats.median(mine.filter(_.name == s"lifecycle.$p").map(_.ms)) / 1e3, "s")) ++ Seq(
      Metric("lifecycle.spark.bytes_written_mb", per.map(_.bytesWritten).sum / 1e6 / cycles, "MB"),
      Metric("lifecycle.spark.records_written", per.map(_.recordsWritten).sum / cycles, "count"),
      Metric("lifecycle.spark.jobs", per.map(_.jobs).sum / cycles, "count"))
  }
}
