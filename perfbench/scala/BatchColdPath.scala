package graft.perfbench

import graft.SparkEntry
import graft.queries.LifecycleOps
import org.apache.spark.sql.SparkSession

/** `batch-cold-path`: input to complete result on the batch side, run as
  * one set in a seeded order and timed op by op:
  *
  *  - medallion q46/q47/q51/q52 (bronze, silver and gold wire path);
  *  - scoring q21/q71;
  *  - the job-chain pipeline q179 (about 160 single-task jobs);
  *  - q196, on the text kernels;
  *  - q207, with real shuffle work;
  *  - one [[LifecycleRefresh]] cycle (build, refresh, readback), the
  *    write side of the store code q179 reads through.
  *
  * Each query result's content hash must equal the recorded hash of its
  * oracle-verified result (`expected.tsv`). A run measures at least one
  * set, cold, as a scheduled job in a fresh JVM would run it; that
  * includes q51/q52 building their wire fixtures on first call, in the
  * run's fresh temp directory. Set-up scans the lifecycle snapshots.
  */
object BatchColdPath extends Workload {

  val Queries: Seq[String] = Seq(
    "q46_trust_silver", "q47_ml_trust_training", "q51_product_silver",
    "q52_comment_silver", "q21_trending_scores", "q71_momentum_trending",
    "q179_corpus_to_shards_v2", "q196_data_card", "q207_triangle_doulion")

  final class Prepared(val expected: Map[String, String])

  def setup(spark: SparkSession, ctx: Ctx): Prepared = {
    val expected = Expected.load(ctx)
    (Queries ++ LifecycleRefresh.Keys).foreach(q =>
      require(expected.contains(q), s"no expected hash for $q"))
    val (a, b) = LifecycleOps.benchSnapshots(spark, ctx.dataDir)
    a.count(); b.count()
    new Prepared(expected)
  }

  def run(spark: SparkSession, ctx: Ctx, prep: Prepared,
      tracer: Option[Tracer]): PassResult = {
    val rnd = new scala.util.Random(ctx.seed)
    val deadline = Clock.nowMs + ctx.seconds * 1000
    val sets = Seq.newBuilder[Seq[OpSpan]]
    var set = 0
    while (set == 0 || Clock.nowMs < deadline) {
      val tag = s"${if (tracer.isDefined) "t" else "u"}$set"
      val steps = rnd.shuffle[Option[String], Seq[Option[String]]](Queries.map(Some(_)) :+ None)
      sets += steps.flatMap {
        case Some(q) => Seq(Ops.timed(spark, s"$tag-$q", "query", q)(
          Ops.hashMatches(q, SparkEntry.queries(q)(spark, ctx.dataDir).collect(), prep.expected(q))))
        case None => LifecycleRefresh.cycle(spark, ctx, prep.expected, tag)
      }
      set += 1
    }
    val all = sets.result()
    val good = all.filter(s => s.forall(_.ok) && s.size == Queries.size + 3)
    val setMs = good.map(s => s.last.endMs - s.head.startMs)
    def partS(kind: String) = Stats.median(good.map(_.filter(_.kind == kind).map(_.ms).sum)) / 1e3
    val ops = all.flatten
    val layers = tracer.toSeq.flatMap { tr =>
      Queries.flatMap { q =>
        val mine = ops.filter(s => s.name == q && s.ok)
        val per = mine.map(s => tr.op(s.id))
        val n = math.max(1, mine.size).toDouble
        val wallS = mine.map(_.ms).sum / 1e3
        Seq(
          Metric(s"batch.${q}_s", Stats.median(mine.map(_.ms)) / 1e3, "s"),
          Metric(s"batch.$q.spark.jobs", per.map(_.jobs).sum / n, "count"),
          Metric(s"batch.$q.spark.stages", per.map(_.stages).sum / n, "count"),
          Metric(s"batch.$q.spark.tasks", per.map(_.tasks).sum / n, "count"),
          Metric(s"batch.$q.spark.driver_only_s", mine.map(tr.selfMs).sum / 1e3 / n, "s"),
          Metric(s"batch.$q.spark.core_busy_frac",
            per.map(_.taskRunMs).sum / 1e3 / (wallS * ctx.cores), "frac"),
          Metric(s"batch.$q.spark.shuffle_write_mb", per.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB"),
          Metric(s"batch.$q.spark.spill_mb", per.map(_.spillBytes).sum / 1e6 / n, "MB"))
      } ++ LifecycleRefresh.layers(tr, ops)
    }
    val medSetMs = Stats.median(setMs)
    PassResult(
      e2e = Seq(
        Metric("p50_ms", medSetMs, "ms"),
        Metric("throughput_per_s", (Queries.size + 3) / (medSetMs / 1e3), "1/s")),
      named = Seq(
        Metric("batch_s", partS("query"), "s"),
        Metric("lifecycle_s", partS("lifecycle"), "s")),
      attempted = ops.size,
      failed = ops.count(!_.ok),
      ops = ops,
      layers = layers,
      context = Seq("sets" -> setMs.size, "queries" -> Queries,
        "lifecycle_cycle" -> LifecycleRefresh.Phases))
  }
}

/** Content hashes of the oracle-verified results (`expected.tsv`, lines
  * of `name<TAB>hash`).
  */
object Expected {
  def load(ctx: Ctx): Map[String, String] =
    scala.io.Source.fromFile(s"${ctx.benchDir}/expected.tsv", "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
}
