package graft.perfbench

import graft.Tables
import graft.etl.Serving
import graft.functions.Scores
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `serving-mix`: closed loop, one client thread per core, each sending
  * its next request when the previous reply arrives (dashboard panels
  * wait for their data).
  *
  * A seeded mix of the API's read shapes goes through `etl.Serving`,
  * one request of each shape per block of eight, in seeded order (no
  * source gives the dashboard's real traffic mix, so no shape is weighted):
  * point lookup (Q2), user feed (Q7), top-k (Q6), faceted search (Q8),
  * `searchKols` (Q3), paginated `listKols` (Q1), `globalStats` (Q4) and
  * label buckets (Q9). They read a gold `dim_kol` stand-in derived from
  * `customer` the way `ServingOps`' serving oracles derive it, plus a
  * content table from `events`, both written to Parquet at set-up. Every
  * reply is compared with a plain-Scala answer computed at set-up from
  * the rows read back from those files.
  */
object ServingMix extends Workload {

  final case class Kol(username: String, nickname: String, platform: String,
      followers: Long, following: Long, verified: Boolean, trust: Double) {
    def row: Seq[Any] = Seq(username, nickname, platform, followers, following, verified, trust)
  }
  final case class Content(id: Long, username: String, time: Timestamp,
      eventType: String, value: Double) {
    def row: Seq[Any] = Seq(id, username, time, eventType, value)
  }

  /** One request: the serving call to make and the reply it must give.
    * Unordered replies (group-bys) are compared after sorting.
    */
  final case class Req(shape: String, call: (DataFrame, DataFrame) => DataFrame,
      expected: Seq[Seq[Any]], ordered: Boolean = true)

  /** `next` walks the pool once per run, so no request repeats and the
    * engine's plan and codegen caches see each one for the first time.
    */
  final class Prepared(val dim: DataFrame, val content: DataFrame, val pool: IndexedSeq[Req]) {
    private val cursor = new java.util.concurrent.atomic.AtomicInteger()
    def next(): Req = pool(cursor.getAndIncrement() % pool.size)
  }

  val Shapes: Seq[String] =
    Seq("point", "feed", "topk", "faceted", "search", "list", "stats", "labels")
  private val Platforms = Seq("tiktok", "youtube", "instagram")
  /** Blocks of one request per shape; any run of requests has the same
    * composition.
    */
  private val PoolBlocks = 256
  /** Warmup requests after the checked first block. */
  private val WarmRequests = 200
  /** Enough for ten samples beyond the p95. */
  private val MinRequests = 220

  def setup(spark: SparkSession, ctx: Ctx): Prepared = {
    val dimDir = ctx.dir("dim_kol")
    val contentDir = ctx.dir("content")
    val k = col("c_custkey")
    Tables.customer(spark, ctx.dataDir).select(
      concat(lit("u"), k.cast("string")).as("username"),
      col("c_name").as("nickname"),
      element_at(array(Platforms.map(lit): _*), (k % 3).cast("int") + 1).as("platform"),
      greatest((col("c_acctbal") * 100.0).cast("long"), lit(0L)).as("followers_count"),
      ((k % 500) + 1).as("following_count"),
      (k % 4 === 0).as("verified"),
      (pmod(k * 7919, lit(10000)).cast("double") / 100.0).as("trust_score"))
      .write.mode("overwrite").parquet(dimDir)
    Tables.events(spark, ctx.dataDir).select(
      col("event_id").as("content_id"),
      concat(lit("u"), col("user_id").cast("string")).as("username"),
      col("ts").as("event_time"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(contentDir)
    val dim = spark.read.parquet(dimDir)
    val content = spark.read.parquet(contentDir)
    val kols = dim.collect().map(r => Kol(r.getString(0), r.getString(1), r.getString(2),
      r.getLong(3), r.getLong(4), r.getBoolean(5), r.getDouble(6))).toSeq
    val items = content.collect().map(r => Content(r.getLong(0), r.getString(1),
      r.getTimestamp(2), r.getString(3), r.getDouble(4))).toSeq
    val rnd = new scala.util.Random(ctx.seed)
    val pool = (0 until PoolBlocks).flatMap(_ => rnd.shuffle(Shapes))
      .map(request(_, rnd.self, kols, items))
    val prep = new Prepared(dim, content, pool)
    // warmup: one block, every shape at least once, checked like any other
    val warm = clients(spark, ctx, prep, None, until = (_, n) => n >= Shapes.size)
    require(warm.forall(_.op.ok), "warmup reply mismatch")
    prep
  }

  /** Closed loop before the measured pass: request latency keeps falling
    * for the first seconds of load as the JIT compiles the analyzer,
    * optimizer and codegen paths. A fixed request count, so slower
    * requests show in `setup_s`.
    */
  override def warm(spark: SparkSession, ctx: Ctx, prep: Prepared): Unit = {
    val done = clients(spark, ctx, prep, None, until = (_, n) => n >= WarmRequests)
    require(done.forall(_.op.ok), "warmup reply mismatch")
  }

  private def round2(d: Double): Double =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val byFollowers: Ordering[Kol] =
    Ordering.by((k: Kol) => (-k.followers, k.username))

  /** A request of `shape` with seeded parameters and its expected reply. */
  private def request(shape: String, rnd: java.util.Random, kols: Seq[Kol],
      items: Seq[Content]): Req = {
    def platOpt: Option[String] =
      if (rnd.nextBoolean()) Some(Platforms(rnd.nextInt(3))) else None
    def onPlat(p: Option[String]) = kols.filter(k => p.forall(_ == k.platform))
    shape match {
      case "point" =>
        val kol = kols(rnd.nextInt(kols.size))
        val p = rnd.nextInt(4) match {
          case 0 => None
          case 1 => Some(Platforms(rnd.nextInt(3)))
          case _ => Some(kol.platform)
        }
        Req(shape, (d, _) => Serving.byUsername(d, kol.username, p),
          kols.filter(x => x.username == kol.username && p.forall(_ == x.platform))
            .take(1).map(_.row))
      case "feed" =>
        val user = s"u${rnd.nextInt(150)}"
        val limit = Seq(10, 20, 50)(rnd.nextInt(3))
        val order = Ordering.by((c: Content) => c.time).reverse
          .orElseBy((c: Content) => c.id)
        Req(shape, (_, c) => Serving.contentFeed(c, user, limit),
          items.filter(_.username == user).sorted(order).take(limit).map(_.row))
      case "topk" =>
        val metric = Seq("followers_count", "trust_score")(rnd.nextInt(2))
        val n = Seq(10, 25, 50)(rnd.nextInt(3))
        val order =
          if (metric == "trust_score") Ordering.by((k: Kol) => (-k.trust, k.username))
          else byFollowers
        Req(shape, (d, _) => Serving.topK(d, metric, n),
          kols.sorted(order).take(n).map(_.row))
      case "faceted" =>
        val q = s"u${1 + rnd.nextInt(99)}"
        val p = platOpt
        val lo = if (rnd.nextBoolean()) Some(rnd.nextInt(300000).toLong) else None
        val hi = if (rnd.nextBoolean()) Some(lo.getOrElse(0L) + rnd.nextInt(700000)) else None
        val verified = rnd.nextBoolean()
        Req(shape, (d, _) => Serving.facetedSearch(d, Some(q), p, lo, hi, verified, 30),
          onPlat(p).filter(k => k.username.toLowerCase.contains(q) &&
            lo.forall(k.followers >= _) && hi.forall(k.followers <= _) &&
            (!verified || k.verified)).sorted(byFollowers).take(30).map(_.row))
      case "search" =>
        val q = if (rnd.nextBoolean()) s"U${1 + rnd.nextInt(149)}"
          else f"#000000${rnd.nextInt(100)}%02d"
        val needle = q.toLowerCase
        Req(shape, (d, _) => Serving.searchKols(d, q, 50),
          kols.filter(k => k.username.toLowerCase.contains(needle) ||
            k.nickname.toLowerCase.contains(needle))
            .sorted(byFollowers).take(50).map(_.row))
      case "list" =>
        val p = platOpt
        val by = Seq("followers_count", "following_count", "trust_score")(rnd.nextInt(3))
        val desc = rnd.nextBoolean()
        val limit = Seq(10, 20, 50)(rnd.nextInt(3))
        val offset = Seq(0, 20, 100)(rnd.nextInt(3))
        val key: Kol => Double = by match {
          case "followers_count" => _.followers.toDouble
          case "following_count" => _.following.toDouble
          case _ => _.trust
        }
        val order = Ordering.by((k: Kol) => (if (desc) -key(k) else key(k), k.username))
        Req(shape, (d, _) => Serving.listKols(d, p, by, desc, limit, offset),
          onPlat(p).sorted(order).slice(offset, offset + limit).map(_.row))
      case "stats" =>
        val p = platOpt
        val ks = onPlat(p)
        val sum = ks.map(_.followers).sum
        Req(shape, (d, _) => Serving.globalStats(p.fold(d)(x => d.filter(col("platform") === x))),
          Seq(Seq(ks.size.toLong, ks.map(_.platform).distinct.size.toLong, sum,
            round2(sum.toDouble / ks.size), ks.count(_.verified).toLong)))
      case "labels" =>
        val p = platOpt
        def label(s: Double) =
          if (s >= 80) "Viral" else if (s >= 60) "Hot" else if (s >= 40) "Warm"
          else if (s >= 25) "Normal" else "Cold"
        val groups = onPlat(p).groupBy(k => label(k.trust)).toSeq.sortBy(_._1)
        Req(shape, (d, _) => {
          val scored = p.fold(d)(x => d.filter(col("platform") === x))
            .withColumn("trending_label", Scores.trendingLabel(col("trust_score")))
          Serving.labelBucketStats(scored, "trending_label", "trust_score")
        }, groups.map { case (l, ks) =>
          val s = ks.map(_.trust)
          Seq(l, ks.size.toLong, round2(s.min), round2(s.max), s.sum / s.size)
        }, ordered = false)
    }
  }

  /** Exact equality, except unrounded averages, which may differ in the
    * last bits with summation order.
    */
  def matches(req: Req, rows: Array[Row]): Boolean = {
    val got0 = rows.toSeq.map(_.toSeq)
    val got = if (req.ordered) got0 else got0.sortBy(_.head.toString)
    got.size == req.expected.size && got.zip(req.expected).forall { case (a, b) =>
      a.size == b.size && a.zip(b).forall {
        case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.abs(y)
        case (x, y) => x == y
      }
    }
  }

  private final case class Done(shape: String, op: OpSpan, planMs: Double, execMs: Double)

  /** One client thread per core, each sending its next request when the
    * previous reply arrives, until `until(elapsed ms, requests done)`.
    */
  private def clients(spark: SparkSession, ctx: Ctx, prep: Prepared,
      tracer: Option[Tracer], until: (Double, Int) => Boolean): Seq[Done] = {
    val t0 = Clock.nowMs
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val count = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until ctx.cores).map { c =>
      new Thread(() => {
        var n = 0
        while (!until(Clock.nowMs - t0, count.get())) {
          val req = prep.next()
          val id = s"req-$c-$n"
          n += 1
          val a = Clock.nowMs
          var planMs = Double.NaN
          val ok = try {
            val rows = if (tracer.isDefined) Tracer.asOp(spark, id) {
              val df = req.call(prep.dim, prep.content)
              df.queryExecution.executedPlan
              planMs = Clock.nowMs - a
              df.collect()
            } else req.call(prep.dim, prep.content).collect()
            matches(req, rows)
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] ${req.shape} failed: $e")
              false
          }
          val b = Clock.nowMs
          done.add(Done(req.shape, OpSpan(id, "request", req.shape, a, b, ok), planMs, b - a - planMs))
          count.incrementAndGet()
        }
      }, s"serving-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.toArray(Array.empty[Done]).toSeq
  }

  def run(spark: SparkSession, ctx: Ctx, prep: Prepared,
      tracer: Option[Tracer]): PassResult = {
    val t0 = Clock.nowMs
    val all = clients(spark, ctx, prep, tracer,
      until = (ms, n) => ms >= ctx.seconds * 1000 && n >= MinRequests)
    val good = all.filter(_.op.ok)
    val lat = good.map(_.op.ms)
    val wall = (all.map(_.op.endMs).max - t0) / 1e3
    val rps = good.size / wall
    val p95 = if (Stats.p95Supported(lat.size)) Stats.quantile(lat, 0.95) else Double.NaN
    val layers = tracer.toSeq.flatMap { tr =>
      val per = good.map(d => tr.op(d.op.id))
      Shapes.map(s => Metric(s"serving.${s}_ms_p50",
        Stats.median(good.filter(_.shape == s).map(_.op.ms)), "ms")) ++ Seq(
        Metric("serving.plan_ms_p50", Stats.median(good.map(_.planMs)), "ms"),
        Metric("serving.exec_ms_p50", Stats.median(good.map(_.execMs)), "ms"),
        Metric("spark.jobs_per_req", per.map(_.jobs).sum.toDouble / math.max(1, per.size), "count"),
        Metric("spark.tasks_per_req", per.map(_.tasks).sum.toDouble / math.max(1, per.size), "count"))
    }
    PassResult(
      e2e = Seq(
        Metric("p50_ms", Stats.median(lat), "ms"),
        Metric("tail_ms", p95, "ms"),
        Metric("throughput_per_s", rps, "1/s")),
      named = Seq(
        Metric("serving_p50_ms", Stats.median(lat), "ms"),
        Metric("serving_p95_ms", p95, "ms"),
        Metric("serving_rps", rps, "1/s")),
      attempted = all.size,
      failed = all.count(!_.op.ok),
      ops = all.map(_.op),
      layers = layers,
      context = Seq("clients" -> ctx.cores, "requests" -> all.size,
        "request_pool" -> prep.pool.size,
        "mix" -> Shapes.map(s => s -> all.count(_.shape == s))))
  }
}
