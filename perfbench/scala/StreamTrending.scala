package graft.perfbench

import graft.Tables
import graft.streaming.{Sinks, TrendingStream}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Kafka-shaped record: the `value` bytes as a string plus the broker
  * timestamp, which the trending pipeline uses as event time.
  */
final case class KafkaLike(value: String, timestamp: Timestamp)

/** `stream-trending`: open-loop replay through `TrendingStream.pipeline`
  * into `Sinks.trendingKvSink` with a `ProcessingTime(0)` trigger.
  *
  * One generator thread appends a tick of video events to an in-process
  * `MemoryStream` every [[TickMs]] ms, at three fixed offered rates in
  * turn: `r2k`, `r10k` and a saturating offer `sat`. Event content comes
  * from the `events` table in timestamp order, lap after lap; event time
  * comes from the replay schedule ([[Speedup]] times wall time), so it
  * only moves forward, windows close and the watermark evicts state.
  *
  * A tick's latency runs from its due time to the end of the micro-batch
  * that contains it. The timed query is the program's own, unchanged.
  * Output checks, both against the batch twin (the same pipeline run over
  * the same events as a bounded frame):
  *
  *  - the timed query's KV view: every (platform, username) of the twin
  *    is there and nothing else, and each holds the final row of one of
  *    its windows (the sink keeps whichever window of a key it collected
  *    last, which depends on row order, so which one is not checked);
  *  - the warmup, an untimed replay of the same ticks in larger
  *    micro-batches whose emitted rows are collected: the last emitted
  *    row of every (window, username, platform) must equal the twin's. The
  *    last row of a window does not depend on where the batches split the
  *    input.
  */
object StreamTrending extends Workload {

  val TickMs = 10.0
  /** Event-time milliseconds per wall millisecond of the schedule. */
  val Speedup = 600L
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val Platforms = Array("tiktok", "youtube", "instagram")

  /** The rates under test; `lead` is an untimed lead-in after query
    * start.
    */
  final case class Phase(name: String, rate: Int, durS: Double)
  def phases(seconds: Double): Seq[Phase] = Seq(
    Phase("lead", 2000, 1.0),
    // at least 220 ticks, so ten or more lie beyond each p95
    Phase("r2k", 2000, math.max(0.375 * seconds, 2.2)),
    Phase("r10k", 10000, math.max(0.5 * seconds, 2.2)),
    Phase("sat", 60000, math.max(0.1875 * seconds, 1.0)))

  /** Key parts of one event, for mapping a mismatched window back to the
    * ticks that fed it.
    */
  final case class Ev(user: String, platform: Int, tsMs: Long)
  final case class Tick(phase: Int, offsetMs: Double, records: Array[KafkaLike],
      evs: Array[Ev])

  final class Prepared(val ticks: Array[Tick], val phases: Seq[Phase]) {
    /** Last row the warmup replay emitted per window key. */
    var replayLast: Map[Seq[Any], Row] = null
    /** Batch-twin rows by window key, computed once, on first use. */
    var twin: Map[Seq[Any], Row] = null
  }

  private final case class Batch(id: Long, startMs: Double, endMs: Double,
      rows: Long, endOffset: Long, p: StreamingQueryProgress)

  /** Micro-batches of the warmup replay. */
  private val ReplayBatches = 16

  def setup(spark: SparkSession, ctx: Ctx): Prepared = {
    val base = Tables.events(spark, ctx.dataDir)
      .orderBy(col("ts"), col("event_id"))
      .select(col("user_id"), col("event_type"), col("value"))
      .collect()
    val rnd = new java.util.Random(ctx.seed)
    val salt = rnd.nextInt(150)
    var g = rnd.nextInt(base.length).toLong // seeded start within the lap
    val ph = phases(ctx.seconds)
    var planned = 0.0
    val ticks = mutable.ArrayBuffer.empty[Tick]
    ph.zipWithIndex.foreach { case (p, pi) =>
      val n = math.round(p.durS * 1000 / TickMs).toInt
      val perTick = math.max(1, math.round(p.rate * TickMs / 1000).toInt)
      (0 until n).foreach { i =>
        val off = planned + i * TickMs
        val recs = new Array[KafkaLike](perTick)
        val evs = new Array[Ev](perTick)
        (0 until perTick).foreach { j =>
          val r = base((g % base.length).toInt)
          val uid = r.getLong(0)
          val user = if (g % 199 == 0) "" else s"kol_${(uid * 37 + salt) % 150}"
          val et = r.getString(1)
          val plat = et match {
            case "view" | "click" => 0
            case "signup" => 1
            case _ => 2
          }
          val v = r.getDouble(2)
          val tsMs = T0 + ((off + j * TickMs / perTick) * Speedup).toLong
          val shares = if (et == "error") "" else s""","video_shares":${v.toLong}"""
          val json = s"""{"event_id":"e$g","event_time":"${new Timestamp(tsMs).toInstant}",""" +
            s""""platform":"${Platforms(plat)}","username":"$user","video_id":"v$g",""" +
            s""""video_views":${(v * 1000).toLong},"video_likes":${(v * 40).toLong},""" +
            s""""video_comments":${(v * 3).toLong}$shares}"""
          recs(j) = KafkaLike(json, new Timestamp(tsMs))
          evs(j) = Ev(user, plat, tsMs)
          g += 1
        }
        ticks += Tick(pi, off, recs, evs)
      }
      planned += n * TickMs + 1000.0 // a planned second between phases
    }
    new Prepared(ticks.toArray, ph)
  }

  /** A throwaway query over every tick in [[ReplayBatches]] micro-batches,
    * from about a thousand to tens of thousands of events each, so the JIT
    * has compiled the per-batch and per-row paths before the measured
    * pass. Its sink collects each micro-batch as `Sinks.trendingKvSink`
    * does, and keeps the rows for the output check.
    */
  override def warm(spark: SparkSession, ctx: Ctx, prep: Prepared): Unit = {
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    val last = mutable.Map.empty[Seq[Any], Row]
    val src = MemoryStream[KafkaLike](ctx.cores)
    val q = TrendingStream.pipeline(src.toDF()).writeStream.outputMode("update")
      .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(r => last(key(r)) = r) }
      .option("checkpointLocation", ctx.dir("replay-ckpt")).start()
    val perBatch = math.ceil(prep.ticks.length.toDouble / ReplayBatches).toInt
    try prep.ticks.grouped(perBatch).foreach { g =>
      src.addData(g.flatMap(_.records).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    prep.replayLast = last.toMap
  }

  def run(spark: SparkSession, ctx: Ctx, prep: Prepared,
      tracer: Option[Tracer]): PassResult = {
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val src = MemoryStream[KafkaLike](ctx.cores)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        val end = Option(p.sources).filter(_.nonEmpty).flatMap(s => Option(s(0).endOffset))
          .map(_.trim.toLong).getOrElse(-1L)
        batches.add(Batch(p.batchId, start, start + dur, p.numInputRows, end, p))
      }
    }
    spark.streams.addListener(listener)
    val n = prep.ticks.length
    val due = new Array[Double](n)
    val sentAt = new Array[Double](n)
    val offsets = Array.fill(n)(Long.MaxValue)
    val phaseStart = new Array[Double](prep.phases.size)
    val kv = new Sinks.KeyValueTopK
    val q = Sinks.trendingKvSink(TrendingStream.pipeline(src.toDF()), kv,
      Some(ctx.dir(s"ckpt-${System.nanoTime()}")), Trigger.ProcessingTime(0L)).start()
    def committed: Long = {
      val it = batches.iterator(); var m = -1L
      while (it.hasNext) m = math.max(m, it.next().endOffset)
      m
    }
    def awaitOffset(off: Long, timeoutMs: Double): Unit = {
      val limit = Clock.nowMs + timeoutMs
      while (committed < off && Clock.nowMs < limit && q.isActive) Thread.sleep(2)
    }
    val t0 = Clock.nowMs
    try {
      var i = 0
      prep.phases.indices.filter(_ => i < n).foreach { pi =>
        val startAt = Clock.nowMs
        phaseStart(pi) = startAt
        val first = prep.ticks(i).offsetMs
        while (i < n && prep.ticks(i).phase == pi && q.isActive) {
          val t = prep.ticks(i)
          due(i) = startAt + (t.offsetMs - first)
          val wait = due(i) - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          sentAt(i) = Clock.nowMs
          offsets(i) = src.addData(t.records.toSeq: _*).asInstanceOf[LongOffset].offset
          i += 1
        }
        // drain before the next rate starts (bounded: a stuck stream fails
        // its remaining ticks instead of hanging the run)
        if (i > 0) awaitOffset(offsets(i - 1), 60000)
      }
    } finally {
      q.stop()
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val wallEnd = Clock.nowMs
    val bs = batches.asScala.toSeq.sortBy(_.id)

    // tick -> first batch whose end offset covers it
    val doneAt = Array.fill(n)(Double.NaN)
    val ended = bs.filter(_.endOffset >= 0).sortBy(_.endOffset)
    var bi = 0
    (0 until n).sortBy(offsets(_)).foreach { i =>
      while (bi < ended.size && ended(bi).endOffset < offsets(i)) bi += 1
      if (bi < ended.size && offsets(i) != Long.MaxValue) doneAt(i) = ended(bi).endMs
    }

    // output checks against the batch twin
    if (prep.twin == null) {
      val all = prep.ticks.flatMap(_.records).toSeq
      prep.twin = TrendingStream.pipeline(all.toDF()).collect().map(r => key(r) -> r).toMap
    }
    val replayBad = (prep.twin.keySet ++ prep.replayLast.keySet).filter { k =>
      prep.twin.get(k).map(_.toSeq) != prep.replayLast.get(k).map(_.toSeq)
    }
    val kvFinal = prep.twin.values.groupBy(r => (r.getString(3), r.getString(2)))
      .map { case (k, rows) => k -> rows.map(kvFields).toSet }
    val kvKeys = kv.store.keySet.map { k =>
      val Array(_, p, u) = k.split(":", 3); (p, u)
    }
    val kvBad = (kvFinal.keySet ++ kvKeys).filter { case (p, u) =>
      !kv.store.get(s"trending:$p:$u").exists(v => kvFinal.get((p, u)).exists(_.contains(v)))
    }
    val badWindows = replayBad.map(k => (k(2), k(3), k(0).asInstanceOf[Timestamp].getTime))
    val tickBad = prep.ticks.map(_.evs.exists { e =>
      e.user.nonEmpty && (kvBad.contains((Platforms(e.platform), e.user)) ||
        windowStarts(e.tsMs).exists(s => badWindows.contains((e.user, Platforms(e.platform), s))))
    })
    val failedTick = (0 until n).map(i => tickBad(i) || doneAt(i).isNaN)
    val latency = (0 until n).map(i => doneAt(i) - due(i))

    def phaseIdx(name: String) = prep.phases.indexWhere(_.name == name)
    def lat(name: String): Seq[Double] = {
      val pi = phaseIdx(name)
      (0 until n).filter(i => prep.ticks(i).phase == pi && !failedTick(i)).map(latency)
    }
    def p95(xs: Seq[Double]) =
      if (Stats.p95Supported(xs.size)) Stats.quantile(xs, 0.95) else Double.NaN
    val satIdx = phaseIdx("sat")
    val satTicks = (0 until n).filter(prep.ticks(_).phase == satIdx)
    val satEvents = satTicks.map(prep.ticks(_).records.length.toLong).sum
    val satEnd = satTicks.map(doneAt).filterNot(_.isNaN).maxOption.getOrElse(Double.NaN)
    val maxEps = satEvents / ((satEnd - phaseStart(satIdx)) / 1e3)
    val lateMax = (0 until n).map(i => sentAt(i) - due(i)).max
    val r2k = lat("r2k"); val r10k = lat("r10k")

    val batchOps = bs.filter(_.rows > 0).map(b =>
      OpSpan(s"batch-${b.id}", "batch", s"batch-${b.id}", b.startMs, b.endMs, ok = true))
    val layers = tracer.toSeq.flatMap { _ =>
      val r2kStart = phaseStart(phaseIdx("r2k"))
      val r2kEnd = phaseStart(phaseIdx("r10k"))
      val inR2k = bs.filter(b => b.rows > 0 && b.startMs >= r2kStart && b.startMs < r2kEnd)
      def d(k: String) = Stats.median(inR2k.map(b =>
        Option(b.p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      val states = bs.flatMap(_.p.stateOperators.headOption)
      // ticks sent but not yet in a finished batch, seen at each batch end
      val backlog = bs.map { b =>
        (0 until n).count(i => sentAt(i) > 0 && sentAt(i) <= b.endMs && !(doneAt(i) <= b.endMs))
      }
      Seq(
        Metric("streaming.trigger_ms_p50", d("triggerExecution"), "ms"),
        Metric("streaming.addBatch_ms_p50", d("addBatch"), "ms"),
        Metric("streaming.queryPlanning_ms_p50", d("queryPlanning"), "ms"),
        Metric("streaming.walCommit_ms_p50", d("walCommit"), "ms"),
        Metric("streaming.commitOffsets_ms_p50", d("commitOffsets"), "ms"),
        Metric("streaming.state_commit_ms_p50", Stats.median(inR2k.flatMap(
          _.p.stateOperators.headOption.map(_.commitTimeMs.toDouble))), "ms"),
        Metric("streaming.batches", bs.size.toDouble, "count"),
        Metric("streaming.nodata_batches", bs.count(_.rows == 0).toDouble, "count"),
        Metric("streaming.state_rows", states.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count"),
        Metric("streaming.state_mem_mb", states.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0), "MB"),
        Metric("streaming.rows_dropped_late", states.map(_.numRowsDroppedByWatermark.toDouble).sum, "count"),
        Metric("streaming.backlog_ticks_max", backlog.maxOption.getOrElse(0).toDouble, "count"))
    }
    val named = Seq(
      Metric("stream_p50_ms.r2k", Stats.median(r2k), "ms"),
      Metric("stream_p95_ms.r2k", p95(r2k), "ms"),
      Metric("stream_p50_ms.r10k", Stats.median(r10k), "ms"),
      Metric("stream_p95_ms.r10k", p95(r10k), "ms"),
      Metric("stream_max_eps", maxEps, "1/s"),
      Metric("generator.late_ms_max", lateMax, "ms"))
    PassResult(
      e2e = Seq(
        Metric("p50_ms", Stats.median(r10k), "ms"),
        Metric("tail_ms", p95(r10k), "ms"),
        Metric("throughput_per_s", maxEps, "1/s")),
      named = named,
      attempted = n,
      failed = failedTick.count(identity),
      ops = batchOps,
      layers = layers,
      context = Seq(
        "offered_eps" -> prep.phases.map(p => p.name -> p.rate),
        "tick_ms" -> TickMs,
        "event_time_speedup" -> Speedup,
        "ticks" -> n,
        "events" -> prep.ticks.map(_.records.length.toLong).sum,
        "micro_batches" -> bs.size,
        "sat_batches" -> bs.filter(b => b.rows > 0 && b.startMs >= phaseStart(satIdx))
          .map(b => Seq(b.rows.toDouble, b.endMs - b.startMs)),
        "mismatched_windows" -> replayBad.size,
        "mismatched_kv_keys" -> kvBad.size,
        "pass_wall_s" -> (wallEnd - t0) / 1e3))
  }

  private def key(r: Row): Seq[Any] = Seq(r.get(0), r.get(1), r.get(2), r.get(3))

  /** What `Sinks.trendingKvSink` stores for an output row. */
  private def kvFields(r: Row): Map[String, String] = Map(
    "trending_score" -> r.getAs[Double]("trending_score").toString,
    "trending_label" -> r.getAs[String]("trending_label"),
    "total_engagement" -> r.getAs[Long]("total_engagement").toString,
    "event_count" -> r.getAs[Long]("event_count").toString)

  /** Starts of the five 5-minute windows, sliding by a minute, that hold
    * an event at `tsMs`.
    */
  private def windowStarts(tsMs: Long): Seq[Long] = {
    val slide = 60000L
    val last = tsMs - Math.floorMod(tsMs, slide)
    (0 until 5).map(k => last - k * slide)
  }
}
