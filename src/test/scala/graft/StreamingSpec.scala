package graft

import java.sql.Timestamp
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics (SURVEY.md §2.8) driven by MemoryStream:
  * the windowed trending hot path (T1/T2/T5), watermark late-drop (T9),
  * mapGroupsWithState prev-value velocity (T7), and the KV/top-k sink (K5).
  */
class StreamingSpec extends SparkSpec {
  import sqlImplicits._

  case class KafkaLike(value: String, timestamp: Timestamp)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def videoJson(user: String, platform: String, likes: Long,
      comments: Long, shares: Long, views: Long, id: String): String =
    s"""{"event_id":"$id","event_time":"2024-01-01T00:00:00+00:00","platform":"$platform",
       |"username":"$user","video_id":"v_$id","video_views":$views,"video_likes":$likes,
       |"video_comments":$comments,"video_shares":$shares}""".stripMargin.replace("\n", "")

  test("T2/T5 trending hot path: sliding windows, update mode, scored output") {
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaLike]
    val result = TrendingStream.pipeline(source.toDF())
    val q = result.writeStream.outputMode("update")
      .format("memory").queryName("trending_out").start()
    try {
      source.addData(
        KafkaLike(videoJson("kol_a", "tiktok", 900, 80, 20, 50000, "e1"), ts("2024-01-01 10:00:10")),
        KafkaLike(videoJson("kol_a", "tiktok", 400, 50, 50, 20000, "e2"), ts("2024-01-01 10:00:40")),
        KafkaLike(videoJson("kol_b", "youtube", 10, 1, 0, 500, "e3"), ts("2024-01-01 10:00:50")))
      q.processAllAvailable()
      val rows = spark.table("trending_out")
      // 5-min window sliding by 1 min → each event lands in 5 windows
      val aWindows = rows.filter($"username" === "kol_a").select("window_start").distinct().count()
      assert(aWindows == 5, s"expected 5 sliding windows, got $aWindows")
      val a = rows.filter($"username" === "kol_a" &&
        $"window_start" === ts("2024-01-01 10:00:00")).head()
      assert(a.getAs[Long]("event_count") == 2)
      assert(a.getAs[Long]("total_engagement") == 900 + 80 + 20 + 400 + 50 + 50)
      assert(a.getAs[Long]("total_views") == 70000)
      val score = a.getAs[Double]("trending_score")
      assert(score >= 0 && score <= 100)
      val label = a.getAs[String]("trending_label")
      assert(Seq("Viral", "Hot", "Warm", "Normal", "Cold").contains(label))
    } finally q.stop()
  }

  test("T9 watermark drops events later than 5 minutes behind max event time") {
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaLike]
    val result = TrendingStream.pipeline(source.toDF())
    val q = result.writeStream.outputMode("update")
      .format("memory").queryName("late_out").start()
    try {
      source.addData(KafkaLike(videoJson("kol_a", "tiktok", 100, 0, 0, 1000, "e1"),
        ts("2024-01-01 10:30:00")))
      q.processAllAvailable() // watermark → 10:25
      val before = spark.table("late_out")
        .filter($"window_start" <= ts("2024-01-01 09:50:00")).count()
      source.addData(KafkaLike(videoJson("kol_a", "tiktok", 999, 0, 0, 9999, "late"),
        ts("2024-01-01 09:50:00"))) // 40 min late, beyond watermark
      q.processAllAvailable()
      val after = spark.table("late_out")
        .filter($"window_start" <= ts("2024-01-01 09:50:00")).count()
      assert(before == 0 && after == 0, s"late event leaked: before=$before after=$after")
    } finally q.stop()
  }

  test("T7 mapGroupsWithState velocity: first batch 0, second batch cur-prev") {
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[StatefulVelocity.KeyedMetric]
    val out = StatefulVelocity.velocityStream(source.toDS(), stateTtlMs = None)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("vel_out").start()
    try {
      source.addData(StatefulVelocity.KeyedMetric("tiktok:kol_a", 1000.0, 1L))
      q.processAllAvailable()
      source.addData(StatefulVelocity.KeyedMetric("tiktok:kol_a", 1500.0, 2L))
      q.processAllAvailable()
      source.addData(StatefulVelocity.KeyedMetric("tiktok:kol_a", 1200.0, 3L)) // decline → 0
      q.processAllAvailable()
      val rows = spark.table("vel_out").as[StatefulVelocity.VelocityOut]
        .collect().sortBy(_.metric)
      assert(rows.length == 3)
      val byMetric = rows.map(r => r.metric -> r).toMap
      assert(byMetric(1000.0).velocity == 0.0) // first sighting: prev = cur
      assert(byMetric(1500.0).velocity == 500.0)
      assert(byMetric(1500.0).prev == 1000.0)
      assert(byMetric(1200.0).velocity == 0.0) // max(0, declining)
      assert(math.abs(byMetric(1200.0).momentum - (-0.2)) < 1e-9)
    } finally q.stop()
  }

  test("T7 latest event per key wins within a micro-batch (ZADD overwrite)") {
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[StatefulVelocity.KeyedMetric]
    val out = StatefulVelocity.velocityStream(source.toDS(), stateTtlMs = None)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("vel_lw").start()
    try {
      source.addData(
        StatefulVelocity.KeyedMetric("k", 10.0, 1L),
        StatefulVelocity.KeyedMetric("k", 30.0, 3L),
        StatefulVelocity.KeyedMetric("k", 20.0, 2L))
      q.processAllAvailable()
      val r = spark.table("vel_lw").as[StatefulVelocity.VelocityOut].head()
      assert(r.metric == 30.0, s"latest-by-event-time should win, got ${r.metric}")
    } finally q.stop()
  }

  test("U2 momentum: stream state path equals the batch lag twin (q71's input)") {
    implicit val ctx = spark.sqlContext
    // per-key hourly engagement series with growth, decline, and a flat
    // key — metric values unique per key so rows map back unambiguously
    val series = Map(
      "kol_a" -> Seq(100.0, 150.0, 120.0),
      "kol_b" -> Seq(50.0, 50.0),
      "kol_c" -> Seq(80.0))
    val source = MemoryStream[StatefulVelocity.KeyedMetric]
    val out = StatefulVelocity.velocityStream(source.toDS(), stateTtlMs = None)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("mom_parity").start()
    try {
      // one micro-batch per hour index — the steady-state ingest shape
      val hours = series.values.map(_.length).max
      for (i <- 0 until hours) {
        val batch = series.toSeq.flatMap { case (k, vs) =>
          vs.lift(i).map(v => StatefulVelocity.KeyedMetric(k, v, i.toLong))
        }
        source.addData(batch: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("mom_parity")
        .as[StatefulVelocity.VelocityOut].collect()
        .map(r => (r.key, r.metric) -> r.momentum).toMap
      val batchDf = series.toSeq.flatMap { case (k, vs) =>
        vs.zipWithIndex.map { case (v, i) => (k, i.toLong, v) }
      }.toDF("key", "hour_idx", "eng")
      val batched = StatefulVelocity
        .velocityBatch(batchDf, Seq("key"), "hour_idx", "eng")
        .collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Double]("eng")) ->
          r.getAs[Double]("momentum")).toMap
      assert(streamed.keySet == batched.keySet)
      streamed.foreach { case (k, m) =>
        assert(math.abs(m - batched(k)) < 1e-12,
          s"momentum diverged for $k: stream=$m batch=${batched(k)}")
      }
      // and the parity is not vacuous: growth and decline both nonzero
      assert(streamed(("kol_a", 150.0)) == 0.5)
      assert(math.abs(streamed(("kol_a", 120.0)) - (-0.2)) < 1e-12)
      assert(streamed(("kol_b", 50.0)) == 0.0)
    } finally q.stop()
  }

  test("T3 CTR/CVR tumbling window with divide-by-zero guards") {
    val df = Seq(
      ("e1", ts("2024-01-01 10:01:00"), "kol_a", "c1", 1000L, 50L, 5L, 10.0),
      ("e2", ts("2024-01-01 10:03:00"), "kol_a", "c1", 2000L, 150L, 10L, 20.0),
      ("e3", ts("2024-01-01 10:02:00"), "kol_b", "c2", 0L, 0L, 0L, 0.0))
      .toDF("event_id", "event_time", "kol_id", "campaign_id",
        "impressions", "clicks", "conversions", "spend")
    val got = FeaturesStream.ctrCvrAggregate(df).collect()
      .map(r => r.getAs[String]("kol_id") -> r).toMap
    val a = got("kol_a")
    assert(a.getAs[Long]("impressions") == 3000L)
    assert(a.getAs[Double]("ctr") == math.round(200.0 / 3000.0 * 1e6) / 1e6)
    assert(a.getAs[Double]("cvr") == 0.075)
    assert(a.getAs[Timestamp]("window_start") == ts("2024-01-01 10:00:00"))
    assert(a.getAs[Timestamp]("window_end") == ts("2024-01-01 10:05:00"))
    val b = got("kol_b")
    assert(b.getAs[Double]("ctr") == 0.0 && b.getAs[Double]("cvr") == 0.0)
  }

  test("K5 foreachBatch KV sink: last-write-wins upsert + top-k ordering") {
    implicit val ctx = spark.sqlContext
    val kv = new Sinks.KeyValueTopK
    val source = MemoryStream[KafkaLike]
    val scoredStream = TrendingStream.pipeline(source.toDF())
    val q = Sinks.trendingKvSink(scoredStream, kv,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      source.addData(
        KafkaLike(videoJson("kol_hot", "tiktok", 90000, 8000, 2000, 500000, "h1"), ts("2024-01-01 10:00:10")),
        KafkaLike(videoJson("kol_mid", "tiktok", 900, 80, 20, 5000, "m1"), ts("2024-01-01 10:00:20")),
        KafkaLike(videoJson("kol_low", "tiktok", 9, 1, 0, 50, "l1"), ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      val top = kv.topK("tiktok", 2)
      assert(top.map(_._1) == Seq("tiktok:kol_hot", "tiktok:kol_mid"), s"got $top")
      assert(kv.store.contains("trending:tiktok:kol_low"))
      val hot = kv.store("trending:tiktok:kol_hot")
      assert(hot("trending_label") == "Viral" || hot("trending_label") == "Hot")
      // a key's newer windows (starts 09:59-10:03) in one batch, its older
      // ones (starts 09:56-10:00, two shared) in the next: the KV keeps the
      // final row of the newest window, whatever the row order
      source.addData(KafkaLike(videoJson("kol_r", "tiktok", 50, 0, 0, 100, "r1"), ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      val newest = kv.store("trending:tiktok:kol_r")
      assert(newest("event_count") == "1" && newest("total_engagement") == "50", newest)
      source.addData(KafkaLike(videoJson("kol_r", "tiktok", 7, 0, 0, 100, "r2"), ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      assert(kv.store("trending:tiktok:kol_r") == newest,
        s"an older window overwrote the newest: ${kv.store("trending:tiktok:kol_r")}")
      assert(kv.storedWindow("trending:tiktok:kol_r") == ts("2024-01-01 10:03:00").getTime)
    } finally q.stop()
  }

  test("K7 console sink: update-mode debug output of the trending frame") {
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaLike]
    val q = Sinks.consoleSink(TrendingStream.pipeline(source.toDF()))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      source.addData(KafkaLike(videoJson("kol_c", "tiktok", 9, 1, 0, 50, "c1"), ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(q.recentProgress.map(_.numInputRows).sum == 1L)
    } finally q.stop()
  }

  test("U3 hot-path scoring: numeric-else-raw parse, partition scorer, dual sink") {
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[KafkaLike]
    val topic = new HotPathScoring.TopicBuffer
    val cache = new HotPathScoring.ScoreCache
    val q = HotPathScoring.pipeline(source.toDF(),
      () => HotPathScoring.LocalHeuristicScorer, topic, cache,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      source.addData(
        // numeric counts, verified: 20+10+20+min(50000/100/10*20,20)+20 = 90
        KafkaLike("""{"username":"kol_a","platform":"tiktok","followers_count":50000,"following_count":100,"verified":true,"bio":"hi"}""", ts("2024-01-01 10:00:10")),
        // raw scraper strings only: 1.5K → 1500, "8" → 8; unverified → 70
        KafkaLike("""{"username":"kol_b","platform":"tiktok","followers_raw":"1.5K","following_raw":"8"}""", ts("2024-01-01 10:00:20")),
        // zero-signal account → 50 → elevated
        KafkaLike("""{"username":"kol_c","platform":"tiktok","followers_count":0,"following_count":1}""", ts("2024-01-01 10:00:30")),
        // keyless → dropped by the parse filter
        KafkaLike("""{"platform":"tiktok","followers_count":99}""", ts("2024-01-01 10:00:40")))
      q.processAllAvailable()
      assert(topic.records.size == 3, s"expected 3 topic records, got ${topic.records.size}")
      val a = cache.store("kol:score:kol_a")
      assert(a("trust_score") == "90.0" && a("trust_label") == "low")
      val b = cache.store("kol:score:kol_b")
      assert(b("trust_score") == "70.0" && b("trust_label") == "moderate")
      val c = cache.store("kol:score:kol_c")
      assert(c("trust_score") == "50.0" && c("trust_label") == "elevated")
      assert(c("success_score") == "null") // un-deployed APIs stay null, row survives
      val rec = topic.records.toArray(Array.empty[(String, String)])
        .find(_._1 == "kol_a").get
      assert(rec._2.contains("\"model_version_trust\":\"local-heuristic-v1\""))
      assert(rec._2.contains("\"trust_score\":90.0"))
    } finally q.stop()
  }

  test("E2E latency: ingest -> trending pipeline -> KV sink beats the reference's 30s bound") {
    // The reference reports 30s streaming latency, dominated by its 30s
    // trigger interval (README.md:53, trigger at trending_stream.py /
    // `Trigger: 30 seconds`). This measures OUR compute latency on the
    // same pipeline shape — ingest wall-clock to the rows being readable
    // in the KV sink — with the trigger interval taken out (0ms trigger),
    // i.e. the floor a production deployment adds its trigger to. The
    // measurement is recorded (env-gated path or a per-run temp file —
    // never a fixed path two runs could race on) and the wall-clock bound
    // is only ASSERTED under GRAFT_BENCH_ASSERT=1: timing on a loaded CI
    // box is not a correctness property.
    implicit val ctx = spark.sqlContext
    val kv = new Sinks.KeyValueTopK
    val source = MemoryStream[KafkaLike]
    val q = Sinks.trendingKvSink(TrendingStream.pipeline(source.toDF()), kv,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      // warm the query graph first (codegen + state-store open dominate
      // batch 0; production latency is the steady state, not JIT)
      source.addData(KafkaLike(videoJson("kol_w", "tiktok", 1, 0, 0, 10, "w1"), ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      val t0 = System.nanoTime()
      source.addData(
        KafkaLike(videoJson("kol_a", "tiktok", 900, 80, 20, 50000, "e1"), ts("2024-01-01 10:00:10")),
        KafkaLike(videoJson("kol_b", "tiktok", 400, 50, 50, 20000, "e2"), ts("2024-01-01 10:00:40")))
      q.processAllAvailable()
      val visible = kv.store.contains("trending:tiktok:kol_a") &&
        kv.store.contains("trending:tiktok:kol_b")
      val latencyMs = (System.nanoTime() - t0) / 1e6
      assert(visible, "scored rows not visible in KV sink after processAllAvailable")
      if (sys.env.contains("GRAFT_BENCH_ASSERT"))
        assert(latencyMs < 30000.0,
          f"steady-state ingest->sink latency $latencyMs%.0f ms should beat the reference's 30s E2E")
      val out = sys.env.get("GRAFT_E2E_LATENCY_OUT")
        .map(java.nio.file.Paths.get(_))
        .getOrElse(java.nio.file.Files.createTempFile("graft_e2e_latency_ms_", ".txt"))
      java.nio.file.Files.writeString(out, f"$latencyMs%.0f")
      info(f"steady-state ingest->KV latency: $latencyMs%.0f ms (reference E2E: 30s trigger-bound) -> $out")
    } finally q.stop()
  }

  test("E2E momentum drive: prev-window state feeds the score, KV top-k audits it") {
    // The reference's momentum term is a stub — `trending_stream.py:479`
    // passes prev=None, so its sigmoid always sees momentum 0. This
    // drives the CLOSED loop end-to-end: ingest → per-key prev-value
    // state → momentum-fed score → KV top-k, and checks the momentum
    // actually moved the score vs the stubbed algebra.
    implicit val ctx = spark.sqlContext
    val kv = new Sinks.KeyValueTopK
    val source = MemoryStream[KafkaLike]
    // stateTtlMs=None: ProcessingTimeTimeout schedules continuous no-data
    // batches, so processAllAvailable would never quiesce (scaladoc)
    val q = Sinks.momentumKvSink(
      TrendingStream.momentumPipeline(source.toDF(), stateTtlMs = None), kv,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      // window 1: first sight of kol_m → prev = cur, momentum 0
      source.addData(KafkaLike(videoJson("kol_m", "tiktok", 100, 0, 0, 1000, "m1"), ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val first = kv.store("trending:tiktok:kol_m")
      assert(first("momentum") == "0.0" && first("prev_engagement") == "100.0", first)
      // window 2: engagement 100 → 150 (velocity 50, momentum 0.5); a
      // flat competitor arrives for the ranking check
      val t0 = System.nanoTime()
      source.addData(
        KafkaLike(videoJson("kol_m", "tiktok", 150, 0, 0, 2000, "m2"), ts("2024-01-01 10:01:00")),
        KafkaLike(videoJson("kol_flat", "tiktok", 100, 0, 0, 1000, "f1"), ts("2024-01-01 10:01:10")))
      q.processAllAvailable()
      val latencyMs = (System.nanoTime() - t0) / 1e6
      val m = kv.store("trending:tiktok:kol_m")
      assert(m("momentum") == "0.5" && m("velocity") == "50.0" &&
        m("prev_engagement") == "100.0", m)
      // the momentum term MUST move the score: the same velocity pushed
      // through the reference's stubbed (momentum=0) algebra scores lower
      val stubbed = spark.range(1).select(round(graft.functions.Scores.trendingScore(
        lit(50.0), lit(100.0), lit(100.0), lit(0.0)), 2)).head.getDouble(0)
      assert(m("trending_score").toDouble > stubbed,
        s"momentum-fed ${m("trending_score")} must beat momentum-stubbed $stubbed")
      val top = kv.topK("tiktok", 2).map(_._1)
      assert(top.head == "tiktok:kol_m", s"top-k: $top")
      info(f"momentum drive: ingest->KV ${latencyMs}%.0f ms; " +
        s"score ${m("trending_score")} (momentum 0.5) vs $stubbed (reference stub)")
    } finally q.stop()
  }

  test("T10 multi-query app: concurrent streams, awaitAnyTermination") {
    implicit val ctx = spark.sqlContext
    spark.streams.resetTerminated()
    val s1 = MemoryStream[KafkaLike]
    val s2 = MemoryStream[KafkaLike]
    val q1 = TrendingStream.pipeline(s1.toDF()).writeStream.outputMode("update")
      .format("memory").queryName("t10_a").start()
    val q2 = TrendingStream.pipeline(s2.toDF()).writeStream.outputMode("update")
      .format("memory").queryName("t10_b").start()
    try {
      s1.addData(KafkaLike(videoJson("kol_a", "tiktok", 90, 8, 2, 5000, "x1"), ts("2024-01-01 10:00:10")))
      s2.addData(KafkaLike(videoJson("kol_b", "youtube", 10, 1, 0, 500, "x2"), ts("2024-01-01 10:00:20")))
      q1.processAllAvailable()
      q2.processAllAvailable()
      assert(spark.table("t10_a").count() > 0 && spark.table("t10_b").count() > 0)
      val active = spark.streams.active.map(_.id).toSet
      assert(active.contains(q1.id) && active.contains(q2.id))
      q1.stop() // one query ends; the app-level wait observes it, q2 survives
      assert(spark.streams.awaitAnyTermination(30000L))
      assert(!q1.isActive && q2.isActive)
    } finally { q1.stop(); q2.stop() }
  }

  test("funnel stream: stage transitions equal the batch funnel on in-order input") {
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.FunnelEvent
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[FunnelEvent]
    val out = FunnelStream.funnelStream(source.toDS(),
      Seq("view", "click", "purchase"))
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    try {
      // batch 1: u1 views+clicks; u2's click arrives BEFORE any view
      source.addData(
        FunnelEvent(1L, 100L, "view"), FunnelEvent(1L, 200L, "click"),
        FunnelEvent(2L, 50L, "click"))
      q.processAllAvailable()
      // batch 2: u1 purchases; u2 finally views then clicks (same batch,
      // out of arrival order — the per-batch event-time sort fixes it)
      source.addData(
        FunnelEvent(1L, 300L, "purchase"),
        FunnelEvent(2L, 400L, "click"), FunnelEvent(2L, 350L, "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").as[FunnelStream.StageOut]
        .collect().sortBy(r => (r.userId, r.stage))
      assert(rows.map(r => (r.userId, r.stage, r.step, r.lagUs)).toSeq == Seq(
        (1L, 1, "view", 0L), (1L, 2, "click", 100L), (1L, 3, "purchase", 200L),
        (2L, 1, "view", 0L), (2L, 2, "click", 50L)), rows.mkString(";"))
      // state carried the stage across batches: u1's purchase advanced
      // from the batch-1 click without re-seeing it
    } finally q.stop()
  }

  test("scd2 stream closes versions once, carries state, drops cross-batch late rows") {
    import graft.streaming.Scd2Stream
    import graft.streaming.Scd2Stream.AttrEvent
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[AttrEvent]
    val out = Scd2Stream.scd2Stream(source.toDS())
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("scd2_out").start()
    try {
      // batch 1: k1 opens 'a' (collision at 10 collapses to min 'a'),
      // then changes to 'b' at 30 → closes version 1
      source.addData(AttrEvent(1L, 10L, "c"), AttrEvent(1L, 10L, "a"),
        AttrEvent(1L, 20L, "a"), AttrEvent(1L, 30L, "b"))
      q.processAllAvailable()
      // batch 2: k1 back to 'a' at 50 (closes v2, state carried across
      // batches); a LATE row at 25 is unsequenceable and dropped
      source.addData(AttrEvent(1L, 50L, "a"), AttrEvent(1L, 25L, "zzz"))
      q.processAllAvailable()
      val rows = spark.table("scd2_out").as[Scd2Stream.ClosedInterval]
        .collect().sortBy(_.version)
      assert(rows.map(r => (r.version, r.value, r.fromUs, r.toUs, r.nRows))
        .toSeq == Seq((1L, "a", 10L, 30L, 2L), (2L, "b", 30L, 50L, 1L)),
        rows.mkString(";"))
    } finally q.stop()
  }

  test("scd2 advance() equals the batch operator's closed rows on in-order replay") {
    import graft.streaming.Scd2Stream
    import graft.streaming.Scd2Stream.AttrEvent
    import graft.operators.Snapshot
    val evs = Seq((7L, "x", 100L), (7L, "x", 200L), (7L, "y", 300L),
      (7L, "y", 350L), (7L, "x", 400L), (7L, null: String, 500L))
    // stream: one shot through advance()
    val (st, closed) = Scd2Stream.advance(
      Scd2Stream.OpenVersion(0L, null, 0L, Long.MinValue, 0L, defined = false),
      evs.map { case (k, a, t) => AttrEvent(k, t, a) })
    // batch: scd2Intervals' closed rows (to_us non-null)
    val batch = Snapshot.scd2Intervals(evs.toDF("k", "v", "t"), "k", "v", "t")
      .where(col("to_us").isNotNull)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(closed.map(c => (c.version, c.value, c.fromUs, c.toUs, c.nRows))
      == batch, s"stream $closed vs batch $batch")
    // the stream's open state is the batch's open row
    assert(st == Scd2Stream.OpenVersion(4L, null, 500L, 500L, 1L,
      defined = true), st.toString)
  }

  test("funnel stream advance() is the batch semantic on a full in-order replay") {
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.{FunnelEvent, FunnelState}
    // same fixture as the batch FunnelSpec case: u3's early purchase is
    // skipped, the later one converts
    val evs = Seq(
      FunnelEvent(3L, 100L, "view"), FunnelEvent(3L, 500L, "purchase"),
      FunnelEvent(3L, 200L, "click"), FunnelEvent(3L, 600L, "purchase"))
    val (st, out) = FunnelStream.advance(Seq("view", "click", "purchase"),
      FunnelState(0, 0L, 0L), evs)
    assert(st == FunnelState(3, 100L, 500L))
    assert(out.map(o => (o.stage, o.tkUs)) == Seq((1, 100L), (2, 200L), (3, 500L)))
  }
}
