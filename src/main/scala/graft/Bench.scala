package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** Full-evaluation action: hash every column of every row into one
    * aggregate. Unlike `count()` — which lets Catalyst prune every computed
    * column (a projection-only query degenerates to a parquet row count) —
    * this forces each query's actual work to run while collecting only one
    * row to the driver.
    */
  private def forceEval(df: DataFrame): Unit = {
    val h = xxhash64(df.columns.map(c => col(c).cast("string")): _*)
    // decimal sum: a plain long sum of random 64-bit hashes overflows
    // within a handful of rows under ANSI mode
    df.select(h.as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")), count(lit(1))).collect()
    ()
  }

  /** Build/query phase split for the queries that construct a one-off
    * artifact inside their timed run (VERDICT r10 #8, extended per
    * VERDICT r11 #5): q108/q151 bill the orders⋈lineitem graph build,
    * q114/q118/q124 the PQ codebook fit + encode, q120 the difficulty
    * model + curriculum packing — so their end-to-end numbers mask
    * steady-state plan regressions. The main per-query numbers stay
    * honestly end-to-end; this emits the phase decomposition alongside
    * (median of 3 each). Each section releases its checkpointed
    * artifacts before the next starts.
    */
  private def phaseMetrics(spark: SparkSession, sfDir: String,
      only: Option[Set[String]] = None): Map[String, Double] = {
    import graft.operators.{Influence, Packing, ProductQuantizer, Similarity}
    def med3(body: => Unit): Double = (1 to 3).map { _ =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    def releaseAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    val out = scala.collection.mutable.Map.empty[String, Double]
    // generic section: median-of-3 of the build, one kept build, then
    // median-of-3 of the query over the PREBUILT artifact
    def section[A](name: String)(build: => A)(query: A => DataFrame): Unit = {
      if (only.exists(ids => !ids.contains(name))) return
      out(s"${name}_build") = med3 { build; () }
      val built = build
      out(s"${name}_query") = med3 { forceEval(query(built)) }
      releaseAll()
    }
    // q108/q151 share the one-off bipartite purchase graph; q108's is
    // mirrored (undirected walk), q151's stays directed
    def edges(mirrored: Boolean) = {
      val o = Tables.orders(spark, sfDir)
      val l = Tables.lineitem(spark, sfDir)
      val e0 = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val e = if (mirrored)
        e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      else e0
      e.localCheckpoint(true)
    }
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding"))
    val queries = emb.filter(col("id") < 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    // q108: 3 integer PageRank rounds + top-25 over the PREBUILT edges
    section("q108")(edges(mirrored = true)) { e =>
      Influence.pageRankInteger(e, 3)
        .filter(pmod(col("node"), lit(2)) === 1)
        .select(expr("(node - 1) div 2").as("s_suppkey"), col("rank_u"))
        .orderBy(col("rank_u").desc, col("s_suppkey").asc).limit(25)
    }
    // q151: 2 HITS iterations over the PREBUILT directed edges
    section("q151")(edges(mirrored = false)) { e =>
      Influence.hitsInteger(e, 2)
    }
    // q114: build = codebook fit + coarse sample + IVF-PQ encode;
    // query = probe + ADC + top-5 over the PREBUILT code table
    section("q114")({
      val model = ProductQuantizer.fitPortable(emb, dim = 64, m = 8, ks = 16)
      val coarse = Similarity.sampleCentroidsPortable(emb, 12)
      (model, coarse,
        ProductQuantizer.ivfpqIndex(emb, coarse, model).localCheckpoint(true))
    }) { case (model, coarse, index) =>
      ProductQuantizer.ivfpqTopK(index, queries, model, coarse,
        nProbe = 3, k = 5)
    }
    // q118: build = codebook fit + full-corpus encode; query = ADC
    // shortlist + exact rerank over the PREBUILT codes
    section("q118")({
      val model = ProductQuantizer.fitPortable(emb, dim = 64, m = 8, ks = 16)
      (model, ProductQuantizer.encode(emb, model).localCheckpoint(true))
    }) { case (model, codes) =>
      ProductQuantizer.adcTopKRerank(codes, emb, queries, model, k = 5,
        shortlistMult = 4)
    }
    // q124: build = coarse sample + residual codebook fit + residual
    // encode; query = 3-probe LUT scoring over the PREBUILT index
    section("q124")({
      val coarse = Similarity.sampleCentroidsPortable(emb, 12)
      val model = ProductQuantizer.fitResidualPortable(emb, coarse,
        dim = 64, m = 8, ks = 16)
      (model, coarse,
        ProductQuantizer.encodeResiduals(emb, coarse, model).localCheckpoint(true))
    }) { case (model, coarse, index) =>
      ProductQuantizer.ivfpqResidualTopK(index, queries, model, coarse,
        nProbe = 3, k = 5)
    }
    // q120: build = difficulty model + curriculum-ordered chunk
    // packing; query = the 4-chunk shard manifest over PREBUILT chunks
    section("q120")(
      graft.queries.PipelineOps.curriculumChunks(spark, sfDir)
        .localCheckpoint(true)) { chunks =>
      Packing.shardManifest(chunks, chunksPerShard = 4)
    }

    // Lifecycle build/mutate/readback decomposition (VERDICT r14 #4):
    // the five lifecycle queries are end-to-end store cycles whose
    // in-suite numbers mix store-BUILD noise with the mutate/readback
    // slice that actually changes round over round. Each phase is timed
    // SINGLE-SHOT (attribution, not precision — a med-3 would triple
    // the five store builds; the end-to-end medians in `queries` remain
    // the headline numbers). Cycle results materialize inside their
    // cycle, so mutate includes result materialization; a separate
    // readback slice exists where the readout is a distinct pass (q205's
    // five store readbacks, q212's datasheet over the tiny frames).
    {
      import graft.queries.LifecycleOps
      def lifecycleSection(qid: String)(steps: (String, () => Unit)*): Unit = {
        if (only.exists(ids => !ids.contains(qid))) return
        try steps.foreach { case (suffix, body) =>
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime(); body()
          out(s"${qid}_$suffix") = (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] phase $qid FAILED: ${e.getMessage}")
        } finally releaseAll()
      }
      val d = sfDir
      locally {
        var ctx: LifecycleOps.Q205Ctx = null
        var sr: DataFrame = null
        lifecycleSection("q205")(
          "build" -> (() => ctx = LifecycleOps.q205Build(spark, d)),
          "mutate" -> (() => sr = LifecycleOps.q205Mutate(spark, ctx)),
          "read" -> (() =>
            forceEval(LifecycleOps.q205Readout(spark, ctx, sr))))
      }
      locally {
        var base: String = null; var b: DataFrame = null
        lifecycleSection("q206")(
          "build" -> { () =>
            val (sa, sb) = LifecycleOps.benchSnapshots(spark, d)
            b = sb
            base = LifecycleOps.benchScratch(spark, d, "refresh")
            LifecycleOps.priorBuild(spark, base, sa)
          },
          "mutate" -> (() =>
            forceEval(LifecycleOps.refreshTo(spark, base, b))))
      }
      locally {
        var base: String = null; var a: DataFrame = null
        lifecycleSection("q210")(
          "build" -> { () =>
            val (sa, sb) = LifecycleOps.benchSnapshots(spark, d)
            a = sa
            base = LifecycleOps.benchScratch(spark, d, "rollback")
            LifecycleOps.priorBuild(spark, base, sa)
            forceEval(LifecycleOps.refreshTo(spark, base, sb))
          },
          "mutate" -> (() =>
            forceEval(LifecycleOps.rollbackTo(spark, base, 0L, a))))
      }
      locally {
        var base: String = null
        var a: DataFrame = null; var b: DataFrame = null
        lifecycleSection("q211")(
          "build" -> { () =>
            val (sa, sb) = LifecycleOps.benchSnapshots(spark, d)
            a = sa; b = sb
            base = LifecycleOps.benchScratch(spark, d, "compose")
            LifecycleOps.priorBuild(spark, base, sa)
          },
          "delete" -> (() =>
            forceEval(LifecycleOps.deleteDocs(spark, base,
              a.filter(pmod(col("doc_id"), lit(23)) === 7)
                .select("doc_id")))),
          "mutate" -> (() =>
            forceEval(LifecycleOps.refreshTo(spark, base, b))))
      }
      locally {
        var base: String = null
        lifecycleSection("q212")(
          "build" -> { () =>
            val (sa, sb) = LifecycleOps.benchSnapshots(spark, d)
            base = LifecycleOps.benchScratch(spark, d, "history")
            LifecycleOps.priorBuild(spark, base, sa)
            forceEval(LifecycleOps.refreshTo(spark, base, sb))
            forceEval(LifecycleOps.rollbackTo(spark, base, 0L, sa))
          },
          "read" -> (() =>
            forceEval(LifecycleOps.generationDatasheet(spark, base))))
      }
    }
    out.toMap
  }

  /** Ambient-basis control set (VERDICT r12 #4): ten queries whose
    * plans have been byte-stable for rounds, spanning the execution
    * shapes machine drift shows up in (parquet scan, hash agg, window,
    * join/union, explode-heavy text, global-window layout), with their
    * PINNED r12 driver-bench min-of-3 floors (BENCH_FULL.json, r12).
    * Every full bench run re-times them min-of-5 and reports
    * `basis_factor` = median(current_min / pinned_min) — the measured
    * machine-weather multiplier of THIS run, so a gate readout states
    * "deflated by the ambient factor" as a computed number instead of a
    * per-round forensic argument. The pins are a measurement BASIS, not
    * a target: they move only when a control's plan changes (which
    * should instead rotate the control out).
    */
  val BasisControls: Map[String, Double] = Map(
    "q04_revenue_filter" -> 0.3846,        // scan + pushed filter
    "q10_search_parts" -> 0.1401,          // scan + string predicate
    "q01_pricing_summary" -> 0.297,        // hash aggregate
    "q03_region_rollup" -> 0.3393,         // join + rollup agg
    "q06_distinct_customers" -> 0.2756,    // shuffle distinct
    "q07_latest_event_per_user" -> 0.2787, // keyed window
    "q02_topk_customers" -> 0.1346,        // global top-k
    "q09_union_reconcile" -> 0.3005,       // union + dedup
    "q85_bigram_perplexity" -> 1.494,      // explode + self-model join
    "q100_zorder_layout" -> 1.0352)        // global window + bit kernel

  /** Min-of-5 of each control on this machine, against the pinned
    * floors. Returns (per-control current mins, basis_factor).
    */
  private def basisProbe(spark: SparkSession, sfDir: String,
      force: DataFrame => Unit): (Map[String, Double], Double) = {
    val qs = SparkEntry.queries
    val mins = BasisControls.keys.toSeq.sorted.flatMap { name =>
      qs.get(name).map { fn =>
        val t = (1 to 5).map { _ =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.gc()
          val t0 = System.nanoTime()
          force(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }.min
        name -> t
      }
    }.toMap
    val ratios = mins.map { case (n, t) => t / BasisControls(n) }.toSeq.sorted
    val factor =
      if (ratios.isEmpty) 1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    (mins, factor)
  }

  /** Queries that MUTATE on-disk stores inside their timed run
    * (VERDICT r13 #4): they churn the block manager and page cache —
    * the proven mechanism behind late-suite inflation (PERF_NOTES r13,
    * q179) — so the bench runs them in their own phase AFTER every
    * pure query, keeping per-query numbers comparable across rounds.
    * BENCH_FULL.json carries the phase per entry (`phase_of`).
    */
  val LifecyclePhase: Set[String] = Set(
    "q205_delete_rebuild_parity", "q206_incremental_refresh",
    "q210_rollback_restore", "q211_delete_refresh_compose",
    "q212_generation_history", "q213_streamed_refresh",
    "q214_lifecycle_fsck", "q215_fsck_repair")

  /** A timed query set in run order: (median, min) seconds per query,
    * `None` for a query that threw — a failure is never timed.
    */
  private[graft] final case class Timings(
      results: Seq[(String, Option[(Double, Double)])]) {
    def failed: Seq[String] = results.collect { case (name, None) => name }
    /** Sum of the medians of the queries that ran. */
    def total: Double = results.flatMap(_._2).map(_._1).sum
  }

  /** `runsPerQuery` timed runs of each query (median and min kept). A
    * query that throws is reported on stderr and not run again.
    */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      runsPerQuery: Int): Timings = Timings(qs.map { case (name, fn) =>
    def run(): Option[Double] = {
      // drop cached frames so a query that caches an intermediate
      // (q71's hourly aggregate) measures END-TO-END like every other
      // query — the warmup pass otherwise pins the cache and all three
      // timed runs read it (ADVICE r8); rebuilding inside the timed
      // window keeps numbers comparable while the cache still serves
      // its in-query purpose (two branches share one build)
      spark.catalog.clearCache()
      // ... and drop leftover localCheckpoint storage: eager-result
      // operators (PageRank, triangles, k-core, cusum, q95's stage
      // hand-offs) persist their result RDDs OUTSIDE the cacheManager,
      // so clearCache never touches them and they accumulate across
      // the suite — at 175 queries the block manager filled far enough
      // that q138's write-audit measured 137 s in-suite vs 9.8 s
      // standalone under the identical session config. Nothing
      // references a prior query's checkpoint, so dropping storage is
      // safe (and lineage-truncated RDDs are never recomputed because
      // nothing asks for them again).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // collect OUTSIDE the timed window: on a large heap a major GC
      // pause otherwise lands mid-query on whichever one draws the
      // short straw, spiking a random per-query number 3-4x
      System.gc()
      val t0 = System.nanoTime()
      try {
        forceEval(fn(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    val times = Iterator.continually(run()).take(runsPerQuery)
      .takeWhile(_.isDefined).flatten.toVector.sorted
    name -> Option.when(times.length == runsPerQuery)(
      (times(times.length / 2), times.head))
  })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // optional subset filter for iterating on specific queries
    // (comma-separated short ids or full names, e.g. "q151,q155");
    // the full suite remains the default and the driver-run contract
    val onlyIds = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = onlyIds match {
      case Some(ids) => SparkEntry.queries.filter { case (name, _) =>
        ids.contains(name) || ids.contains(name.split('_').head)
      }
      case None => SparkEntry.queries
    }
    // phase split: every pure query first (sorted), the store-mutating
    // lifecycle queries last — their block-manager/page-cache churn
    // then cannot inflate a pure query's timed run. The lifecycle
    // WARMUP is deferred past the pure timed loop too (warming them
    // up front would churn the cache right before the basis controls
    // and the first timed pure queries — the same mechanism the phase
    // split exists to remove)
    val (lcQueries, pureQueries) = selected.toSeq.sortBy(_._1)
      .partition(q => LifecyclePhase(q._1))
    val orderedQueries = pureQueries ++ lcQueries
    // untimed warmup pass: JVM/JIT + codegen caches, so round-over-round
    // per-query numbers don't depend on which query drew the warmup slot
    def warmup(qs: Seq[(String, (SparkSession, String) => DataFrame)]): Unit =
      qs.foreach { case (name, fn) =>
        try forceEval(fn(spark, sfDir)) catch {
          case e: Throwable => System.err.println(s"[bench] warmup $name FAILED: ${e.getMessage}")
        }
      }
    warmup(pureQueries)
    // ambient-basis probe (full runs only — the gate context): min-of-5
    // of the pinned control set, timed AFTER warmup and BEFORE the main
    // loop so the factor describes the machine this suite ran on
    val (controlMins, basisFactor) = onlyIds match {
      case None => basisProbe(spark, sfDir, forceEval)
      case Some(_) => (Map.empty[String, Double], 1.0)
    }
    // median of 3 timed runs per query: single-shot timing could not
    // distinguish a real 1.5x regression from ambient machine load (the
    // r6→r7 driver bench inflated UNTOUCHED queries a median 1.57x); the
    // median rejects a one-off spike, the min is reported alongside as
    // the machine-quiet floor
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runsPerQuery >= 1,
      s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $runsPerQuery — 0 would " +
        "crash on the median index after the full warmup pass")
    val pureTimings = timeQueries(spark, sfDir, pureQueries, runsPerQuery)
    // the lifecycle phase: warmup AND timed runs both after every pure
    // number is in the bag
    warmup(lcQueries)
    val timings = Timings(pureTimings.results ++
      timeQueries(spark, sfDir, lcQueries, runsPerQuery).results)
    val results = timings.results
    // Double.toString is locale-independent (%.4f is not)
    def r4(v: Double): String = (math.rint(v * 10000) / 10000).toString
    // a failed query reads null, never a time
    def jmap(key: String => String, sel: ((Double, Double)) => Double) = results
      .map { case (k, v) => "\"" + key(k) + "\":" + v.fold("null")(t => r4(sel(t))) }
      .mkString("{", ",", "}")
    val total = timings.total
    def failedJson(key: String => String) =
      timings.failed.map(k => "\"" + key(k) + "\"").mkString("[", ",", "]")
    // build/query phase decomposition for q108/q114 — printed BEFORE the
    // machine-read line so that line stays last in the driver's window
    // subset runs compute phase splits only for the selected queries
    // (by short id); full runs compute all of them
    val phases = try phaseMetrics(spark, sfDir, onlyIds) catch {
      case e: Throwable =>
        System.err.println(s"[bench] phase split FAILED: ${e.getMessage}")
        Map.empty[String, Double]
    }
    val phaseJson = phases.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    if (phases.nonEmpty)
      println(s"""{"metric":"phase_detail","phases":$phaseJson,"sf":"$sfDir"}""")
    // full-name medians + mins first — the human/PERF_NOTES record;
    // the phase decomposition is PERSISTED here too (VERDICT r11 #5:
    // stdout-only printing lost it from the driver's artifact)
    val controlsJson = controlMins.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val phaseOfJson = orderedQueries.map { case (k, _) =>
      "\"" + k + "\":\"" +
        (if (LifecyclePhase(k)) "lifecycle" else "query") + "\""
    }.mkString("{", ",", "}")
    val detailLine = s"""{"metric":"total_detail","value":${r4(total)},"unit":"sec","runs_per_query":$runsPerQuery,"basis_factor":${r4(basisFactor)},"failed":${failedJson(identity)},"controls_min":$controlsJson,"phase_detail":$phaseJson,"phase_of":$phaseOfJson,"queries_min":${jmap(identity, _._2)},"queries":${jmap(identity, _._1)},"sf":"$sfDir"}"""
    println(detailLine)
    // full resolution also lands in the repo: the stdout tail window
    // truncates, this file never does. Path is cwd-relative (or
    // SPARK_GRAFT_BENCH_OUT) — a hardcoded absolute path broke runs
    // from any other checkout (ADVICE r11)
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
      val w = new java.io.PrintWriter(out)
      try w.println(detailLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }
    // the driver captures only the LAST 2000 chars of stdout (r8's
    // 82-query full-name line overflowed that window and parsed: null),
    // so the machine-read line goes LAST with short query ids ("q77" —
    // unique by construction). At 166+ queries even that overflows, so
    // the precision ADAPTS (3 → 2 → 1 decimals), and past what
    // precision alone can fit, the map keeps only the SLOWEST queries
    // that fit (the ones perf analysis reads first; the full map is in
    // BENCH_FULL.json / the detail line above)
    def rp(p: Int)(v: Double): String = {
      val m = math.pow(10, p); (math.rint(v * m) / m).toString
    }
    def shortId(name: String): String = name.split('_').head
    def shortLine(qs: Seq[(String, Option[Double])], p: Int): String = {
      val q = qs.map { case (k, v) => "\"" + shortId(k) + "\":" + v.fold("null")(rp(p)) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","runs_per_query":$runsPerQuery,"basis_factor":${r4(basisFactor)},"failed":${failedJson(shortId)},"queries":$q,"sf":"$sfDir"}"""
    }
    val meds = results.map { case (k, v) => (k, v.map(_._1)) }
    val budget = 1900 // headroom inside the 2000-char capture window
    val fitted = (3 to 1 by -1).iterator.map(p => shortLine(meds, p))
      .find(_.length <= budget)
      .getOrElse {
        // failed queries sort first: they are also named in `failed`
        val bySlow = meds.sortBy(m => -m._2.getOrElse(Double.PositiveInfinity))
        (meds.length to 1 by -1).iterator
          .map(n => shortLine(bySlow.take(n).sortBy(_._1), 1))
          .find(_.length <= budget).get
      }
    println(fitted)
    spark.stop()
    if (timings.failed.nonEmpty) sys.exit(1)
  }
}
