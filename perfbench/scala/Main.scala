package graft.perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classes and
  * launches it.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --report <metric,...> --bench-dir <dir> --work-dir <dir>`
  *
  * Sets the workload up and warms it, then measures one pass. `setup_s`
  * runs from JVM start to the first timed op: session start, inputs,
  * fixtures, references and warmup. With `--trace 1` it measures an
  * untraced pass and then a traced one, writes the span and counter
  * artifact, and reports the per-layer metrics and the tracing overhead.
  * The last stdout line is the result object:
  * `{"correct", "attempted", "failed", "metrics"}`, whose metrics are the
  * ones `--report` names. Exits 1 on any failed or mismatched op, or when
  * a named metric is missing or has no value.
  *
  * `--record-expected <dir>` instead writes the batch and lifecycle
  * results as Parquet (plus `oracle_sql.json`) for an oracle comparison,
  * and prints their content hashes in `expected.tsv` form.
  */
object Main {

  val Workloads: Map[String, Workload] = Map(
    "stream-trending" -> StreamTrending,
    "serving-mix" -> ServingMix,
    "batch-cold-path" -> BatchColdPath)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try {
      if (args.contains("record-expected")) { Record(args); 0 }
      else run(args)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  def session(cores: Int, workDir: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(args: Map[String, String]): Int = {
    val name = args("workload")
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown workload $name (have ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val cores = Runtime.getRuntime.availableProcessors()
    val workDir = new java.io.File(args("work-dir")).getAbsolutePath
    val benchDir = new java.io.File(args("bench-dir")).getAbsolutePath
    val ctx = Ctx(args("seed").toLong, args("seconds").toDouble, cores,
      benchDir, workDir)
    val traced = args.getOrElse("trace", "0") == "1"
    val report = args("report").split(",").toSeq

    // set-up: session start, inputs, fixtures, references, warmup
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val prepareA = Clock.nowMs
    val spark = session(cores, workDir)
    val prep = wl.setup(spark, ctx)
    val warmA = Clock.nowMs
    wl.warm(spark, ctx, prep)
    val firstOp = Clock.nowMs
    val setup = Metric("setup_s", (firstOp - jvmStartMs) / 1e3, "s")
    val setupParts = Seq(
      Metric("setup.jvm_s", (prepareA - jvmStartMs) / 1e3, "s"),
      Metric("setup.prepare_s", (warmA - prepareA) / 1e3, "s"),
      Metric("setup.warm_s", (firstOp - warmA) / 1e3, "s"))
    val untraced = wl.run(spark, ctx, prep, None)
    val tracedPass = if (!traced) None else {
      val tr = new Tracer(spark, cores)
      tr.start()
      val res = try wl.run(spark, ctx, prep, Some(tr)) finally tr.finish()
      Some((tr, res))
    }
    val measured = tracedPass.map(_._2).getOrElse(untraced)
    val attempted = untraced.attempted + tracedPass.map(_._2.attempted).getOrElse(0L)
    val failed = untraced.failed + tracedPass.map(_._2.failed).getOrElse(0L)

    val context = Seq(
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "cores" -> cores, "master" -> s"local[$cores]",
      "cores_source" -> "JVM availableProcessors (nproc)",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "data" -> "perfbench/data/sf0.01",
      "traced" -> traced) ++ measured.context
    println("perfbench context " + Json.obj(context))
    val e2e = setup +: untraced.e2e
    val failFrac = Metric("fail_frac", failed.toDouble / math.max(1L, attempted), "frac")
    println("perfbench metrics " + Json.metrics(e2e ++ untraced.named ++ (failFrac +: setupParts)))

    val available = tracedPass match {
      case None => e2e
      case Some((tr, res)) =>
        val generic = tr.genericMetrics(res.ops)
        val tracedE2e = setup +: res.e2e
        val overhead = e2e.zip(tracedE2e).collect {
          case (u, t) if u.name != "setup_s" => u.name -> Seq(
            "untraced" -> u.value, "traced" -> t.value,
            "diff" -> (t.value - u.value), "frac" -> (t.value - u.value) / u.value)
        }
        println("perfbench layers " + Json.metrics(generic ++ res.layers ++ res.named))
        println("perfbench trace_overhead " + Json.obj(overhead))
        val path = s"${args.getOrElse("trace-dir", s"$workDir/trace")}/$name-seed${ctx.seed}.json"
        Files.write(path, traceArtifact(name, context, tr, res, generic, overhead))
        println(s"perfbench trace written to $path")
        generic
    }
    spark.stop()

    val resultMetrics = report.flatMap(n => available.find(_.name == n))
    val missing = report.filterNot(n => available.exists(_.name == n))
    missing.foreach(n => System.err.println(s"[perfbench] metric $n is not measured by $name"))
    val bad = (e2e ++ resultMetrics).distinct.filter(m => m.value.isNaN || m.value.isInfinite)
    bad.foreach(m => System.err.println(s"[perfbench] metric ${m.name} has no value"))
    val correct = failed == 0 && bad.isEmpty && missing.isEmpty
    if (failed > 0)
      System.err.println(s"[perfbench] $failed of $attempted ops failed or mismatched")
    println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> resultMetrics.map(m => m.name -> m))))
    if (correct) 0 else 1
  }

  /** Spans (workload → op → Spark job) and counters of the traced pass,
    * with per-layer self time.
    */
  private def traceArtifact(name: String, context: Seq[(String, Any)], tr: Tracer,
      res: PassResult, generic: Seq[Metric], overhead: Seq[(String, Any)]): String = {
    val ops = res.ops
    val wStart = ops.map(_.startMs).minOption.getOrElse(0.0)
    val wEnd = ops.map(_.endMs).maxOption.getOrElse(0.0)
    val opSelf = ops.map(tr.selfMs).sum
    val jobs = tr.jobSpans
    val spans =
      Seq(Seq("id" -> name, "parent" -> null, "kind" -> "workload", "name" -> name,
        "start_ms" -> wStart, "end_ms" -> wEnd)) ++
      ops.map(o => Seq("id" -> o.id, "parent" -> name, "kind" -> o.kind,
        "name" -> o.name, "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok)) ++
      jobs.zipWithIndex.map { case ((op, a, b), i) => Seq("id" -> s"job-$i",
        "parent" -> op, "kind" -> "spark_job", "name" -> s"job-$i",
        "start_ms" -> a, "end_ms" -> b) }
    Json.obj(Seq(
      "context" -> context,
      "self_time_s" -> Seq(
        "workload" -> math.max(0.0, (wEnd - wStart) - Tracer.union(ops.map(o => (o.startMs, o.endMs)))) / 1e3,
        "op" -> opSelf / 1e3,
        "spark_jobs" -> tr.jobCoveredS),
      "per_layer" -> (generic ++ res.layers).map(m => m.name -> m),
      "end_to_end_traced" -> res.e2e.map(m => m.name -> m),
      "named_traced" -> res.named.map(m => m.name -> m),
      "tracing_overhead" -> overhead,
      "spans" -> spans))
  }
}
