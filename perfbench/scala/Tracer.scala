package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.Properties
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark-side half of the trace: a listener that ties every job, stage and
  * task to the op that caused it, plus JVM GC and heap counters.
  *
  * An op is named by the `perfbench.op` local property, which the
  * benchmark thread sets around each call it makes; micro-batch jobs carry
  * the stream's own `streaming.sql.batchId` property instead. Listener
  * callbacks arrive on one bus thread; reads happen after [[finish]] has
  * drained the bus.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener {
  import Tracer._

  final class OpAgg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
    var bytesWritten = 0L; var recordsWritten = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
  }

  private val jobOp = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Double]
  private val stageOp = mutable.Map.empty[Int, String]
  private val aggs = mutable.Map.empty[String, OpAgg]
  private val allJobs = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private var totalTaskRunMs = 0L
  private var totalShuffleWrite = 0L

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private var startMs = 0.0
  private var endMs = 0.0
  private var gcStartMs = 0L
  private var gcEndMs = 0L
  private var heapPeakBytes = 0L

  private def agg(op: String): OpAgg = aggs.getOrElseUpdate(op, new OpAgg)

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gcStartMs = gcMs
    spark.sparkContext.addSparkListener(this)
    startMs = Clock.nowMs
  }

  def finish(): Unit = {
    endMs = Clock.nowMs
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    gcEndMs = gcMs
    heapPeakBytes = heapPools.map(_.getPeakUsage.getUsed).sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = op
    jobStartMs(e.jobId) = e.time.toDouble
    agg(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, Unattributed)
    val t0 = jobStartMs.getOrElse(e.jobId, e.time.toDouble)
    agg(op).jobSpans += ((t0, e.time.toDouble))
    allJobs += ((op, t0, e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = opOf(e.properties)
    stageOp(e.stageInfo.stageId) = op
    agg(op).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageOp.getOrElse(e.stageId, Unattributed))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.recordsWritten += m.outputMetrics.recordsWritten
      totalTaskRunMs += m.executorRunTime
      totalShuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Counters of one op (all zero for an op that ran no Spark job). */
  def op(id: String): OpAgg = synchronized(aggs.getOrElse(id, new OpAgg))

  /** Wall time inside `span` covered by none of its own jobs. */
  def selfMs(span: OpSpan): Double = {
    val covered = union(op(span.id).jobSpans.toSeq.map { case (a, b) =>
      (math.max(a, span.startMs), math.min(b, span.endMs))
    })
    math.max(0.0, span.ms - covered)
  }

  def wallS: Double = (endMs - startMs) / 1e3

  /** Seconds of the pass during which at least one job was running. */
  def jobCoveredS: Double = synchronized(union(allJobs.toSeq.map {
    case (_, a, b) => (math.max(a, startMs), math.min(b, endMs))
  })) / 1e3

  /** The per-layer metrics every workload reports, over `ops`. Means, not
    * medians: listener times are whole milliseconds, and a mean of them
    * still carries the run's own digits.
    */
  def genericMetrics(ops: Seq[OpSpan]): Seq[Metric] = synchronized {
    val good = ops.filter(_.ok)
    val n = math.max(1, good.size).toDouble
    val per = good.map(s => op(s.id))
    def mean(xs: Seq[Double]) = xs.sum / math.max(1, xs.size)
    Seq(
      Metric("op.ms_mean", mean(good.map(_.ms)), "ms"),
      Metric("op.self_ms_mean", mean(good.map(selfMs)), "ms"),
      Metric("spark.jobs_per_op", per.map(_.jobs).sum / n, "count"),
      Metric("spark.stages_per_op", per.map(_.stages).sum / n, "count"),
      Metric("spark.tasks_per_op", per.map(_.tasks).sum / n, "count"),
      Metric("spark.job_ms_mean", mean(allJobs.toSeq.map { case (_, a, b) => b - a }), "ms"),
      Metric("spark.driver_only_s", wallS - jobCoveredS, "s"),
      Metric("spark.core_busy_frac", totalTaskRunMs / 1e3 / (wallS * cores), "frac"),
      Metric("spark.shuffle_write_mb", totalShuffleWrite / 1e6, "MB"),
      Metric("jvm.gc_s", (gcEndMs - gcStartMs) / 1e3, "s"),
      Metric("jvm.heap_peak_mb", heapPeakBytes / 1e6, "MB"))
  }

  /** Job spans as trace records: (op id, start ms, end ms). */
  def jobSpans: Seq[(String, Double, Double)] = synchronized(allJobs.toSeq)
}

object Tracer {
  val OpKey = "perfbench.op"
  private val BatchKey = "streaming.sql.batchId"
  val Unattributed = "-"

  private def opOf(p: Properties): String = Option(p).flatMap { p =>
    Option(p.getProperty(OpKey))
      .orElse(Option(p.getProperty(BatchKey)).map(b => s"batch-$b"))
  }.getOrElse(Unattributed)

  /** Length of the union of intervals. */
  def union(spans: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    spans.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Run `body` as op `id`: Spark jobs it launches on this thread are
    * attributed to it.
    */
  def asOp[A](spark: SparkSession, id: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, id)
    try body finally sc.setLocalProperty(OpKey, prev)
  }
}
