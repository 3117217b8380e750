package graft

import org.apache.spark.sql.SparkSession

/** Single SparkSession factory for the engine.
  *
  * Mirrors the reference's per-job session builders (e.g.
  * `batch/etl/bronze_to_silver.py:95-104`,
  * `streaming/spark_jobs/trending_stream.py:370-380`) but centralized:
  * UTC timezone, AQE on, snappy parquet, shuffle partitions sized for the
  * actual parallelism instead of the 200 default. On a real cluster the
  * same builder is used with `spark.sql.shuffle.partitions` raised to
  * ~2-3x total cores and `maxPartitionBytes` left at 128MB so a 100 TB
  * scan fans out to ~800k splits.
  */
object GraftSession {

  /** The `Verify` and `Bench` session: `local[N]` with one shuffle
    * partition per core, N from `SPARK_GRAFT_CPUS` (4 when unset).
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    builder(s"local[$cpus]", shufflePartitions = cpus).getOrCreate()
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // Plan STRINGS are generated per action for the SQL listener even
      // with the UI off (SparkListenerSQLExecutionStart carries the full
      // physical-plan description). The default cap is ~2 GB; a plan
      // that embeds MB-size binary literals (Bloom filters) under nested
      // cached subtrees can render to gigabytes and OOM the driver on
      // string CONCATENATION alone (measured: q95 at 500 docs, 12 GB
      // heap). 10 MB keeps every real dump readable and bounds the
      // listener cost.
      .config("spark.sql.maxPlanStringLength", "10000000")
      // the driver's events table is nanosecond-precision parquet; Spark
      // rejects TIMESTAMP(NANOS) unless read as raw longs (converted to a
      // timestamp in Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming state-store checkpoints: the default FileContext manager +
      // checksum wrapper shell out (chmod/readlink) per commit via Hadoop's
      // Shell, and process spawning from a large JVM is pathologically slow
      // in this container. The FileSystem-based manager renames with pure
      // java.io and the checksum layer is unnecessary on local disk.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
}
