package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import scala.collection.concurrent.TrieMap

/** Sink adapters (SURVEY.md §2.2).
  *
  * The reference fans each micro-batch out to Redis hashes + sorted sets
  * (K5, `trending_stream.py:298-363`) and to Kafka as JSON (K4,
  * `hot_path_scoring.py:488-498`). Correctness only needs the *semantics*:
  * a last-write-wins KV view and a per-metric top-k leaderboard. Those are
  * modeled by [[KeyValueTopK]], an in-JVM store fed from `foreachBatch`;
  * swapping in a real Redis/Cassandra client is a sink-local change.
  */
object Sinks {

  /** Last-write-wins KV + top-k leaderboard semantics of the reference's
    * Redis hashes (`trending:{platform}:{kol}`) and sorted sets
    * (`ranking:{platform}:{metric}`). Thread-safe; keyed overwrite matches
    * ZADD's update-in-place.
    */
  final class KeyValueTopK extends Serializable {
    val store: TrieMap[String, Map[String, String]] = TrieMap.empty
    val ranking: TrieMap[String, Double] = TrieMap.empty
    /** Window start (epoch ms) of the row held in `store`, per store key,
      * for writers that upsert through [[upsertWindow]].
      */
    val storedWindow: TrieMap[String, Long] = TrieMap.empty

    def upsert(platform: String, key: String, fields: Map[String, String],
        score: Double): Unit = {
      store.put(s"trending:$platform:$key", fields)
      ranking.put(s"$platform:$key", score)
    }

    /** [[upsert]] unless the key already holds a newer window: an
      * update for an older window is skipped, one for the same or a
      * newer window wins.
      */
    def upsertWindow(platform: String, key: String, windowStartMs: Long,
        fields: Map[String, String], score: Double): Unit = {
      val storeKey = s"trending:$platform:$key"
      if (storedWindow.get(storeKey).forall(_ <= windowStartMs)) {
        storedWindow.put(storeKey, windowStartMs)
        upsert(platform, key, fields, score)
      }
    }

    def topK(platform: String, k: Int): Seq[(String, Double)] =
      ranking.toSeq
        .filter(_._1.startsWith(platform + ":"))
        .sortBy { case (key, score) => (-score, key) }
        .take(k)
  }

  /** foreachBatch writer: upsert the scored trending frame into the
    * KV/top-k view, so each key holds the latest state of its NEWEST
    * window. Update mode emits one row per changed (key, window), and a
    * key's sliding windows arrive in any row order, so the collected
    * rows are applied in ascending window order after the collect and
    * an update for a window older than the stored one is skipped.
    */
  def trendingKvSink(df: DataFrame, kv: KeyValueTopK,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(TrendingStream.TriggerInterval))
      : DataStreamWriter[Row] = {
    val w = df.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(col("window_start"),
          col("platform"), col("username"), col("trending_score"),
          col("trending_label"), col("total_engagement"), col("event_count"))
          .collect() // bounded: one row per (key, window) in the micro-batch
        rows.sortBy(_.getTimestamp(0).getTime).foreach { r =>
          kv.upsertWindow(
            r.getAs[String]("platform"),
            r.getAs[String]("username"),
            r.getTimestamp(0).getTime,
            Map(
              "trending_score" -> r.getAs[Double]("trending_score").toString,
              "trending_label" -> r.getAs[String]("trending_label"),
              "total_engagement" -> r.getAs[Long]("total_engagement").toString,
              "event_count" -> r.getAs[Long]("event_count").toString),
            r.getAs[Double]("trending_score"))
        }
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }

  /** foreachBatch writer for [[TrendingStream.momentumPipeline]]'s output
    * — same KV/top-k view as [[trendingKvSink]], with the momentum-fed
    * score ranking and the state columns (prev/velocity/momentum) stored
    * alongside, so a reader can audit WHY a key ranks where it does.
    */
  def momentumKvSink(df: DataFrame, kv: KeyValueTopK,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(TrendingStream.TriggerInterval))
      : DataStreamWriter[Row] = {
    val w = df.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect() // bounded: one row per active key
        rows.foreach { r =>
          kv.upsert(
            r.getAs[String]("platform"),
            r.getAs[String]("username"),
            Map(
              "trending_score" -> r.getAs[Double]("trending_score").toString,
              "trending_label" -> r.getAs[String]("trending_label"),
              "engagement" -> r.getAs[Double]("engagement").toString,
              "prev_engagement" -> r.getAs[Double]("prev_engagement").toString,
              "velocity" -> r.getAs[Double]("velocity").toString,
              "momentum" -> r.getAs[Double]("momentum").toString),
            r.getAs[Double]("trending_score"))
        }
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }

  /** Kafka JSON sink shape (K4): key = kol id, value = full row as JSON. */
  def toKafkaJson(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Console/debug sink (K7). */
  def consoleSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.outputMode("update").format("console")
      .option("truncate", "false")
}
