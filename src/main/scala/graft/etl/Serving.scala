package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Serving-query layer (SURVEY.md §2.10 Q1–Q9): the API's Trino SQL
  * re-hosted as Spark over the gold tables. Each method is one query
  * shape; the metric/order whitelists mirror the reference's sanitization
  * (`trino_client.py:112-139`, `:323-364`) so arbitrary column injection
  * is impossible.
  */
object Serving {

  val OrderableColumns: Set[String] =
    Set("followers_count", "following_count", "likes_total", "bio_length",
      "total_views", "total_likes", "trust_score")

  val TopKMetrics: Set[String] =
    Set("followers_count", "total_views", "total_likes", "trust_score",
      "avg_engagement_rate")

  /** Q1: filtered, ordered, paginated listing. */
  def listKols(dimKol: DataFrame, platform: Option[String], orderBy: String,
      descending: Boolean, limit: Int, offset: Int): DataFrame = {
    require(OrderableColumns.contains(orderBy), s"unorderable column: $orderBy")
    val filtered = platform.fold(dimKol)(p => dimKol.filter(col("platform") === p))
    val ord = if (descending) col(orderBy).desc else col(orderBy).asc
    filtered.orderBy(ord, col("username").asc).offset(offset).limit(limit)
  }

  /** Q2: point lookups. */
  def byUsername(dimKol: DataFrame, username: String, platform: Option[String]): DataFrame = {
    val base = dimKol.filter(col("username") === username)
    platform.fold(base)(p => base.filter(col("platform") === p)).limit(1)
  }

  /** Q3: substring search over username/nickname, ordered by followers. */
  def searchKols(dimKol: DataFrame, q: String, limit: Int = 50): DataFrame = {
    val needle = q.toLowerCase.replace("%", "").replace("_", "")
    dimKol
      .filter(lower(col("username")).contains(needle) ||
        lower(coalesce(col("nickname"), lit(""))).contains(needle))
      .orderBy(col("followers_count").desc, col("username").asc)
      .limit(limit)
  }

  /** Q4: global stats. */
  def globalStats(dimKol: DataFrame): DataFrame =
    dimKol.agg(
      count(lit(1)).as("total_kols"),
      countDistinct("platform").as("n_platforms"),
      sum("followers_count").as("total_followers"),
      round(avg("followers_count"), 2).as("avg_followers"),
      sum(when(col("verified"), 1L).otherwise(0L)).as("verified_count"))

  /** Q6: top-k by whitelisted metric. */
  def topK(dimKol: DataFrame, metric: String, k: Int): DataFrame = {
    require(TopKMetrics.contains(metric), s"unrankable metric: $metric")
    dimKol.orderBy(col(metric).desc, col("username").asc).limit(k)
  }

  /** Q7: per-KOL content feed, newest first, capped at 100. */
  def contentFeed(content: DataFrame, username: String, limit: Int): DataFrame =
    content.filter(col("username") === username)
      .orderBy(col("event_time").desc, col("content_id").asc)
      .limit(math.min(limit, 100))

  /** Q8: faceted search with dynamically assembled predicates. */
  def facetedSearch(dimKol: DataFrame, q: Option[String], platform: Option[String],
      minFollowers: Option[Long], maxFollowers: Option[Long],
      verifiedOnly: Boolean, limit: Int = 50): DataFrame = {
    val preds = Seq(
      q.map(s => lower(col("username")).contains(s.toLowerCase)),
      platform.map(p => col("platform") === p),
      minFollowers.map(m => col("followers_count") >= m),
      maxFollowers.map(m => col("followers_count") <= m),
      if (verifiedOnly) Some(col("verified") === true) else None).flatten
    preds.foldLeft(dimKol)((df, p) => df.filter(p))
      .orderBy(col("followers_count").desc, col("username").asc)
      .limit(limit)
  }

  /** A10 distribution stats (`feature_engineering.py:401-419`): quartile /
    * p90 thresholds + stddev + count per group. The reference derives its
    * thresholds offline with pandas `quantile` — exactness is not part of
    * the semantic — so the DEFAULT path uses `approx_percentile`
    * (Greenwald-Khanna sketch: buffer size is O(accuracy·log n) regardless
    * of group size, and partials combine map-side, so one group holding
    * billions of values stays bounded). `exact = true` switches to the
    * interpolated `percentile` twin, which buffers EVERY value of a group
    * inside its ObjectHashAggregate buffer — keep that form for small-sf
    * oracle parity only; it must not run at 100 TB.
    */
  def distributionStats(df: DataFrame, groupCol: String, valueCol: String,
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    // ONE percentile aggregate with an array of fractions instead of
    // four: Spark's Percentile/ApproximatePercentile buffers the whole
    // column per aggregate INSTANCE, so the scalar form built, merged,
    // and serialized four identical value buffers per group — 4x the
    // dominant cost of this shape for byte-identical results (the
    // array form interpolates each fraction from the same buffer).
    val fracs = "array(0.25D, 0.5D, 0.75D, 0.90D)"
    val pcts =
      if (exact) expr(s"percentile($valueCol, $fracs)")
      else expr(s"approx_percentile($valueCol, $fracs, $accuracy)")
    df.groupBy(groupCol).agg(
      pcts.as("__ps"),
      round(stddev_samp(col(valueCol)), 2).as("sd"),
      count(lit(1)).as("n"))
      .select(col(groupCol),
        round(element_at(col("__ps"), 1), 4).as("p25"),
        round(element_at(col("__ps"), 2), 4).as("p50"),
        round(element_at(col("__ps"), 3), 4).as("p75"),
        round(element_at(col("__ps"), 4), 4).as("p90"),
        col("sd"), col("n"))
  }

  /** In-engine certificate for the approx-percentile path: recompute each
    * returned quantile's true rank fraction against the data and emit
    * whether it sits within the sketch's guaranteed rank error
    * (`1/accuracy`). The sketch value itself is engine-specific (DuckDB
    * can't reproduce it), but this boolean IS cross-engine checkable — an
    * oracle row of `true`s pins the guarantee on real data. Two scans
    * (sketch, then rank join); the joined side is k rows per group and
    * broadcast.
    */
  def approxPercentileRankCheck(df: DataFrame, groupCol: String,
      valueCol: String, percentiles: Seq[(String, Double)],
      accuracy: Int = 10000): DataFrame = {
    // one sketch per group queried at every fraction (array form)
    // instead of one independent sketch PER fraction: identical
    // estimates (the summaries see the same data), 1/k the sketch
    // build/merge cost — the q41 lesson applied to the approx path
    val fracs = percentiles.map(_._2).mkString("array(", ", ", ")")
    val sketch = df.groupBy(groupCol)
      .agg(expr(s"approx_percentile($valueCol, $fracs, $accuracy)")
        .as("__apx"))
      .select(col(groupCol) +: percentiles.zipWithIndex.map {
        case ((nm, _), i) => element_at(col("__apx"), i + 1).as(s"apx_$nm")
      }: _*)
    // merging per-partition GK summaries degrades the worst-case rank
    // error beyond the single-pass 1/accuracy (observed 1.004e-4 at
    // accuracy=10000 on 32 partitions; the GK merge bound is ~2x) — the
    // certificate pins the distributed guarantee, 2/accuracy
    val eps = 2.0 / accuracy + 1e-9
    val v = col(valueCol)
    val rankAggs = percentiles.flatMap { case (nm, _) =>
      Seq(
        sum(when(v < col(s"apx_$nm"), 1L).otherwise(0L)).as(s"lo_$nm"),
        sum(when(v <= col(s"apx_$nm"), 1L).otherwise(0L)).as(s"hi_$nm"))
    } :+ count(v).as("n")
    val ranked = df.join(broadcast(sketch), groupCol)
      .groupBy(groupCol)
      .agg(rankAggs.head, rankAggs.tail: _*)
    val okCols = percentiles.map { case (nm, q) =>
      (lit(q) > col(s"lo_$nm") / col("n") - eps &&
        lit(q) <= col(s"hi_$nm") / col("n") + eps).as(s"${nm}_ok")
    }
    ranked.select(col(groupCol) +: col("n") +: okCols: _*)
  }

  /** Q9: label-bucket statistics over a scored frame. The average is left
    * unrounded (`avg_score_raw`) — scores are usually pre-rounded 2dp
    * values whose bucket average can terminate exactly one digit past any
    * rounding scale, so the caller picks the cross-engine-safe rounding
    * (see TextFunctions.round4hu).
    */
  def labelBucketStats(scored: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    scored.groupBy(labelCol)
      .agg(count(lit(1)).as("n"),
        round(min(scoreCol), 2).as("min_score"),
        round(max(scoreCol), 2).as("max_score"),
        avg(scoreCol).as("avg_score_raw"))
}
