package graft.etl

import graft.functions.Scores
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Silver → Gold star schema (SURVEY.md §3.2 step 3, `silver_to_gold.py`).
  *
  * The derived dim_time dimension,
  * dim_kol via left joins onto trust + engagement (J1/J2) with
  * absent-side defaults (J4), the trust heuristic + tier binning (U4),
  * the fact table with FK resolution via when-chains — kept as the
  * reference does it (J5), deliberately join-free — and the platform KPI
  * rollup (A2/A5/A6). Dim joins are broadcast: facts never shuffle for
  * dimension lookup at any scale.
  */
object SilverToGold {

  /** dim_time derived from the span of observed dates
    * (`silver_to_gold.py:318-343`): full P19 date kit, weekend flag via
    * isin, "Qn" label via concat.
    */
  def dimTime(dates: DataFrame, dateCol: String): DataFrame =
    dates
      .select(to_date(col(dateCol)).as("date"))
      .filter(col("date").isNotNull)
      .distinct()
      .withColumn("date_id", date_format(col("date"), "yyyyMMdd").cast("int"))
      .withColumn("year", year(col("date")))
      .withColumn("quarter", quarter(col("date")))
      .withColumn("quarter_label", concat(lit("Q"), quarter(col("date"))))
      .withColumn("month", month(col("date")))
      .withColumn("week_of_year", weekofyear(col("date")))
      .withColumn("day_of_month", dayofmonth(col("date")))
      .withColumn("day_of_week", dayofweek(col("date")))
      .withColumn("day_name", date_format(col("date"), "EEEE"))
      .withColumn("is_weekend", dayofweek(col("date")).isin(1, 7))

  /** dim_kol (`silver_to_gold.py:130-260`): profiles left-joined to trust
    * features and engagement (broadcast — dims are small relative to any
    * fact), trust heuristic, tier, follower ratio, null fills.
    */
  def dimKol(profiles: DataFrame, trustFeatures: Option[DataFrame],
      engagement: Option[DataFrame]): DataFrame = {
    val withTrustInput = trustFeatures match {
      case Some(tf) =>
        profiles.join(
          broadcast(graft.operators.Dedup.latestPerKey(
            tf, Seq("username", "platform"), Seq(col("computed_at").desc_nulls_last))
            .select(col("username").as("t_username"), col("platform").as("t_platform"),
              col("account_age_days"), col("is_untrustworthy"))),
          col("username") === col("t_username") && col("platform") === col("t_platform"),
          "left")
          .drop("t_username", "t_platform")
      case None => // J4: absent side → defaults
        profiles
          .withColumn("account_age_days", lit(0))
          .withColumn("is_untrustworthy", lit(0))
    }
    val withEng = engagement match {
      case Some(eng) =>
        withTrustInput.join(
          eng.select(col("username").as("e_username"), col("platform").as("e_platform"),
            col("total_views"), col("total_likes"),
            col("content_count").as("total_posts_tracked"), col("avg_engagement_rate")),
          col("username") === col("e_username") && col("platform") === col("e_platform"),
          "left")
          .drop("e_username", "e_platform")
      case None =>
        withTrustInput
          .withColumn("total_views", lit(0L))
          .withColumn("total_likes", lit(0L))
          .withColumn("total_posts_tracked", lit(0L))
          .withColumn("avg_engagement_rate", lit(0.0))
    }
    withEng
      .withColumn("trust_score", Scores.trustScore(
        col("verified"), col("has_profile_image"),
        coalesce(col("account_age_days"), lit(0)),
        col("followers_count"), col("following_count"),
        coalesce(col("is_untrustworthy"), lit(0))))
      .withColumn("kol_tier", Scores.kolTier(coalesce(col("followers_count"), lit(0L))))
      .withColumn("followers_following_ratio",
        round(coalesce(col("followers_count"), lit(0L)) /
          greatest(coalesce(col("following_count"), lit(1L)), lit(1L)), 2))
      .na.fill(0L, Seq("total_views", "total_likes", "total_posts_tracked"))
      .na.fill(0.0, Seq("avg_engagement_rate"))
      .withColumn("processed_at", current_timestamp())
  }

  /** fact_kol_performance (`silver_to_gold.py:410-470`): FK resolution via
    * when-chains (J5 — the reference's join-free pattern, kept), measures,
    * performance-tier labels.
    */
  def factKolPerformance(content: DataFrame): DataFrame =
    content
      .withColumn("platform_id",
        when(col("platform") === "tiktok", 1)
          .when(col("platform") === "youtube", 2)
          .when(col("platform") === "instagram", 3)
          .when(col("platform") === "facebook", 4)
          .when(col("platform") === "twitter", 5)
          .otherwise(0))
      .withColumn("content_type_id", lit(1))
      .withColumn("date_id",
        coalesce(date_format(to_date(col("event_time")), "yyyyMMdd").cast("int"), lit(0)))
      .withColumn("performance_tier",
        when(col("views") >= 1000000, "viral")
          .when(col("views") >= 100000, "high")
          .when(col("views") >= 10000, "medium")
          .otherwise("standard"))
      .select("content_id", "username", "platform_id", "content_type_id",
        "date_id", "views", "likes", "comments", "shares",
        "engagement_total", "engagement_rate", "performance_tier")

  /** ml_trust_training (`silver_to_gold.py:486-548`): the gold ML training
    * table off silver kol_trust_features — keep only labeled rows
    * (account_type ∈ human/bot), coalesce numerics (this is where a
    * malformed-timestamp NULL account_age_days becomes 0), convert boolean
    * flags to 0/1 ints, label = is_untrustworthy. Output feeds
    * [[FeatureEngineering.trustFeatures]] directly. Narrow projection +
    * filter — no shuffle.
    */
  def mlTrustTraining(trust: DataFrame): DataFrame = {
    def flag(c: String): Column = when(col(c) === true, 1).otherwise(0).as(c)
    trust
      .filter(col("account_type").isin("human", "bot"))
      .select(
        col("kol_id"),
        coalesce(col("followers_count"), lit(0L)).as("followers_count"),
        coalesce(col("following_count"), lit(0L)).as("following_count"),
        coalesce(col("post_count"), lit(0L)).as("post_count"),
        coalesce(col("favorites_count"), lit(0L)).as("favorites_count"),
        coalesce(col("followers_following_ratio"), lit(0.0)).as("followers_following_ratio"),
        coalesce(col("posts_per_day"), lit(0.0)).as("posts_per_day"),
        coalesce(col("account_age_days"), lit(0)).as("account_age_days"),
        coalesce(col("bio_length"), lit(0)).as("bio_length"),
        flag("has_profile_image"), flag("has_bio"), flag("has_url"),
        flag("verified"), flag("default_profile"), flag("default_profile_image"),
        coalesce(col("is_untrustworthy"), lit(0)).as("is_untrustworthy"),
        when(col("is_untrustworthy") === 1, 1).otherwise(0).as("label"),
        col("platform").as("_platform"),
        col("source").as("_source"),
        current_timestamp().as("_processed_at"))
  }

  /** agg_platform_kpi (`silver_to_gold.py:570-614`): per-platform rollup
    * with distinct KOL counts, verified share (A5) and post-agg derived
    * averages (A6).
    */
  def aggPlatformKpi(profiles: DataFrame, content: DataFrame): DataFrame = {
    val contentAgg = content.groupBy("platform").agg(
      count(lit(1)).as("content_count"),
      sum("views").as("total_views"),
      sum("engagement_total").as("total_engagement"),
      countDistinct("username").as("active_kols"))
    val profileAgg = profiles.groupBy("platform").agg(
      countDistinct("username").as("kol_count"),
      sum(when(col("verified"), 1L).otherwise(0L)).as("verified_count"),
      round(avg("followers_count"), 2).as("avg_followers"))
    profileAgg.join(contentAgg, Seq("platform"), "left")
      .na.fill(0L, Seq("content_count", "total_views", "total_engagement", "active_kols"))
      .withColumn("avg_views_per_content",
        round(col("total_views") / greatest(col("content_count"), lit(1L)), 2))
      .withColumn("verified_ratio",
        round(col("verified_count") / greatest(col("kol_count"), lit(1L)).cast("double"), 4))
  }
}
