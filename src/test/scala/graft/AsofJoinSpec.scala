package graft

import graft.operators.AsofJoin
import org.apache.spark.sql.functions._

/** AsofJoin semantics on planted series: mid-series matches, the
  * inclusive at-or-before bound, no-match nulls, key isolation, and the
  * single-shuffle plan shape.
  */
class AsofJoinSpec extends SparkSpec {
  import sqlImplicits._

  private def probe = Seq(
    (1L, "k1", 5L), (2L, "k1", 10L), (3L, "k1", 20L), (4L, "k1", 3L),
    (5L, "k2", 100L), (6L, "k3", 50L)
  ).toDF("event_id", "key", "t")

  private def build = Seq(
    ("k1", 4L, "a"), ("k1", 10L, "b"), ("k1", 15L, "c"),
    ("k2", 100L, "x"), ("k2", 101L, "y")
  ).toDF("key", "t", "v")

  test("mid-series, inclusive bound, no-match null, key isolation") {
    val rows = AsofJoin.asofJoin(probe, "key", "t", build, "key", "t", Seq("v"))
      .collect()
    assert(rows.length == 6, s"one output row per probe row, got ${rows.length}")
    val out = rows.map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(out(1L) == Some("a"))   // t=5: latest build ≤ 5 is (4,"a")
    assert(out(2L) == Some("b"))   // t=10: INCLUSIVE tie matches (10,"b")
    assert(out(3L) == Some("c"))   // t=20: after the last build row
    assert(out(4L) == None)        // t=3: before every build row
    assert(out(5L) == Some("x"))   // k2 at 100: inclusive; 101 not visible
    assert(out(6L) == None)        // k3 has no build rows at all
  }

  test("one shuffle: a single exchange on the key serves the whole join") {
    val out = AsofJoin.asofJoin(probe, "key", "t", build, "key", "t", Seq("v"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val finalStart = plan.indexOf("== Final Plan ==")
    val sect =
      if (finalStart >= 0) {
        val initStart = plan.indexOf("== Initial Plan ==")
        if (initStart > finalStart) plan.substring(finalStart, initStart)
        else plan.substring(finalStart)
      } else plan
    val exchanges = sect.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(exchanges == 1, s"expected exactly one exchange:\n${sect.take(3000)}")
  }

  test("NULL keys never match (SQL join semantics)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("row_id", LongType),
      StructField("ck", StringType), StructField("t", LongType)))
    val bschema = StructType(Seq(StructField("pk", StringType),
      StructField("bt", LongType), StructField("v", StringType)))
    val l = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, null, 5L), Row(2L, "k1", 5L)), schema)
    val r = spark.createDataFrame(
      java.util.Arrays.asList(Row(null, 1L, "ghost"), Row("k1", 1L, "ok")), bschema)
    val out = AsofJoin.asofJoin(l, "ck", "t", r, "pk", "bt", Seq("v"))
      .collect().map(row => row.getLong(0) -> Option(row.getString(3))).toMap
    // the null-key probe row passes through UNMATCHED (left semantics);
    // the null-key build row must never enrich anything
    assert(out(1L) == None, s"null-key probe must not match: $out")
    assert(out(2L) == Some("ok"))
  }

  test("multiple value columns carried together") {
    val b2 = build.withColumn("v2", concat(col("v"), lit("!")))
    val out = AsofJoin.asofJoin(probe, "key", "t", b2, "key", "t", Seq("v", "v2"))
      .collect().map(r => r.getLong(0) -> (Option(r.getString(3)), Option(r.getString(4)))).toMap
    assert(out(1L) == (Some("a"), Some("a!")))
    assert(out(4L) == (None, None))
  }

  test("NULL times never match: no ghost build rows, null-time probes unmatched") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ls = StructType(Seq(StructField("row_id", LongType),
      StructField("ck", StringType), StructField("pt", LongType)))
    val bs = StructType(Seq(StructField("bk", StringType),
      StructField("bt", LongType), StructField("v", StringType)))
    val l = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "k1", 5L),          // before every REAL build row
      Row(2L, "k1", 20L),         // after the real build row
      Row(3L, "k1", null)), ls)   // null probe time
    val r = spark.createDataFrame(java.util.Arrays.asList(
      Row("k1", null, "ghost"),   // DuckDB ASOF: pt >= NULL never holds
      Row("k1", 10L, "real")), bs)
    val out = AsofJoin.asofJoin(l, "ck", "pt", r, "bk", "bt", Seq("v"))
      .collect().map(row => row.getLong(0) -> Option(row.getString(3))).toMap
    assert(out(1L) == None, s"null-time build row must never enrich: $out")
    assert(out(2L) == Some("real"))
    assert(out(3L) == None, s"null-time probe must pass through unmatched: $out")
  }

  test("row integrity: a build row with a NULL field carries intact, never mixed") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bs = StructType(Seq(StructField("bk", StringType),
      StructField("bt", LongType), StructField("v", StringType),
      StructField("v2", StringType)))
    // at t=10 the latest build row holds (null, "B2") — the enrichment
    // must be exactly that row, NOT v="A" resurrected from t=4
    val r = spark.createDataFrame(java.util.Arrays.asList(
      Row("k1", 4L, "A", "A2"), Row("k1", 8L, null, "B2")), bs)
    val out = AsofJoin.asofJoin(probe, "key", "t", r, "bk", "bt", Seq("v", "v2"))
      .collect().map(row =>
        row.getLong(0) -> (Option(row.getString(3)), Option(row.getString(4)))).toMap
    assert(out(1L) == (Some("A"), Some("A2")))   // t=5 → the t=4 row
    assert(out(2L) == (None, Some("B2")),        // t=10 → the t=8 row, intact
      s"per-column carry mixed build rows: $out")
    assert(out(4L) == (None, None))              // t=3 → no match
  }

  test("reserved temp names are rejected loudly") {
    val bad = probe.withColumn("__t", col("t"))
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(bad, "key", "t", build, "key", "t", Seq("v"))
    }
    assert(e.getMessage.contains("__t"))
  }

  test("bucketedAsofJoin rejects its extra reserved names (__b would corrupt silently)") {
    // __b is bucketedAsofJoin-only: the plain variant accepts it, the
    // bucketed one would overwrite it with the bucket id and return the
    // corrupted column through the final leftCols select
    val withB = probe.withColumn("__b", col("t"))
    AsofJoin.asofJoin(withB, "key", "t", build, "key", "t", Seq("v")).collect()
    val e = intercept[IllegalArgumentException] {
      AsofJoin.bucketedAsofJoin(withB, "key", "t", build, "key", "t", Seq("v"), 10L)
    }
    assert(e.getMessage.contains("__b"))
  }

  test("bucketedAsofJoin equals asofJoin on the planted frames, all widths") {
    val b2 = build.withColumn("v2", concat(col("v"), lit("!")))
    val plain = AsofJoin.asofJoin(probe, "key", "t", b2, "key", "t", Seq("v", "v2"))
      .collect().map(_.toSeq).toSet
    // width 1 = every timestamp its own bucket (all matches via carry-in);
    // width 7 = mixed local/carry; width 1000 = one bucket (pure local)
    for (width <- Seq(1L, 7L, 1000L)) {
      val bucketed = AsofJoin.bucketedAsofJoin(probe, "key", "t", b2, "key", "t",
        Seq("v", "v2"), bucketWidth = width)
        .collect().map(_.toSeq).toSet
      assert(bucketed == plain, s"width=$width diverged:\n$bucketed\nvs\n$plain")
    }
  }

  test("bucketedAsofJoin equals asofJoin on a randomized hot-key frame") {
    val rng = new scala.util.Random(42)
    // 60% of probes on one hot key; times cluster so buckets are a mix of
    // build-empty, probe-empty, and dense; some negative times exercise
    // the div-vs-floor bucketing note
    val probes = Seq.tabulate(800) { i =>
      val k = if (rng.nextInt(10) < 6) "hot" else s"k${rng.nextInt(7)}"
      (i.toLong, k, (rng.nextInt(2000) - 300).toLong)
    }.toDF("event_id", "key", "t")
    val builds = Seq.tabulate(120) { i =>
      val k = if (rng.nextInt(10) < 5) "hot" else s"k${rng.nextInt(7)}"
      (k, (rng.nextInt(2000) - 300).toLong, i.toLong)
    }.toDF("key", "t", "payload")
      // contract: unique per (key, time)
      .groupBy("key", "t").agg(max("payload").as("payload"))
    val plain = AsofJoin.asofJoin(probes, "key", "t", builds, "key", "t", Seq("payload"))
      .collect().map(_.toSeq).toSet
    for (width <- Seq(13L, 64L, 500L)) {
      val bucketed = AsofJoin.bucketedAsofJoin(probes, "key", "t", builds,
        "key", "t", Seq("payload"), bucketWidth = width)
        .collect().map(_.toSeq).toSet
      assert(bucketed == plain, s"width=$width diverged on randomized frame")
    }
  }

  test("bucketedAsofJoin: null keys and times follow asofJoin semantics") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ls = StructType(Seq(StructField("row_id", LongType),
      StructField("ck", StringType), StructField("pt", LongType)))
    val bs = StructType(Seq(StructField("bk", StringType),
      StructField("bt", LongType), StructField("v", StringType)))
    val l = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "k1", 25L), Row(2L, null, 25L), Row(3L, "k1", null)), ls)
    val r = spark.createDataFrame(java.util.Arrays.asList(
      Row("k1", 10L, "real"), Row(null, 1L, "ghostK"), Row("k1", null, "ghostT")), bs)
    val out = AsofJoin.bucketedAsofJoin(l, "ck", "pt", r, "bk", "bt", Seq("v"), 10L)
      .collect().map(row => row.getLong(0) -> Option(row.getString(3))).toMap
    assert(out == Map(1L -> Some("real"), 2L -> None, 3L -> None), s"$out")
  }

  test("bucketedAsofJoin plan: row-level window is partitioned by (key, bucket)") {
    val out = AsofJoin.bucketedAsofJoin(probe, "key", "t", build, "key", "t",
      Seq("v"), bucketWidth = 7L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the heavy window must carry BOTH the key and the bucket in its
    // partition spec — that is the whole point of the variant
    assert(plan.contains("windowspecdefinition(__k#") && plan.contains(", __b#"),
      plan.take(2000))
  }
}
