package graft

import graft.operators.{LanguageModel, Sampling}
import graft.plans.TopNAgg
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Curation-policy operators: bounded top-n aggregate, bigram-LM
  * perplexity, percentile gating, domain caps, √-temperature resampling.
  */
class CurationSpec extends SparkSpec {
  import sqlImplicits._

  test("topn_min_agg equals sorted-prefix ground truth under skew and partial merges") {
    // 10k rows over 3 keys, one hot key with 90% of rows, ids shuffled
    // across 16 input partitions so map-side partial merges really happen
    val rows = spark.range(10000).repartition(16).select(
      when(col("id") % 10 < 9, lit("hot")).otherwise(
        when(col("id") % 2 === 0, lit("a")).otherwise(lit("b"))).as("k"),
      // non-monotone id derivation: arrival order != value order
      ((col("id") * 7919) % 10000).as("v"))
    val got = rows.groupBy("k").agg(TopNAgg.topnMinAgg(col("v"), 5).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val want = rows.withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy("v")))
      .filter(col("rn") <= 5).groupBy("k")
      .agg(sort_array(collect_list("v")).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(got("hot").length == 5 && got("hot") == got("hot").sorted)
  }

  test("topn_min_agg: group smaller than n, duplicates, and nulls") {
    val df = Seq(
      (Some(3L), "a"), (Some(1L), "a"), (None, "a"),
      (Some(5L), "b"), (Some(5L), "b"), (Some(5L), "b"), (Some(2L), "b"), (Some(7L), "b"))
      .toDF("v", "k")
    val got = df.groupBy("k").agg(TopNAgg.topnMinAgg(col("v"), 3).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a") == Seq(1L, 3L)) // nulls skipped, short group kept whole
    assert(got("b") == Seq(2L, 5L, 5L)) // duplicates occupy slots
  }

  test("topn_min_agg SQL registration: works and guards arity") {
    graft.plans.GraftExtensions.register(spark)
    spark.range(100).createOrReplaceTempView("tn_src")
    val out = spark.sql(
      "SELECT topn_min_agg(id, 4) AS t FROM tn_src").collect()
    assert(out.head.getSeq[Long](0) == Seq(0L, 1L, 2L, 3L))
    val err = intercept[Exception](spark.sql("SELECT topn_min_agg(id) FROM tn_src"))
    assert(err.getMessage.contains("topn_min_agg"))
  }

  test("bigram perplexity: hand-computed NLL on a 3-doc corpus") {
    // corpus: "a b a b", "a b", "c" → bigrams: (a,b)x3, (b,a)x1; c has none
    // c12(a,b)=3 c12(b,a)=1; c1(a)=3 c1(b)=1; V = |{a,b}| = 2
    // p(b|a) = (3+1)/(3+2) = 0.8; p(a|b) = (1+1)/(1+2) = 2/3
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c")).toDF("id", "text")
    val got = LanguageModel.perplexityScores(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def u(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    val pBA = u(4.0 / 5.0); val pAB = u(2.0 / 3.0)
    assert(got(1L) == (3L, 2 * pBA + pAB)) // a→b, b→a, a→b
    assert(got(2L) == (1L, pBA))
    assert(!got.contains(3L)) // no bigrams → absent (callers left-join)
  }

  test("bigram model smoothing: unseen pairs are never scored, seen pairs add one") {
    val docs = Seq((1L, "x y z")).toDF("id", "text")
    val model = LanguageModel.bigramModel(
      LanguageModel.bigramPostings(docs, "id", "text")).collect()
    // (x,y) and (y,z); contexts x,y each count 1; vocab {x,y,z} = 3
    assert(model.length == 2)
    assert(model.forall(r => r.getLong(r.fieldIndex("c12")) == 1L
      && r.getLong(r.fieldIndex("c1")) == 1L
      && r.getLong(r.fieldIndex("v")) == 3L))
  }

  test("percentileGate: exact p75 keeps the top quarter boundary-inclusive") {
    val df = (1 to 8).map(i => ("g", i.toDouble)).toDF("k", "s")
    // percentile(s, 0.75) over 1..8 = 1 + 0.75*7 = 6.25 → keep {7, 8}
    val kept = Sampling.percentileGate(df, "k", "s", 0.75, exact = true)
      .select("s").as[Double].collect().sorted
    assert(kept.toSeq == Seq(7.0, 8.0))
    // a threshold landing ON a value keeps it (>= gate): p50 of 1..8 = 4.5;
    // p50 of 1..7 = 4.0 → 4 itself survives
    val odd = (1 to 7).map(i => ("g", i.toDouble)).toDF("k", "s")
    val kept50 = Sampling.percentileGate(odd, "k", "s", 0.5, exact = true)
      .select("s").as[Double].collect().sorted
    assert(kept50.toSeq == Seq(4.0, 5.0, 6.0, 7.0))
  }

  test("percentileGate: approx path keeps ~25% of a large uniform group") {
    val df = spark.range(10000).select(lit("g").as("k"),
      col("id").cast("double").as("s"))
    val n = Sampling.percentileGate(df, "k", "s", 0.75).count()
    assert(n >= 2300 && n <= 2700, s"approx p75 kept $n of 10000")
  }

  test("domainCap: hot domain capped to smallest ids, blocklist dropped, tail intact") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("https://"),
        when(col("id") % 2 === 0, lit("hot.example.com"))
          .otherwise(when(col("id") % 4 === 1, lit("evil.example.com"))
            .otherwise(concat(lit("d"), col("id"), lit(".example.net")))),
        lit("/p/"), col("id")).as("url"))
    val kept = Sampling.domainCap(docs, "url", "doc_id", cap = 3,
        blocklist = Seq("evil.example.com"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val hotKept = kept.filter(_ % 2 == 0)
    assert(hotKept == Seq(0L, 2L, 4L)) // 100 hot docs → 3 smallest
    assert(!kept.exists(id => id % 2 == 1 && id % 4 == 1)) // blocklisted gone
    val tail = (0L until 200L).filter(id => id % 2 == 1 && id % 4 != 1)
    assert(kept.filter(id => id % 2 == 1) == tail) // singletons untouched
  }

  test("sqrtTemperatureSample: smallest source whole, rates ∝ sqrt share, deterministic") {
    // sources sized 100 / 400 / 2500: rates 1.0 / 0.5 / 0.2
    val df = spark.range(3000).select(col("id"),
      when(col("id") < 100, lit("small"))
        .when(col("id") < 500, lit("mid")).otherwise(lit("big")).as("src"))
    val rates = Sampling.sqrtTemperatureRates(df, "src").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rates("small") == 1000000L)
    assert(rates("mid") == 500000L)
    assert(rates("big") == 200000L)
    val kept = Sampling.sqrtTemperatureSample(df, "src", "id")
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("small") == 100L) // keep-everything threshold
    // md5 buckets are uniform-ish: expect ~200 of mid, ~500 of big
    assert(bySrc("mid") > 150 && bySrc("mid") < 250)
    assert(bySrc("big") > 400 && bySrc("big") < 600)
    // layout-independence: same membership after an adversarial repartition
    val again = Sampling.sqrtTemperatureSample(df.repartition(13, col("id")), "src", "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(again == kept.select("id").as[Long].collect().sorted.toSeq)
    // a salt bump re-draws membership (epoch reshuffle) at the same rates
    val epoch2 = Sampling.sqrtTemperatureSample(df, "src", "id", salt = ":e2")
      .select("id").as[Long].collect().sorted.toSeq
    assert(epoch2 != again)
  }

  test("weightedSample: weight-monotone, layout-independent, excludes non-positive weights") {
    // one row with overwhelming weight is always selected; tiny weights fill in
    val df = spark.range(1000).select(col("id"),
      when(col("id") === 7, lit(1e9)).otherwise(lit(1.0)).as("w"))
    val picked = Sampling.weightedSample(df, "id", "w", k = 50, seed = "t")
      .select("id").as[Long].collect().toSet
    assert(picked.contains(7L))
    assert(picked.size == 50)
    // identical sample after an adversarial repartition (no RNG, no
    // partition-layout dependence — the property Spark's sample() lacks)
    val again = Sampling.weightedSample(df.repartition(17, col("id")),
      "id", "w", k = 50, seed = "t").select("id").as[Long].collect().toSet
    assert(again == picked)
    // a different seed draws a different sample at the same weights
    val other = Sampling.weightedSample(df, "id", "w", k = 50, seed = "u")
      .select("id").as[Long].collect().toSet
    assert(other != picked && other.contains(7L))
    // zero/negative/null weights can never be drawn
    val mixed = spark.range(100).select(col("id"),
      when(col("id") < 50, lit(-1.0)).when(col("id") < 75, lit(0.0))
        .otherwise(lit(2.0)).as("w"))
    val m = Sampling.weightedSample(mixed, "id", "w", k = 100, seed = "t")
      .select("id").as[Long].collect().toSet
    assert(m == (75L until 100L).toSet)
  }

  test("stratifiedSample: exact per-group quota, equals the row_number twin, id-range guard") {
    val df = spark.range(2000).select(col("id"),
      when(col("id") % 20 === 0, lit("rare")).otherwise(lit("common")).as("g"))
    val got = Sampling.stratifiedSample(df, "g", "id", nPer = 30, seed = "t")
    val byG = got.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG("common") == 30L && byG("rare") == 30L)
    // small group: kept whole
    val small = spark.range(5).select(col("id"), lit("only").as("g"))
    assert(Sampling.stratifiedSample(small, "g", "id", 30, "t").count() == 5)
    // the windowed formulation selects the same ids (packed-long ordering
    // == (hash, id) lexicographic)
    val h = conv(substring(md5(concat(lit("t:"), col("id").cast("string"))), 1, 7), 16, 10)
      .cast("long")
    val want = df.withColumn("h", h)
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("h", "id")))
      .filter(col("rn") <= 30).select("id").as[Long].collect().toSet
    assert(got.select("id").as[Long].collect().toSet == want)
    // ids outside [0, 2^31) refuse loudly instead of sampling garbage
    val bad = spark.range(3).select((col("id") + (1L << 40)).as("id"), lit("g").as("g"))
    intercept[Exception] {
      Sampling.stratifiedSample(bad, "g", "id", 2, "t").collect()
    }
    // ADVICE r9: an id VALUE reused across strata selects only in the
    // stratum that drew it — the keep semi-join keys on (group, id).
    // Two strata share ids 0..9; quota 3: each stratum keeps exactly 3,
    // never rows "borrowed" through the other stratum's draw.
    val dup = spark.range(10).select(col("id"), lit("a").as("g"))
      .union(spark.range(10).select(col("id"), lit("b").as("g")))
    val dupByG = Sampling.stratifiedSample(dup, "g", "id", nPer = 3, seed = "t")
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dupByG == Map("a" -> 3L, "b" -> 3L),
      s"shared id values must not inflate another stratum's quota: $dupByG")
  }

  test("epochUpsample: integer epochs replicate exactly, fractional by id-hash, e<1 filters, absent sources pass once") {
    val df = spark.range(2000).select(col("id"),
      when(col("id") % 4 === 0, lit("whole"))
        .when(col("id") % 4 === 1, lit("frac"))
        .when(col("id") % 4 === 2, lit("down"))
        .otherwise(lit("other")).as("src"))
    val got = Sampling.epochUpsample(df, "src", "id",
      Map("whole" -> 3.0, "frac" -> 1.5, "down" -> 0.4))
    val byEpoch = got.groupBy("src", "epoch").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // e = 3.0: every row exactly thrice, epochs 0/1/2, no hash dependence
    assert(byEpoch(("whole", 0L)) == 500 && byEpoch(("whole", 1L)) == 500 &&
      byEpoch(("whole", 2L)) == 500 && !byEpoch.contains(("whole", 3L)))
    // absent from the map: exactly one copy
    assert(byEpoch(("other", 0L)) == 500 && !byEpoch.contains(("other", 1L)))
    // e = 1.5: every row keeps epoch 0; the hash-selected fraction gains
    // epoch 1 — and that set is exactly the hashBucket < 500000 rows
    assert(byEpoch(("frac", 0L)) == 500)
    val extra = got.filter(col("src") === "frac" && col("epoch") === 1)
      .select("id").as[Long].collect().toSet
    val wantExtra = df.filter(col("src") === "frac" &&
        Sampling.hashBucket(col("id"), 1000000) < 500000)
      .select("id").as[Long].collect().toSet
    assert(extra == wantExtra && extra.nonEmpty && extra.size < 500)
    // e = 0.4: pure filter — only epoch 0, only the sub-threshold ids
    assert(!byEpoch.contains(("down", 1L)))
    val down = got.filter(col("src") === "down").select("id").as[Long].collect().toSet
    val wantDown = df.filter(col("src") === "down" &&
        Sampling.hashBucket(col("id"), 1000000) < 400000)
      .select("id").as[Long].collect().toSet
    assert(down == wantDown && down.nonEmpty && down.size < 500)
    // non-positive epochs refuse loudly
    intercept[IllegalArgumentException] {
      Sampling.epochUpsample(df, "src", "id", Map("whole" -> 0.0))
    }
  }

  test("corpusDiff statuses and reprocessSlice") {
    import graft.operators.Snapshot
    val old = Seq((1L, "fa"), (2L, "fb"), (3L, "fc")).toDF("id", "fp")
    val neu = Seq((2L, "fb"), (3L, "fc2"), (4L, "fd")).toDF("id", "fp")
    val diff = Snapshot.corpusDiff(old, neu, "id", "fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val slice = Snapshot.reprocessSlice(old, neu, "id", "fp")
      .select("id").as[Long].collect().sorted.toSeq
    assert(slice == Seq(3L, 4L))
    // ADVICE r9: presence is decided by side markers, never fingerprint
    // nullness — a doc in BOTH snapshots with null fingerprints must
    // classify as 'changed' (conservatively reprocessed), not 'added';
    // a null fp on one side only is likewise 'changed'
    val oldN = Seq((1L, null: String), (2L, "fb"), (3L, null: String))
      .toDF("id", "fp")
    val neuN = Seq((1L, null: String), (2L, null: String), (3L, "fc"))
      .toDF("id", "fp")
    val diffN = Snapshot.corpusDiff(oldN, neuN, "id", "fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diffN == Map(1L -> "changed", 2L -> "changed", 3L -> "changed"),
      s"null fingerprints must never masquerade as added/removed: $diffN")
  }

  test("scd2Intervals: runs compress, open version, collisions, null attrs") {
    import graft.operators.Snapshot
    // key 1: a,a,b,a → 3 versions; key 2: x only → 1 open version;
    // ts 40 collides (c vs a → MIN a keeps the run going)
    val log = Seq(
      (1L, "a", 10L), (1L, "a", 20L), (1L, "b", 30L),
      (1L, "a", 40L), (1L, "c", 40L),
      (2L, "x", 5L)).toDF("k", "v", "t")
    val got = Snapshot.scd2Intervals(log, "k", "v", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == Map(
      (1L, 1L) -> (("a", 10L, 30L, 2L)),
      (1L, 2L) -> (("b", 30L, 40L, 1L)),
      (1L, 3L) -> (("a", 40L, -1L, 1L)),
      (2L, 1L) -> (("x", 5L, -1L, 1L))), got.toString)
    // null attr: null→null continues one run; value→null splits; the
    // first row per key opens version 1 even when its attr is null
    val nul = Seq((9L, null: String, 1L), (9L, null: String, 2L),
      (9L, "z", 3L), (9L, null: String, 4L)).toDF("k", "v", "t")
    val gn = Snapshot.scd2Intervals(nul, "k", "v", "t")
      .collect().map(r => r.getLong(1) ->
        ((Option(r.getString(2)), r.getLong(5)))).toMap
    assert(gn == Map(1L -> ((None, 2L)), 2L -> ((Some("z"), 1L)),
      3L -> ((None, 1L))), gn.toString)
    // partitioning invariance
    val rep = Snapshot.scd2Intervals(log.repartition(7), "k", "v", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rep == got.keys.toSeq.sorted)
  }

  test("mixtureSolve: targets, epochs and modes from hand-computed inventory") {
    // s1: 100 tokens at 70% of a 1000-token budget → target 700,
    // epochs 7.0 (upsample); s2: 900 tokens at 30% → target 300,
    // rate 0.3333 (subsample); s3 unweighted → dropped
    val counts = Seq(("s1", 100L), ("s2", 900L), ("s3", 50L))
      .toDF("source", "n_tokens")
    val weights = Seq(("s1", 7000L), ("s2", 3000L)).toDF("source", "weight_bp")
    val got = Sampling.mixtureSolve(counts, "source", "n_tokens",
        weights, budgetTokens = 1000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(got == Map(
      "s1" -> ((100L, 7000L, 700L, 70000L, "upsample")),
      "s2" -> ((900L, 3000L, 300L, 3333L, "subsample"))))
    // a zero-token group never divides by zero
    val z = Sampling.mixtureSolve(Seq(("z", 0L)).toDF("source", "n_tokens"),
      "source", "n_tokens", Seq(("z", 10000L)).toDF("source", "weight_bp"), 100L)
      .collect().head
    assert(z.getLong(4) == 1000000L && z.getString(5) == "upsample")
  }

  test("semanticScreen flags same-cell near-dups and misses cross-cell (the documented trade)") {
    import graft.operators.Decontamination
    // bench = the two axis vectors → centroids = both (k = |bench|)
    val bench = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.95f, 0.05f)), // cell c0, cos ≈ 0.9986 → hit
      (11L, Seq(-1f, 0f)),      // cell c1, cos 0 → clean
      (12L, Seq(0.8f, 0.6f)))   // cell c0: hits c0-bench at 0.8; its
                                // 0.6 cosine to c1-bench is CROSS-CELL
                                // and must be missed (the SemDeDup
                                // blocking trade)
      .toDF("id", "embedding")
    val got = Decontamination.semanticScreen(corpus, bench,
        tau = 0.5, nCentroids = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(10L, 12L), s"got $got")
    assert(got(10L) == ((1L, 0.9986)), s"got $got")
    assert(got(12L) == ((1L, 0.8)), s"got $got")
  }

  test("mixtureTake: per-group budgets, quality-first, boundary and bucket edges") {
    // source a (target 12): quality order d1(s=3M,5t) → d3(s=2M,5t) →
    // d2(s=1M,5t); cum 5,10,15 → d2 straddles and is dropped.
    // source b (target 0): nothing with tokens fits, but the zero-token
    // doc d6 does (offset 0 + 0 ≤ 0 — the takeTokenBudget convention).
    // d4/d5 pin NEGATIVE scores across a million-bucket boundary (the
    // default groupOf floor-division must stay monotone there).
    val docs = Seq(
      (1L, "a", 3000000L, 5L), (2L, "a", 1000000L, 5L),
      (3L, "a", 2000000L, 5L),
      (4L, "c", -1L, 3L), (5L, "c", -1000001L, 3L),
      (6L, "b", 5000000L, 0L), (7L, "b", 4000000L, 2L))
      .toDF("id", "source", "score", "nt")
    val plan = Seq(("a", 12L), ("b", 0L), ("c", 3L))
      .toDF("source", "target_tokens")
    val kept = Sampling.mixtureTake(docs, "source", "id", "nt", "score", plan)
    val ids = kept.select("id").collect().map(_.getLong(0)).toSet
    // c: d4 (-1, bucket 1) outranks d5 (-1000001, bucket 2); 3 ≤ 3 fits
    assert(ids == Set(1L, 3L, 4L, 6L), s"got $ids")
    // offsets follow the quality order
    val offs = kept.select("id", "offset").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(offs == Map(1L -> 0L, 3L -> 5L, 4L -> 0L, 6L -> 0L), s"got $offs")
    // the kept set of the plain per-source running-sum window, which
    // sorts a whole source in one task (the shape the two phases avoid)
    val run = Window.partitionBy("source").orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = docs.withColumn("cum", sum(col("nt")).over(run))
      .join(plan, "source").filter(col("cum") <= col("target_tokens"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(naive == ids, s"running-sum window kept $naive")
    // partitioning invariance: the two-phase prefix sum is layout-free
    val ids2 = Sampling.mixtureTake(docs.repartition(7), "source", "id",
        "nt", "score", plan)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids2 == ids)
  }

  test("kneser-ney: hand-computed NLL and the continuation correction") {
    // corpus: "a b", "a b", "a c" → c12(a,b)=2, c12(a,c)=1;
    // c1(a)=3, N1+(a,·)=2; N1+(·,b)=1, N1+(·,c)=1; types T=2
    // p(b|a) = (2−.75 + .75·2·(1/2)) / 3 = 2/3
    // p(c|a) = (1−.75 + .75·2·(1/2)) / 3 = 1/3
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("id", "text")
    val got = LanguageModel.knPerplexityScores(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def u(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    assert(got == Map(1L -> ((1L, u(2.0 / 3))), 2L -> ((1L, u(2.0 / 3))),
      3L -> ((1L, u(1.0 / 3)))), s"got $got")
    // the San-Francisco correction: a frequent but context-glued token
    // scores BELOW a rarer token that follows many contexts
    // corpus2: "x f", "y f", "z f", "w g w g w g" — f follows 3 contexts
    // (n1bw=3), g only follows w (n1bw=1) though (w,g) is frequent
    val docs2 = Seq((1L, "x f"), (2L, "y f"), (3L, "z f"),
      (4L, "w g w g w g")).toDF("id", "text")
    val model = LanguageModel.knBigramModel(
      LanguageModel.bigramPostings(docs2, "id", "text"))
      .collect().map(r => (r.getString(r.fieldIndex("w1")),
        r.getString(r.fieldIndex("w2"))) ->
        r.getLong(r.fieldIndex("n1bw"))).toMap
    assert(model(("x", "f")) == 3L && model(("w", "g")) == 1L)
  }

  test("kneser-ney trigram: hand-computed backoff chain") {
    // corpus: "a b c", "a b d", "a b c"
    // c123(a,b,c)=2, c123(a,b,d)=1 → ctx(a,b): c12=3, nfw=2
    // bw(b,c)=1, bw(b,d)=1 → byw2(b): midtot=2, midfw=2
    // nlow(c)=1, nlow(d)=1, tt2=2 → p_low = 1/2 each
    // p_mid(·|b) = (max(1−.75,0) + .75·2·(1/2)) / 2 = 1/2
    // p(c|a,b) = (2−.75 + .75·2·(1/2)) / 3 = 2/3
    // p(d|a,b) = (1−.75 + .75·2·(1/2)) / 3 = 1/3
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("id", "text")
    val got = LanguageModel.knTrigramPerplexityScores(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def u(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    assert(got == Map(1L -> ((1L, u(2.0 / 3))), 2L -> ((1L, u(1.0 / 3))),
      3L -> ((1L, u(2.0 / 3)))), s"got $got")
  }

  test("kneser-ney trigram: corpus perplexity strictly below the bigram model") {
    // the extra order of context must price seen transitions sharper on
    // the training corpus itself — per-event mean NLL (micro-nats)
    // under the trigram chain < under q150's bigram chain (exact
    // integer cross-multiply, no float division)
    val docs = Tables.documents(spark, sf("sf0.001"))
    val tri = LanguageModel.knTrigramPerplexityScores(docs, "doc_id", "text")
      .agg(sum("nll_kn3_micro_sum"), sum("n_trigrams")).collect().head
    val bi = LanguageModel.knPerplexityScores(docs, "doc_id", "text")
      .agg(sum("nll_kn_micro_sum"), sum("n_bigrams")).collect().head
    val (s3, n3) = (BigInt(tri.getLong(0)), BigInt(tri.getLong(1)))
    val (s2, n2) = (BigInt(bi.getLong(0)), BigInt(bi.getLong(1)))
    assert(n3 > 0 && n2 > 0)
    assert(s3 * n2 < s2 * n3,
      s"trigram mean NLL ${s3}/$n3 not below bigram ${s2}/$n2")
  }

  test("trainLinear2LeaveOneOut equals a direct refit on each complement") {
    val rows = Seq(
      ("g1", 1L, 2L, 10L), ("g1", 2L, 1L, 14L), ("g1", 3L, 5L, 30L),
      ("g2", 4L, 2L, 25L), ("g2", 5L, 7L, 61L),
      ("g3", 6L, 1L, 33L), ("g3", 7L, 3L, 47L), ("g3", 8L, 8L, 80L))
    val df = rows.toDF("g", "x1", "x2", "y")
    val loo = graft.operators.Classifier
      .trainLinear2LeaveOneOut(df, "g", "x1", "x2", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    for (g <- Seq("g1", "g2", "g3")) {
      val direct = graft.operators.Classifier
        .trainLinear2(df.filter(col("g") =!= g), "x1", "x2", "y")
        .collect().head
      assert(loo(g) == ((direct.getLong(0), direct.getLong(1),
        direct.getLong(2), direct.getLong(3), direct.getLong(4))),
        s"group $g: loo=${loo(g)} direct=$direct")
    }
  }

  test("blocklistGate: whole-token hits, substring non-match, null text") {
    val docs = Seq(
      ("s1", "bad word here"),      // 1 hit
      ("s1", "clean text"),         // 0
      ("s1", "bad bad evil"),       // 3 hits
      ("s2", "badge evildoer"),     // substrings must NOT match
      ("s2", null: String)).toDF("source", "text")
    val got = graft.operators.Decontamination
      .blocklistGate(docs, "source", "text", Seq("bad", "evil"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      "s1" -> ((3L, 2L, 4L, 6666L)),
      "s2" -> ((2L, 0L, 0L, 0L))), got.toString)
  }
}
