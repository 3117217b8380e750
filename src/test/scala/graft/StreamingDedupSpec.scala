package graft

import graft.operators.Dedup
import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming near-dup screening: a new-doc stream banded by the one-pass
  * MinHash kernel and joined against a STORED corpus index, with no
  * streaming state (no watermark, no aggregation) — candidates land in
  * the same micro-batch the document arrives in.
  */
class StreamingDedupSpec extends SparkSpec {
  import sqlImplicits._

  private val corpusText =
    "the quick brown fox jumps over the lazy dog again and again tonight"

  private def corpus = Seq(
    (1L, corpusText),
    (2L, "completely different content about distributed query planning"),
    (3L, "yet another unrelated document mentioning streaming watermarks")
  ).toDF("doc_id", "text")

  test("stream-static index join finds the planted near-dup, statelessly") {
    implicit val ctx = spark.sqlContext
    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF.toDF("doc_id", "text")

    // the streaming plan must be stateless: banding is a projection, the
    // index join is stream-static — append mode with no watermark
    val cands = StreamingDedup.candidatesAgainstIndex(
      docs, "doc_id", "text", index)
    val q = cands.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    try {
      // doc 100 is an exact copy of corpus doc 1 (Jaccard 1 → every band
      // matches, so the hit is deterministic; near-dup band-recall curves
      // are pinned by the batch OperatorsSpec); doc 101 is novel
      source.addData(
        (100L, corpusText),
        (101L, "sphinx of black quartz judge my vow said the typesetter"))
      q.processAllAvailable()
      val hits = spark.table("sdedup_out")
        .groupBy("new_id", "existing_id")
        .agg(countDistinct("band").as("n_bands"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(hits.get((100L, 1L)).contains(4L),
        s"exact dup must collide in all 4 bands: $hits")
      assert(!hits.keys.exists { case (n, _) => n == 101L },
        s"novel doc produced candidates: $hits")

      // second batch: a copy of corpus doc 2 still emits immediately
      source.addData(
        (102L, "completely different content about distributed query planning"))
      q.processAllAvailable()
      val hits2 = spark.table("sdedup_out")
        .filter(col("new_id") === 102L).select("existing_id")
        .collect().map(_.getLong(0)).toSet
      assert(hits2.contains(2L), s"batch-2 dup not found: $hits2")
    } finally q.stop()
  }

  test("streaming banding equals batch banding (same family, same buckets)") {
    implicit val ctx = spark.sqlContext
    val batch = Dedup.minhashIndex(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
    val source = MemoryStream[(Long, String)]
    val banded = StreamingDedup.bandedStream(
      source.toDF.toDF("doc_id", "text"), "doc_id", "text")
    val q = banded.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_bands").start()
    try {
      source.addData((1L, corpusText),
        (2L, "completely different content about distributed query planning"),
        (3L, "yet another unrelated document mentioning streaming watermarks"))
      q.processAllAvailable()
      val streamed = spark.table("sdedup_bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("closed ingest loop: batch N+1 screens against batch N, index grows") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sdedup_loop")
      .toFile.getAbsolutePath + "/index"
    val novel = "sphinx of black quartz judge my vow said the typesetter"
    val source = MemoryStream[(Long, String)]
    val seen = scala.collection.concurrent.TrieMap[Long, Set[(Long, Long)]]()
    val q = StreamingDedup.screeningIngest(
      source.toDF.toDF("doc_id", "text"), "doc_id", "text", dir) {
      (cands, batchId) =>
        seen(batchId) = cands.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    try {
      // batch 0 seeds an EMPTY index; its three docs are mutually unlike
      source.addData((1L, corpusText),
        (2L, "completely different content about distributed query planning"),
        (3L, "yet another unrelated document mentioning streaming watermarks"))
      q.processAllAvailable()
      assert(seen(0L).isEmpty, s"unlike seed docs produced pairs: $seen")
      // batch 1: doc 100 duplicates doc 1 FROM BATCH 0 — exactly the
      // cross-micro-batch catch the static-index join cannot make
      source.addData((100L, corpusText), (101L, novel))
      q.processAllAvailable()
      assert(seen(1L).contains((1L, 100L)),
        s"batch-1 dup of a batch-0 doc not caught: $seen")
      assert(!seen(1L).exists { case (a, b) => a == 101L || b == 101L },
        s"novel doc produced candidates: $seen")
      // batch 2: a dup of the BATCH-1 novel doc — the index kept growing
      source.addData((200L, novel))
      q.processAllAvailable()
      assert(seen(2L).contains((101L, 200L)),
        s"batch-2 dup of a batch-1 doc not caught: $seen")
      // the persisted index is band-for-band the batch banding of all docs
      val allDocs = corpus.union(
        Seq((100L, corpusText), (101L, novel), (200L, novel)).toDF("doc_id", "text"))
      val persisted = spark.read.parquet(dir)
        .select("id", "band", "bucket")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
      val batch = Dedup.minhashIndex(allDocs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSet
      assert(persisted == batch,
        "persisted loop index must equal one-shot batch banding")
    } finally q.stop()
  }

  test("compacted LSH index screens identically; folded-batch replay refused") {
    import graft.streaming.IndexMaintenance
    val dir = java.nio.file.Files.createTempDirectory("sdedup_cmp")
      .toFile.getAbsolutePath + "/index"
    val novel = "sphinx of black quartz judge my vow said the typesetter"
    val batches = Seq(
      Seq((1L, corpusText),
        (2L, "completely different content about distributed query planning")),
      Seq((10L, novel)),
      Seq((20L, "some other thing entirely about cascading query optimizers")),
      Seq((30L, "fourth batch content mentioning adaptive join reordering")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingDedup.screenAndIndexBatch(rows.toDF("doc_id", "text"),
        i.toLong, "doc_id", "text", dir).collect()
    }
    // a probe batch screened against the FULL history (batch_id < 4)
    val probe = Seq((100L, corpusText), (101L, novel)).toDF("doc_id", "text")
    def screen() = StreamingDedup.candidatesAgainstIndex(probe, "doc_id",
        "text", spark.read.parquet(dir).filter(col("batch_id") < 4)
          .select("id", "band", "bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = screen()
    assert(before.exists(t => t._1 == 100L && t._2 == 1L))
    assert(before.exists(t => t._1 == 101L && t._2 == 10L))
    val filesBefore = IndexMaintenance.dataFileCount(spark, dir)
    // fold batches 0–2 (3 stays open); screening is unchanged
    assert(StreamingDedup.compactIndex(spark, dir, upToBatch = 3,
      targetPartitions = 1) == 3L)
    assert(screen() == before)
    assert(StreamingDedup.compactIndex(spark, dir, upToBatch = 3) == 0L)
    // replay of the still-open batch 3 stays idempotent
    StreamingDedup.screenAndIndexBatch(batches(3).toDF("doc_id", "text"),
      3L, "doc_id", "text", dir).collect()
    assert(screen() == before)
    // second compaction folds the remainder
    assert(StreamingDedup.compactIndex(spark, dir, upToBatch = 4,
      targetPartitions = 1) == 1L)
    assert(screen() == before)
    assert(IndexMaintenance.dataFileCount(spark, dir) < filesBefore)
    // replaying a folded batch id is refused loudly
    intercept[IllegalArgumentException] {
      StreamingDedup.screenAndIndexBatch(batches.head.toDF("doc_id", "text"),
        0L, "doc_id", "text", dir).collect()
    }
  }

  test("segment screening: stream output equals batch segmentDedup restricted to each batch") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sdedup_seg")
      .toFile.getAbsolutePath + "/segindex"
    // width=3 segments; cross-batch dup ("a b c" first in batch 0),
    // within-batch dup ("q r s" doc3 before doc4), within-DOC dup
    // (doc5 repeats "u v w"), and a batch-0 within-batch loser ("x y z"
    // kept by doc 2, so doc 4's copy must still drop in batch 1)
    val b0 = Seq((1L, "a b c d e f"), (2L, "a b c x y z"))
    val b1 = Seq((3L, "a b c q r s"), (4L, "x y z q r s"),
      (5L, "u v w u v w"))
    val source = MemoryStream[(Long, String)]
    val outs = scala.collection.concurrent.TrieMap[Long, Map[Long, (Long, Long, String)]]()
    val q = StreamingDedup.segmentScreeningIngest(
      source.toDF.toDF("doc_id", "text"), "doc_id", "text", dir, width = 3) {
      (screened, batchId) =>
        outs(batchId) = screened.collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept"),
            r.getAs[String]("kept_text")))).toMap
    }
    try {
      source.addData(b0: _*); q.processAllAvailable()
      source.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    // ids are batch-monotone, so arrival order == (id, idx) order and the
    // stream must reproduce the BATCH operator on the concatenated corpus
    val expect = Dedup.segmentDedup((b0 ++ b1).toDF("doc_id", "text"),
        "doc_id", "text", width = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept"),
          r.getAs[String]("kept_text")))).toMap
    assert(outs(0L) == expect.view.filterKeys(b0.map(_._1).contains).toMap,
      s"batch 0 diverged: ${outs(0L)}")
    assert(outs(1L) == expect.view.filterKeys(b1.map(_._1).contains).toMap,
      s"batch 1 diverged: ${outs(1L)}")
    // the concrete decisions, spelled out
    assert(outs(1L)(3L) == ((2L, 1L, "q r s")), "doc3: abc seen in b0, keeps q r s")
    assert(outs(1L)(4L) == ((2L, 0L, "")), "doc4: both segments seen")
    assert(outs(1L)(5L) == ((2L, 1L, "u v w")), "doc5: within-doc dup drops")
  }

  test("screenSegmentsBatch: idempotent replay and renumbered-restart guard") {
    import sqlImplicits._
    val dir = java.nio.file.Files.createTempDirectory("sdedup_segidem")
      .toFile.getAbsolutePath + "/segindex"
    val b0 = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val b1 = Seq((2L, "a b c x y z")).toDF("doc_id", "text")
    StreamingDedup.screenSegmentsBatch(b0, 0L, "doc_id", "text", dir, width = 3).collect()
    val first = StreamingDedup.screenSegmentsBatch(b1, 1L, "doc_id", "text", dir, width = 3)
      .collect().map(r => (r.getLong(0), r.getAs[String]("kept_text"))).toSet
    assert(first == Set((2L, "x y z")), s"cross-batch screen: $first")
    val rowsAfterFirst = spark.read.parquet(dir).count()
    val replay = StreamingDedup.screenSegmentsBatch(b1, 1L, "doc_id", "text", dir, width = 3)
      .collect().map(r => (r.getLong(0), r.getAs[String]("kept_text"))).toSet
    assert(replay == first, s"replay diverged: $replay vs $first")
    assert(spark.read.parquet(dir).count() == rowsAfterFirst,
      "replay must overwrite its partition, not append")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.screenSegmentsBatch(b0, 0L, "doc_id", "text", dir, width = 3).collect()
    }
    assert(e.getMessage.contains("renumbered"), e.getMessage)
  }

  test("compactSegmentIndex folds closed batches; screening is unchanged") {
    import sqlImplicits._
    val dir = java.nio.file.Files.createTempDirectory("sdedup_segcmp")
      .toFile.getAbsolutePath + "/segindex"
    Seq((1L, "a b c d e f"), (2L, "x y z a b c")).zipWithIndex.foreach {
      case (doc, i) => StreamingDedup.screenSegmentsBatch(Seq(doc)
        .toDF("doc_id", "text"), i.toLong, "doc_id", "text", dir, width = 3).collect()
    }
    assert(StreamingDedup.compactSegmentIndex(spark, dir, upToBatch = 2,
      targetPartitions = 1) == 2L)
    val b2 = Seq((3L, "d e f g h i x y z")).toDF("doc_id", "text")
    val got = StreamingDedup.screenSegmentsBatch(b2, 2L, "doc_id", "text", dir, width = 3)
      .collect().map(r => (r.getLong(0), r.getAs[String]("kept_text"))).toSet
    assert(got == Set((3L, "g h i")), s"screen after compaction: $got")
  }

  test("screenAndIndexBatch re-run of the same batch id is idempotent") {
    import sqlImplicits._
    val dir = java.nio.file.Files.createTempDirectory("sdedup_idem")
      .toFile.getAbsolutePath + "/index"
    StreamingDedup.screenAndIndexBatch(corpus, 0L, "doc_id", "text", dir).collect()
    // batch 1 holds a dup of a batch-0 doc AND a within-batch dup pair
    val b1 = Seq((10L, corpusText), (11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val first = StreamingDedup.screenAndIndexBatch(b1, 1L, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(first.exists { case (a, b, _) => (a, b) == (1L, 10L) })
    assert(first.exists { case (a, b, _) => (a, b) == (11L, 12L) })
    val rowsAfterFirst = spark.read.parquet(dir).count()
    // recovery replay: same batch id → same candidates, no index growth
    val replay = StreamingDedup.screenAndIndexBatch(b1, 1L, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(replay == first, s"replay diverged: $replay vs $first")
    assert(spark.read.parquet(dir).count() == rowsAfterFirst,
      "replay must overwrite its partition, not append")
  }

  test("renumbered batch ids (restart without checkpoint) are refused, not overwritten") {
    import sqlImplicits._
    val dir = java.nio.file.Files.createTempDirectory("sdedup_guard")
      .toFile.getAbsolutePath + "/index"
    StreamingDedup.screenAndIndexBatch(corpus, 3L, "doc_id", "text", dir).collect()
    // a restart without a durable checkpoint renumbers from 0: batch 0
    // would screen against `batch_id < 0` (nothing) and overwrite history
    val b = Seq((50L, corpusText)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.screenAndIndexBatch(b, 0L, "doc_id", "text", dir).collect()
    }
    assert(e.getMessage.contains("renumbered"), e.getMessage)
    // the existing index is untouched by the refused call
    assert(spark.read.parquet(dir).select("batch_id").distinct()
      .collect().map(_.getInt(0)).toSet == Set(3))
  }

  test("streaming plan is stateless (no StateStore operators)") {
    implicit val ctx = spark.sqlContext
    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    val source = MemoryStream[(Long, String)]
    val cands = StreamingDedup.candidatesAgainstIndex(
      source.toDF.toDF("doc_id", "text"), "doc_id", "text", index)
    val q = cands.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_stateless").start()
    try {
      source.addData((100L, corpusText))
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("StateStore"), plan.take(2000))
    } finally q.stop()
  }

  test("decontamination ingest: per-batch flags equal the batch operator, clean batches flag nothing") {
    import sqlImplicits._
    implicit val ctx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta"),
      (200L, "one two three four")).toDF("bench_id", "btext")
    // n=3 grams: item 100 = {alpha beta gamma, beta gamma delta}.
    // b0 doc 2 embeds item 100 whole (containment 1.0); b1 doc 3 carries
    // only "one two three" of item 200 (containment 0.5, the gate edge);
    // docs 1/4 share no gram with either item
    val b0 = Seq((1L, "the quick brown fox jumps over"),
      (2L, "intro words alpha beta gamma delta outro tail"))
    val b1 = Seq((3L, "second item one two three inside text"),
      (4L, "completely clean words here again"))
    val source = MemoryStream[(Long, String)]
    val outs = scala.collection.concurrent.TrieMap[Long, Set[(Long, Long, Long, Long)]]()
    val q = graft.streaming.DecontaminationStream.ingest(
      source.toDF.toDF("doc_id", "text"), "doc_id", "text",
      bench, "bench_id", "btext", n = 3) { (flagged, batchId) =>
      outs(batchId) = flagged.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("bench_id"), r.getAs[Long]("n_shared"),
        r.getAs[Long]("n_bench_grams"))).toSet
    }
    try {
      source.addData(b0: _*); q.processAllAvailable()
      source.addData(b1: _*); q.processAllAvailable()
      source.addData((5L, "nothing suspicious at all today")); q.processAllAvailable()
    } finally q.stop()
    assert(outs(0L) == Set((2L, 100L, 2L, 2L)), s"batch 0: ${outs(0L)}")
    assert(outs(1L) == Set((3L, 200L, 1L, 2L)), s"batch 1: ${outs(1L)}")
    assert(outs(2L) == Set.empty, s"clean batch flagged: ${outs(2L)}")
    // stream == the exact batch operator applied to each batch alone
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      val exact = graft.operators.Decontamination.benchmarkContainment(
        b.toDF("doc_id", "text"), "doc_id", "text",
        bench, "bench_id", "btext", n = 3)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("bench_id"),
          r.getAs[Long]("n_shared"), r.getAs[Long]("n_bench_grams"))).toSet
      assert(outs(i.toLong) == exact, s"batch $i diverged from exact: $exact")
    }
  }
}
