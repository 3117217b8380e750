package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench's timed loop records a query that throws as failed: no
  * time, and nothing added to the total.
  */
class BenchSpec extends SparkSpec {

  test("timeQueries: a throwing query is failed, untimed and out of the total") {
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
      "q_boom" -> ((s: SparkSession, _: String) =>
        s.range(1).selectExpr("raise_error('boom') AS x")))
    val t = Bench.timeQueries(spark, "unused", qs, runsPerQuery = 3)
    assert(t.failed == Seq("q_boom"))
    val byName = t.results.toMap
    assert(byName("q_boom").isEmpty)
    val (median, min) = byName("q_ok").get
    assert(min <= median)
    assert(t.total == median)
  }
}
