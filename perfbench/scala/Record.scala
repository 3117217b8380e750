package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame

/** `--record-expected <dir>`: writes each checked result of
  * `batch-cold-path`, its lifecycle cycle included, to `<dir>/<name>` as Parquet,
  * with `<dir>/oracle_sql.json` holding the DuckDB oracle of each, and
  * prints `name<TAB>hash` lines for `expected.tsv`. Compare with
  * `python3 tools/compare_oracle.py perfbench/data/sf0.01 <dir>` before
  * recording a hash.
  */
object Record {
  def apply(args: Map[String, String]): Unit = {
    val out = new java.io.File(args("record-expected")).getAbsolutePath
    val data = new java.io.File(args("bench-dir"), "data/sf0.01").getAbsolutePath
    // the engine's scratch and fixture caches live under java.io.tmpdir
    val tmp = new java.io.File(s"$out/tmp")
    Files.deleteRecursively(tmp)
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), out)
    val hashes = Seq.newBuilder[(String, String)]
    def keep(name: String, df: DataFrame): Unit = {
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      hashes += name -> Canon.hash(rows)
    }
    BatchColdPath.Queries.foreach(q => keep(q, SparkEntry.queries(q)(spark, data)))
    LifecycleRefresh.steps(spark, data, s"$out/lifecycle")
      .foreach { case (_, step) => step().foreach { case (key, df) => keep(key, df) } }
    val sql = SparkEntry.oracleSql
    val oracle = BatchColdPath.Queries.map(q => q -> sql(q)) ++ Seq(
      "q206_incremental_refresh" -> sql("q206_incremental_refresh"),
      // the datasheet after build + refresh is q212's first two generations
      "lifecycle_datasheet" ->
        s"SELECT * FROM (${sql("q212_generation_history")}) h WHERE generation < 2")
    Files.write(s"$out/oracle_sql.json", Json.obj(oracle))
    spark.stop()
    hashes.result().foreach { case (k, h) => println(s"$k\t$h") }
  }
}
