package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** `scan_join`: read-only. A fixed list of `SparkEntry.queries` runs
  * unchanged over a seeded star schema written in the testdata layout.
  * One round is two passes over the list; one operation is one query,
  * run to the end into Spark's `noop` sink, so every output column is
  * computed (a `count()` would let the optimizer prune them). */
final class ScanJoin(inputs: String) extends Workload {
  val queries = Seq("q1_pricing_summary", "q9_product_profit",
    "q18_volume_customer", "w5_range_window", "s3_keyset_scan")
  def storageRoot: Option[String] = None

  /** One pass over the query list on the small copy of the tables
    * compiles the queries' code; each result is kept for the output
    * check, written through the same plan the measured runs use. */
  override def warmUp(spark: SparkSession, dir: String): Unit = {
    results = s"$dir/results"
    queries.foreach { q =>
      observed(spark, q, s"$inputs/warm", Observation()).write.parquet(s"$results/$q")
      graft.util.CacheScope.releaseAll()
    }
  }
  private var results: String = _

  /** The inputs are already tables in the testdata layout and every
    * query reads them itself; set-up opens them (reads their schemas). */
  def setup(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach(t => graft.Tables.table(spark, inputs, t).schema)

  /** Query `q` over `dir`, counting its rows into `obs` as they pass. */
  private def observed(spark: SparkSession, q: String, dir: String,
                       obs: Observation): DataFrame =
    SparkEntry.queries(q)(spark, dir).observe(obs, count(lit(1)).as("n"))

  /** Runs query `q` over `dir` to the end, discarding its rows, and
    * returns how many rows it produced. */
  private def run(spark: SparkSession, q: String, dir: String): Long = {
    val obs = Observation()
    observed(spark, q, dir, obs).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Two passes over the list, so each query is timed twice. */
  def round(spark: SparkSession, index: Int, rec: Recorder): Unit =
    (queries ++ queries).zipWithIndex.foreach { case (q, i) =>
      var n = -1L
      rec.op(q, q, s"queries.$q") { n = run(spark, q, inputs) }
      rec.note(s"count:$index.$i:$q", n.toString)
    }

  /** The Python side checks each measured execution's row count against
    * the oracle over the full inputs, and each query's full result over
    * the small copy of the inputs (the warm-up's, moved to `outDir`)
    * against the oracle over that copy. */
  def check(spark: SparkSession, outDir: String): Seq[String] = {
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.move(java.nio.file.Paths.get(results),
      java.nio.file.Paths.get(s"$outDir/results"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.enc(queries.map(q => q -> oracle(q)).toMap).getBytes("UTF-8"))
    Nil
  }
}
