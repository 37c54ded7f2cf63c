package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.text.{ClusterIndex, DedupIndex}

/** `dedup_ingest`: the index leg of incremental curation. Seeded
  * document batches go one by one through `DedupIndex.ingestBatch`
  * (MinHash banding, probe against the stored index, exact-Jaccard
  * verify, bucketed index append) and its verified pairs through
  * `ClusterIndex.ingestBatchNoView`. One round — and one operation —
  * is one batch; after the last batch the next round starts a fresh
  * index, so stored history grows within each sweep of the corpus. */
final class DedupIngest(inputs: String) extends Workload {
  private val batches = {
    val d = new java.io.File(s"$inputs/batches")
    d.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toIndexedSeq
  }
  private var base: String = _
  private var sweep = 0
  private var next = 0
  private val found = mutable.ArrayBuffer.empty[(Long, Long, Double)]
  def storageRoot: Option[String] = Option(base)

  private def dirs = (s"$base/sweep-$sweep/mh", s"$base/sweep-$sweep/cc")

  private def ingest(spark: SparkSession, b: Int,
                     rec: Option[Recorder]): org.apache.spark.sql.DataFrame = {
    val (mh, cc) = dirs
    def span[T](n: String)(body: => T): T = rec.fold(body)(_.span(n)(body))
    val docs = spark.read.parquet(batches(b))
    val pairs = span("text.ingest")(
      DedupIndex.ingestBatch(docs, "doc_id", "text", mh, b))
    span("text.cluster")(ClusterIndex.ingestBatchNoView(pairs.select("a", "b"), cc, b))
    pairs
  }

  /** The index is created by its first ingest; set-up starts an empty
    * one. */
  def setup(spark: SparkSession, dir: String): Unit = {
    base = dir
    sweep = 1
    next = 0
    found.clear()
  }

  def round(spark: SparkSession, index: Int, rec: Recorder): Unit = {
    if (next == batches.size) { sweep += 1; next = 0; found.clear() }
    val b = next
    var pairs: org.apache.spark.sql.DataFrame = null
    rec.op("ingest", b.toString, "bench.ingest") { pairs = ingest(spark, b, Some(rec)) }
    next += 1
    // the verified pairs were pinned by the ingest; reading them back
    // for the output check is bookkeeping, not measured work
    if (pairs != null) rec.paused {
      val rows = pairs.collect()
      rec.note(s"pairs:$sweep:$b", rows.length.toString)
      found ++= rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard")))
    }
  }

  /** The current sweep's pairs and how far it got go to `outDir`; the
    * Python side checks them against the planted pairs and the exact
    * Jaccard of the generated texts. */
  def check(spark: SparkSession, outDir: String): Seq[String] = {
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/pairs.json"),
      Json.enc(Map("batches_ingested" -> next,
        "pairs" -> found.map { case (a, b, j) => Seq(a, b, j) })).getBytes("UTF-8"))
    Nil
  }
}
