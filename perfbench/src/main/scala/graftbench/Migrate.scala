package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Cdc, Cleanse, FkRemap, Orchestrator, Repair}
import graft.ops.Orchestrator.Pipeline
import graft.sources.{Sinks, TxnManifest}

/** `migrate`: the engine's own job. One round is one migration pass —
  * `Orchestrator.run` drains a DAG of `Cdc.runLoop` pipelines over the
  * V1 source files into fresh V2 targets (sync dim, then customers,
  * then orders, then order lines), each batch landing through
  * `Sinks.appendBatch` + `TxnManifest.commit` with its watermark in a
  * shared `WatermarkStore`. One operation is one CDC batch. */
final class Migrate(inputs: String) extends Workload {
  private var base: String = _
  private var lastGoodPass: Option[String] = None
  def storageRoot: Option[String] = Option(base)

  private def src(spark: SparkSession, t: String,
                  from: String = inputs): DataFrame =
    spark.read.parquet(s"$from/$t.parquet")

  private def target(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(
      new TxnManifest(s"$dir/$t.manifest.tsv").committedDirs(s"$dir/$t"): _*)

  // ---- transforms (graft.ops), shared by the incremental pass and
  // the single-shot check ----

  private def tCountry(df: DataFrame): DataFrame =
    df.select(col("id").as("country_id"),
      Cleanse.normalizeUpper(trim(col("code"))).as("code"),
      Cleanse.stripToNull(col("name")).as("name"))

  private def tCustomer(countries: DataFrame)(df: DataFrame): DataFrame =
    FkRemap.remap(
      df.withColumn("code", Cleanse.normalizeUpper(trim(col("country_code")))),
      countries.select("code", "country_id"), Seq("code"))
      .select(col("id").as("customer_id"),
        Cleanse.stripToNull(col("name")).as("name"),
        Cleanse.cleanContact(col("phone")).as("phone"),
        lower(Cleanse.stripToNull(col("email"))).as("email"),
        col("country_id"),
        Cleanse.parseDate2(col("created")).as("created"),
        Repair.fillConst(Cleanse.toNumeric(col("balance")), 0.0).as("balance"),
        Repair.flag(col("country_id").isNull).as("country_missing"))

  private def tOrder(customers: DataFrame)(df: DataFrame): DataFrame =
    FkRemap.remap(df,
      customers.select(col("customer_id"), lit(1).as("cust_ok")),
      Seq("customer_id"))
      .select(col("id").as("order_id"), col("customer_id"),
        Repair.flag(col("cust_ok").isNull).as("customer_missing"),
        Repair.fillConst(Cleanse.stripToNull(upper(col("status"))), "UNKNOWN")
          .as("status"),
        Cleanse.parseDate2(col("order_date")).as("order_date"),
        col("subtotal"), Repair.fillConst(col("tax"), 0.0).as("tax"),
        col("total"))

  private def tLine(orders: DataFrame)(df: DataFrame): DataFrame =
    FkRemap.remap(df,
      orders.select(col("order_id"), lit(1).as("order_ok")), Seq("order_id"))
      .select(col("id").as("line_id"), col("order_id"),
        Repair.flag(col("order_ok").isNull).as("order_missing"),
        col("product"), Repair.fillConst(col("qty"), 0L).as("qty"),
        col("price"),
        (Repair.fillConst(col("qty"), 0L) * col("price")).as("amount"))

  /** Per-pipeline CDC batch sizes, as the generator recorded them. */
  private val batchSizes: Map[String, Int] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inputs/meta.json")).get("batch_sizes")
    Seq("countries", "customers", "orders", "order_lines")
      .map(t => t -> node.get(t).asInt()).toMap
  }

  /** The pass's pipelines, writing under `dir`. Each batch is one
    * operation: it runs from the previous batch's sink return (or the
    * pipeline start) to its own sink return; the last batch of a
    * pipeline also covers the loop's drained-source probe. */
  private def pipelines(spark: SparkSession, dir: String, from: String,
                        rec: Recorder): Seq[Pipeline] = {
    def pipe(name: String, deps: Seq[String],
             transform: SparkSession => DataFrame => DataFrame) =
      Pipeline(name, deps, (sp, store) => rec.span("ops.pipeline") {
        val root = s"$dir/$name"
        val man = new TxnManifest(s"$dir/$name.manifest.tsv")
        var start = rec.now()
        var batchSpan = rec.open("ops.cdc.batch", start)
        var pendingEnd = -1L
        def finishBatch(end: Long, ok: Boolean): Unit = {
          rec.close(batchSpan, end)
          rec.recordOp("batch", name, start, end, ok)
          start = end
        }
        val sink = (b: DataFrame, wm: Long) => {
          if (pendingEnd >= 0) {
            finishBatch(pendingEnd, ok = true)
            batchSpan = rec.open("ops.cdc.batch", start)
          }
          val batchId = wm.toInt
          rec.span("sources.append")(Sinks.appendBatch(b, root, batchId))
          rec.span("sources.commit")(man.commit(batchId, Seq(s"$root/batch=$batchId")))
          rec.span("util.release")(graft.util.CacheScope.releaseAll())
          pendingEnd = rec.now()
        }
        var ok = false
        try {
          val n = Cdc.runLoop(src(sp, name, from), "id", name, store,
            batchSizes(name), transform(sp), sink)
          ok = true
          n
        } finally {
          if (pendingEnd >= 0 || !ok) finishBatch(rec.now(), ok)
          else rec.close(batchSpan)
        }
      })
    Seq(
      pipe("countries", Nil, _ => tCountry),
      pipe("customers", Seq("countries"),
        sp => tCustomer(target(sp, dir, "countries"))),
      pipe("orders", Seq("customers"),
        sp => tOrder(target(sp, dir, "customers"))),
      pipe("order_lines", Seq("orders"),
        sp => tLine(target(sp, dir, "orders"))))
  }

  private def pass(spark: SparkSession, dir: String, rec: Recorder,
                   from: String = inputs): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val store = new Cdc.WatermarkStore(spark, s"$dir/watermark.tsv", initial = 0L)
    rec.span("ops.orchestrator")(
      Orchestrator.run(spark, store, pipelines(spark, dir, from, rec)))
  }

  /** One pass over the small copy of the sources, so the timed passes
    * run with warm code paths, as a long-lived migration service would. */
  override def warmUp(spark: SparkSession, dir: String): Unit =
    pass(spark, dir, new Recorder(spark, tracing = false), s"$inputs/warm")

  /** The V1 sources are files already and each pass creates its own
    * targets; set-up opens the sources and the pass root. */
  def setup(spark: SparkSession, dir: String): Unit = {
    base = dir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    batchSizes.keys.foreach(t => src(spark, t).schema)
  }

  def round(spark: SparkSession, index: Int, rec: Recorder): Unit = {
    val dir = s"$base/pass-$index"
    try {
      pass(spark, dir, rec)
      lastGoodPass = Some(dir)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] migrate pass $index FAILED: $e")
    }
  }

  /** Incremental == batch: the single-shot transform of each whole
    * source (against the same upstream targets) goes to `outDir`, with
    * the drained targets' committed directories and the watermarks;
    * the Python side compares them. */
  def check(spark: SparkSession, outDir: String): Seq[String] =
    lastGoodPass match {
      case None => Seq("migrate: no pass completed")
      case Some(dir) =>
        def t(n: String) = target(spark, dir, n)
        val expect = Seq(
          "countries" -> tCountry(src(spark, "countries")),
          "customers" -> tCustomer(t("countries"))(src(spark, "customers")),
          "orders" -> tOrder(t("customers"))(src(spark, "orders")),
          "order_lines" -> tLine(t("orders"))(src(spark, "order_lines")))
        expect.foreach { case (n, want) => want.write.parquet(s"$outDir/batch/$n") }
        val wm = graft.util.AtomicText.readLines(s"$dir/watermark.tsv").map { l =>
          val i = l.lastIndexOf('\t'); l.take(i) -> l.drop(i + 1).toLong }.toMap
        val targets = expect.map { case (n, _) =>
          n -> new TxnManifest(s"$dir/$n.manifest.tsv").committedDirs(s"$dir/$n") }
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/targets.json"),
          Json.enc(Map("targets" -> targets.toMap, "watermarks" -> wm))
            .getBytes("UTF-8"))
        Nil
    }
}
