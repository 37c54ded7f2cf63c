package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, seen from outside the engine: it
  * calls the engine's public entry points only. */
trait Workload {
  /** Build the workload's tables, views and indexes from the generated
    * input files, under a fresh directory `dir`. Called several times;
    * the last call's state is the one the timed phase uses. */
  def setup(spark: SparkSession, dir: String): Unit

  /** Fill caches and finish lazy set-up (JIT, codegen) once, before the
    * set-up repetitions; default none. */
  def warmUp(spark: SparkSession, dir: String): Unit = ()

  /** One round of the closed loop: issue operations one after another
    * through `rec.op` / `rec.recordOp`. */
  def round(spark: SparkSession, index: Int, rec: Recorder): Unit

  /** Output checks, outside the timed window. Returns failure messages;
    * files the Python side checks go under `outDir`. */
  def check(spark: SparkSession, outDir: String): Seq[String]

  /** Where the workload writes tables and indexes (for write
    * amplification), or None for a read-only workload. */
  def storageRoot: Option[String]
}

/** Benchmark JVM entry point. Arguments:
  * `--workload <name> --inputs <dir> --work <dir> --seconds <s>
  *  --trace <0|1> --cores <n> --setups <k> --out <result.json>`.
  * Prints nothing the harness parses; the result goes to `--out`. */
object Main {
  def sessionConf(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.local.dir" -> s"$work/local",
    "spark.sql.streaming.checkpointLocation" -> s"$work/checkpoint",
    "spark.hadoop.hadoop.tmp.dir" -> s"$work/tmp")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    val conf = sessionConf(cores, work)
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = workload match {
      case "migrate" => new Migrate(inputs)
      case "dml_mv" => new DmlMv(inputs)
      case "scan_join" => new ScanJoin(inputs)
      case "dedup_ingest" => new DedupIngest(inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val w0 = System.nanoTime()
    wl.warmUp(spark, s"$work/warmup")
    graft.util.CacheScope.releaseAll()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupTimes = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      wl.setup(spark, s"$work/setup-$i")
      graft.util.CacheScope.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }

    val rec = new Recorder(spark, tracing)
    val before = wl.storageRoot.map(Storage.scan)
    val t0 = rec.now()
    val deadline = t0 + (seconds * 1e9).toLong
    // a traced run alternates untraced and traced rounds, starting
    // untraced, so the first (coldest) round is never traced and the
    // tracing overhead compares the traced rounds with later untraced
    // ones: it needs at least three rounds
    val minRounds = if (tracing) 3 else 1
    var round = 0
    while (round < minRounds || rec.now() - rec.pausedNs < deadline) {
      rec.setTraced(tracing && round % 2 == 1)
      val (r0, p0) = (rec.now(), rec.pausedNs)
      wl.round(spark, round, rec)
      rec.rounds += Round(round, r0, rec.now(), rec.pausedNs - p0, rec.traced)
      round += 1
    }
    val timedNs = rec.now() - t0 - rec.pausedNs
    rec.setTraced(false)
    val after = wl.storageRoot.map(Storage.scan)

    val outDir = s"$work/check"
    Files.createDirectories(Paths.get(outDir))
    val c0 = System.nanoTime()
    val failures =
      try wl.check(spark, outDir)
      catch { case scala.util.control.NonFatal(e) => Seq(s"check crashed: $e") }
    val checkS = (System.nanoTime() - c0) / 1e9

    val written = (before, after) match {
      case (Some(b), Some(x)) => Storage.delta(b, x)
      case _ => Storage.Totals(0L, 0L, 0L)
    }
    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "session_conf" -> conf.filterNot { case (k, _) =>
        k.endsWith(".dir") || k.contains("checkpointLocation") }.toMap,
      "session_s" -> sessionS,
      "warmup_s" -> warmS,
      "setup_table_s" -> setupTimes,
      "timed_ns" -> timedNs,
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "info" -> o.info,
        "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "traced" -> o.traced)),
      "notes" -> rec.notes,
      "rounds" -> rec.rounds.map(r => Map("index" -> r.index, "start" -> r.start,
        "end" -> r.end, "paused" -> r.paused, "traced" -> r.traced)),
      "bytes_written" -> written.bytes,
      "files_written" -> written.files,
      "manifest_bytes" -> written.manifestBytes,
      "vmhwm_kb" -> Storage.vmHwmKb(),
      "check_failures" -> failures,
      "check_s" -> checkS,
      "trace" -> (if (tracing) rec.toJson else null))
    Files.write(Paths.get(a("out")), Json.enc(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** File-system accounting under a workload's storage root. */
object Storage {
  final case class Totals(bytes: Long, files: Long, manifestBytes: Long)
  type Snapshot = Map[String, Long]

  def scan(root: String): Snapshot = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val b = Map.newBuilder[String, Long]
        s.forEach((f: Path) => if (Files.isRegularFile(f)) b += f.toString -> Files.size(f))
        b.result()
      } finally s.close()
    }
  }

  /** Files that are new or changed size since `before`. A manifest is
    * any file whose name mentions it, plus the CDC watermark store. */
  def delta(before: Snapshot, after: Snapshot): Totals = {
    val changed = after.filter { case (f, n) => !before.get(f).contains(n) }
    def isManifest(f: String) = {
      val name = Paths.get(f).getFileName.toString
      name.contains("manifest") || name.startsWith("watermark")
    }
    Totals(changed.values.sum, changed.size.toLong,
      changed.collect { case (f, n) if isManifest(f) => n }.sum)
  }

  def vmHwmKb(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
  }.getOrElse(0L)
}
