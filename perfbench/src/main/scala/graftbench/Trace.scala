package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One measured operation of the closed loop. Times are nanoseconds
  * since the recorder's origin. */
final case class Op(kind: String, info: String, start: Long, end: Long,
                    ok: Boolean, traced: Boolean)

/** One round of the timed phase (a migration pass, a statement or
  * query cycle, or one ingest batch). */
final case class Round(index: Int, start: Long, end: Long, paused: Long,
                       traced: Boolean)

private final case class SpanRec(id: Int, parent: Int, name: String,
                                 start: Long, var end: Long)

/** Per-job totals from the Spark listener. */
private final case class JobRec(id: Int, start: Long, var end: Long,
    var stages: Int = 0, var tasks: Int = 0, var runMs: Long = 0,
    var cpuNs: Long = 0, var gcMs: Long = 0, var inputBytes: Long = 0,
    var shufRead: Long = 0, var shufWrite: Long = 0, var outBytes: Long = 0)

/** Catalyst phase times and shuffle exchanges of one executed query. */
private final case class QeRec(at: Long, func: String, analysis: Long,
                               optimization: Long, planning: Long,
                               exchanges: Int)

/** Records operations always, and — in a traced run, on traced rounds
  * only — spans around calls into the engine plus Spark job and query
  * execution events. Everything stays in memory until [[toJson]].
  *
  * Spans nest on the driver thread that issues operations; the
  * benchmark is a closed loop with one client, so that thread is the
  * only one that opens them. A span's layer is its name up to the first
  * dot (`ops`, `sources`, `plans`, `text`, `queries`, `util`, `bench`). */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - originNs

  val ops = mutable.ArrayBuffer.empty[Op]
  val rounds = mutable.ArrayBuffer.empty[Round]
  /** Per-operation facts the Python side needs (e.g. whether a read
    * was served from a materialized view), keyed by operation info. */
  val notes = mutable.LinkedHashMap.empty[String, String]
  def note(key: String, value: String): Unit = notes(key) = value

  /** Benchmark bookkeeping between operations (collecting a result
    * for the output check) runs paused: it is excluded from the timed
    * phase. */
  var pausedNs = 0L
  def paused[T](body: => T): T = {
    val t0 = now()
    try body finally pausedNs += now() - t0
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = mutable.Stack.empty[SpanRec]
  @volatile private var on = false

  /** Open a span now (or at `at`); returns its id, or -1 when the
    * current round is untraced. */
  def open(name: String, at: Long = -1L): Int =
    if (!on) -1
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = SpanRec(spans.size, parent, name, if (at >= 0) at else now(), -1L)
      spans += s
      stack.push(s)
      s.id
    }

  def close(id: Int, at: Long = -1L): Unit =
    if (id >= 0) {
      val s = spans(id)
      require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
      stack.pop()
      s.end = if (at >= 0) at else now()
    }

  def span[T](name: String)(body: => T): T = {
    val id = open(name)
    try body finally close(id)
  }

  /** One closed-loop operation: `body`, then the per-operation cache
    * release inside the timed window (as `graft.Bench` does). A
    * failure is recorded, not thrown. */
  def op(kind: String, info: String, spanName: String)(body: => Unit): Boolean = {
    val t0 = now()
    val id = open(spanName, t0)
    val ok =
      try { body; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $kind $info FAILED: $e")
          false
      }
    span("util.release")(graft.util.CacheScope.releaseAll())
    val t1 = now()
    close(id, t1)
    ops += Op(kind, info, t0, t1, ok, on)
    ok
  }

  /** Record an operation whose boundaries the caller measured itself
    * (a CDC batch inside the engine's own loop). */
  def recordOp(kind: String, info: String, start: Long, end: Long,
               ok: Boolean): Unit = ops += Op(kind, info, start, end, ok, on)

  // ---- listeners (attached only on traced rounds) ----

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val qes = mutable.ArrayBuffer.empty[QeRec]

  private def msToRel(ms: Long): Long = (ms - originMs) * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, msToRel(e.time), -1L)
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = msToRel(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        for (jid <- stageJob.get(si.stageId); r <- jobs.get(jid)) {
          val m = si.taskMetrics
          r.stages += 1
          r.tasks += si.numTasks
          if (m != null) {
            r.runMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.inputBytes += m.inputMetrics.bytesRead
            r.shufRead += m.shuffleReadMetrics.totalBytesRead
            r.shufWrite += m.shuffleWriteMetrics.bytesWritten
            r.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").orElse(ph.get("analysis"))
        .map(p => msToRel(p.endTimeMs)).getOrElse(now())
      val ex = scala.util.Try(Recorder.shuffleExchanges(qe.executedPlan))
        .getOrElse(0)
      Recorder.this.synchronized {
        qes += QeRec(at, func, dur("analysis"), dur("optimization"),
          dur("planning"), ex)
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
  }

  /** Switch tracing for the next round. Detaching drains the listener
    * bus first, so the last traced jobs are not lost. */
  def setTraced(traced: Boolean): Unit = if (tracing && traced != on) {
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    on = traced
  }

  def traced: Boolean = on

  def toJson: Any = synchronized {
    Map(
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "input_bytes" -> j.inputBytes, "shuffle_read_bytes" -> j.shufRead,
        "shuffle_write_bytes" -> j.shufWrite, "output_bytes" -> j.outBytes)),
      "qes" -> qes.map(q => Map("at" -> q.at, "func" -> q.func,
        "analysis_ms" -> q.analysis, "optimization_ms" -> q.optimization,
        "planning_ms" -> q.planning, "exchanges" -> q.exchanges)))
  }
}

object Recorder {
  /** Shuffle exchanges in an executed plan, looking through adaptive
    * plans and their query stages. */
  def shuffleExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => shuffleExchanges(a.executedPlan)
    case s: QueryStageExec => shuffleExchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(shuffleExchanges).sum
    case other => other.children.map(shuffleExchanges).sum
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(enc).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
