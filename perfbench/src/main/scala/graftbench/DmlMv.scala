package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.plans.{GraftMvs, GraftSql, GraftSqlTables}
import graft.sources.{StatsSinks, TxnManifest}

private final case class Stmt(kind: String, sql: String, mv: Boolean,
                              view: Option[String], file: Option[String])

/** `dml_mv`: a seeded statement log through `GraftSql.execute` against
  * manifest tables — a fact table and a dim (copy-on-write, change
  * feed on, feeding a star materialized view) and a deletion-vector
  * table. One round is one statement cycle: reads (half of them the
  * view's own aggregate, which `MvRewrite` may serve), INSERT, UPDATE,
  * DELETE, MERGE into both table kinds, and REFRESH. One operation is
  * one statement. */
final class DmlMv(inputs: String) extends Workload {
  private val (mvName, mvSql, cycle, stmts) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inputs/statements.json"))
    val it = root.get("statements").elements()
    val b = Vector.newBuilder[Stmt]
    while (it.hasNext) {
      val n = it.next()
      def opt(k: String) = Option(n.get(k)).map(_.asText())
      b += Stmt(n.get("kind").asText(), n.get("sql").asText(),
        Option(n.get("mv")).exists(_.asBoolean()), opt("view"), opt("file"))
    }
    (root.get("mv_name").asText(), root.get("mv_sql").asText(),
      root.get("cycle_length").asInt(), b.result())
  }
  private var base: String = _
  private var next = 0
  def storageRoot: Option[String] = Option(base)

  private def factRoot = s"$base/fact"

  private def register(spark: SparkSession, name: String, keys: Seq[String],
                       dv: Boolean, from: String): Unit = {
    val root = s"$base/$name"
    val manPath = s"$base/$name.manifest.tsv"
    StatsSinks.appendBatchStats(spark.read.parquet(s"$from/$name.parquet"), root, 0)
    new TxnManifest(manPath).commit(0, Seq(s"$root/batch=0"))
    GraftSqlTables.register(name, GraftSqlTables.Entry(root, manPath,
      keys = keys, cdf = !dv, deletionVectors = dv))
  }

  def setup(spark: SparkSession, dir: String): Unit = tables(spark, dir, inputs)

  private def tables(spark: SparkSession, dir: String, from: String): Unit = {
    base = dir
    next = 0
    if (GraftMvs.lookup(mvName).isDefined) GraftMvs.drop(mvName)
    register(spark, "fact", Seq("id"), dv = false, from)
    register(spark, "dim", Seq("k"), dv = false, from)
    register(spark, "acct", Seq("id"), dv = true, from)
    GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW $mvName LOCATION '$dir/mv' AS $mvSql")
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $mvName")
  }

  def round(spark: SparkSession, index: Int, rec: Recorder): Unit =
    (0 until cycle).foreach { _ =>
      require(next < stmts.size, "statement log exhausted: generate more cycles")
      val s = stmts(next)
      var served = false
      rec.op(s.kind, next.toString, s"plans.${s.kind}") {
        for (v <- s.view; f <- s.file)
          spark.read.parquet(s"$inputs/$f").createOrReplaceTempView(v)
        val df = GraftSql.execute(spark, s.sql)
        if (s.kind == "read") {
          df.collect()
          served = s.mv &&
            !df.queryExecution.executedPlan.toString.contains(factRoot)
        }
      }
      if (s.mv) rec.note(next.toString, if (served) "served" else "not_served")
      next += 1
    }

  /** The final tables and the refreshed view go to `outDir` for the
    * replay check; here the view is also compared with its defining
    * query recomputed from the live tables. */
  def check(spark: SparkSession, outDir: String): Seq[String] = {
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW $mvName")
    val mv = GraftMvs.read(spark, mvName).select("nk", "n", "sq")
    val fact = GraftSql.execute(spark, "SELECT * FROM fact")
    val dim = GraftSql.execute(spark, "SELECT * FROM dim")
    val want = fact.join(dim, fact("sk") === dim("k")).groupBy(dim("nk"))
      .agg(count(lit(1)).as("n"), sum(fact("qty")).as("sq"))
      .select("nk", "n", "sq")
    val diff = mv.exceptAll(want).count() + want.exceptAll(mv).count()
    mv.write.parquet(s"$outDir/mv")
    fact.write.parquet(s"$outDir/fact")
    GraftSql.execute(spark, "SELECT * FROM acct").write.parquet(s"$outDir/acct")
    if (diff != 0) Seq(s"dml_mv: $mvName differs from its defining query ($diff rows)")
    else Nil
  }
}
