package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `analyst`: one closed-loop session over seeded passes of analytic
  * `SparkEntry.queries` (the pool and the passes come from `plan.json`). An
  * op is one query: the query-function call, forcing `executedPlan`, and a
  * full collect to the client. The warm-up pass runs every pool query once,
  * keeps its rows and writes them to `results/<name>`; every later execution
  * must return the same multiset of rows, and `run.py` checks the written
  * results against DuckDB's `oracleSql`.
  */
final class Analyst(spark0: org.apache.spark.sql.SparkSession, tr0: Tracer, work0: String)
    extends Workload(spark0, tr0, work0) {

  private val plan = Json.read(s"$work/plan.json")
  private val pool: Seq[(String, String)] =
    plan.get("pool").asInstanceOf[java.util.List[java.util.Map[String, String]]].asScala.toSeq
      .map(m => m.get("name") -> m.get("module"))
  private val module = pool.toMap
  private val passes = plan.get("passes").asInstanceOf[java.util.List[java.util.List[String]]]
    .asScala.toSeq.map(_.asScala.toSeq)
  private val warm = mutable.Map.empty[String, Map[Row, Int]]

  private def query(name: String, round: Int, traced: Boolean): Unit = {
    var rows = Array.empty[Row]
    var schema = new StructType()
    val op = runOp(name, round, traced, module(name)) {
      val df = tr.span("query.build")(SparkEntry.queries(name)(spark, lake))
      tr.span("query.plan")(df.queryExecution.executedPlan)
      rows = tr.span("query.exec")(df.collect())
      schema = df.schema
      rows.length.toLong
    }
    // Checking is the client's work, not the query's: it stays out of the op.
    if (op.errors.isEmpty) {
      val counts = rows.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
      warm.get(name) match {
        case None =>
          warm(name) = counts
          try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.parquet(s"$work/results/$name")
          catch { case NonFatal(e) => op.fail(s"warm-up result not written: ${e.getMessage}") }
        case Some(w) if w != counts =>
          op.fail(s"${rows.length} rows differ from the warm-up's ${w.values.sum}")
        case _ =>
      }
    }
  }

  def snapshot(): Unit = pool.foreach { case (name, _) => query(name, 0, traced = false) }

  /** `units` passes, each a seeded permutation that holds every pool query,
    * so every run has the same mix. Each query alternates between untraced
    * and traced executions, so a traced run of two passes has both; every
    * second query of the pool starts traced, so that the warm-up drift
    * between passes does not tilt the tracing overhead one way.
    */
  def timed(units: Int): Unit = {
    val start = pool.map(_._1).zipWithIndex.toMap
    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
    passes.take(units).zipWithIndex.foreach { case (pass, i) =>
      pass.foreach { q =>
        query(q, i + 1, traced = (start(q) + runs(q)) % 2 == 1)
        runs(q) += 1
      }
    }
  }

  override def extra: Map[String, Any] = Map(
    "oracle_sql" -> pool.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap)
}
