package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump the formatted physical plan of each query (or the
  * SPARK_GRAFT_ONLY subset) so pushdown / broadcast / codegen spans can
  * be audited. Usage:
  *
  *   SPARK_GRAFT_ONLY=q_x,q_y sbt "runMain graft.Explain /root/testdata/sf0.01"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          println(s"==== $name ====\n$plan")
        } catch {
          case e: Throwable => println(s"==== $name ==== FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    // The square-census public entries materialize inside their
    // adaptive shuffle-partition scope (their returned plan is a
    // checkpoint scan), so the auditable census plans are the inner
    // builders — dump them when selected.
    val inner: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq("q_square_count.inner" -> (ops.GraphOps.squareCountInner _),
        // the dense census's EXECUTED assembly (r16 single-pass): λ
        // persisted, both branches reading the InMemoryRelation
        "q_square_count.onepass" -> (ops.GraphOps.squareCountOnePass _),
        "q_square_count_capped.inner" -> (ops.GraphOps.squareCountCappedInner _),
        // materializes inside its scoped rule session, so the
        // auditable rewritten-theta-join plan is the inner builder
        "q_edit_join_rule.inner" -> (ops.DedupOps.editJoinRuleInner _))
    inner.filter { case (n, _) =>
        only.forall(o => o.contains(n) ||
          o.contains(n.stripSuffix(".inner").stripSuffix(".onepass"))) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          println(s"==== $name ====\n$plan")
        } catch {
          case e: Throwable => println(s"==== $name ==== FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
