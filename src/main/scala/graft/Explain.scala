package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Dev tool: dump the formatted physical plan of each query (or the
  * SPARK_GRAFT_ONLY subset) so pushdown / broadcast / codegen spans can
  * be audited — the returned frame's plan, then the executed plan of
  * every action the query ran while it was built (checkpoints, heads,
  * collects inside operators and their scoped sessions). Exits 1 when
  * a query or one of its actions failed. Usage:
  *
  *   SPARK_GRAFT_ONLY=q_x,q_y sbt "runMain graft.Explain /root/testdata/sf0.01"
  */
object Explain {

  /** One root SQL execution: its description (the action name and call
    * site, e.g. `localCheckpoint at GraphOps.scala:1202`), its final
    * formatted physical plan and plan tree, and the first line of its
    * error if it failed (it names the exception class unless the
    * exception is a Spark error, which has its own error class). */
  final case class Action(description: String, plan: String,
      info: SparkPlanInfo, error: Option[String])

  /** Runs `body` and returns the root SQL executions it ran, in order,
    * each with its adaptive-final plan (its initial plan when AQE never
    * re-planned it). The capture listens on the SparkContext's bus, so it
    * sees the actions of every session of `spark`'s context —
    * [[graft.Session.scoped]] sessions included. Events arrive
    * asynchronously, so `body` is bracketed by two marker actions: only
    * executions between the two markers are its own (an action another
    * thread runs meanwhile is captured too). */
  def actions[T](spark: SparkSession)(body: => T): (T, Seq[Action]) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val (begin, end) = (s"actions begin $token", s"actions end $token")
    val started = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    // guarded: an action another thread started may still post updates
    // after `done` opens
    val runs = mutable.LinkedHashMap[Long, Action]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = runs.synchronized(e match {
        case s: SparkListenerSQLExecutionStart if s.description == begin =>
          started.countDown()
        case s: SparkListenerSQLExecutionStart if s.description == end =>
          done.countDown()
        case s: SparkListenerSQLExecutionStart
            if started.getCount == 0 && done.getCount == 1 &&
              s.rootExecutionId.forall(_ == s.executionId) =>
          runs(s.executionId) = Action(s.description,
            s.physicalPlanDescription, s.sparkPlanInfo, None)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          runs.get(u.executionId).foreach(a => runs(u.executionId) =
            a.copy(plan = u.physicalPlanDescription, info = u.sparkPlanInfo))
        case x: SparkListenerSQLExecutionEnd =>
          runs.get(x.executionId).foreach(a => runs(x.executionId) =
            a.copy(error = x.errorMessage.flatMap(_.linesIterator.nextOption())))
        case _ => ()
      })
    }
    def mark(description: String, seen: CountDownLatch): Unit = {
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(description)
      try spark.range(1).collect()
      finally sc.setJobDescription(prior)
      require(seen.await(60, TimeUnit.SECONDS), s"marker '$description' never seen")
    }
    sc.addSparkListener(listener)
    try {
      mark(begin, started)
      val out = body
      mark(end, done)
      (out, runs.synchronized(runs.values.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // headers and plan literals carry non-ASCII text: UTF-8 whatever the locale
    val out = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    var failed = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        val (plan, ran) = actions(spark)(Try(fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))))
        plan match {
          case Success(p) => out.println(s"==== $name ====\n$p")
          case Failure(e) =>
            failed += 1
            out.println(s"==== $name ==== FAILED: ${firstLine(e)}")
        }
        ran.zipWithIndex.foreach { case (a, k) =>
          val head = s"==== $name · ${k + 1} ${a.description} ===="
          a.error match {
            case None => out.println(s"$head\n${a.plan}")
            case Some(err) =>
              failed += 1
              out.println(s"$head FAILED: $err\n${a.plan}")
          }
        }
        spark.catalog.clearCache()
      }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[explain] $failed failure(s)")
      sys.exit(1)
    }
  }
}
