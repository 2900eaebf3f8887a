package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{MinhashSigs, RollingHash, SimhashSig, VecDot}
import graft.geo.GeoFunctions

/** Library entry points for a user adopting graft in their own Spark
  * application.
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` injects the native
  *    Catalyst expressions (`vec_dot`, `roll_hash`, `minhash_sigs`,
  *    `simhash_sig`) and the [[graft.plans.RangeJoinRewrite]] +
  *    [[graft.plans.EditJoinRewrite]] optimizer rules at session build — the canonical plug-in point, so they
  *    exist in every session (including thrift/connect ones) without
  *    user code.
  *  - [[GraftFunctions.registerAll]] registers the full function
  *    surface (native expressions + the st_* geometry UDF family) on an
  *    already-running session; [[graft.plans.RangeJoinRewrite.install]]
  *    attaches the optimizer rule to a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(graft.plans.RangeJoinRewrite(_))
    ext.injectOptimizerRule(graft.plans.EditJoinRewrite(_))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"vec_dot requires exactly 2 arguments, got ${exprs.length}")
        VecDot(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("roll_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "roll_hash"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"roll_hash requires exactly 1 argument, got ${exprs.length}")
        RollingHash(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"minhash_sigs requires exactly 1 argument, got ${exprs.length}")
        MinhashSigs(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimhashSig].getName, "simhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"simhash_sig requires exactly 1 argument, got ${exprs.length}")
        SimhashSig(exprs.head)
      }))
  }
}

object GraftFunctions {
  /** Run `register` (one function family's registrations) only when the
    * family's last-registered function, `sentinel`, is not yet on the
    * session, so each family registers once per session and a partial
    * registration retries — the contains-guard of Pathling's
    * `SqlStrategy.setup`. Returns the session for chaining. */
  def registerOnce(spark: SparkSession, sentinel: String)(
      register: => Unit): SparkSession = {
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(sentinel))) register
    spark
  }

  /** Register every graft function on an existing session (idempotent):
    * the codegen expressions plus the WKT geometry UDFs/UDAF. */
  def registerAll(spark: SparkSession): SparkSession = {
    functions.VectorExprs.register(spark)
    functions.TextExprs.register(spark)
    functions.SigExprs.register(spark)
    functions.BloomExprs.register(spark)
    GeoFunctions.register(spark)
    spark
  }
}
