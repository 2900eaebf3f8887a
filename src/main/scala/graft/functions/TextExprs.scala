package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling-hash fingerprint: sequential base-31 polynomial fold
  * over the string's UTF-8 bytes, mod 2^31-1, seeded at 7 — the
  * document-fingerprinting hash of the text-analysis surface.
  *
  * Why an Expression: the `aggregate(transform(split(text, ''), …))`
  * higher-order formulation materializes a per-character array and runs
  * an interpreted lambda per element — per-ROW allocation at corpus
  * scale. This generates a tight byte loop over the UTF8String's
  * existing buffer inside whole-stage codegen instead: zero allocation,
  * one pass (no String copy — Spark rows hold UTF-8 bytes natively).
  *
  * Parity contract: for ASCII text (this corpus — and most web text
  * after normalization) UTF-8 bytes == code points, so the fold equals
  * DuckDB's `list_reduce` over `unicode(ch)` exactly; all intermediate
  * values stay < 2^36, so 64-bit arithmetic is exact in both engines.
  * Non-ASCII input would diverge from a code-point fold (a multi-byte
  * sequence hashes per byte) — documented, not silent: the hash is
  * still deterministic, just not oracle-comparable there.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  private val Mod = 2147483647L
  private val Seed = 7L

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"roll_hash requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var acc = Seed
    var i = 0
    while (i < n) {
      // & 0xFF: getByte is signed; the fold is defined over the unsigned
      // byte value so ASCII bytes equal their code points
      acc = (acc * 31 + (s.getByte(i) & 0xFF)) % Mod
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $c.numBytes();
         |long $acc = ${Seed}L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc = ($acc * 31L + ($c.getByte($i) & 0xFF)) % ${Mod}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  /** Register `roll_hash` on the session's function registry once per session. */
  def register(spark: SparkSession): SparkSession =
    graft.GraftFunctions.registerOnce(spark, "roll_hash") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "roll_hash", exprs => {
          require(exprs.length == 1,
            s"roll_hash requires exactly 1 argument, got ${exprs.length}")
          RollingHash(exprs.head)
        }, "built-in")
    }
}
