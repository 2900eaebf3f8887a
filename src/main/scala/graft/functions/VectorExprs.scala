package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding dot product — the hot-path
  * scalar of every similarity/ANN operator (SURVEY-adjacent training-data
  * pipeline surface; cosine over `Array[Float]` embeddings).
  *
  * Why an Expression and not `aggregate(zip_with(...))`: Spark's
  * higher-order functions evaluate their lambda per element through an
  * interpreted closure and allocate the zipped intermediate array per row
  * — outside whole-stage codegen. This expression generates a tight
  * primitive loop instead (doGenCode), keeping ANN scoring inside the
  * codegen'd stage. At 2000 vectors it is a few× faster; at 10⁸ vectors
  * per executor it is the difference between ANN being usable or not.
  *
  * Float-parity contract (must match the DuckDB oracle bit-for-bit):
  * each float element is widened to double BEFORE the multiply (a
  * float×float product is exact in double), and accumulation is
  * sequential left-to-right — the same partial-sum sequence as DuckDB's
  * `list_reduce((acc, v) -> acc + v)`.
  *
  * NULL semantics (mirrors the DuckDB `list_zip`/`list_transform` oracle):
  *  - either argument NULL → NULL (BinaryExpression default);
  *  - mismatched lengths → NULL (list_zip pads the short list with NULL,
  *    whose product poisons the reduce) — never a silent truncation;
  *  - a NULL element → NULL (acc + NULL = NULL in the oracle's reduce).
  * Analysis-time type checking rejects anything but float/double arrays
  * (ExpectsInputTypes): the function is registered session-wide as
  * `vec_dot`, and without it an array<int> argument would silently
  * reinterpret 4-byte int storage as 8-byte doubles.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  /** Analysis-time validation (ExpectsInputTypes' AbstractDataType is
    * `private[sql]`, so the check is spelled out here): both arguments
    * must be float or double arrays. */
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float> or array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  /** Can return NULL even for non-null inputs (length mismatch / null
    * element), so nullability must not be derived from the children. */
  override def nullable: Boolean = true

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      val lf = isFloatArray(left); val rf = isFloatArray(right)
      val checkNulls = mayHaveNullElems(left) || mayHaveNullElems(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        acc += xv * yv
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA =
        if (isFloatArray(left)) s"(double) $av.getFloat($i)" else s"$av.getDouble($i)"
      val getB =
        if (isFloatArray(right)) s"(double) $bv.getFloat($i)" else s"$bv.getDouble($i)"
      // containsNull=false on both sides (the common embedding case)
      // compiles the element null-check away for a tight primitive loop.
      val nullCheck =
        if (mayHaveNullElems(left) || mayHaveNullElems(right))
          s"if ($av.isNullAt($i) || $bv.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $av.numElements();
         |if ($n != $bv.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $getA * $getB;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Register `vec_dot` on the session's function registry once per session. */
  def register(spark: SparkSession): SparkSession =
    graft.GraftFunctions.registerOnce(spark, "vec_dot") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vec_dot", exprs => {
          require(exprs.length == 2,
            s"vec_dot requires exactly 2 arguments, got ${exprs.length}")
          VecDot(exprs.head, exprs(1))
        }, "built-in")
    }
}
