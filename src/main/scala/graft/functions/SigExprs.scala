package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native LSH-signature kernels for the dedup operators.
  *
  * Why Expressions: the signature math is a per-row reduction over an
  * in-row string array (shingles / words). The `transform`/`aggregate`
  * higher-order formulation evaluates an interpreted lambda per element
  * (measured ~2× the runtime at sf0.1); the explode → groupBy
  * formulation is codegen'd but pays a full corpus SHUFFLE just to
  * regroup rows that were already colocated. These expressions keep the
  * map-side plan shape AND run the kernel as a tight JVM loop invoked
  * from whole-stage codegen — the best of both: zero shuffle, zero
  * interpreted-lambda overhead.
  *
  * Parity contract (oracle-checkable, like [[RollingHash]]): the base
  * hash is md5 of the element's UTF-8 bytes; `minhash_sigs` uses the
  * first 15 hex chars (= top 60 bits, non-negative in int64) mod 2^31-1,
  * `simhash_sig` the first 8 hex chars (32 bits) — both exactly
  * DuckDB's `Parity.md5KeySql(s, k)`. All
  * subsequent arithmetic is exact 64-bit integer math, identical in
  * both engines (see the overflow analysis at the constants below).
  */
object SigKernels {

  val NumHashes = 16
  val SimBits = 32
  val MersP = 2305843009213693951L // 2^61 - 1

  /** Universal-hash multipliers/offsets (shared with the DuckDB oracle
    * rendering in DedupOps). Multipliers ~2^31 so A·h31 wraps mod 2^61-1
    * (a monotone map would degenerate the 16-wide signature to one
    * argmin); A·h31 < 2^32·2^31 = 2^63 never overflows int64. */
  def hA(i: Int): Long = 2654435761L + 40503L * i
  def hB(i: Int): Long = 1000003L * i + 12345

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5 (== first 15 hex chars parsed base-16). */
  private def md5Top60(s: UTF8String): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(s.getBytes)
    (((b(0) & 0xFFL) << 56) | ((b(1) & 0xFFL) << 48) | ((b(2) & 0xFFL) << 40) |
      ((b(3) & 0xFFL) << 32) | ((b(4) & 0xFFL) << 24) | ((b(5) & 0xFFL) << 16) |
      ((b(6) & 0xFFL) << 8) | (b(7) & 0xFFL)) >>> 4
  }

  /** Top 32 bits of md5 (== first 8 hex chars parsed base-16). */
  private def md5Top32(s: UTF8String): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xFFL) << 24) | ((b(1) & 0xFFL) << 16) | ((b(2) & 0xFFL) << 8) |
      (b(3) & 0xFFL)
  }

  /** 16 minhash values over the shingle array. NULL elements are
    * skipped (SQL aggregate semantics — MIN ignores NULLs); an array
    * with no non-NULL element yields NULL, matching SQL MIN over an
    * empty set. The internal dedup callers feed null-free split()
    * output, but the function is registered on the public session. */
  def minhashSigs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        seen = true
        val h31 = md5Top60(s) % 2147483647L
        var i = 0
        while (i < NumHashes) {
          val v = (hA(i) * h31 + hB(i)) % MersP
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }

  /** 32-bit simhash: each DISTINCT word votes ±tf per bit position of
    * its md5-derived 32-bit hash; the sign vector is the signature.
    * NULL elements are skipped, and an array with no non-NULL element
    * yields NULL — consistent with [[minhashSigs]]' SQL aggregate
    * semantics (returning 0L there would hand every degenerate document
    * the same legitimate-looking all-zero-band signature, making them
    * mutual hamming-0 "near-duplicates"). Boxed return so codegen can
    * surface the NULL. */
  def simhashSig(words: ArrayData): java.lang.Long = {
    val n = words.numElements()
    val tf = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var j = 0
    while (j < n) {
      val w = words.getUTF8String(j)
      if (w != null) {
        val slot = tf.get(w)
        if (slot == null) tf.put(w.clone(), Array(1L)) else slot(0) += 1
      }
      j += 1
    }
    if (tf.isEmpty) return null
    val votes = new Array[Long](SimBits)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = md5Top32(e.getKey)
      val c = e.getValue()(0)
      var b = 0
      while (b < SimBits) {
        if (((h >> b) & 1L) == 1L) votes(b) += c else votes(b) -= c
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < SimBits) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** `minhash_sigs(array<string>) -> array<bigint>[16]` — see [[SigKernels]]. */
case class MinhashSigs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SigKernels.minhashSigs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static call per row; the kernel is a tight JVM loop (md5 is
      // the dominant cost either way — what matters is avoiding the
      // per-element interpreted lambda dispatch)
      s"""
         |${ev.value} = graft.functions.SigKernels.minhashSigs($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash_sig(array<string>) -> bigint` — see [[SigKernels]]. */
case class SimhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SigKernels.simhashSig(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.functions.SigKernels.simhashSig($c);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = $boxed == null ? -1L : $boxed.longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SigExprs {
  /** Register `minhash_sigs` / `simhash_sig` once per session. */
  def register(spark: SparkSession): SparkSession =
    graft.GraftFunctions.registerOnce(spark, "simhash_sig") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "minhash_sigs", exprs => {
          require(exprs.length == 1,
            s"minhash_sigs requires exactly 1 argument, got ${exprs.length}")
          MinhashSigs(exprs.head)
        }, "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "simhash_sig", exprs => {
          require(exprs.length == 1,
            s"simhash_sig requires exactly 1 argument, got ${exprs.length}")
          SimhashSig(exprs.head)
        }, "built-in")
    }
}
