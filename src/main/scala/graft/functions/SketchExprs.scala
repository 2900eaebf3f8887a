package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native bottom-k (KMV) sketch-union aggregate — the bounded,
  * mergeable state kernel of
  * [[graft.ops.GraphOps.neighborhoodFunction]] (HyperANF):
  * `kmv_union(sketch, k)` folds already-sorted-distinct long arrays
  * into the k smallest of their union.
  *
  * Why a `TypedImperativeAggregate` and not an `Aggregator` udaf: the
  * udaf path round-trips the buffer through its `ExpressionEncoder`
  * on EVERY input row (deserialize → merge → reserialize), which at
  * |E| ≈ millions of gather rows per HyperANF round dominated the
  * runtime (measured 9.8 s at sf0.1); this buffer lives as a plain
  * `Array[Long]` inside ObjectHashAggregate and serializes only at
  * the exchange boundary — the same reason Spark's own
  * `BloomFilterAggregate` (already registered here as the repo's
  * runtime-filter precedent) is typed-imperative. Each update is one
  * O(k) two-pointer merge; partial aggregation combines map-side, so
  * the exchange ships one ≤k array per (group, mapper). Full measured
  * progression of the HyperANF round at sf0.1: 13.3 s (relational
  * flatten-sort) → 9.8 s (broadcast gather + udaf) → 5.3 s (this
  * kernel) → 3.1 s (plus raising ObjectHashAggregate's 128-key
  * sort-fallback threshold, which silently degraded every round to a
  * full sort — see neighborhoodFunction).
  *
  * Contract: inputs must be sorted ascending and duplicate-free (the
  * construction invariant of every sketch this folds — single-hash
  * seeds or this aggregate's own output). Merge is associative and
  * commutative, so the result is value-identical to
  * sort-distinct-truncate of the whole union — what the DuckDB oracle
  * computes with `list_sort(list_distinct(flatten(...)))[1:k]`.
  */
case class KmvUnionAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_union"

  /** Analysis-time validation (the VecDot convention): only long
    * arrays fold — anything else would ClassCastException per row in
    * the executor instead of failing the query at planning. */
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kmv_union requires array<bigint>, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  /** Two-pointer merge of sorted distinct arrays, keeping the k
    * smallest distinct values. */
  private def mergeK(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return if (b.length <= k) b else java.util.Arrays.copyOf(b, k)
    if (b.isEmpty) return if (a.length <= k) a else java.util.Arrays.copyOf(a, k)
    // Convergence fast paths (profiled in round 10: once the sketch
    // iteration plateaus most unions are no-ops, and the per-row
    // output allocation dominated the aggregate's GC churn): a full
    // buffer absorbs nothing from an input whose minimum is at or
    // past its maximum (values ≥ a(k-1) either dedup into it or rank
    // after k), and an identical input changes nothing.
    if (a.length == k && b(0) >= a(k - 1)) return a
    if (a.length == b.length && java.util.Arrays.equals(a, b)) return a
    val cap = math.min(k, a.length + b.length)
    val out = new Array[Long](cap)
    var i = 0
    var j = 0
    var n = 0
    var last = 0L
    var first = true
    while (n < cap && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) {
          val x = a(i); i += 1; x
        } else { val x = b(j); j += 1; x }
      if (first || v != last) { out(n) = v; n += 1; last = v; first = false }
    }
    if (n == cap) out else java.util.Arrays.copyOf(out, n)
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buffer
    else mergeK(buffer, v.asInstanceOf[ArrayData].toLongArray())
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = mergeK(a, b)

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    var i = 0
    while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvUnionAgg =
    copy(child = newChildren.head)
}

object SketchExprs {
  /** Register `kmv_union(col, k)` once per session. */
  def register(spark: SparkSession): SparkSession =
    graft.GraftFunctions.registerOnce(spark, "kmv_union") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "kmv_union", exprs => {
          require(exprs.length == 2,
            s"kmv_union requires (sketch, k), got ${exprs.length} args")
          require(exprs(1).foldable, "kmv_union's k must be a literal")
          val k = exprs(1).eval(InternalRow.empty) match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"kmv_union's k must be an integer literal, got $other")
          }
          require(k > 0, s"kmv_union's k must be positive, got $k")
          KmvUnionAgg(exprs.head, k)
        }, "built-in")
    }
}
