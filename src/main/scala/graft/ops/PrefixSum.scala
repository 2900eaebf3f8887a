package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The global running sum — DuckDB's `SUM(x) OVER (ORDER BY k ROWS
  * UNBOUNDED PRECEDING)` — in a form Spark runs in parallel. A window
  * with no partition key is one task sorting the whole frame, so the sum
  * is built in two phases:
  *
  *   1. an in-chunk running sum: a window partitioned by `chunk`,
  *      ordered by `order`;
  *   2. a chunk-totals table (one row per chunk) whose exclusive running
  *      sum over `chunk` is each chunk's offset, broadcast back and
  *      added.
  *
  * On integer values the result is bit-identical to the single window,
  * which stays the oracle. The one precondition: `chunk` must be a
  * non-decreasing function of `order`, so every row of a lower chunk
  * precedes every row of a higher one.
  */
object PrefixSum {

  /** `df` plus, for each `name -> value`, column `name` = the inclusive
    * running sum of `value` over `order` and `name_total` = its sum over
    * the whole frame (read off the chunk table in the same window, no
    * second pass over `df`). A row rank is `"seq" -> lit(1L)`. The
    * chunk expression lands in column `chunk`. */
  def running(df: DataFrame, chunk: Column, order: Seq[Column],
      sums: (String, Column)*): DataFrame = {
    require(sums.nonEmpty, "running needs at least one sum")
    val c = df.withColumn("chunk", chunk)
    val inChunk = Window.partitionBy(col("chunk")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byChunk = Window.orderBy(col("chunk"))
    val upTo = byChunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = byChunk
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val names = sums.map(_._1)
    val perChunk = sums.map { case (n, v) => sum(v).as(s"${n}_chunk") }
    val offsets = c.groupBy(col("chunk")).agg(perChunk.head, perChunk.tail: _*)
      .select(col("chunk") +: names.flatMap { n =>
        val s = col(s"${n}_chunk")
        Seq((sum(s).over(upTo) - s).as(s"${n}_off"),
          sum(s).over(whole).as(s"${n}_total"))
      }: _*)
    c.select(col("*") +: sums.map { case (n, v) =>
        sum(v).over(inChunk).as(s"${n}_in") }: _*)
      .join(broadcast(offsets), Seq("chunk"))
      .select(c.columns.map(col) ++ names.flatMap(n => Seq(
        (col(s"${n}_off") + col(s"${n}_in")).as(n), col(s"${n}_total"))): _*)
  }

  /** Floor chunk width: small corpora keep one chunk per 100 ids. */
  private val MinWidth = 100L
  /** Cap on the chunk count: the chunk table is at most this + 1 rows —
    * one window task's sort input and one broadcast, both O(1) in
    * corpus size. */
  private val MaxChunks = 4096L

  /** Chunk width such that `maxId div width <= MaxChunks`. */
  private[graft] def chunkWidth(maxId: Long): Long =
    math.max(MinWidth, maxId / MaxChunks + 1L)

  /** `id div width` for a running sum ordered by the nonnegative
    * integer column `id`, width sized by [[chunkWidth]] from one
    * driver-side `max(id)` job (an empty frame gets the floor width). */
  def idChunk(df: DataFrame, id: String): Column = {
    val maxId = df.agg(coalesce(max(col(id)), lit(0L))).head().getLong(0)
    expr(s"$id div ${chunkWidth(maxId)}")
  }
}
