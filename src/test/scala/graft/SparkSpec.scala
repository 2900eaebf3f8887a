package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites reuse it via
  * getOrCreate). sf0.001 keeps specs fast; shuffle partitions sized to
  * the local core count, not the 200 default.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session.local(4, 4, "spark.app.name" -> "graft-test")

  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"

  /** First `hexDigits` hex chars of md5 as a long — the engines' shared
    * 60-bit hash primitive (`Parity.md5Key` / `Parity.md5KeySql` at the
    * default 15), recomputed driver-side for ground truths.
    */
  protected def md5Long(s: String, hexDigits: Int = 15): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(hexDigits), 16)
  }

  /** Driver-side winnowing fingerprints (window-min w=4 over word-5-gram
    * 60-bit hashes) — the shared ground truth for the batch operator and
    * its streaming twin.
    */
  protected def winnowTruth(text: String): Set[Long] = {
    val ws = text.split(" ", -1)
    if (ws.length < 8) Set.empty
    else ws.sliding(5).map(g => md5Long(g.mkString(" ")))
      .toArray.sliding(4).map(_.min).toSet
  }

  /** No double cell may carry the -0.0 bit pattern: the driver hashes
    * 4dp-rounded doubles BITWISE, and DuckDB ROUND/ABS preserve the
    * sign bit of -0.0 where Spark's clear it (round 12's only red
    * rows). Queries with sign-crossing rounded columns guard with
    * `+ 0.0`; this sweeps a result for any cell the guard missed.
    */
  def assertNoNegativeZero(df: DataFrame): Unit =
    df.collect().foreach { r =>
      (0 until r.length).foreach { i =>
        r.get(i) match {
          case d: Double =>
            assert(java.lang.Double.doubleToRawLongBits(d) !=
              java.lang.Double.doubleToRawLongBits(-0.0),
              s"-0.0 leaked in column ${df.columns(i)} of row $r")
          case _ =>
        }
      }
    }

  /** Exact equality of two frames (schema-order-insensitive, row-order
    * sensitive — our queries all end in orderBy).
    */
  def assertSameResult(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.toSeq
    assert(cols == b.columns.sorted.toSeq, "column sets differ")
    val ra = a.select(cols.map(a.apply): _*).collect().toSeq
    val rb = b.select(cols.map(b.apply): _*).collect().toSeq
    assert(ra.size == rb.size, s"row counts differ: ${ra.size} vs ${rb.size}")
    ra.zip(rb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs: $x vs $y")
    }
  }
}
