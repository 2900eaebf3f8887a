package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, StringType}

/** Order-independent fingerprint of a query result: the row count plus the
  * sum and the XOR of a 64-bit hash of every row.
  *
  * Doubles and floats are rounded to 4 dp, as every registry query rounds
  * them, and `+ 0.0` clears the sign of a rounded zero; every other value
  * is hashed through its string cast. Columns are renamed by position first
  * so duplicate or dotted names cannot break the projection.
  */
object Fingerprint {
  private val NullMark = lit("\u0000")

  /** `df` with the fingerprint aggregates attached as an observation, so
    * the action that materializes it also computes the fingerprint. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val fields = df.schema.fields.toSeq
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cells = fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"c$i")
      val text = f.dataType match {
        case DoubleType | FloatType => (round(c.cast(DoubleType), 4) + lit(0.0)).cast(StringType)
        case _ => c.cast(StringType)
      }
      coalesce(text, NullMark)
    }
    val h = xxhash64(concat_ws("\u0001", cells: _*))
    val obs = Observation()
    (positional.observe(obs, count(lit(1)).as("rows"),
      sum(h.cast(DecimalType(38, 0))).as("sum"), bit_xor(h).as("xor")), obs)
  }

  /** The fingerprint an action over `observe`'s frame computed. */
  def value(obs: Observation): String = {
    val m = obs.get
    Seq("rows", "sum", "xor").map(k => Option(m(k)).getOrElse(0)).mkString(":")
  }
}
