package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-parity helpers for the DuckDB-oracle hash compare: the md5
  * key, exact half-up division and the float-parity averages.
  *
  * Why this exists: source columns like prices are decimal-quantized
  * (2 dp). A SUM of such values sits on a coarse decimal lattice, so
  * rounding it at 4 dp is stable against the ~1-ulp partial-sum-order
  * differences between Spark and DuckDB (the nearest rounding
  * half-boundary is ≥ 5e-5 away). An AVG is not: dividing by the group
  * count re-quantizes the lattice onto exact rounding half-boundaries
  * (e.g. 274.03/8 = 34.25375), where the two engines' ROUND paths
  * disagree — Spark rounds the shortest decimal repr via BigDecimal
  * HALF_UP, DuckDB multiplies by 10^s in binary and std::round()s.
  *
  * [[stableAvg]] therefore leaves floating point entirely: it scales the
  * lattice-safe rounded sum to integer ten-thousandths and performs a
  * half-up division in exact integer arithmetic — identical in both
  * engines by construction. Semantics: a 4 dp-stabilized average,
  * deviating from round(avg,4) by at most one ulp-of-1e-4 at exact ties
  * (where it deterministically rounds half-up; floor-division form, so
  * negative ties round toward +inf in both engines alike).
  */
object Parity {
  def r4(c: Column): Column = round(c, 4)

  /** The engines' shared hashed key: the first `hexDigits` hex digits of
    * md5(c) read as a BIGINT (15 digits = 60 bits, so the key is never
    * negative). [[md5KeyExpr]] is the same key as Spark SQL text and
    * [[md5KeySql]] its DuckDB rendering: Spark
    * `conv(substring(md5(x),1,15),16,10)` == DuckDB
    * `CAST('0x' || substring(md5(x),1,15) AS BIGINT)`. `md5Key(c)` and
    * `expr(md5KeyExpr(...))` analyze to the same expression tree.
    */
  def md5Key(c: Column, hexDigits: Int = 15): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")

  /** [[md5Key]] as Spark SQL text, for `expr(...)` strings and
    * higher-order-function lambdas. */
  def md5KeyExpr(e: String, hexDigits: Int = 15): String =
    s"CAST(conv(substring(md5($e), 1, $hexDigits), 16, 10) AS BIGINT)"

  /** DuckDB rendering of [[md5Key]]. */
  def md5KeySql(e: String, hexDigits: Int = 15): String =
    s"CAST('0x' || substring(md5($e), 1, $hexDigits) AS BIGINT)"

  /** Floor division for den > 0: `num - pmod(num, den)` is an exact
    * multiple of den, and `div` keeps the quotient on the long lattice
    * (Spark `/` on longs is DOUBLE division, exact only below 2^53), so
    * it equals DuckDB's `//` on nonneg operands at any magnitude. */
  def floorDiv(num: Column, den: Column): Column =
    call_function("div", num - pmod(num, den), den)

  /** Half-up num/den (den > 0) in exact integer arithmetic:
    * floor((2·num + den) / 2·den), ties toward +inf. */
  def halfUpDiv(num: Column, den: Column): Column =
    floorDiv(num * 2L + den, den * 2)

  /** num/den on the half-up e6 lattice, kept as the integer. */
  def halfUpE6(num: Column, den: Column): Column =
    floorDiv(num * 2000000L + den, den * 2)

  /** num/den rounded half-up to 6 dp, as a double. */
  def halfUpRatioE6(num: Column, den: Column): Column =
    halfUpE6(num, den).cast("double") / 1000000.0

  /** Half away from zero on the e6 lattice for decimal(38,0) operands
    * (den > 0), where 2e6·den would overflow a long; the abs/negate
    * form sidesteps DuckDB's C-style `%` on negatives. */
  def signedHalfUpE6Dec(num: Column, den: Column): Column = {
    val h = floorDiv(abs(num) * lit(2000000L) + den, den * 2)
    when(num < 0, -h).otherwise(h).cast("long")
  }

  /** Order-insensitive 4 dp average over decimal-quantized data.
    * floor((2·sum_e4 + n) / 2n) / 1e4 in exact integer arithmetic.
    */
  def stableAvg(c: Column): Column = {
    val sumE4 = round(round(sum(c), 4) * 10000, 0).cast("long")
    val n = count(c)
    val num = sumE4 * 2 + n
    val den = n * 2
    // (num - pmod(num, den)) is an exact multiple of den; the long/long
    // division therefore yields an exact integer double — bit-identical
    // to DuckDB's `//` floor division.
    ((num - pmod(num, den)) / den) / 10000.0
  }

  /** DuckDB rendering of [[stableAvg]] (`//` = floor division). */
  def stableAvgSql(e: String): String =
    s"CAST((2*CAST(ROUND(ROUND(SUM($e),4)*10000) AS BIGINT) + COUNT($e)) " +
      s"// (2*COUNT($e)) AS DOUBLE)/10000.0"

  /** Knuth multiplicative-hash bucket with engine-parity overflow
    * safety: the key is masked to 31 bits BEFORE the multiply, so the
    * widest product is 2^31 · k < 2^63 for any k < 2^32 — Spark never
    * silently wraps and DuckDB's checked BIGINT multiply never raises,
    * at any key magnitude (an unmasked key * 2654435761 overflows past
    * orderkey ≈ 3.5e9, i.e. exactly at the 100 TB scales this library
    * targets). For keys < 2^31 — every driver test scale — the masked
    * hash equals the unmasked one. Nonneg keys assumed (pmod == %).
    */
  def mixBucket(key: Column, k: Long, buckets: Long): Column =
    pmod(pmod(pmod(key, lit(2147483648L)) * lit(k), lit(4294967296L)),
      lit(buckets))

  /** DuckDB rendering of [[mixBucket]] — same mask, same arithmetic. */
  def mixBucketSql(key: String, k: Long, buckets: Long): String =
    s"((($key % 2147483648) * $k) % 4294967296) % $buckets"

  /** HIGH-bits multiplicative bucket — Knuth's actual prescription.
    * [[mixBucket]] keeps the product's LOW bits (`% buckets`), and for
    * a power-of-two bucket count the low bits of key·k are a fixed
    * bijection of the key's own low bits for EVERY odd multiplier —
    * so "independent" hash rows built from different multipliers
    * collide identically (two keys agree in one row ⟺ they agree in
    * all rows), which silently voids any d-row sketch or multi-draw
    * construction. Taking the TOP bits (divide by 2³²⁄buckets) makes
    * the bucket depend on the full product, so distinct multipliers
    * give genuinely distinct bucketings. `buckets` must divide 2³².
    * Same 31-bit pre-mask ⇒ same overflow safety as [[mixBucket]].
    */
  def mixBucketHi(key: Column, k: Long, buckets: Long): Column = {
    require(4294967296L % buckets == 0, s"buckets $buckets must divide 2^32")
    val shift = 4294967296L / buckets
    val prod = pmod(pmod(key, lit(2147483648L)) * lit(k), lit(4294967296L))
    // exact-multiple floor division (the stableAvg idiom) — identical
    // to DuckDB's `//` on nonnegative operands
    ((prod - pmod(prod, lit(shift))) / lit(shift)).cast("long")
  }

  /** DuckDB rendering of [[mixBucketHi]] (`//` = floor division). */
  def mixBucketHiSql(key: String, k: Long, buckets: Long): String = {
    require(4294967296L % buckets == 0, s"buckets $buckets must divide 2^32")
    s"((($key % 2147483648) * $k) % 4294967296) // ${4294967296L / buckets}"
  }
}
