package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.4 (aggregations) + §2.7 (scalar functions) battery.
  * Partial (map-side) aggregation is automatic for every groupBy here;
  * the only shuffle per query is the single exchange on the group keys.
  */
object AggOps {

  import Parity.r4

  // ------------------------------------------------------------- A1+A2
  /** Multi-key hash aggregate with sum/avg/stddev_samp/countDistinct
    * (the reference's core stats pass, `dags/mitma/new_gold.py:33-44`).
    * Exact countDistinct (not HLL) to hash-match the oracle; the single
    * distinct column plans as a two-stage aggregate, no expand blowup.
    */
  def aggMultikey(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(sum(col("l_quantity"))).as("sum_qty"),
        Parity.stableAvg(col("l_extendedprice")).as("avg_price"),
        r4(coalesce(stddev_samp(col("l_discount")), lit(0.0))).as("std_disc"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val aggMultikeyOracle =
    """SELECT l_returnflag, l_linestatus,
      |       ROUND(SUM(l_quantity), 4) AS sum_qty,
      |       CAST((2*CAST(ROUND(ROUND(SUM(l_extendedprice),4)*10000) AS BIGINT) + COUNT(l_extendedprice)) // (2*COUNT(l_extendedprice)) AS DOUBLE)/10000.0 AS avg_price,
      |       ROUND(COALESCE(STDDEV_SAMP(l_discount), 0), 4) AS std_disc,
      |       COUNT(DISTINCT l_orderkey) AS n_orders,
      |       COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------- A4/F4
  /** Aggregate on expression keys — the reference's LEFT(zone,5)
    * municipality rollup (`dags/gravity/aggregate_trips.py:11-18`),
    * rendered over zero-padded part keys. */
  def substrGroup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(substring(lpad(col("l_partkey").cast("string"), 6, "0"), 1, 4)
        .as("muni"))
      .agg(count(lit(1)).as("n"), r4(sum(col("l_quantity"))).as("sum_qty"),
        Parity.stableAvg(col("l_extendedprice")).as("avg_price"))
      .orderBy(col("muni"))

  private val substrGroupOracle =
    """SELECT substring(lpad(CAST(l_partkey AS VARCHAR), 6, '0'), 1, 4) AS muni,
      |       COUNT(*) AS n, ROUND(SUM(l_quantity),4) AS sum_qty,
      |       CAST((2*CAST(ROUND(ROUND(SUM(l_extendedprice),4)*10000) AS BIGINT) + COUNT(l_extendedprice)) // (2*COUNT(l_extendedprice)) AS DOUBLE)/10000.0 AS avg_price
      |FROM lineitem GROUP BY muni ORDER BY muni""".stripMargin

  // ---------------------------------------------------------------- A5
  /** Conditional aggregation — the long-trip-share shape
    * (`dags/bussiness_layer/transform_gold_long_trip_dependency.py:129-145`):
    * SUM(CASE WHEN …) plus a NULLIF-guarded ratio. */
  def conditionalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val longRev = sum(when(col("l_quantity") > 25, col("l_extendedprice"))
      .otherwise(0.0))
    val totRev = sum(col("l_extendedprice"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        r4(longRev).as("long_rev"),
        r4(totRev).as("total_rev"),
        round(longRev / when(totRev === 0.0, lit(null)).otherwise(totRev), 6)
          .as("long_ratio"))
      .orderBy(col("l_returnflag"))
  }

  private val conditionalAggOracle =
    """SELECT l_returnflag,
      |       ROUND(SUM(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0 END),4) AS long_rev,
      |       ROUND(SUM(l_extendedprice),4) AS total_rev,
      |       ROUND(SUM(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0 END)
      |             / NULLIF(SUM(l_extendedprice), 0), 6) AS long_ratio
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A6
  /** Whole-table scalar aggregate → driver scalar → re-injected constant
    * — the gravity k-factor two-phase shape (`dags/gravity/calculate_gold
    * .py:10-44`). The scalar is rounded to 8dp BEFORE re-injection so both
    * engines multiply by bit-identical k (last-ulp differences in the
    * global sums would otherwise leak through the multiplication).
    * The reference's Python falsy check `k_factor = k_result[0] if
    * k_result[0] else 1.0` sends BOTH None and 0.0 to 1.0 — mirrored here
    * (and in the oracle) as COALESCE(NULLIF(ROUND(k, 8), 0), 1.0), with
    * rounding applied before the fallback on both sides.
    */
  def scalarInject(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val kRow = li.agg(
      (sum(col("l_extendedprice") * col("l_discount")) /
        when(sum(col("l_quantity")) === 0.0, lit(null))
          .otherwise(sum(col("l_quantity")))).as("k")).first()
    val k = (if (kRow.isNullAt(0)) None else Some(kRow.getDouble(0)))
      .map(v => BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .filter(_ != 0.0)
      .getOrElse(1.0)
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(
        r4(sum(lit(k) * col("o_totalprice") / 100.0)).as("sum_predicted"),
        count(lit(1)).as("n"))
      .withColumn("calibration_constant", lit(k))
      .orderBy(col("o_orderstatus"))
  }

  private val scalarInjectOracle =
    """WITH kf AS (
      |  SELECT COALESCE(NULLIF(ROUND(SUM(l_extendedprice * l_discount)
      |                        / NULLIF(SUM(l_quantity), 0), 8), 0), 1.0) AS k
      |  FROM lineitem)
      |SELECT o_orderstatus,
      |       ROUND(SUM(k * o_totalprice / 100.0),4) AS sum_predicted,
      |       COUNT(*) AS n, k AS calibration_constant
      |FROM orders CROSS JOIN kf
      |GROUP BY o_orderstatus, k ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- A7
  /** MIN/MAX aggregates incl. dates (`dags/gravity/create_ranking.py:15`,
    * bbox probes). */
  def minMax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        r4(min(col("l_quantity"))).as("min_qty"),
        r4(max(col("l_quantity"))).as("max_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val minMaxOracle =
    """SELECT l_returnflag,
      |       ROUND(MIN(l_quantity),4) AS min_qty,
      |       ROUND(MAX(l_quantity),4) AS max_qty,
      |       MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- A11
  /** HAVING post-aggregate filter + second-level regroup — the duplicate-
    * key QA probe (`dags/Economy/test_economy.py:55-66`) generalized into
    * a lines-per-order histogram over orders with >4 lines. */
  def havingDups(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt_lines"))
      .filter(col("cnt_lines") > 4)
      .groupBy(col("cnt_lines"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("cnt_lines"))

  private val havingDupsOracle =
    """SELECT cnt_lines, COUNT(*) AS n_orders
      |FROM (SELECT l_orderkey, COUNT(*) AS cnt_lines
      |      FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 4)
      |GROUP BY cnt_lines ORDER BY cnt_lines""".stripMargin

  // ----------------------------------------------------------- A9+A12
  /** AVG-of-AVG two-level rollup (`dags/gravity/aggregate_economy.py:11-17`
    * avg_income municipality rollup): per-customer average order price,
    * then segment average of those. */
  def avgOfAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(avg(col("o_totalprice")).as("cust_avg"))
    val c = Tables.customer(spark, sfDir)
    perCust.join(broadcast(c), perCust("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(Parity.stableAvg(col("cust_avg")).as("avg_of_avg"), count(lit(1)).as("n_cust"))
      .orderBy(col("c_mktsegment"))
  }

  private val avgOfAvgOracle =
    """SELECT c_mktsegment, CAST((2*CAST(ROUND(ROUND(SUM(cust_avg),4)*10000) AS BIGINT) + COUNT(cust_avg)) // (2*COUNT(cust_avg)) AS DOUBLE)/10000.0 AS avg_of_avg,
      |       COUNT(*) AS n_cust
      |FROM (SELECT o_custkey, AVG(o_totalprice) AS cust_avg
      |      FROM orders GROUP BY o_custkey)
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------- F1-F6/F10
  /** String-repair battery: digit-strip (F2), split-token (F3), zone-
    * suffix strip (F1), Spanish-locale decimal repair (F6) — the INE
    * parsers (`dags/Economy/transform_silver_economy.py:32-64`,
    * `dags/Population/transform_silver_population.py:38-62`). The Spanish
    * string is synthesized from the balance and repaired back, proving the
    * round-trip. */
  def stringRepair(spark: SparkSession, sfDir: String): DataFrame = {
    val spanish = regexp_replace(round(col("c_acctbal"), 2).cast("string"),
      "\\.", ",")
    Tables.customer(spark, sfDir)
      .select(
        regexp_replace(col("c_name"), "[^0-9]", "").cast("bigint").as("cust_id"),
        split(col("c_name"), "#").getItem(0).as("token"),
        regexp_replace(concat(col("c_mktsegment"), lit("_AM")), "_AM|_AD", "")
          .as("seg_norm"),
        regexp_replace(regexp_replace(spanish, "\\.", ""), ",", "\\.")
          .cast("double").as("repaired"))
      .orderBy(col("cust_id"))
  }

  private val stringRepairOracle =
    """SELECT CAST(regexp_replace(c_name, '[^0-9]', '', 'g') AS BIGINT) AS cust_id,
      |       split_part(c_name, '#', 1) AS token,
      |       regexp_replace(c_mktsegment || '_AM', '_AM|_AD', '', 'g') AS seg_norm,
      |       CAST(replace(replace(replace(CAST(ROUND(c_acctbal,2) AS VARCHAR),
      |            '.', ','), '.', ''), ',', '.') AS DOUBLE) AS repaired
      |FROM customer ORDER BY cust_id""".stripMargin

  // ------------------------------------------------------------- F7/F8
  /** Date format/parse round-trip (F7 `strptime('%Y%m%d')::DATE`,
    * F8 `year()`) + month rollup (`dags/mitma/silver_mitma.py:122,137`). */
  def dateParse(spark: SparkSession, sfDir: String): DataFrame = {
    val d = to_date(date_format(col("l_shipdate"), "yyyyMMdd"), "yyyyMMdd")
    Tables.lineitem(spark, sfDir)
      .select(d.as("d"))
      .groupBy(year(col("d")).cast("int").as("yr"),
        month(col("d")).cast("int").as("mo"))
      .agg(count(lit(1)).as("n"), min(col("d")).as("first_day"),
        max(col("d")).as("last_day"))
      .orderBy(col("yr"), col("mo"))
  }

  private val dateParseOracle =
    """SELECT CAST(year(d) AS INTEGER) AS yr, CAST(month(d) AS INTEGER) AS mo,
      |       COUNT(*) AS n, MIN(d) AS first_day, MAX(d) AS last_day
      |FROM (SELECT CAST(strptime(strftime(l_shipdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS d
      |      FROM lineitem)
      |GROUP BY yr, mo ORDER BY yr, mo""".stripMargin

  // ------------------------------------------------------------ A2-at-scale
  /** Skew-safe COUNT(DISTINCT): events has only a handful of event_type
    * values, so a naive `groupBy(event_type).agg(countDistinct(user))`
    * funnels the whole fact table into ~5 reducers — the classic hot-key
    * distinct. The two-phase rewrite first groups by (key, user) — the
    * COMPOSITE key is high-cardinality, so that shuffle spreads over all
    * partitions (this IS the salting: the distinct column itself is the
    * salt) — then counts rows per key. Same semantics, no hot reducer;
    * the oracle is the naive COUNT(DISTINCT), proving equivalence.
    */
  def skewDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val phase1 = ev.select(col("event_type"), col("user_id")).distinct()
    phase1.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("event_type"))
  }

  private val skewDistinctOracle =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ §2.5+
  /** Batch sessionization — the lag/cumulative-sum window pair (the
    * batch twin of the streaming `flatMapGroupsWithState` sessionizer in
    * [[graft.streaming.StreamingOps]]): a session breaks when the gap to
    * the previous event of the same user exceeds 30 minutes; the session
    * id is the running count of breaks. Sessions are then summarized as
    * a size distribution. Millisecond epoch arithmetic keeps both
    * engines exact (floor(ns/1e6) is identical whether truncating
    * through micros or not).
    */
  def sessionBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
    val flagged = ev
      .withColumn("gap_break",
        when(col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("gap_break")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ms")) - min(col("ms"))).as("dur_ms"))
      .groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("dur_ms")).cast("long").as("total_dur_ms"))
      .orderBy(col("n_events"))
  }

  private val sessionBatchOracle =
    """SELECT n_events, COUNT(*) AS n_sessions,
      |       CAST(SUM(dur_ms) AS BIGINT) AS total_dur_ms
      |FROM (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |         MAX(ms) - MIN(ms) AS dur_ms
      |  FROM (
      |    SELECT user_id, ms,
      |           SUM(gap_break) OVER (PARTITION BY user_id ORDER BY ms
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |    FROM (
      |      SELECT user_id, epoch_ms(ts) AS ms,
      |             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
      |                    PARTITION BY user_id ORDER BY epoch_ms(ts))
      |                  > 1800000 THEN 1 ELSE 0 END AS gap_break
      |      FROM events))
      |  GROUP BY user_id, session_id)
      |GROUP BY n_events ORDER BY n_events""".stripMargin

  // ------------------------------------------------------------ A2-approx
  /** HLL approximate distinct — the aggregate that replaces exact
    * COUNT(DISTINCT) at 100 TB (fixed-size sketch, no expand, mergeable
    * across partitions). Sketches are engine-specific, so the oracle
    * contract is a TOLERANCE check computed in-engine: the output
    * carries the exact count (hash-matched) plus a boolean asserting the
    * approximation landed within 5%; the oracle states the exact count
    * and `true`. A broken sketch fails the hash via the boolean.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(countDistinct(col("o_custkey")).as("exact_custs"),
        approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
      .select(col("priority"), col("exact_custs"),
        (abs(col("approx") - col("exact_custs")).cast("double") /
          col("exact_custs") <= 0.05).as("approx_within_5pct"))
      .orderBy(col("priority"))

  private val approxDistinctOracle =
    """SELECT o_orderpriority AS priority,
      |       COUNT(DISTINCT o_custkey) AS exact_custs,
      |       TRUE AS approx_within_5pct
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  // ------------------------------------------------- HLL from scratch
  /** HyperLogLog built from first principles — registers, merge,
    * estimate, error — fully DETERMINISTIC and oracle-matched, unlike
    * the engine-private sketch behind [[approxDistinct]]. Per
    * l_returnflag, each order's 60-bit md5 routes to one of [[HllM]]
    * registers (low bits) and contributes ρ = trailing-zero count of
    * the remaining bits + 1 (geometric, capped at [[HllRhoCap]]); the
    * register holds max(ρ) — a PARTIAL-AGGREGABLE max, which is the
    * entire reason sketches scale: the 100 TB shuffle carries m longs
    * per group, not the key set. The ALL row re-aggregates the
    * per-flag registers with the SAME max — the sketch-merge law a
    * lakehouse rollup relies on.
    *
    * The raw-regime estimate α·m²/Σ2^−M stays on an integer lattice:
    * each term 2^(RhoCap−M_j) is an exact long, and the final quotient
    * is one floor division of α_e6·m²·2^RhoCap (≈3.1e18, inside long)
    * by the register sum — no float in either engine. Cardinalities
    * here are ≫ 2.5m, so the raw regime applies (the small-range
    * linear-counting correction is documented out of scope).
    */
  private val HllM = 64L
  private val HllRhoCap = 30
  private val HllAlphaE6 = 709000L // α_64 = 0.709 (Flajolet et al.)

  /** ρ as a 1+trailing-zeros CASE chain over `w` — shared shape for both
    * engines (`hi` = the hash's upper bits, already div'd by m). */
  private def rhoCaseSql(w: String): String =
    (1 to HllRhoCap).map { t =>
      val p = 1L << t
      s"WHEN $w % $p = ${p / 2} THEN $t"
    }.mkString("CASE ", " ", s" ELSE $HllRhoCap END")

  def hllRegisters(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("flag"), col("l_orderkey")).distinct()
      .withColumn("h",
        expr(Parity.md5KeyExpr("CAST(CAST(l_orderkey AS STRING) AS BINARY)")))
      .select(col("flag"), col("l_orderkey"),
        (col("h") % HllM).as("j"),
        expr(rhoCaseSql(s"(h div ${HllM}L)")).as("rho"))
    val regs = keyed.groupBy(col("flag"), col("j"))
      .agg(max(col("rho")).as("m_j"))
    val merged = regs.groupBy(col("j")).agg(max(col("m_j")).as("m_j"))
      .withColumn("flag", lit("ALL"))
    val exact = keyed.groupBy(col("flag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_keys"))
    val exactAll = keyed.agg(
        countDistinct(col("l_orderkey")).as("exact_keys"))
      .withColumn("flag", lit("ALL"))
    val est = regs.unionByName(merged.select(col("flag"), col("j"), col("m_j")))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr(s"cast(pow(2, $HllRhoCap - m_j) as bigint)")).as("reg_sum"))
      .withColumn("est",
        expr(s"(${HllAlphaE6}L * ${HllM * HllM}L * ${1L << HllRhoCap}L) " +
          s"div reg_sum div 1000000L"))
    est.join(exact.unionByName(exactAll.select(col("flag"), col("exact_keys"))),
        Seq("flag"))
      .select(col("flag"), col("n_regs"), col("reg_sum"), col("est"),
        col("exact_keys"),
        // err via a positive-lattice quotient: Spark's `div` truncates
        // while DuckDB's `//` floors — they agree only for non-negative
        // numerators, so shift by 1e6 instead of dividing a signed delta
        (expr("est * 1000000L div exact_keys") - lit(1000000L)).as("err_e6"))
      .orderBy(col("flag"))
  }

  private lazy val hllRegistersOracle = {
    val rho = rhoCaseSql(s"(h // $HllM)")
    s"""WITH keyed AS (
       |  SELECT flag, l_orderkey, h % $HllM AS j, $rho AS rho
       |  FROM (
       |    SELECT DISTINCT l_returnflag AS flag, l_orderkey,
       |           ${Parity.md5KeySql("CAST(l_orderkey AS VARCHAR)")} AS h
       |    FROM lineitem)),
       |regs AS (
       |  SELECT flag, j, MAX(rho) AS m_j FROM keyed GROUP BY flag, j
       |  UNION ALL
       |  SELECT 'ALL' AS flag, j, MAX(rho) AS m_j FROM keyed GROUP BY j),
       |est AS (
       |  SELECT flag, COUNT(*) AS n_regs,
       |         CAST(SUM(CAST(POW(2, $HllRhoCap - m_j) AS BIGINT)) AS BIGINT)
       |           AS reg_sum
       |  FROM regs GROUP BY flag),
       |exact AS (
       |  SELECT flag, COUNT(DISTINCT l_orderkey) AS exact_keys
       |  FROM keyed GROUP BY flag
       |  UNION ALL
       |  SELECT 'ALL', COUNT(DISTINCT l_orderkey) FROM keyed)
       |SELECT e.flag, e.n_regs, e.reg_sum,
       |       CAST($HllAlphaE6 AS BIGINT) * ${HllM * HllM} * ${1L << HllRhoCap}
       |         // e.reg_sum // 1000000 AS est,
       |       x.exact_keys,
       |       (CAST($HllAlphaE6 AS BIGINT) * ${HllM * HllM} * ${1L << HllRhoCap}
       |         // e.reg_sum // 1000000) * 1000000
       |         // x.exact_keys - 1000000 AS err_e6
       |FROM est e JOIN exact x USING (flag)
       |ORDER BY e.flag""".stripMargin
  }

  // ------------------------------------------------------------ quantiles
  /** Exact interpolated percentiles: Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition (verified
    * value-identical to 6dp on the fixture before wiring). The exact
    * form is the correctness baseline; at 100 TB the same query swaps to
    * `approx_percentile` (a Greenwald–Khanna quantile summary: fixed
    * size, mergeable, deterministic rank-error 1/accuracy) exactly as
    * exact distinct swaps to HLL in [[approxDistinct]]. */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
      .orderBy(col("flag"))

  private val percentilesOracle =
    """SELECT l_returnflag AS flag,
      |       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin

  /** The 100 TB percentile path exercised for real: `approx_percentile`
    * (a Greenwald–Khanna quantile summary — fixed-size, mergeable
    * across partitions, one pass, deterministic RANK error ≤ 1/accuracy
    * = 0.1% of rows here, which the 2% VALUE tolerance comfortably
    * covers on this distribution) emitted alongside the exact
    * percentile, the [[approxDistinct]] tolerance-contract pattern.
    * The sketch is engine-specific, so the hash-matched surface is the
    * exact value plus the boolean; a broken sketch fails via the
    * boolean. */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("exact_p90"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("approx"))
      .select(col("flag"), col("exact_p90"),
        (abs(col("approx") - col("exact_p90")) / col("exact_p90") <= 0.02)
          .as("approx_within_2pct"))
      .orderBy(col("flag"))

  private val approxPercentilesOracle =
    """SELECT l_returnflag AS flag,
      |       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
      |       TRUE AS approx_within_2pct
      |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin

  // ------------------------------------------------------------------
  /** Robust outlier detection via median ± 3·MAD — the robust twin of
    * the reference's own avg ± 3σ gold filter (`dags/mitma/
    * new_gold.py`'s outlier join, J1): the median/MAD pair is immune
    * to the outliers it hunts, where mean/stddev are dragged by them
    * (one 1000× spike inflates σ enough to hide real anomalies).
    * 1.4826·MAD estimates σ under normality, so the 3·MAD gate is the
    * drop-in robust replacement.
    *
    * Scale shape: two exact-percentile passes + the gate count, all
    * grouped on the same narrow key (exchange reuse); the group
    * medians broadcast back. At 100 TB the exact `percentile` swaps to
    * the mergeable GK `approx_percentile` exactly as
    * [[percentiles]] → [[approxPercentiles]] documents. Parity: the
    * threshold expression is written token-identically in both
    * engines, and `percentile` == `quantile_cont` share the linear
    * interpolation definition.
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
    val med = li.groupBy(col("flag"))
      .agg(expr("percentile(x, 0.5)").as("med"))
    val mad = li.join(broadcast(med), Seq("flag"))
      .withColumn("ad", abs(col("x") - col("med")))
      .groupBy(col("flag"))
      .agg(expr("percentile(ad, 0.5)").as("mad"), max(col("med")).as("med"))
    li.join(broadcast(mad), Seq("flag"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("x") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"))
      .orderBy(col("flag"))
  }

  private val madOutliersOracle =
    """WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS x
      |            FROM lineitem),
      |med AS (SELECT flag, quantile_cont(x, 0.5) AS med FROM li GROUP BY flag),
      |mad AS (SELECT li.flag, quantile_cont(ABS(x - med), 0.5) AS mad,
      |               MAX(med) AS med
      |        FROM li JOIN med USING (flag) GROUP BY li.flag)
      |SELECT flag, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN ABS(x - med) > 3.0 * 1.4826 * mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       ROUND(MAX(med), 4) AS med, ROUND(MAX(mad), 4) AS mad
      |FROM li JOIN mad USING (flag) GROUP BY flag ORDER BY flag""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mad_outliers" -> (madOutliers _),
    "q_percentiles" -> (percentiles _),
    "q_approx_percentiles" -> (approxPercentiles _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_hll_registers" -> (hllRegisters _),
    "q_session_batch" -> (sessionBatch _),
    "q_skew_distinct" -> (skewDistinct _),
    "q_agg_multikey" -> (aggMultikey _),
    "q_substr_group" -> (substrGroup _),
    "q_conditional_agg" -> (conditionalAgg _),
    "q_scalar_inject" -> (scalarInject _),
    "q_minmax" -> (minMax _),
    "q_having_dups" -> (havingDups _),
    "q_avg_of_avg" -> (avgOfAvg _),
    "q_string_repair" -> (stringRepair _),
    "q_date_parse" -> (dateParse _)
  )

  def oracles: Map[String, String] = Map(
    "q_mad_outliers" -> madOutliersOracle,
    "q_percentiles" -> percentilesOracle,
    "q_approx_percentiles" -> approxPercentilesOracle,
    "q_approx_distinct" -> approxDistinctOracle,
    "q_hll_registers" -> hllRegistersOracle,
    "q_session_batch" -> sessionBatchOracle,
    "q_skew_distinct" -> skewDistinctOracle,
    "q_agg_multikey" -> aggMultikeyOracle,
    "q_substr_group" -> substrGroupOracle,
    "q_conditional_agg" -> conditionalAggOracle,
    "q_scalar_inject" -> scalarInjectOracle,
    "q_minmax" -> minMaxOracle,
    "q_avg_of_avg" -> avgOfAvgOracle,
    "q_having_dups" -> havingDupsOracle,
    "q_string_repair" -> stringRepairOracle,
    "q_date_parse" -> dateParseOracle
  )
}
