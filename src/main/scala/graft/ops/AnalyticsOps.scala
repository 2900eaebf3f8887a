package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** OLAP analytics surface beyond the reference's flat GROUP BYs:
  * hierarchical aggregation (ROLLUP/CUBE with grouping markers), pivot
  * (long→wide crosstab), and frame-bounded window aggregates (rolling
  * sums). All are single-shuffle plans: rollup/cube expand grouping
  * sets BEFORE the exchange (Spark's Expand operator — each input row
  * fans out map-side, partial aggregation still applies), pivot is one
  * groupBy with conditional aggregates, and the rolling window sorts
  * within the same user partition the sessionizer already uses.
  */
object AnalyticsOps {

  // ------------------------------------------------------------ rollup
  /** ROLLUP over (returnflag, linestatus): per-pair, per-flag subtotal,
    * and grand-total rows with GROUPING() markers — the hierarchy report
    * a BI layer derives from one pass. Cast markers to int (Spark emits
    * tinyint) and keep sums on the decimal lattice (round 4).
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g1"),
        grouping(col("l_linestatus")).cast("int").as("g2"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("qty_sum"))
      .orderBy(col("g1"), col("g2"), col("l_returnflag"), col("l_linestatus"))

  private val rollupAggOracle =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g1,
      |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g2,
      |       COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS qty_sum
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY g1, g2, l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------ cube
  /** CUBE over (returnflag, linestatus): every grouping-set combination
    * including the linestatus-only marginals ROLLUP omits. */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g1"),
        grouping(col("l_linestatus")).cast("int").as("g2"),
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 4).as("price_sum"))
      .orderBy(col("g1"), col("g2"), col("l_returnflag"), col("l_linestatus"))

  private val cubeAggOracle =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g1,
      |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g2,
      |       COUNT(*) AS n, ROUND(SUM(l_extendedprice), 4) AS price_sum
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g1, g2, l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------ pivot
  /** Long→wide pivot: documents per (source, lang) as one column per
    * language. The value list is EXPLICIT (the 5 corpus languages) —
    * the scalable form: an inferred value list costs an extra distinct
    * pass and nondeterministic column order. The oracle is the
    * conditional-aggregation rendering, which is also exactly how
    * Spark executes pivot (PivotFirst → one groupBy). */
  private val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  def pivotLang(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .pivot("lang", PivotLangs)
      .agg(count(lit(1)))
      .na.fill(0, PivotLangs)
      .select(col("source") +:
        PivotLangs.map(l => col(l).cast("long").as(s"n_$l")): _*)
      .orderBy(col("source"))

  private val pivotLangOracle = {
    val cols = PivotLangs.map(l =>
      s"CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l")
      .mkString(",\n      |       ")
    s"""SELECT source,
       |       $cols
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------ rolling window
  /** Frame-bounded rolling aggregate: per user, the 4-event rolling
    * value sum (ROWS 3 PRECEDING..CURRENT) — the smoothing pass of an
    * event-monitoring pipeline — then a per-user checksum rollup so the
    * output stays compact. Window sums stay on the 2 dp value lattice
    * (exact at 4 dp); ms-epoch ordering is engine-identical and
    * tie-free ((user_id, ts) unique).
    */
  /** Point-in-time join against an SCD2-style dimension (the [[scd2]]
    * construction, here versioning the user's non-purchase "browsing
    * context"): each purchase is enriched with the context state ACTIVE
    * at its timestamp — the query every bitemporal warehouse answers
    * ("what did we believe about the user when the order landed?").
    * Purchases before any context event fall out as 'none' (left-join
    * semantics in both engines). Output: purchases and revenue per
    * active state.
    *
    * Scale shape: NOT an interval theta join — the dimension's
    * valid_from rows and the fact rows union into one stream, sorted
    * per user with dim rows first at equal ms, and a running
    * `last(_, ignoreNulls)` carries the active state onto each fact
    * row: one exchange on the user key, zero range comparisons. The
    * oracle runs the literal interval join (valid_from ≤ ts < valid_to,
    * zero-length intervals excluded) — an independent formulation whose
    * tie semantics the carry ordering reproduces exactly: at a shared
    * millisecond the LAST state change wins (its interval is the
    * non-zero-length one), which is what ordering dim rows by version
    * under `last()` yields.
    */
  def pitJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val wDim = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    // SCD2-style dimension over the NON-purchase stream: the user's
    // "browsing context", versioned at every context change
    val dim = Tables.events(spark, sfDir)
      .filter(col("user_id") <= 10 && col("event_type") =!= "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wDim))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(wDim))
      .select(col("user_id"), col("ms"), lit(0).as("kind"),
        col("version").cast("long").as("ord"),
        col("event_type").as("state"), lit(null).cast("double").as("value"))
    val facts = Tables.events(spark, sfDir)
      .filter(col("user_id") <= 10 && col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        lit(1).as("kind"), col("event_id").as("ord"),
        lit(null).cast("string").as("state"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("kind"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("active", last(col("state"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .groupBy(coalesce(col("active"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 4).as("revenue"))
      .orderBy(col("state"))
  }

  private val pitJoinOracle =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events WHERE user_id <= 10 AND event_type <> 'purchase'),
      |dim AS (
      |  SELECT user_id, event_type AS state, ms AS valid_from_ms,
      |         LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
      |           AS valid_to_ms
      |  FROM ev WHERE prev IS NULL OR prev <> event_type),
      |facts AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, value
      |  FROM events WHERE user_id <= 10 AND event_type = 'purchase')
      |SELECT COALESCE(d.state, 'none') AS state, COUNT(*) AS n_purchases,
      |       ROUND(SUM(f.value), 4) AS revenue
      |FROM facts f LEFT JOIN dim d
      |  ON f.user_id = d.user_id AND d.valid_from_ms <= f.ms
      | AND (d.valid_to_ms IS NULL OR f.ms < d.valid_to_ms)
      | AND (d.valid_to_ms IS NULL OR d.valid_from_ms < d.valid_to_ms)
      |GROUP BY COALESCE(d.state, 'none') ORDER BY state""".stripMargin

  /** Time-weighted average (TWAP) of each user's value stream: every
    * observation holds until the next one, so the average weights each
    * value by its holding interval — the telemetry/finance staple the
    * event-weighted mean (and [[ewma]]) cannot substitute for. Weights
    * are exact millisecond longs, values exact cents; the dot product
    * accumulates in DECIMAL(38) (cents × a month of ms × 2e6 lattice
    * overflows int64) and the final ratio is the half-up e6 idiom —
    * mirrored by DuckDB HUGEINT. Users with a single event (no holding
    * interval) drop out in both engines alike.
    *
    * Scale: one per-user window (the stream's standing exchange) and a
    * per-user aggregate.
    */
  def twap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("nxt", lead(col("ms"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dt", col("nxt") - col("ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"), sum(col("dt")).as("span_ms"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * dt")).as("s"))
      .withColumn("num", expr("2000000 * s + span_ms"))
      .withColumn("den", expr("CAST(span_ms AS DECIMAL(38,0)) * 2"))
      .select(col("user_id"), col("n_intervals"), col("span_ms"),
        expr("CAST(CAST((num - (num % den)) / den AS BIGINT) AS DOUBLE) / 1e6")
          .as("twap_cents"))
      .orderBy(col("user_id"))
  }

  private val twapOracle =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id
      |           ORDER BY epoch_ms(ts), event_id) AS nxt
      |  FROM events),
      |iv AS (SELECT user_id, cents, nxt - ms AS dt FROM ev
      |       WHERE nxt IS NOT NULL),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_intervals,
      |         CAST(SUM(dt) AS BIGINT) AS span_ms,
      |         CAST(SUM(CAST(cents AS HUGEINT) * dt) AS HUGEINT) AS s
      |  FROM iv GROUP BY 1)
      |SELECT user_id, n_intervals, span_ms,
      |       CAST(CAST((2000000 * s + span_ms
      |                  - ((2000000 * s + span_ms)
      |                     % (CAST(span_ms AS HUGEINT) * 2)))
      |                 // (CAST(span_ms AS HUGEINT) * 2) AS BIGINT)
      |            AS DOUBLE) / 1e6 AS twap_cents
      |FROM agg ORDER BY user_id""".stripMargin

  /** Exact rolling MEDIAN over each user's last-5-event window — the
    * order statistic a monitoring layer prefers to the mean because one
    * spike can't drag it. Exercises an exact percentile as a WINDOW
    * aggregate (not the grouped form [[AggOps]] covers): values ride
    * the integer cents lattice, and the even-count interpolation
    * (a+b)/2 of two cents is an exactly-representable half — both
    * engines render the identical double.
    *
    * Scale shape: same per-user window exchange as [[rollingSum]]; the
    * frame holds ≤ 5 narrow rows, so the per-row re-sort is O(k log k)
    * on k=5, not a data-sized cost. The user_id < 30 panel bounds the
    * report, not the computation pattern.
    */
  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id")).rowsBetween(-4, Window.currentRow)
    Tables.events(spark, sfDir)
      .filter(col("user_id") < 30)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("med_cents", expr("percentile(cents, 0.5)").over(w))
      .select(col("user_id"), col("event_id"), col("cents"), col("med_cents"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val rollingMedianOracle =
    """SELECT user_id, event_id,
      |       CAST(round(value * 100) AS BIGINT) AS cents,
      |       median(CAST(round(value * 100) AS BIGINT))
      |         OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med_cents
      |FROM events WHERE user_id < 30
      |ORDER BY user_id, event_id""".stripMargin

  def rollingSum(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rowsBetween(-3, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      .withColumn("roll4", sum(col("value")).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("roll4")), 4).as("roll4_total"),
        round(max(col("roll4")), 4).as("roll4_max"))
      .orderBy(col("user_id"))
  }

  private val rollingSumOracle =
    """SELECT user_id, COUNT(*) AS n_events,
      |       ROUND(SUM(roll4), 4) AS roll4_total,
      |       ROUND(MAX(roll4), 4) AS roll4_max
      |FROM (
      |  SELECT user_id,
      |         SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll4
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ grouping sets
  /** Explicit GROUPING SETS — the grouping-set list ROLLUP/CUBE can't
    * express: the two single-column marginals plus the grand total,
    * WITHOUT the (flag, status) pair detail. Same map-side Expand /
    * single-exchange plan as rollup (each input row fans out to its 3
    * matching sets before the shuffle, partial aggregation applies), so
    * at 100 TB the cost is 3× map output of ONE pass, not 3 passes over
    * the table. Uses the Dataset `groupingSets` API (Spark 4.0+).
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g1"),
        grouping(col("l_linestatus")).cast("int").as("g2"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("qty_sum"))
      .orderBy(col("g1"), col("g2"), col("l_returnflag"), col("l_linestatus"))

  private val groupingSetsAggOracle =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g1,
      |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g2,
      |       COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS qty_sum
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY g1, g2, l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------ session window
  /** Native `session_window` batch sessionization — the built-in twin of
    * AggOps.sessionBatch's manual gaps-and-islands. One shuffle on the
    * user key, sessions merged by Spark's session-window aggregation.
    * The merge boundary is INCLUSIVE: an event exactly `gap` after the
    * previous one still merges (the [ts, ts+gap) window's end equals
    * the next start and Spark's session merge treats that as overlap);
    * a session breaks only when the gap strictly EXCEEDS 30 min —
    * identical to sessionBatch's `> gap` break, and pinned at the exact
    * boundary by the StreamingSpec twin test. This is the form that
    * also runs unchanged under Structured Streaming with a watermark,
    * which the hand-rolled lag/cumsum version cannot. Output is the
    * per-user session profile.
    */
  def sessionWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("value_sum"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"),
        round(sum(col("value_sum")), 4).as("value_total"))
      .orderBy(col("user_id"))

  private val sessionWindowAggOracle =
    """SELECT user_id, COUNT(*) AS n_sessions,
      |       CAST(SUM(n_events) AS BIGINT) AS n_events,
      |       MAX(n_events) AS max_session_events,
      |       ROUND(SUM(value_sum), 4) AS value_total
      |FROM (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |         ROUND(SUM(value), 4) AS value_sum
      |  FROM (
      |    SELECT user_id, value,
      |           SUM(gap_break) OVER (PARTITION BY user_id ORDER BY ms
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |    FROM (
      |      SELECT user_id, value, epoch_ms(ts) AS ms,
      |             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
      |                    PARTITION BY user_id ORDER BY epoch_ms(ts))
      |                  > 1800000 THEN 1 ELSE 0 END AS gap_break
      |      FROM events))
      |  GROUP BY user_id, session_id)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ rank family
  /** Rank-family window functions over the event stream: per-user value
    * percentile position (percent_rank / cume_dist — tie-stable: equal
    * values share a rank in both engines) and the time-ordered lag
    * delta. Both windows share ONE partition key, so the physical plan
    * is a single exchange on user_id with two sorts — the second window
    * re-sorts within already-partitioned data, no extra shuffle.
    * Rolled up per user so the output stays compact.
    */
  def windowRanks(spark: SparkSession, sfDir: String): DataFrame = {
    val byMs  = Window.partitionBy(col("user_id")).orderBy(col("ms"))
    val byVal = Window.partitionBy(col("user_id")).orderBy(col("value"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("value"), col("event_type"))
      .withColumn("dval", col("value") - lag(col("value"), 1).over(byMs))
      .withColumn("pr", percent_rank().over(byVal))
      .withColumn("cd", cume_dist().over(byVal))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(abs(col("dval"))), 4).as("jitter"),
        round(avg(when(col("event_type") === "purchase", col("pr"))), 4)
          .as("purchase_pr_avg"),
        round(avg(col("cd")), 4).as("cd_avg"))
      .orderBy(col("user_id"))
  }

  private val windowRanksOracle =
    """SELECT user_id, COUNT(*) AS n_events,
      |       ROUND(SUM(ABS(dval)), 4) AS jitter,
      |       ROUND(AVG(CASE WHEN event_type = 'purchase' THEN pr END), 4)
      |         AS purchase_pr_avg,
      |       ROUND(AVG(cd), 4) AS cd_avg
      |FROM (
      |  SELECT user_id, event_type,
      |         value - LAG(value) OVER (PARTITION BY user_id
      |                                  ORDER BY epoch_ms(ts)) AS dval,
      |         PERCENT_RANK() OVER (PARTITION BY user_id ORDER BY value) AS pr,
      |         CUME_DIST() OVER (PARTITION BY user_id ORDER BY value) AS cd
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ array HOFs
  /** Higher-order array functions over the embedding column — the lambda
    * surface (`transform`/`filter`/`zip_with`/`aggregate`) that keeps
    * vector math INSIDE codegen'd expressions instead of a UDF: squared
    * L2 norm as a sequential fold over zip_with(v,v), positive-component
    * count via filter, component max. All map-side; the only shuffle is
    * the final per-label rollup. Floats are widened to double BEFORE any
    * arithmetic so the fold matches DuckDB's list kernels bit-for-bit on
    * the lattice (same left-to-right order, same operand types).
    */
  def arrayHof(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"),
        aggregate(
          zip_with(col("embedding"), col("embedding"),
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("l2sq"),
        size(filter(col("embedding"), x => x > lit(0.0f))).as("n_pos"),
        array_max(col("embedding")).cast("double").as("mx"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("l2sq")), 4).as("l2sq_avg"),
        sum(col("n_pos")).as("n_pos_total"),
        round(max(col("mx")), 4).as("mx_max"))
      .orderBy(col("label"))

  private val arrayHofOracle =
    """SELECT label, COUNT(*) AS n_vecs,
      |       ROUND(AVG(l2sq), 4) AS l2sq_avg,
      |       CAST(SUM(n_pos) AS BIGINT) AS n_pos_total,
      |       ROUND(MAX(mx), 4) AS mx_max
      |FROM (
      |  SELECT label,
      |         list_aggregate(list_transform(embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS l2sq,
      |         len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |         CAST(list_max(embedding) AS DOUBLE) AS mx
      |  FROM embeddings)
      |GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------------ histogram
  /** Fixed-bin histogram with a driver-injected domain — the two-phase
    * shape (A6) at histogram scale: pass 1 reduces to a single (min,
    * max) row collected to the driver, pass 2 is a branchless
    * arithmetic bin + one shuffle on a 20-value key. The bin expression
    * uses INTEGER 20 (not 20.0) and the same operation order both
    * engines, so bin edges are bit-identical; max-valued rows clamp
    * into the last bin. At 100 TB pass 1 is a full scan that AQE
    * cannot elide — if an approximate domain is acceptable, swap in
    * percentile sketch bounds and skip the exact pass.
    */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    val mm = Tables.events(spark, sfDir)
      .agg(min(col("value")), max(col("value"))).collect()(0)
    val lo = mm.getDouble(0)
    val hi = mm.getDouble(1)
    Tables.events(spark, sfDir)
      .select(least(floor((col("value") - lit(lo)) * lit(20) / lit(hi - lo))
        .cast("int"), lit(19)).as("bin"), col("value"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("value_sum"))
      .orderBy(col("bin"))
  }

  private val histogramOracle =
    """WITH d AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
      |SELECT CAST(LEAST(CAST(FLOOR((value - lo) * 20 / (hi - lo)) AS INTEGER),
      |                 19) AS INTEGER) AS bin,
      |       COUNT(*) AS n, ROUND(SUM(value), 4) AS value_sum
      |FROM events, d
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ unpivot
  /** Wide→long unpivot (the Spark 4 `unpivot`/melt API) — the inverse
    * of the pivot above, proven as a round trip: pivot the per-(source,
    * lang) counts wide, unpivot back to long, and strip the `n_` prefix
    * to recover the lang key. Unpivot is a zero-shuffle Expand (each
    * wide row fans out to 5 long rows map-side), so the round trip
    * costs exactly the pivot's one exchange. The oracle states the
    * long form directly — sources × languages with zero-filled counts
    * (the round trip PRESERVES the explicit zeros `na.fill` added,
    * which a plain GROUP BY would omit).
    */
  def unpivotLang(spark: SparkSession, sfDir: String): DataFrame =
    pivotLang(spark, sfDir)
      .unpivot(Array(col("source")),
        PivotLangs.map(l => col(s"n_$l")).toArray, "lang_col", "n")
      .select(col("source"),
        expr("substring(lang_col, 3)").as("lang"), col("n"))
      .orderBy(col("source"), col("lang"))

  private val unpivotLangOracle =
    """SELECT s.source, l.lang, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      |FROM (SELECT DISTINCT source FROM documents) s
      |CROSS JOIN (SELECT UNNEST(['de','en','es','fr','zh']) AS lang) l
      |LEFT JOIN (SELECT source, lang, COUNT(*) AS n
      |           FROM documents GROUP BY source, lang) c
      |  ON s.source = c.source AND l.lang = c.lang
      |ORDER BY s.source, l.lang""".stripMargin

  // ------------------------------------------------------------ moments
  /** Second-moment statistics family — var_samp / stddev_pop /
    * covar_samp / corr / regr_slope per group, the profiling pass that
    * feeds feature normalization and drift detection. All five are
    * single-pass mergeable aggregates (sum/sum-of-squares/cross-product
    * accumulators), so one exchange on the 3-value group key regardless
    * of input size. Both engines use the same sample/population
    * definitions for these five (unlike skewness/kurtosis, where
    * DuckDB applies a sample correction Spark does not — excluded
    * deliberately); 6 dp rounding absorbs summation-order noise.
    */
  def statsMoments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(var_samp(col("l_quantity")), 6).as("qty_var"),
        round(stddev_pop(col("l_quantity")), 6).as("qty_sd_pop"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qp_covar"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("qp_corr"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
          .as("price_per_qty"))
      .orderBy(col("l_returnflag"))

  private val statsMomentsOracle =
    """SELECT l_returnflag, COUNT(*) AS n,
      |       ROUND(VAR_SAMP(l_quantity), 6) AS qty_var,
      |       ROUND(STDDEV_POP(l_quantity), 6) AS qty_sd_pop,
      |       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS qp_covar,
      |       ROUND(CORR(l_quantity, l_extendedprice), 6) AS qp_corr,
      |       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6)
      |         AS price_per_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------ range frame
  /** Value-based RANGE window frame — the time-windowed running
    * aggregate (per user, total value in the TRAILING HOUR at each
    * event), which a ROWS frame cannot express when event spacing is
    * irregular. Spark plans a RangeFrame over the ms ordering: same
    * single user_id exchange as every other per-user window here, the
    * frame bound evaluated per row against the sort key (both bounds
    * inclusive in both engines). Rolled up per user (peak trailing-hour
    * load + total) to keep the output compact.
    */
  def rangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      .withColumn("hour_load", sum(col("value")).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(max(col("hour_load")), 4).as("peak_hour_load"),
        round(sum(col("hour_load")), 4).as("hour_load_total"))
      .orderBy(col("user_id"))
  }

  private val rangeFrameOracle =
    """SELECT user_id, COUNT(*) AS n_events,
      |       ROUND(MAX(hour_load), 4) AS peak_hour_load,
      |       ROUND(SUM(hour_load), 4) AS hour_load_total
      |FROM (
      |  SELECT user_id,
      |         SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |                          RANGE BETWEEN 3600000 PRECEDING
      |                                AND CURRENT ROW) AS hour_load
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  /** Cohort-retention matrix — the classic product-analytics rollup:
    * users grouped by first-seen date (their cohort), activity counted
    * per (cohort_date, day_offset) cell. The self-derived dimension
    * (per-user min date) joins back on user_id — the SAME key the
    * cohort aggregate just shuffled on, so the exchange is reused
    * (co-partitioned join, no second fact shuffle); only the final
    * narrow (cohort, offset) aggregate re-partitions. day_offset is
    * exact integer date math — no float anywhere.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_date"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("cohort_date"), col("day_offset"))
  }

  private val cohortRetentionOracle =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, MIN(d) AS cohort_date FROM ev GROUP BY 1)
      |SELECT cohort_date,
      |       CAST(date_diff('day', cohort_date, d) AS BIGINT) AS day_offset,
      |       COUNT(DISTINCT ev.user_id) AS n_users, COUNT(*) AS n_events
      |FROM ev JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------ retention matrix
  /** The wide retention matrix an analytics user actually reads: one
    * row per cohort with its size (day-0 distinct users) and the
    * day-1/7/30 retained counts as columns — [[cohortRetention]]'s
    * long output composed with the same explicit-value pivot
    * [[pivotLang]] uses. The pivot re-aggregates the already-narrow
    * (cohort, offset) cells, so the wide pass touches thousands of
    * rows regardless of fact-table scale; all heavy lifting stays in
    * the cohort join's single co-partitioned shuffle. Counts are
    * exact longs — no float anywhere.
    */
  private val RetentionOffsets = Seq(0L, 1L, 7L, 30L)

  def retentionMatrix(spark: SparkSession, sfDir: String): DataFrame =
    cohortRetention(spark, sfDir)
      .groupBy(col("cohort_date"))
      .pivot("day_offset", RetentionOffsets)
      .agg(sum(col("n_users")))
      .na.fill(0, RetentionOffsets.map(_.toString))
      .select(col("cohort_date") +:
        RetentionOffsets.map(o =>
          col(o.toString).cast("long").as(if (o == 0L) "cohort_size" else s"d$o")): _*)
      .orderBy(col("cohort_date"))

  private val retentionMatrixOracle = {
    val cols = RetentionOffsets.map { o =>
      val alias = if (o == 0L) "cohort_size" else s"d$o"
      s"CAST(COALESCE(SUM(CASE WHEN day_offset = $o THEN n_users END), 0) AS BIGINT) AS $alias"
    }.mkString(",\n      |       ")
    s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
       |c AS (SELECT user_id, MIN(d) AS cohort_date FROM ev GROUP BY 1),
       |cell AS (
       |  SELECT cohort_date,
       |         CAST(date_diff('day', cohort_date, d) AS BIGINT) AS day_offset,
       |         COUNT(DISTINCT ev.user_id) AS n_users
       |  FROM ev JOIN c USING (user_id) GROUP BY 1, 2)
       |SELECT cohort_date,
       |       $cols
       |FROM cell GROUP BY cohort_date ORDER BY cohort_date""".stripMargin
  }

  // ------------------------------------------------------------- SCD2
  /** Slowly-changing-dimension (type 2) build from the event stream:
    * per user, each run of consecutive equal event_types collapses into
    * one VERSION row with [valid_from_ms, valid_to_ms) validity and an
    * is_current marker on the open-ended last version — the dimension-
    * table history a lakehouse derives from a change feed (the
    * MERGE-based upsert in etl/Medallion handles the snapshot side;
    * this is the full-history side). Change detection is a lag()
    * inequality, versioning a row_number, expiry a lead() — three
    * window functions over ONE (user_id, ms, event_id) sort, so the
    * whole build is a single exchange+sort per key even at 100 TB
    * (windows over the same partitioning/ordering share one Sort).
    * Millisecond epoch longs keep both engines on exact integer time
    * (ns parquet time is truncated identically via Tables.events).
    * Scoped to user_id ≤ 10 to keep the verify surface compact; the
    * plan is user-count-independent.
    */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id") <= 10)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
    ev.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_ms", lead(col("ms"), 1).over(w))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select(col("user_id"), col("version"), col("event_type"),
        col("ms").as("valid_from_ms"), col("valid_to_ms"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  private val scd2Oracle =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events WHERE user_id <= 10),
      |ch AS (SELECT * FROM ev WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |                               ORDER BY ms, event_id)
      |            AS INTEGER) AS version,
      |       event_type, ms AS valid_from_ms,
      |       LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms,
      |       LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL AS is_current
      |FROM ch ORDER BY user_id, version""".stripMargin

  // ------------------------------------------------------------- EWMA
  /** Exponentially-weighted moving average per user — the order-
    * sensitive sequential fold a window frame cannot express (each step
    * depends on the previous RESULT, not a frame of inputs):
    * s₁ = v₁, sₜ = sₜ₋₁ + α·(vₜ − sₜ₋₁) with α = 0.25. The per-user
    * event sequence is collected and time-sorted ONCE (array_sort on
    * (ms, event_id, value) structs — deterministic total order), then
    * folded with the `aggregate` higher-order function seeded from the
    * first element.
    *
    * Parity: both engines run the IDENTICAL left-to-right fold — Spark
    * `aggregate(slice(vs,2,…), vs[1], …)`, DuckDB `list_reduce` (which
    * seeds from the first element by definition) — with the same
    * `acc + 0.25·(v − acc)` operation order, so every intermediate
    * double is bit-identical (the [[SimilarityOps]] VecDot/list_reduce
    * construction applied to a scalar recurrence). α = 0.25 is exactly
    * representable; no rounding enters until the final 6 dp.
    *
    * Scale shape: one groupBy(user) shuffle of (ms, event_id, value)
    * triples; per-user state is the user's own event list — the same
    * per-key memory contract as the sessionizer. A 100 TB variant
    * bounds the list with a time horizon (EWMA forgets geometrically:
    * events older than ~5/α steps contribute < 1e-6 of the weight).
    */
  def ewma(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("ms"), col("event_id"),
          col("value")))).as("arr"))
      .withColumn("vs", expr("transform(arr, x -> x.value)"))
      .select(col("user_id"), col("n_events"),
        round(expr(
          "aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1)," +
            " (acc, v) -> acc + 0.25D * (v - acc))"), 6).as("ewma"))
      .orderBy(col("user_id"))

  private val ewmaOracle =
    """WITH o AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |         list(value ORDER BY epoch_ms(ts), event_id) AS vs
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events,
      |       ROUND(list_reduce(vs, (acc, v) -> acc + 0.25 * (v - acc)), 6) AS ewma
      |FROM o ORDER BY user_id""".stripMargin

  // ---------------------------------------------------- correlation
  /** Exact-integer Pearson correlation between document length and
    * unigram-LM quality — "are longer docs more predictable?", the
    * kind of signal-vs-signal diagnostic a curation team runs before
    * trusting one as a proxy for the other. The five sufficient
    * statistics (Σx, Σy, Σx², Σy², Σxy) are EXACT integer sums over
    * (n_tok, milli-nat logprob) pairs — order-free, partial-agg'd —
    * and r evaluates once in a single token-identical expression whose
    * cross-products run in DECIMAL(38)/HUGEINT (128-bit exact in both
    * engines — the long-only form overflows n·Σy² past ~5k docs on
    * the e6 lattice; e3 keeps the SUMS in long range to ~10⁸ docs and
    * decimal removes the product ceiling entirely), so the hash
    * matches by construction (built-in corr() would accumulate doubles
    * in engine-defined order instead). One corpus pass (the logprob
    * operator) + a 1-row reduction.
    */
  def qualityCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = graft.ops.TextOps.unigramLogprob(spark, sfDir)
      .select(col("n_tok").as("x"),
        round(col("avg_logprob") * 1000.0, 0).cast("long").as("y"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    scored.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
          .cast("double") /
          (sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
            .cast("double")) *
            sqrt((d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))
              .cast("double"))),
          6).as("pearson_r"))
  }

  private lazy val qualityCorrOracle =
    s"""WITH lp AS (${graft.ops.TextOps.unigramLogprobOracle}),
       |s AS (SELECT n_tok AS x,
       |             CAST(ROUND(avg_logprob * 1000.0) AS BIGINT) AS y
       |      FROM lp),
       |m AS (SELECT COUNT(*) AS n,
       |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |             CAST(SUM(x * x) AS BIGINT) AS sxx,
       |             CAST(SUM(y * y) AS BIGINT) AS syy,
       |             CAST(SUM(x * y) AS BIGINT) AS sxy
       |      FROM s)
       |SELECT n,
       |       ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
       |                  AS DOUBLE) /
       |             (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
       |                        AS DOUBLE)) *
       |              sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
       |                        AS DOUBLE))), 6) AS pearson_r
       |FROM m""".stripMargin

  // ------------------------------------------------- conversion lag
  /** Signup→purchase conversion lag — per user, the delay between the
    * FIRST signup and the first purchase AFTER it; reported as the
    * funnel rate plus lag percentiles (the activation-latency chart).
    * First-touch timestamps are conditional min aggregates in ONE
    * per-user pass (no self-join); lags are exact ms longs;
    * `percentile` == `quantile_cont` share the linear-interpolation
    * definition (the q_percentiles precedent) over minute doubles
    * derived identically in both engines.
    */
  def conversionLag(spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ms"))).as("s_ms"))
    val purchases = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("pms"),
        col("event_type"))
      .filter(col("event_type") === "purchase")
    val lags = firsts.filter(col("s_ms").isNotNull)
      .join(purchases, Seq("user_id"), "left")
      .withColumn("pok", when(col("pms") >= col("s_ms"), col("pms")))
      .groupBy(col("user_id"), col("s_ms"))
      .agg(min(col("pok")).as("p_ms"))
      .withColumn("lag_min",
        (col("p_ms") - col("s_ms")).cast("double") / 60000.0)
    lags.agg(count(lit(1)).as("n_signup"),
      sum(when(col("p_ms").isNotNull, 1L).otherwise(0L)).as("n_converted"),
      round(sum(when(col("p_ms").isNotNull, 1.0).otherwise(0.0)) /
        count(lit(1)), 6).as("conversion_rate"),
      round(expr("percentile(lag_min, 0.5)"), 4).as("p50_lag_min"),
      round(expr("percentile(lag_min, 0.9)"), 4).as("p90_lag_min"))
  }

  private val conversionLagOracle =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
      |firsts AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'signup' THEN ms END) AS s_ms
      |  FROM ev GROUP BY user_id),
      |lags AS (
      |  SELECT f.user_id, f.s_ms, MIN(CASE WHEN p.ms >= f.s_ms THEN p.ms END) AS p_ms
      |  FROM firsts f LEFT JOIN ev p
      |    ON f.user_id = p.user_id AND p.event_type = 'purchase'
      |  WHERE f.s_ms IS NOT NULL
      |  GROUP BY f.user_id, f.s_ms)
      |SELECT COUNT(*) AS n_signup,
      |       CAST(SUM(CASE WHEN p_ms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_converted,
      |       ROUND(SUM(CASE WHEN p_ms IS NOT NULL THEN 1.0 ELSE 0.0 END)
      |             / COUNT(*), 6) AS conversion_rate,
      |       ROUND(quantile_cont(CAST(p_ms - s_ms AS DOUBLE) / 60000.0, 0.5), 4)
      |         AS p50_lag_min,
      |       ROUND(quantile_cont(CAST(p_ms - s_ms AS DOUBLE) / 60000.0, 0.9), 4)
      |         AS p90_lag_min
      |FROM lags""".stripMargin

  // ----------------------------------------------------- KS test
  /** Two-sample Kolmogorov–Smirnov statistic — does the English slice's
    * document-length distribution match the rest of the corpus? The
    * distribution-shift test that complements the binned PSI monitor
    * (CatalogOps.psiDrift) with a bin-free statistic. ENTIRELY exact
    * integer arithmetic: per distinct length, cumulative counts for
    * both samples (one small value-domain window), and the supremum of
    * |F_a − F_b| found by maximizing the CROSS-MULTIPLIED integer
    * |cum_a·n_b − cum_b·n_a| — no division until the single final
    * D/(n_a·n_b), so the argmax is exact and the hash matches by
    * construction.
    *
    * Scale shape: the corpus reduces to (length, count_a, count_b)
    * rows BEFORE any window — the cumsum runs over the length value
    * domain (hundreds of rows), not the corpus; at 100 TB that domain
    * is unchanged. One groupBy shuffle, one tiny window, a 1-row
    * argmax.
    */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      .groupBy(col("v"))
      .agg(sum(col("is_en")).as("c_en"),
        sum(lit(1L) - col("is_en")).as("c_ot"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = d
      .withColumn("cum_en", sum(col("c_en")).over(w))
      .withColumn("cum_ot", sum(col("c_ot")).over(w))
    val tot = d.agg(sum(col("c_en")).as("n_en"), sum(col("c_ot")).as("n_ot"))
    cums.crossJoin(broadcast(tot))
      .withColumn("dnum",
        abs(col("cum_en") * col("n_ot") - col("cum_ot") * col("n_en")))
      .groupBy(col("n_en"), col("n_ot"))
      .agg(max(struct(col("dnum"), (-col("v")).as("nv"))).as("m"))
      .select(col("n_en"), col("n_ot"),
        (-col("m.nv")).as("ks_at"),
        round(col("m.dnum").cast("double") / (col("n_en") * col("n_ot")), 6)
          .as("ks"))
  }

  private val ksTestOracle =
    """WITH d AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
      |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
      |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS c_ot
      |  FROM documents GROUP BY 1),
      |cums AS (
      |  SELECT v,
      |         SUM(c_en) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_en,
      |         SUM(c_ot) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ot
      |  FROM d),
      |tot AS (SELECT CAST(SUM(c_en) AS BIGINT) AS n_en,
      |               CAST(SUM(c_ot) AS BIGINT) AS n_ot FROM d),
      |scored AS (
      |  SELECT n_en, n_ot, v,
      |         ABS(cum_en * n_ot - cum_ot * n_en) AS dnum
      |  FROM cums CROSS JOIN tot),
      |best AS (
      |  SELECT n_en, n_ot, v AS ks_at, dnum,
      |         ROW_NUMBER() OVER (ORDER BY dnum DESC, v ASC) AS rn
      |  FROM scored)
      |SELECT n_en, n_ot, ks_at,
      |       ROUND(CAST(dnum AS DOUBLE) / (n_en * n_ot), 6) AS ks
      |FROM best WHERE rn = 1""".stripMargin

  // ---------------------------------------------- user similarity
  /** Behavioral user-user similarity — the dedup inverted-index
    * pattern applied to the event stream: users are "documents", their
    * active (date, hour) slots are the "shingles", and similarity is
    * exact Jaccard over slot sets. Top-20 most-similar pairs (rank,
    * not threshold — robust to activity density). The collaborative
    * signal a recommender bootstraps from; structurally identical to
    * [[DedupOps]]' candidate-by-equi-join discipline, demonstrating
    * the pattern generalizes beyond text.
    *
    * Scale shape: the slot incidence is distinct per (user, slot); the
    * candidate self-join keys on the slot (never user×user), so pair
    * work ∝ true co-activity — WITH the dedup family's posting-list
    * cap applied for real: slots active for more than [[SlotMaxDf]]
    * users are dropped before the self-join (a near-global slot is a
    * boilerplate shingle — it contributes O(df²) pairs and no
    * discriminating signal), and Jaccard is computed consistently
    * over the capped slot sets, the rareShingles discipline. At the
    * sf0.01 oracle scale every slot is under the cap (≈14 users/slot)
    * so the gate's hash is cap-invariant; at sf0.1 the cap is what
    * keeps the pair stream proportional to DISTINCTIVE co-activity
    * (measured 5.2 s → sub-second).
    */
  private val SlotMaxDf = 30

  def userSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val allSlots = Tables.events(spark, sfDir)
      .select(col("user_id"),
        concat_ws(":", to_date(col("ts")).cast("string"),
          hour(col("ts")).cast("string")).as("slot"))
      .distinct()
    val keep = allSlots.groupBy(col("slot"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= SlotMaxDf)
      .select(col("slot"))
    val slots = allSlots.join(keep, Seq("slot"))
    val sizes = slots.groupBy(col("user_id")).agg(count(lit(1)).as("n_slots"))
    val s1 = slots.select(col("user_id").as("u1"), col("slot"))
    val s2 = slots.select(col("user_id").as("u2"), col("slot"))
    val shared = s1.join(s2, Seq("slot"))
      .filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("shared"))
    val n1 = sizes.select(col("user_id").as("u1"), col("n_slots").as("n1"))
    val n2 = sizes.select(col("user_id").as("u2"), col("n_slots").as("n2"))
    val w = Window.orderBy(col("jaccard").desc, col("u1"), col("u2"))
    shared.join(n1, Seq("u1")).join(n2, Seq("u2"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("u1"), col("u2"), col("shared"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("rank"))
  }

  private val userSimilarityOracle =
    s"""WITH all_slots AS (
      |  SELECT DISTINCT user_id,
      |         CAST(CAST(ts AS DATE) AS VARCHAR) || ':' ||
      |         CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS slot
      |  FROM events),
      |slots AS (
      |  SELECT a.user_id, a.slot FROM all_slots a
      |  JOIN (SELECT slot FROM all_slots GROUP BY slot
      |        HAVING COUNT(*) <= $SlotMaxDf) k USING (slot)),
      |sizes AS (SELECT user_id, COUNT(*) AS n_slots FROM slots GROUP BY user_id),
      |shared AS (
      |  SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS shared
      |  FROM slots a JOIN slots b ON a.slot = b.slot
      |  WHERE a.user_id < b.user_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT u1, u2, shared,
      |         CAST(shared AS DOUBLE) / (x.n_slots + y.n_slots - shared) AS jaccard
      |  FROM shared
      |  JOIN sizes x ON u1 = x.user_id
      |  JOIN sizes y ON u2 = y.user_id),
      |ranked AS (
      |  SELECT u1, u2, shared, jaccard,
      |         ROW_NUMBER() OVER (ORDER BY jaccard DESC, u1, u2) AS rank
      |  FROM scored)
      |SELECT CAST(rank AS INTEGER) AS rank, u1, u2, shared,
      |       ROUND(jaccard, 6) AS jaccard
      |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---------------------------------------------------- A/B test
  /** Two-proportion z-test — the experiment readout: users split into
    * deterministic arms (even/odd user_id — the hash-assignment
    * stand-in), success = an ABOVE-MEDIAN purchase count (the
    * scale-robust metric: "everyone made ≥1 purchase" is degenerate on
    * a dense event stream — p̂ = 1 zeroes the pooled variance), and
    * the pooled two-proportion z-statistic decides significance, NULL
    * when the pooled rate is degenerate (0 or 1). All four sufficient
    * counts are exact integers from ONE conditional aggregation; z
    * evaluates once in a token-identical double expression (the
    * qualityCorr discipline), so the hash matches by construction. At
    * 100 TB this is a per-user aggregate + a 2-row reduction.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purch"))
    val med = perUser.agg(expr("percentile(n_purch, 0.5D)").as("med"))
    val arms = perUser.crossJoin(broadcast(med))
      .withColumn("converted",
        when(col("n_purch") > col("med"), 1L).otherwise(0L))
      .withColumn("arm", when(pmod(col("user_id"), lit(2L)) === 0L, "A")
        .otherwise("B"))
    val counts = arms.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "A", col("converted")).otherwise(0L)).as("c_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "B", col("converted")).otherwise(0L)).as("c_b"))
    counts
      .withColumn("p_a", col("c_a").cast("double") / col("n_a"))
      .withColumn("p_b", col("c_b").cast("double") / col("n_b"))
      .withColumn("p_pool",
        (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b")))
      .withColumn("z", when(
        col("p_pool") > 0.0 && col("p_pool") < 1.0,
        round((col("p_a") - col("p_b")) /
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        round(col("p_a"), 6).as("rate_a"), round(col("p_b"), 6).as("rate_b"),
        col("z"), (abs(col("z")) > 1.96).as("significant"))
  }

  private val abTestOracle =
    """WITH pu AS (
      |  SELECT user_id,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_purch
      |  FROM events GROUP BY user_id),
      |m AS (SELECT quantile_cont(n_purch, 0.5) AS med FROM pu),
      |arms AS (
      |  SELECT user_id,
      |         CASE WHEN n_purch > med THEN 1 ELSE 0 END AS converted,
      |         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM pu CROSS JOIN m),
      |c AS (SELECT
      |        CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS c_a,
      |        CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |        CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS c_b
      |      FROM arms),
      |z AS (SELECT *,
      |        CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool
      |      FROM c)
      |SELECT n_a, c_a, n_b, c_b,
      |       ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
      |       ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
      |       CASE WHEN p_pool > 0.0 AND p_pool < 1.0 THEN
      |         ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) /
      |               sqrt(p_pool * (1.0 - p_pool) *
      |                    (1.0 / n_a + 1.0 / n_b)), 4) END AS z,
      |       ABS(CASE WHEN p_pool > 0.0 AND p_pool < 1.0 THEN
      |         ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) /
      |               sqrt(p_pool * (1.0 - p_pool) *
      |                    (1.0 / n_a + 1.0 / n_b)), 4) END) > 1.96 AS significant
      |FROM z""".stripMargin

  // ------------------------------------------------- SRM gate
  /** Sample-ratio-mismatch gate (Fabijan et al. KDD'19's "most useful
    * A/B test check") — the trust gate every experimentation platform
    * runs BEFORE reading any metric: if a 50/50 split didn't land
    * 50/50, the assignment or logging path is broken and [[abTest]]'s
    * readout is garbage. Four concurrent experiments are simulated on
    * the event stream (trigger = event_id mod 4 — each event exposes
    * its user to one experiment), assignment is the deterministic
    * md5-lattice hash of (experiment, user) — the salted-hash
    * assignment real platforms use, independent across experiments —
    * and experiment 0 carries a PLANTED logging defect (arm-B
    * exposures silently dropped for the 40% of users with user_id mod
    * 10 < 4, the "broken telemetry on one variant" incident — sized so
    * the χ² gate FIRES already at the sf0.01 verify scale's ~150
    * exposed users). The
    * χ²₁ statistic against the 50/50 expectation reduces to
    * (n_A−n_B)²/N and is computed EXACTLY on the e6 lattice by
    * half-up integer division in decimal(38)/HUGEINT — no float
    * anywhere — then gated at the α=0.05 critical value 3.841459.
    *
    * Scale shape: one distinct over (experiment, user, arm) + one
    * 2-way conditional count per experiment — the abTest reduction
    * shape, experiment-count rows out; the hash assignment is
    * map-side column math. */
  def srm(spark: SparkSession, sfDir: String): DataFrame = {
    val exposed = Tables.events(spark, sfDir)
      .select(pmod(col("event_id"), lit(4L)).as("experiment"),
        col("user_id"))
      .distinct()
      .withColumn("arm",
        when(expr(Parity.md5KeyExpr(
          "CAST(concat('srm_', experiment, '_', user_id) AS BINARY)", 12))
          % 2 === 0L,
          "A").otherwise("B"))
      // planted defect: experiment 0 loses a slice of arm-B telemetry
      .filter(!(col("experiment") === 0L && col("arm") === "B" &&
        pmod(col("user_id"), lit(10L)) < 4L))
    val dec = "decimal(38,0)"
    exposed.groupBy(col("experiment"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .withColumn("d", (col("n_a") - col("n_b")).cast(dec))
      .withColumn("n", (col("n_a") + col("n_b")).cast(dec))
      // exact half-up e6 lattice: (2·d²·1e6 + N) div (2N), all integers
      .withColumn("chi2_e6",
        expr("CAST((d * d * CAST(2000000 AS DECIMAL(38,0)) + n) " +
          "div (2 * n) AS BIGINT)"))
      .withColumn("srm", col("chi2_e6") > 3841459L)
      .select(col("experiment"), col("n_a"), col("n_b"), col("chi2_e6"),
        col("srm"))
      .orderBy(col("experiment"))
  }

  private val srmOracle = {
    val srmKey = "'srm_' || experiment || '_' || user_id"
    s"""WITH ex AS (
      |  SELECT DISTINCT event_id % 4 AS experiment, user_id
      |  FROM events),
      |arms AS (
      |  SELECT experiment, user_id,
      |         CASE WHEN ${Parity.md5KeySql(srmKey, 12)} % 2 = 0
      |              THEN 'A' ELSE 'B' END AS arm
      |  FROM ex),
      |kept AS (
      |  SELECT * FROM arms
      |  WHERE NOT (experiment = 0 AND arm = 'B' AND user_id % 10 < 4)),
      |c AS (
      |  SELECT experiment,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM kept GROUP BY 1)
      |SELECT experiment, n_a, n_b,
      |       CAST((2 * CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000
      |             + (n_a + n_b)) // (2 * CAST(n_a + n_b AS HUGEINT))
      |            AS BIGINT) AS chi2_e6,
      |       CAST((2 * CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000
      |             + (n_a + n_b)) // (2 * CAST(n_a + n_b AS HUGEINT))
      |            AS BIGINT) > 3841459 AS srm
      |FROM c ORDER BY experiment""".stripMargin
  }

  // ------------------------------------------------- Page-Hinkley
  /** Page–Hinkley drift test (Page '54, the sequential CUSUM variant
    * the stream-mining literature standardized for mean-increase
    * detection) per event type over the daily count series — the
    * question a feed-health monitor asks: "did this event's volume
    * drift up, and WHEN did we have enough evidence". m_t accumulates
    * (x_i − x̄_i − δ) with the RUNNING mean x̄_i (that's what makes it
    * sequential rather than a fixed-baseline CUSUM); the alarm
    * statistic g_t = m_t − min_{i≤t} m_i fires at λ.
    *
    * Parity: each increment's rational core (i·x_i − S_i)/i is exact
    * integers in one IEEE division, e6 half-up per term (the
    * survivalKm per-term quantization), so m_t, the running min, and
    * every g_t are EXACT integers — alarm decisions can never split
    * on float noise. δ=0, λ=8e6 (8 cumulative events above the
    * running mean at fixture volume; the knob a platform tunes).
    *
    * Scale shape: the corpus reduces to |types|×|days| cells in one
    * aggregate; all three windows (cumsum, running min via cumulative
    * min, alarm scan) share the (event_type, day) sort — ONE window
    * exchange over a bounded frame, the survivalKm day-domain
    * discipline. The same recurrence streams: state = (t, S, m, min m)
    * per key. */
  def pageHinkley(spark: SparkSession, sfDir: String): DataFrame = {
    val PhLambdaE6 = 8000000L
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("s", sum(col("x")).over(cum))
      .withColumn("term_e6",
        expr("CAST(round(CAST(t * x - s AS DOUBLE) * 1000000.0 / t) " +
          "AS BIGINT)"))
      .withColumn("m", sum(col("term_e6")).over(cum))
      .withColumn("m_min", min(col("m")).over(cum))
      .withColumn("g", col("m") - col("m_min"))
    stepped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("g")).as("max_g_e6"),
        sum(when(col("g") > PhLambdaE6, 1L).otherwise(0L)).as("n_alarm_days"),
        min(when(col("g") > PhLambdaE6, col("day"))).as("first_alarm_day"))
      .orderBy(col("event_type"))
  }

  private val pageHinkleyOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, day, x,
      |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
      |         CAST(SUM(x) OVER w AS BIGINT) AS s
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tm AS (
      |  SELECT *, CAST(round(CAST(t * x - s AS DOUBLE) * 1000000.0 / t)
      |                 AS BIGINT) AS term_e6
      |  FROM st),
      |mm AS (
      |  SELECT *, CAST(SUM(term_e6) OVER w AS BIGINT) AS m
      |  FROM tm
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |gg AS (
      |  SELECT *, m - MIN(m) OVER w AS g
      |  FROM mm
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |       CAST(MAX(g) AS BIGINT) AS max_g_e6,
      |       CAST(SUM(CASE WHEN g > 8000000 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_alarm_days,
      |       MIN(CASE WHEN g > 8000000 THEN day END) AS first_alarm_day
      |FROM gg GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- Hurst exponent
  /** Hurst exponent by rescaled-range analysis (Hurst '51 / the
    * Mandelbrot–Wallis R/S procedure) over the daily total-event
    * series — long-range-dependence triage for capacity planning:
    * H≈0.5 means days are memoryless (bursts don't cluster), H→1
    * means load autocorrelates and peak provisioning must assume
    * runs. For each dyadic scale n ∈ {4,8,16} the day series splits
    * into ⌊T/n⌋ full blocks; per block the cumulative deviation range
    * R and population σ come from EXACT integer moments (n·cumdev =
    * n·P_t − t·T_b is integer, so n·R is an integer max-minus-min;
    * n²·σ² = n·Q − T² likewise), making ln(R/S) = ln(nR / √(n²σ²))
    * one transcendental per block, e6-quantized (the micro-nat
    * convention) and half-up-averaged per scale. Ĥ is the exact OLS
    * slope of mean-ln(R/S) on ln(n) over the three points.
    *
    * Scale shape: the corpus reduces to the day domain in one
    * aggregate; the ×3 scale fan-out, per-block windows, and the
    * 3-row regression all run on bounded frames. Zero-variance blocks
    * are excluded (R/S undefined), reported via n_blocks. */
  def hurst(spark: SparkSession, sfDir: String): DataFrame = {
    val scales = Seq(4, 8, 16)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t0", row_number().over(Window.orderBy(col("day")))
        .cast("long") - 1L)
    val fanned = daily.withColumn("n",
        explode(typedLit(scales.map(_.toLong))))
      .withColumn("blk", expr("t0 div n"))
      .withColumn("i", pmod(col("t0"), col("n")) + lit(1L))
    val wb = Window.partitionBy(col("n"), col("blk"))
    val wcum = wb.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = fanned
      .withColumn("blk_sz", count(lit(1)).over(wb))
      .filter(col("blk_sz") === col("n"))
      .withColumn("p", sum(col("x")).over(wcum))
      .withColumn("tb", sum(col("x")).over(wb))
      .withColumn("qb", sum(col("x") * col("x")).over(wb))
      // n·cumdev_t = n·P_t − t·T_b : exact integers
      .withColumn("ndev", col("n") * col("p") - col("i") * col("tb"))
      .groupBy(col("n"), col("blk"))
      .agg(max(col("ndev")).as("mx"), min(least(col("ndev"), lit(0L))).as("mn"),
        first(col("tb")).as("tb"), first(col("qb")).as("qb"))
      // R·n = mx − min(mn, 0) (cumdev at t=0 is 0, included in range);
      // n²σ² = n·Q − T²
      .withColumn("rn", col("mx") - col("mn"))
      .withColumn("n2var", col("n") * col("qb") - col("tb") * col("tb"))
      .filter(col("n2var") > 0L && col("rn") > 0L)
      .withColumn("ln_rs_e6",
        expr("CAST(round(ln(CAST(rn AS DOUBLE) / sqrt(CAST(n2var AS " +
          "DOUBLE))) * 1000000.0) AS BIGINT)"))
    val perScale = blocks.groupBy(col("n"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("ln_rs_e6")).as("s_ln"))
      .withColumn("mean_ln_e6",
        expr("CAST((2 * s_ln + n_blocks) div (2 * n_blocks) AS BIGINT)"))
      .withColumn("ln_n", log(col("n").cast("double")))
    // exact 3-point OLS slope on (ln n, mean_ln/1e6)
    val fit = perScale.agg(count(lit(1)).as("k"),
      sum(col("ln_n")).as("sx"), sum(col("ln_n") * col("ln_n")).as("sxx"),
      sum(col("mean_ln_e6").cast("double") / 1000000.0).as("sy"),
      sum(col("ln_n") * col("mean_ln_e6").cast("double") / 1000000.0)
        .as("sxy"))
    val h = fit.select(
      round((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("hurst"))
    perScale.select(col("n"), col("n_blocks"), col("mean_ln_e6"))
      .crossJoin(broadcast(h))
      .orderBy(col("n"))
  }

  private val hurstOracle =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |idx AS (
      |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) - 1
      |           AS t0
      |  FROM daily),
      |fanned AS (
      |  SELECT x, t0, n.n, t0 // n.n AS blk, t0 % n.n + 1 AS i
      |  FROM idx, (VALUES (4), (8), (16)) AS n(n)),
      |sized AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY n, blk) AS blk_sz
      |  FROM fanned),
      |full_blocks AS (SELECT * FROM sized WHERE blk_sz = n),
      |dev AS (
      |  SELECT n, blk, i,
      |         n * SUM(x) OVER (PARTITION BY n, blk ORDER BY i
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - i * SUM(x) OVER (PARTITION BY n, blk) AS ndev,
      |         SUM(x) OVER (PARTITION BY n, blk) AS tb,
      |         SUM(x * x) OVER (PARTITION BY n, blk) AS qb
      |  FROM full_blocks),
      |blocks AS (
      |  SELECT n, blk,
      |         MAX(ndev) - MIN(LEAST(ndev, 0)) AS rn,
      |         ANY_VALUE(n * qb - tb * tb) AS n2var
      |  FROM dev GROUP BY 1, 2),
      |lnrs AS (
      |  SELECT n, CAST(round(ln(CAST(rn AS DOUBLE)
      |              / sqrt(CAST(n2var AS DOUBLE))) * 1000000.0) AS BIGINT)
      |           AS ln_rs_e6
      |  FROM blocks WHERE n2var > 0 AND rn > 0),
      |per_scale AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |         CAST((2 * SUM(ln_rs_e6) + COUNT(*)) // (2 * COUNT(*))
      |              AS BIGINT) AS mean_ln_e6,
      |         ln(CAST(n AS DOUBLE)) AS ln_n
      |  FROM lnrs GROUP BY n),
      |fit AS (
      |  SELECT COUNT(*) AS k, SUM(ln_n) AS sx, SUM(ln_n * ln_n) AS sxx,
      |         SUM(CAST(mean_ln_e6 AS DOUBLE) / 1000000.0) AS sy,
      |         SUM(ln_n * CAST(mean_ln_e6 AS DOUBLE) / 1000000.0) AS sxy
      |  FROM per_scale)
      |SELECT CAST(n AS BIGINT) AS n, n_blocks, mean_ln_e6,
      |       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst
      |FROM per_scale, fit ORDER BY n""".stripMargin

  // ------------------------------------------------- survival curve
  /** Kaplan–Meier survival over user lifetimes — churn's canonical
    * estimator: a user "dies" on their last active day unless that day
    * is the study end (right-censored); at each death day t the
    * at-risk set is everyone whose last day ≥ t, and
    * S(t) = Π_{s≤t} (1 − d_s/n_s). The product is computed as
    * exp(Σ ln(1 − d/n)) with each day's ln QUANTIZED to e6 micro-nats
    * before the cumulative sum — the unigramLogprob discipline applied
    * to a cumulative product, making the running product order-free
    * and engine-exact up to the final exp/round.
    *
    * Scale shape: the corpus reduces to one (last_day) row per user,
    * then to the DAY value domain (a window over ≤ study-length rows);
    * at 100 TB the day domain is unchanged. The at-risk count is a
    * suffix sum — one descending-day cumsum, no per-user state.
    */
  def survivalKm(spark: SparkSession, sfDir: String): DataFrame = {
    val lifet = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"))
      .agg(max(col("d")).as("last_d"))
    val endD = lifet.agg(max(col("last_d")).as("end_d"))
    val byDay = lifet.crossJoin(broadcast(endD))
      .groupBy(col("last_d"))
      .agg(count(lit(1)).as("n_last"),
        sum(when(col("last_d") < col("end_d"), 1L).otherwise(0L)).as("d_t"))
    val wRisk = Window.orderBy(col("last_d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy(col("last_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("n_risk", sum(col("n_last")).over(wRisk))
      .withColumn("ln_e6", when(col("d_t") === 0L, 0L).otherwise(
        round(log(lit(1.0) - col("d_t").cast("double") / col("n_risk")) *
          lit(1000000.0), 0).cast("long")))
      .withColumn("surv",
        round(exp(sum(col("ln_e6")).over(wCum).cast("double") / lit(1000000.0)),
          6))
      .filter(col("d_t") > 0L)
      .select(col("last_d").as("day"), col("n_risk"), col("d_t").as("deaths"),
        col("surv"))
      .orderBy(col("day"))
  }

  private val survivalKmOracle =
    """WITH lifet AS (
      |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d
      |  FROM events GROUP BY user_id),
      |e AS (SELECT MAX(last_d) AS end_d FROM lifet),
      |by_day AS (
      |  SELECT last_d, COUNT(*) AS n_last,
      |         CAST(SUM(CASE WHEN last_d < end_d THEN 1 ELSE 0 END) AS BIGINT) AS d_t
      |  FROM lifet CROSS JOIN e GROUP BY last_d),
      |risked AS (
      |  SELECT last_d, d_t,
      |         CAST(SUM(n_last) OVER (ORDER BY last_d DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS n_risk
      |  FROM by_day),
      |lns AS (
      |  SELECT last_d, d_t, n_risk,
      |         CASE WHEN d_t = 0 THEN 0
      |              ELSE CAST(ROUND(ln(1.0 - CAST(d_t AS DOUBLE) / n_risk)
      |                              * 1000000.0) AS BIGINT) END AS ln_e6
      |  FROM risked)
      |SELECT last_d AS day, n_risk, d_t AS deaths,
      |       ROUND(exp(CAST(SUM(ln_e6) OVER (ORDER BY last_d
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         / 1000000.0), 6) AS surv
      |FROM lns
      |QUALIFY d_t > 0
      |ORDER BY day""".stripMargin

  // ---------------------------------------- event transition matrix
  /** First-order Markov transition matrix over per-user event
    * sequences — the user-journey model behind "what do users do after
    * X": P(next = b | cur = a) from lag-adjacent event pairs within
    * each user's time-ordered stream. Transitions count via ONE
    * (user, ms, event_id) sort window (lag), probabilities are
    * half-up e6 integer-lattice divisions of exact counts (the
    * temperatureMix construction) — no float accumulation. The matrix
    * is |types|² rows regardless of corpus size; the sort is the same
    * per-user exchange every sessionizer already pays.
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("row_n", sum(col("n")).over(wFrom))
      .withColumn("p", ((col("n") * 2000000L + col("row_n") -
        pmod(col("n") * 2000000L + col("row_n"), col("row_n") * 2)) /
        (col("row_n") * 2)) / lit(1000000.0))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val eventTransitionsOracle =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events),
      |t AS (SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
      |      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST((n * 2000000 + SUM(n) OVER (PARTITION BY from_type))
      |            // (SUM(n) OVER (PARTITION BY from_type) * 2) AS DOUBLE)
      |         / 1000000.0 AS p
      |FROM t ORDER BY from_type, to_type""".stripMargin

  // --------------------------------------------- interval union
  /** Interval-union length per user — the sweep-line primitive the
    * relational family lacked (sessionization merges by GAP; this is
    * the general overlap algebra): each event spans [ts, ts + value
    * minutes], and the answer is how much WALL TIME each user was
    * covered by at least one span — engaged-time / SLA-coverage /
    * on-call math, where naive SUM(duration) double-counts every
    * overlap. Union = Σ max(0, end − max(start, running-max of prior
    * ends)) over the start-ordered spans, one pass.
    *
    * Exactness: millisecond integers end to end. Scale shape: ONE
    * per-user window (start-ordered running max — parallel across
    * users, the sessionizer's exchange), then a user-keyed rollup;
    * output top-20 most-covered users for a bounded result. */
  def intervalUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("s"),
        col("event_id"),
        (unix_millis(col("ts")) +
          expr("CAST(round(value * 60000) AS BIGINT)")).as("e"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("e"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    spans
      .withColumn("prev_max_e", max(col("e")).over(w))
      .withColumn("covered",
        greatest(lit(0L), col("e") -
          greatest(col("s"), coalesce(col("prev_max_e"), col("s")))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("sum_span_ms"),
        sum(col("covered")).cast("long").as("union_ms"))
      .withColumn("overlap_ms", col("sum_span_ms") - col("union_ms"))
      .orderBy(col("union_ms").desc, col("user_id"))
      .limit(20)
  }

  private val intervalUnionOracle =
    """WITH spans AS (
      |  SELECT user_id, epoch_ms(ts) AS s, event_id,
      |         epoch_ms(ts) + CAST(round(value * 60000) AS BIGINT) AS e
      |  FROM events),
      |sw AS (
      |  SELECT user_id, s, e,
      |         MAX(e) OVER (PARTITION BY user_id
      |           ORDER BY s, e, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS prev_max_e
      |  FROM spans),
      |c AS (SELECT user_id, s, e,
      |        GREATEST(0, e - GREATEST(s, COALESCE(prev_max_e, s)))
      |          AS covered
      |      FROM sw)
      |SELECT user_id, COUNT(*) AS n_spans,
      |       CAST(SUM(e - s) AS BIGINT) AS sum_span_ms,
      |       CAST(SUM(covered) AS BIGINT) AS union_ms,
      |       CAST(SUM(e - s) - SUM(covered) AS BIGINT) AS overlap_ms
      |FROM c GROUP BY user_id
      |ORDER BY union_ms DESC, user_id LIMIT 20""".stripMargin

  // ----------------------------------------------- entropy rate
  /** Markov entropy rate of the user event stream — how PREDICTABLE
    * behavior is, in nats per event: H = −Σ_ab (c_ab/N)·ln(c_ab/c_a)
    * over the [[eventTransitions]] pair counts, with the zero-order
    * entropy H₀ = −Σ_a (c_a/N)·ln(c_a/N) beside it; their gap is the
    * predictability the first-order model captures (H ≤ H₀ always —
    * conditioning never hurts). The number a prefetcher,
    * sessionizer, or anomaly screen calibrates against.
    *
    * Parity: per-cell contributions quantized ONCE to e9 from exact
    * counts, integer-summed (order-free). One pair-count exchange,
    * |types|²-sized everything after. */
  def entropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("c"))
    val rowTot = pairs.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val nTot = pairs.agg(sum(col("c")).cast("long").as("n"))
    val h1 = pairs.join(broadcast(rowTot), Seq("a"))
      .crossJoin(broadcast(nTot))
      .withColumn("t_e9",
        round(-(col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("ca")) * 1e9, 0).cast("long"))
      .agg(sum(col("t_e9")).cast("long").as("h1_e9"))
    val h0 = rowTot.crossJoin(broadcast(nTot))
      .withColumn("t_e9",
        round(-(col("ca").cast("double") / col("n")) *
          log(col("ca").cast("double") / col("n")) * 1e9, 0).cast("long"))
      .agg(sum(col("t_e9")).cast("long").as("h0_e9"),
        max(col("n")).as("n_transitions"))
    h0.crossJoin(broadcast(h1))
      .select(col("n_transitions"), col("h0_e9"), col("h1_e9"),
        round(col("h0_e9").cast("double") / 1e9, 6).as("h0_nats"),
        round(col("h1_e9").cast("double") / 1e9, 6).as("h1_nats"),
        round((col("h0_e9") - col("h1_e9")).cast("double") / 1e9, 6)
          .as("predictability_gain"))
  }

  private val entropyRateOracle =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events),
      |t AS (SELECT prev AS a, event_type AS b, COUNT(*) AS c
      |      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM t GROUP BY a),
      |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM t),
      |h1 AS (SELECT CAST(SUM(CAST(ROUND(
      |          -(CAST(c AS DOUBLE) / n)
      |          * ln(CAST(c AS DOUBLE) / ca) * 1e9) AS BIGINT)) AS BIGINT)
      |          AS h1_e9
      |       FROM t JOIN rt USING (a) CROSS JOIN nt),
      |h0 AS (SELECT CAST(SUM(CAST(ROUND(
      |          -(CAST(ca AS DOUBLE) / n)
      |          * ln(CAST(ca AS DOUBLE) / n) * 1e9) AS BIGINT)) AS BIGINT)
      |          AS h0_e9,
      |        CAST(MAX(n) AS BIGINT) AS n_transitions
      |       FROM rt CROSS JOIN nt)
      |SELECT n_transitions, h0_e9, h1_e9,
      |       ROUND(CAST(h0_e9 AS DOUBLE) / 1e9, 6) AS h0_nats,
      |       ROUND(CAST(h1_e9 AS DOUBLE) / 1e9, 6) AS h1_nats,
      |       ROUND(CAST(h0_e9 - h1_e9 AS DOUBLE) / 1e9, 6)
      |         AS predictability_gain
      |FROM h0 CROSS JOIN h1""".stripMargin

  // ------------------------------------------------ Pareto analysis
  /** Activity concentration (the 80/20 readout): how many of the most
    * active users does it take to cover 80% of all events, plus the
    * top-decile share — the concentration numbers a capacity/abuse
    * review leads with. The 80% gate is the exact integer predicate
    * 5·cum ≤ 4·tot + the FIRST row crossing it (the boundary user is
    * counted in), so the answer is exact; shares are IEEE long/long
    * divisions. The cumsum runs over per-user totals (narrow rows);
    * at 100 TB the ranking sorts |users| rows, never events.
    */
  def paretoUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
    val wCum = Window.orderBy(col("n_ev").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.orderBy(col("n_ev").desc, col("user_id"))
    val ranked = per
      .withColumn("cum", sum(col("n_ev")).over(wCum))
      .withColumn("rnk", row_number().over(wRank))
    val tot = per.agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_tot"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("n_users"), col("n_tot"))
      .agg(min(when(col("cum") * 5 >= col("n_tot") * 4, col("rnk")))
        .as("users_for_80pct"),
        sum(when(col("rnk") * 10 <= col("n_users"), col("n_ev"))
          .otherwise(0L)).as("top_decile_events"))
      .select(col("n_users"), col("n_tot"), col("users_for_80pct"),
        round(col("users_for_80pct").cast("double") / col("n_users"), 6)
          .as("user_frac_for_80pct"),
        round(col("top_decile_events").cast("double") / col("n_tot"), 6)
          .as("top_decile_share"))
  }

  private val paretoUsersOracle =
    """WITH per AS (SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY 1),
      |ranked AS (
      |  SELECT n_ev,
      |         SUM(n_ev) OVER (ORDER BY n_ev DESC, user_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         ROW_NUMBER() OVER (ORDER BY n_ev DESC, user_id) AS rnk
      |  FROM per),
      |tot AS (SELECT COUNT(*) AS n_users, CAST(SUM(n_ev) AS BIGINT) AS n_tot
      |        FROM per)
      |SELECT n_users, n_tot,
      |       CAST(MIN(CASE WHEN cum * 5 >= n_tot * 4 THEN rnk END)
      |            AS INTEGER) AS users_for_80pct,
      |       ROUND(CAST(MIN(CASE WHEN cum * 5 >= n_tot * 4 THEN rnk END)
      |                  AS DOUBLE) / n_users, 6) AS user_frac_for_80pct,
      |       ROUND(CAST(SUM(CASE WHEN rnk * 10 <= n_users THEN n_ev ELSE 0 END)
      |                  AS DOUBLE) / n_tot, 6) AS top_decile_share
      |FROM ranked CROSS JOIN tot
      |GROUP BY n_users, n_tot""".stripMargin

  // ------------------------------------------------- Gini coefficient
  /** Gini coefficient of per-user activity — the single-number
    * inequality complement to the Pareto boundary: with per-user event
    * counts x ranked ascending (rank i = 1..n),
    * G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n. Both sums are EXACT integer
    * aggregates over narrow ranked rows (the rank is one window over
    * |users| rows), and G evaluates once in a token-identical double
    * expression with DECIMAL(38)/HUGEINT cross-products (the
    * qualityCorr discipline — n·Σi·x overflows a long at web-scale
    * user counts). Exact, order-free, one narrow sort.
    */
  def giniActivity(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
    val w = Window.orderBy(col("n_ev"), col("user_id"))
    per.withColumn("i", row_number().over(w).cast("long"))
      // the rank-weighted sum accumulates in DECIMAL(38) so neither the
      // i·x product nor its sum has a long ceiling at web-scale counts
      .agg(count(lit(1)).as("n"), sum(col("n_ev")).as("sx"),
        sum(expr("CAST(i AS DECIMAL(38,0)) * n_ev")).as("six"))
      .select(col("n"), col("sx"),
        round(lit(2.0) * col("six").cast("double") /
          expr("CAST(CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE)") -
          (col("n") + lit(1L)).cast("double") / col("n"), 6).as("gini"))
  }

  private val giniActivityOracle =
    """WITH per AS (SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY 1),
      |ranked AS (
      |  SELECT n_ev,
      |         CAST(ROW_NUMBER() OVER (ORDER BY n_ev, user_id) AS BIGINT) AS i
      |  FROM per),
      |s AS (SELECT COUNT(*) AS n, CAST(SUM(n_ev) AS BIGINT) AS sx,
      |             SUM(CAST(i AS HUGEINT) * n_ev) AS six
      |      FROM ranked)
      |SELECT n, sx,
      |       ROUND(2.0 * CAST(six AS DOUBLE) /
      |             CAST(CAST(n AS HUGEINT) * sx AS DOUBLE) -
      |             CAST(n + 1 AS DOUBLE) / n, 6) AS gini
      |FROM s""".stripMargin

  // ------------------------------------------------- time-decayed sum
  /** Recency-weighted engagement with a 7-day half-life: each event's
    * value decays by 2^−(age-in-weeks) against the corpus's latest day
    * — the "recent activity counts double" leaderboard rule. Weights
    * are EXACT powers of two applied to exact cent lattices (value
    * quantizes to cents, ages to whole weeks), so the weighted sum is
    * pure long arithmetic — no float decay factor, no summation-order
    * sensitivity at any partition count. The recency index is the e6
    * share of the maximum possible weight (1e6 = all mass in the
    * newest week).
    *
    * Scale: one map-side projection + one hash aggregate on
    * event_type; the anchor day is a 1-row broadcast, not a driver
    * hop. Long bound: cents·2^4 per row sums safely to ~5e14 rows;
    * past that the sum column widens to DECIMAL(38) (the house
    * precedent).
    */
  def decayedSum(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val anchor = ev.agg(max(col("day")).as("day0"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age_w", expr("(day0 - day) div 7"))
      .withColumn("wt", expr("shiftleft(1L, cast(4 - age_w as int))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("raw_cents"),
        sum(col("cents") * col("wt")).as("decayed_x16"))
      .select(col("event_type"), col("n"), col("raw_cents"),
        col("decayed_x16"),
        expr("decayed_x16 * 1000000L div (raw_cents * 16L)")
          .as("recency_e6"))
      .orderBy(col("event_type"))
  }

  private val decayedSumOracle =
    """WITH ev AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT MAX(day) AS day0 FROM ev),
      |w AS (
      |  SELECT event_type, cents,
      |         CAST(POW(2, 4 - (day0 - day) // 7) AS BIGINT) AS wt
      |  FROM ev CROSS JOIN a)
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(cents) AS BIGINT) AS raw_cents,
      |       CAST(SUM(cents * wt) AS BIGINT) AS decayed_x16,
      |       CAST(SUM(cents * wt) AS BIGINT) * 1000000
      |         // (CAST(SUM(cents) AS BIGINT) * 16) AS recency_e6
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------- peak concurrency
  /** Peak concurrent sessions per day — the capacity-planning sweep.
    * Each event opens a half-open interval [ts, ts + ⌊value⌋ minutes);
    * concurrency is the classic ±1 point sweep with a running sum, and
    * the peak is read per calendar day.
    *
    * The sweep is day-partitioned, NOT a global sort: each day's points
    * (starts +1, ends −1 — ends land on the day they OCCUR, which may
    * be the day after their start) are swept locally, and cross-
    * midnight intervals enter the next day as a carry-in count (an
    * interval spans at most one midnight — durations are < 24h by
    * construction). Peak_D = carry_D + max(0, running-sum max): the
    * pre-first-point instant (concurrency = carry alone) is a real
    * instant and can be the peak. Ties inside the window order (same
    * millisecond, same delta) permute only equal deltas, so the prefix
    * maximum is order-independent — the result is deterministic at any
    * partition count.
    */
  def peakConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts)").as("s_ms"),
        expr("unix_millis(ts) + cast(floor(value) as bigint) * 60000")
          .as("e_ms"))
    val points = iv.select(col("s_ms").as("t"), lit(1L).as("delta"))
      .unionByName(iv.select(col("e_ms").as("t"), lit(-1L).as("delta")))
      .withColumn("day", expr("t div 86400000"))
    val wSweep = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localPeak = points
      .withColumn("run", sum(col("delta")).over(wSweep))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_points"), max(col("run")).as("max_run"))
    val carry = iv
      .filter(col("e_ms") > (expr("s_ms div 86400000") + 1) * 86400000L)
      .groupBy((expr("s_ms div 86400000") + 1).as("day"))
      .agg(count(lit(1)).as("carry_in"))
    localPeak.join(carry, Seq("day"), "left")
      .select(col("day"), coalesce(col("carry_in"), lit(0L)).as("carry_in"),
        col("n_points"),
        (coalesce(col("carry_in"), lit(0L)) +
          greatest(lit(0L), col("max_run"))).as("peak"))
      .orderBy(col("day"))
  }

  private val peakConcurrencyOracle =
    """WITH iv AS (
      |  SELECT epoch_ms(ts) AS s_ms,
      |         epoch_ms(ts) + CAST(FLOOR(value) AS BIGINT) * 60000 AS e_ms
      |  FROM events),
      |points AS (
      |  SELECT s_ms AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT e_ms AS t, -1 AS delta FROM iv),
      |sweep AS (
      |  SELECT t // 86400000 AS day,
      |         SUM(delta) OVER (PARTITION BY t // 86400000
      |                          ORDER BY t, delta
      |                          ROWS UNBOUNDED PRECEDING) AS run
      |  FROM points),
      |local_peak AS (
      |  SELECT day, COUNT(*) AS n_points,
      |         CAST(MAX(run) AS BIGINT) AS max_run
      |  FROM sweep GROUP BY day),
      |carry AS (
      |  SELECT s_ms // 86400000 + 1 AS day, COUNT(*) AS carry_in
      |  FROM iv WHERE e_ms > (s_ms // 86400000 + 1) * 86400000
      |  GROUP BY 1)
      |SELECT l.day, COALESCE(c.carry_in, 0) AS carry_in, l.n_points,
      |       COALESCE(c.carry_in, 0) + GREATEST(0, l.max_run) AS peak
      |FROM local_peak l LEFT JOIN carry c USING (day)
      |ORDER BY l.day""".stripMargin

  // ------------------------------------------------- gaps and islands
  /** Activity-streak detection (the classic gaps-and-islands rewrite):
    * each user's distinct active days split into maximal runs of
    * CONSECUTIVE days via the `day - row_number()` grouping constant —
    * consecutive days share it, any gap shifts it. Reported as the
    * corpus distribution of per-user longest streaks (streak length →
    * user count, total islands) — the retention team's "how many users
    * have a 7-day streak" table, computed without a single self-join.
    *
    * Scale: both windows partition by user_id (the natural key; no
    * global sort), the double aggregation is two hash exchanges on
    * shrinking keys, and the final distribution is dozens of rows. A
    * power user with years of days still costs only their own
    * partition's sort.
    */
  def streaks(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_islands"))
      .groupBy(col("longest_streak"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_islands")).as("total_islands"))
      .orderBy(col("longest_streak"))
  }

  private val streaksOracle =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
      |  FROM events),
      |islands AS (
      |  SELECT user_id, grp, COUNT(*) AS len
      |  FROM (SELECT user_id, day,
      |               day - ROW_NUMBER() OVER (PARTITION BY user_id
      |                                        ORDER BY day) AS grp
      |        FROM days)
      |  GROUP BY user_id, grp),
      |per_user AS (
      |  SELECT user_id, MAX(len) AS longest_streak,
      |         COUNT(*) AS n_islands
      |  FROM islands GROUP BY user_id)
      |SELECT longest_streak, COUNT(*) AS n_users,
      |       CAST(SUM(n_islands) AS BIGINT) AS total_islands
      |FROM per_user GROUP BY longest_streak
      |ORDER BY longest_streak""".stripMargin

  // ----------------------------------------------- calendar gap-fill
  /** Calendar scaffold + last-observation-carried-forward — the
    * warehouse idiom for sparse series (a high-value-transaction
    * feed here: per-type daily cent totals of value ≥ 300 events,
    * which leaves most calendar days empty): GENERATE the full
    * per-type calendar from the stream's global day bounds
    * (`sequence` + explode — rows that never existed in the source),
    * left-join the observations onto it, and carry the last observed
    * total forward with an ignoreNulls running `last` (leading gap =
    * 0). Every row keeps the observed/filled flag, so downstream
    * consumers can weight accordingly.
    *
    * Scale shape: the observation side collapses in one aggregation;
    * the scaffold is |entities| × |calendar| rows built by a
    * generator, not a shuffle; the LOCF window is per entity, bounded
    * by the calendar length (30 here — dashboards rarely scaffold
    * more than a few thousand days). The day bounds are a 1-row
    * aggregate broadcast into the generator (the A6 scalar-inject
    * pattern).
    */
  def calendarFill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type").as("t"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"),
        col("value"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val obs = ev.filter(col("value") >= 300)
      .groupBy(col("t"), col("day")).agg(sum(col("c")).as("c"))
    val scaffold = obs.select(col("t")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("t"), explode(expr("sequence(d0, d1)")).as("day"))
    scaffold.join(obs, Seq("t", "day"), "left")
      .withColumn("filled", col("c").isNull)
      .withColumn("v_c", coalesce(
        last(col("c"), ignoreNulls = true).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("t"))
            .orderBy(col("day"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)),
        lit(0L)))
      .select(col("t"), col("day"), col("v_c"), col("filled"))
      .orderBy(col("t"), col("day"))
  }

  private val calendarFillOracle =
    """WITH ev AS (
      |  SELECT event_type AS t, epoch_ms(ts) // 86400000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS c, value
      |  FROM events),
      |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |obs AS (SELECT t, day, CAST(SUM(c) AS BIGINT) AS c FROM ev
      |        WHERE value >= 300 GROUP BY 1, 2),
      |scaffold AS (
      |  SELECT t, UNNEST(range(d0, d1 + 1)) AS day
      |  FROM (SELECT DISTINCT t FROM obs), b)
      |SELECT s.t, s.day,
      |       COALESCE(last_value(o.c IGNORE NULLS) OVER (
      |         PARTITION BY s.t ORDER BY s.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS v_c,
      |       o.c IS NULL AS filled
      |FROM scaffold s LEFT JOIN obs o ON o.t = s.t AND o.day = s.day
      |ORDER BY s.t, s.day""".stripMargin

  // ------------------------------------------------------ path mining
  /** Clickstream path mining — the product-analytics question the
    * fixed-steps funnels ([[windowFunnel]] and friends) can't answer:
    * WHICH journeys actually happen. Each (user, day) with at least
    * three events contributes its first three event types (by
    * timestamp, id tiebreak) as a path "a>b>c"; the report is the
    * top-20 paths by frequency. Discovery, where funnels are
    * measurement.
    *
    * Scale shape: the ranking window partitions by (user, day) —
    * bounded session-sized groups, the sanctioned sessionization
    * shape, never a global sort; the three steps pivot with
    * conditional max (one hash aggregation), paths count in a second,
    * and the top-20 is TakeOrdered (partial per partition, never a
    * full sort).
    */
  def pathMining(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= 3)
    ranked.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_steps"),
        max(when(col("rn") === 1, col("event_type"))).as("s1"),
        max(when(col("rn") === 2, col("event_type"))).as("s2"),
        max(when(col("rn") === 3, col("event_type"))).as("s3"))
      .filter(col("n_steps") === 3)
      .select(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_journeys"))
      .orderBy(col("n_journeys").desc, col("path"))
      .limit(20)
  }

  private val pathMiningOracle =
    """WITH ranked AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type,
      |         row_number() OVER (PARTITION BY user_id, epoch_ms(ts) // 86400000
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events),
      |paths AS (
      |  SELECT user_id, day,
      |         MAX(CASE WHEN rn = 1 THEN event_type END) || '>' ||
      |         MAX(CASE WHEN rn = 2 THEN event_type END) || '>' ||
      |         MAX(CASE WHEN rn = 3 THEN event_type END) AS path
      |  FROM ranked WHERE rn <= 3
      |  GROUP BY 1, 2 HAVING COUNT(*) = 3)
      |SELECT path, COUNT(*) AS n_journeys
      |FROM paths GROUP BY path
      |ORDER BY n_journeys DESC, path LIMIT 20""".stripMargin

  // ------------------------------------------------ watermark design
  /** Watermark-lateness audit — the design table you read BEFORE
    * choosing a Structured Streaming watermark (the streaming family's
    * sessionizer and hourly aggregation both take one as a parameter):
    * each event gets a deterministic ingest delay (the house hash of
    * its id, spread over 0–600s — standing in for the transport jitter
    * a real bus exhibits), and for each candidate watermark the row
    * reports how many events would arrive LATER than the watermark
    * allows — i.e. would be dropped from closed windows — and the
    * volume-weighted miss rate. Pick the first row whose drop rate
    * clears your SLO; that's the latency you pay.
    *
    * Scale shape: the lateness column is map-side hash math; the
    * sweep is one conditional aggregation producing one row per
    * candidate watermark via a tiny explode — the events scan runs
    * once. All counts and e6 rates on the exact integer lattice.
    */
  def watermarkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"),
        graft.ops.Parity.mixBucket(col("event_id"), 2654435761L, 600L)
          .as("delay_s"))
    ev.select(col("c"), col("delay_s"),
        explode(expr("array(60, 120, 300, 600)")).as("wm_s"))
      .groupBy(col("wm_s"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("delay_s") > col("wm_s"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("delay_s") > col("wm_s"), col("c")).otherwise(0L))
          .as("dropped_c"),
        sum(col("c")).as("total_c"))
      .select(col("wm_s"), col("n_events"), col("n_dropped"),
        expr("n_dropped * 1000000 DIV n_events").as("drop_rate_e6"),
        expr("dropped_c * 1000000 DIV total_c").as("value_miss_e6"))
      .orderBy(col("wm_s"))
  }

  private val watermarkAuditOracle = {
    val d = graft.ops.Parity.mixBucketSql("event_id", 2654435761L, 600L)
    s"""WITH ev AS (
       |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c,
       |         $d AS delay_s
       |  FROM events),
       |sweep AS (
       |  SELECT wm_s, c, delay_s
       |  FROM ev, LATERAL unnest([60, 120, 300, 600]) AS t(wm_s))
       |SELECT wm_s, COUNT(*) AS n_events,
       |       CAST(SUM(CASE WHEN delay_s > wm_s THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dropped,
       |       CAST(SUM(CASE WHEN delay_s > wm_s THEN 1 ELSE 0 END) AS BIGINT)
       |         * 1000000 // COUNT(*) AS drop_rate_e6,
       |       CAST(SUM(CASE WHEN delay_s > wm_s THEN c ELSE 0 END) AS BIGINT)
       |         * 1000000 // CAST(SUM(c) AS BIGINT) AS value_miss_e6
       |FROM sweep GROUP BY wm_s ORDER BY wm_s""".stripMargin
  }

  // ----------------------------------------------- sliding distinct
  /** Trailing 7-day sliding distinct users (and event volume) per
    * observed day — the rolling-uniques metric (weekly actives as of
    * each day) that SQL window functions CANNOT express in Spark:
    * `COUNT(DISTINCT) OVER (RANGE ...)` is unsupported, and the naive
    * rewrite (per-day `collect_set` union) holds every window's whole
    * user set in one task. The scale-safe composition instead:
    * (1) dedup to (day, user) — one hash aggregate over the stream;
    * (2) fan each (day, user) into the ≤7 window-days it contributes
    * to (a BOUNDED explode — fan-out = window length, not data size);
    * (3) `countDistinct(user)` per window-day — Spark's own two-phase
    * distinct aggregate. No window operator, no per-key set state; at
    * 100 TB each stage is a partial-aggregated hash shuffle, and the
    * fan-out factor stays 7 no matter the corpus.
    *
    * The observed-day frame (tiny) broadcasts in to drop the phantom
    * tail days (a fan-out day past the last event day). The oracle is
    * a genuinely different algorithm — DuckDB range-joins each day to
    * its trailing window and counts distinct directly — so the
    * explode+regroup rewrite is cross-checked, not mirrored.
    */
  def slidingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val du = ev.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("win_day")).distinct()
    val perDay = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_ev"))
    val u7 = du
      .withColumn("win_day", explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(days), Seq("win_day"))
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("u7"))
    val e7 = perDay
      .withColumn("win_day", explode(expr("sequence(day, date_add(day, 6))")))
      .join(broadcast(days), Seq("win_day"))
      .groupBy(col("win_day"))
      .agg(sum(col("n_ev")).as("e7"))
    u7.join(e7, Seq("win_day"))
      .select(col("win_day").as("day"), col("u7"), col("e7"))
      .orderBy(col("day"))
  }

  private val slidingDistinctOracle =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM du),
      |pd AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_ev
      |  FROM events GROUP BY 1),
      |u AS (
      |  SELECT d.day, COUNT(DISTINCT du.user_id) AS u7
      |  FROM days d JOIN du ON du.day >= d.day - 6 AND du.day <= d.day
      |  GROUP BY 1),
      |e AS (
      |  SELECT d.day, CAST(SUM(pd.n_ev) AS BIGINT) AS e7
      |  FROM days d JOIN pd ON pd.day >= d.day - 6 AND pd.day <= d.day
      |  GROUP BY 1)
      |SELECT u.day, u.u7, e.e7
      |FROM u JOIN e ON u.day = e.day
      |ORDER BY u.day""".stripMargin

  // ----------------------------------------------------- WoW growth
  /** Week-over-week growth per event type — the first derivative every
    * metrics dashboard shows: weekly value (Monday-truncated weeks,
    * identical in both engines) with the previous week's value pulled
    * by a lag window and the growth ratio derived from EXACT integer
    * cents. Parity doctrine for the ratio: delta is an exact long;
    * growth = round(delta/prev, 6) is ONE correctly-rounded IEEE op on
    * identical integer operands (the Wilson-interval pattern) — safe
    * without the half-up machinery, and NULL on the first week rather
    * than a fake zero.
    *
    * Scale: the fact scan partial-aggregates to |types|·|weeks| cells
    * in one shuffle; the lag window runs over that tiny frame. The
    * trailing partial week ships honestly (n_days shows it) — cutting
    * it is the dashboard's choice, not the engine's.
    */
  def wowGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .agg(countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .select(col("event_type"), col("week"), col("n_days"), col("n_events"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        (col("cents") - col("prev_cents")).as("delta_cents"),
        round(((col("cents") - col("prev_cents")).cast("double") /
          col("prev_cents").cast("double")), 6).as("growth"))
      .orderBy(col("event_type"), col("week"))
  }

  private val wowGrowthOracle =
    """WITH wk AS (
      |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
      |         COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
      |         COUNT(*) AS n_events,
      |         SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |lg AS (
      |  SELECT *, LAG(cents, 1) OVER (PARTITION BY event_type
      |                                ORDER BY week) AS prev_cents
      |  FROM wk)
      |SELECT event_type, week, n_days, n_events,
      |       CAST(cents AS DOUBLE) / 100.0 AS revenue,
      |       CAST(cents - prev_cents AS BIGINT) AS delta_cents,
      |       ROUND(CAST(cents - prev_cents AS DOUBLE)
      |             / CAST(prev_cents AS DOUBLE), 6) AS growth
      |FROM lg ORDER BY event_type, week""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wow_growth" -> (wowGrowth _),
    "q_sliding_distinct" -> (slidingDistinct _),
    "q_watermark_audit" -> (watermarkAudit _),
    "q_path_mining" -> (pathMining _),
    "q_calendar_fill" -> (calendarFill _),
    "q_streaks" -> (streaks _),
    "q_peak_concurrency" -> (peakConcurrency _),
    "q_decayed_sum" -> (decayedSum _),
    "q_gini" -> (giniActivity _),
    "q_event_transitions" -> (eventTransitions _),
    "q_entropy_rate" -> (entropyRate _),
    "q_interval_union" -> (intervalUnion _),
    "q_pareto_users" -> (paretoUsers _),
    "q_ab_test" -> (abTest _),
    "q_srm" -> (srm _),
    "q_page_hinkley" -> (pageHinkley _),
    "q_hurst" -> (hurst _),
    "q_survival_km" -> (survivalKm _),
    "q_user_similarity" -> (userSimilarity _),
    "q_ks_test" -> (ksTest _),
    "q_quality_corr" -> (qualityCorr _),
    "q_conversion_lag" -> (conversionLag _),
    "q_scd2" -> (scd2 _),
    "q_ewma" -> (ewma _),
    "q_cohort_retention" -> (cohortRetention _),
    "q_retention_matrix" -> (retentionMatrix _),
    "q_range_frame" -> (rangeFrame _),
    "q_unpivot" -> (unpivotLang _),
    "q_stats_moments" -> (statsMoments _),
    "q_histogram" -> (histogram _),
    "q_rollup" -> (rollupAgg _),
    "q_cube" -> (cubeAgg _),
    "q_pivot" -> (pivotLang _),
    "q_rolling_sum" -> (rollingSum _),
    "q_rolling_median" -> (rollingMedian _),
    "q_pit_join" -> (pitJoin _),
    "q_twap" -> (twap _),
    "q_grouping_sets" -> (groupingSetsAgg _),
    "q_session_window" -> (sessionWindowAgg _),
    "q_window_ranks" -> (windowRanks _),
    "q_array_hof" -> (arrayHof _)
  )

  def oracles: Map[String, String] = Map(
    "q_wow_growth" -> wowGrowthOracle,
    "q_sliding_distinct" -> slidingDistinctOracle,
    "q_watermark_audit" -> watermarkAuditOracle,
    "q_path_mining" -> pathMiningOracle,
    "q_calendar_fill" -> calendarFillOracle,
    "q_streaks" -> streaksOracle,
    "q_peak_concurrency" -> peakConcurrencyOracle,
    "q_decayed_sum" -> decayedSumOracle,
    "q_gini" -> giniActivityOracle,
    "q_event_transitions" -> eventTransitionsOracle,
    "q_entropy_rate" -> entropyRateOracle,
    "q_interval_union" -> intervalUnionOracle,
    "q_pareto_users" -> paretoUsersOracle,
    "q_ab_test" -> abTestOracle,
    "q_srm" -> srmOracle,
    "q_page_hinkley" -> pageHinkleyOracle,
    "q_hurst" -> hurstOracle,
    "q_survival_km" -> survivalKmOracle,
    "q_user_similarity" -> userSimilarityOracle,
    "q_ks_test" -> ksTestOracle,
    "q_quality_corr" -> qualityCorrOracle,
    "q_conversion_lag" -> conversionLagOracle,
    "q_scd2" -> scd2Oracle,
    "q_ewma" -> ewmaOracle,
    "q_cohort_retention" -> cohortRetentionOracle,
    "q_retention_matrix" -> retentionMatrixOracle,
    "q_range_frame" -> rangeFrameOracle,
    "q_unpivot" -> unpivotLangOracle,
    "q_stats_moments" -> statsMomentsOracle,
    "q_histogram" -> histogramOracle,
    "q_rollup" -> rollupAggOracle,
    "q_cube" -> cubeAggOracle,
    "q_pivot" -> pivotLangOracle,
    "q_rolling_sum" -> rollingSumOracle,
    "q_rolling_median" -> rollingMedianOracle,
    "q_pit_join" -> pitJoinOracle,
    "q_twap" -> twapOracle,
    "q_grouping_sets" -> groupingSetsAggOracle,
    "q_session_window" -> sessionWindowAggOracle,
    "q_window_ranks" -> windowRanksOracle,
    "q_array_hof" -> arrayHofOracle
  )
}
