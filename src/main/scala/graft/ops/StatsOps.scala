package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Decision-analytics operators a BI/growth team runs on top of the
  * warehouse the reference builds (beyond the reference's own query
  * surface, like the rest of the analytics family): customer
  * segmentation (RFM), marketing attribution (last touch), Pareto
  * frontier (2-D skyline), first-digit audit (Benford), categorical
  * independence (chi-square), and two time-series diagnostics over the
  * event stream (lag autocorrelation, cumulative-deviation change
  * point), plus co-purchase link prediction (Adamic-Adar).
  *
  * Parity doctrine is the house one: every cross-engine comparison and
  * every reported ratio lives on an exact integer lattice (the
  * [[Parity]] half-up idiom), so no result depends on float summation
  * order — each query's oracle-hash holds at any partition count.
  */
object StatsOps {

  // --------------------------------------------------------------- RFM
  /** RFM segmentation over orders: per customer, Recency (days since
    * last order vs the corpus max date), Frequency (order count) and
    * Monetary (lifetime cents), each scored against the customer-base
    * mean and concatenated into one of 8 segments ("RFM" = recent,
    * frequent, high-spend; "---" = lapsed low-value).
    *
    * Scale shape: ONE hash aggregation per customer is the only real
    * shuffle; the two scalar hops (corpus max date, base-wide means)
    * are 1-row aggregates broadcast back — never a global sort or
    * ntile. Above/below-mean tests cross-multiply in long arithmetic
    * (m·N > S) instead of dividing, so the comparison is exact; at
    * trillions of cents · customers swap the products to DECIMAL(38).
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_dt"),
        count(lit(1)).as("f"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m_cents"))
    val now = per.agg(max(col("last_dt")).as("now_dt"))
    val r = per.crossJoin(broadcast(now))
      .withColumn("r_days", datediff(col("now_dt"), col("last_dt")).cast("long"))
    val means = r.agg(count(lit(1)).as("n_tot"), sum(col("r_days")).as("s_r"),
      sum(col("f")).as("s_f"), sum(col("m_cents")).as("s_m"))
    r.crossJoin(broadcast(means))
      .withColumn("segment", concat(
        when(col("r_days") * col("n_tot") < col("s_r"), lit("R")).otherwise(lit("-")),
        when(col("f") * col("n_tot") > col("s_f"), lit("F")).otherwise(lit("-")),
        when(col("m_cents") * col("n_tot") > col("s_m"), lit("M")).otherwise(lit("-"))))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"), sum(col("f")).as("n_orders"),
        sum(col("m_cents")).as("tot_cents"))
      .orderBy(col("segment"))
  }

  private val rfmSegmentsOracle =
    """WITH per AS (
      |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_dt,
      |         COUNT(*) AS f,
      |         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS m_cents
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT p.*, date_diff('day', last_dt,
      |           (SELECT MAX(last_dt) FROM per)) AS r_days
      |  FROM per p),
      |g AS (SELECT COUNT(*) AS n_tot, SUM(r_days) AS s_r,
      |             SUM(f) AS s_f, SUM(m_cents) AS s_m FROM r)
      |SELECT segment, COUNT(*) AS n_cust,
      |       CAST(SUM(f) AS BIGINT) AS n_orders,
      |       CAST(SUM(m_cents) AS BIGINT) AS tot_cents
      |FROM (SELECT (CASE WHEN r_days * n_tot < s_r THEN 'R' ELSE '-' END)
      |          || (CASE WHEN f * n_tot > s_f THEN 'F' ELSE '-' END)
      |          || (CASE WHEN m_cents * n_tot > s_m THEN 'M' ELSE '-' END)
      |            AS segment, f, m_cents
      |      FROM r, g)
      |GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------------------- attribution
  /** Last-touch attribution: each purchase is credited to the most
    * recent PRECEDING non-purchase event of the same user (its
    * event_type is the "channel"); purchases with no prior touch are
    * 'direct'. Per channel: conversions and summed purchase value.
    *
    * Scale shape: one window per user (the stream's natural partition
    * key — same exchange the sessionizer uses), map-side credit
    * assignment, then a tiny channel aggregate. `last(_, ignoreNulls)`
    * over a growing frame is a running carry, not a sort-window over
    * the whole user history per row. Revenue stays lattice-safe:
    * values are 2-dp quantized, so round(sum,4) is order-insensitive.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"), col("value"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("conversions"),
        round(sum(col("value")), 4).as("revenue"))
      .orderBy(col("channel"))
  }

  private val attributionOracle =
    """WITH seq AS (
      |  SELECT user_id, event_type, value,
      |         LAST_VALUE(CASE WHEN event_type <> 'purchase'
      |                         THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS touch
      |  FROM events)
      |SELECT COALESCE(touch, 'direct') AS channel, COUNT(*) AS conversions,
      |       ROUND(SUM(value), 4) AS revenue
      |FROM seq WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY channel""".stripMargin

  // ----------------------------------------------------------- benford
  /** Benford first-digit audit over order totals: the observed share of
    * each leading digit vs the Benford expectation log10(1+1/d) — the
    * classic fraud/synthetic-data screen. Expected shares are shared
    * Scala constants rendered into BOTH engines (log10 is not required
    * to be correctly rounded by either runtime, so neither engine
    * computes it at query time).
    *
    * The leading digit comes from integer-cents string prefix — never
    * from double formatting (engines disagree on shortest-repr); shares
    * are exact half-up e6 ratios ([[Parity]] idiom). Scale: one 9-key
    * hash aggregate; the share window runs over 9 rows.
    */
  private[graft] val benfordE6: Map[Int, Long] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6)).toMap

  def benfordDigits(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val expected = benfordE6.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (d, e)) =>
        when(col("digit") === d, lit(e)).otherwise(acc) }
    Tables.orders(spark, sfDir)
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("share_e6",
        ((col("n") * 2000000L + col("tot") -
          pmod(col("n") * 2000000L + col("tot"), col("tot") * 2)) /
          (col("tot") * 2)).cast("long"))
      .withColumn("expected_e6", expected)
      .select(col("digit"), col("n"), col("share_e6"), col("expected_e6"),
        (col("share_e6") - col("expected_e6")).as("dev_e6"))
      .orderBy(col("digit"))
  }

  private val benfordOracle = {
    val expected = benfordE6.toSeq.sortBy(_._1)
      .map { case (d, e) => s"WHEN $d THEN $e" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |                             AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders),
       |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
       |t AS (SELECT c.*, CAST(SUM(n) OVER () AS BIGINT) AS tot FROM c)
       |SELECT digit, n,
       |       CAST((n * 2000000 + tot) // (tot * 2) AS BIGINT) AS share_e6,
       |       CAST(CASE digit $expected END AS BIGINT) AS expected_e6,
       |       CAST((n * 2000000 + tot) // (tot * 2)
       |            - CASE digit $expected END AS BIGINT) AS dev_e6
       |FROM t ORDER BY digit""".stripMargin
  }

  // ------------------------------------------------------- change point
  /** Cumulative-deviation change-point scan over the daily event count
    * series: C_t = N·(Σ_{i≤t} x_i) − t·S (the mean-centred CUSUM scaled
    * by N to stay integral), whose |max| marks the most likely level
    * shift — the day a deploy or an outage bent the curve. All exact
    * long arithmetic; the windows run over the post-aggregation daily
    * series (one row per day), not the event stream.
    *
    * Scale: the per-day count is the one data-sized shuffle; a year is
    * 365 rows after it, so the ordered prefix-sum window is free. Days
    * index by epoch-ms floor division — no timezone, no date parsing.
    */
  def changePoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val wOrd = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("t", count(lit(1)).over(wOrd))
      .withColumn("cum", sum(col("x")).over(wOrd))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
      .withColumn("c", col("n_days") * col("cum") - col("t") * col("s"))
      .withColumn("is_peak", abs(col("c")) === max(abs(col("c"))).over(wAll))
      .select(col("day"), col("x"), col("c"), col("is_peak"))
      .orderBy(col("day"))
  }

  private val changePointOracle =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT day, x,
      |         CAST((SELECT COUNT(*) FROM daily) *
      |           SUM(x) OVER (ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         - (ROW_NUMBER() OVER (ORDER BY day)) *
      |           (SELECT SUM(x) FROM daily) AS BIGINT) AS c
      |  FROM daily)
      |SELECT day, x, c, abs(c) = MAX(abs(c)) OVER () AS is_peak
      |FROM c ORDER BY day""".stripMargin

  // -------------------------------------------------- autocorrelation
  /** Lag-k autocorrelation (k = 1..7) of the daily event count — the
    * weekly-seasonality fingerprint. Pearson over (x_t, x_{t+k}) pairs
    * with all six sums (n, Σx, Σy, Σxy, Σx², Σy²) as exact longs; only
    * the final r divides, as num/√d1/√d2 so no long product can
    * overflow and both engines execute the identical IEEE op sequence
    * on identical integers.
    *
    * Scale: the daily aggregate is the one shuffle; the lag self-join
    * runs on the tiny post-agg series (a year = 365 rows × 7 lags).
    */
  def autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val lags = spark.range(1, 8).select(col("id").as("lag"))
    daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"), col("a.day") + col("lag") === col("b.day"))
      .select(col("lag"), col("a.x").as("x"), col("b.x").as("y"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("r"))
      .orderBy(col("lag"))
  }

  private val autocorrOracle =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT l.lag, a.x AS x, b.x AS y
      |  FROM daily a CROSS JOIN range(1, 8) l(lag)
      |  JOIN daily b ON a.day + l.lag = b.day),
      |s AS (
      |  SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM p GROUP BY 1)
      |SELECT CAST(lag AS BIGINT) AS lag, n,
      |       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
      |FROM s ORDER BY lag""".stripMargin

  // ----------------------------------------------------------- skyline
  /** 2-D skyline (Pareto frontier) over parts: the parts no other part
    * beats on BOTH price and size (strict dominance: ≤ on both, < on
    * one). The classic "best tradeoff" operator relational engines
    * lack as a primitive.
    *
    * Distributed shape (the reason this isn't a quadratic NOT EXISTS):
    * 1. band-prune: bucket prices into 64 fixed integer bands; a part
    *    whose size ≥ the min size of any STRICTLY cheaper band is
    *    dominated (lower band ⇒ strictly lower price) and drops
    *    map-side against the broadcast 64-row band table. Dominance is
    *    transitive, so every dominated part is dominated by some
    *    frontier part, and frontier parts are never pruned — the
    *    survivor set always contains the full skyline.
    * 2. exact finish: per-price min size (hash agg) + running min over
    *    the strictly-cheaper prices, on the tiny survivor set.
    * The oracle is the O(n²) NOT EXISTS — a genuinely independent
    * algorithm, not a restatement.
    */
  def skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
        col("p_size"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
    val bounds = parts.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val banded = parts.crossJoin(broadcast(bounds))
      .withColumn("band", ((col("cents") - col("lo")) * 64 /
        (col("hi") - col("lo") + 1)).cast("long"))
      .drop("lo", "hi")
    val wBand = Window.orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)
    val bandMin = banded.groupBy(col("band")).agg(min(col("p_size")).as("bm"))
      .withColumn("rm_band", min(col("bm")).over(wBand)) // 64 rows
      .select(col("band"), col("rm_band"))
    val survivors = banded.join(broadcast(bandMin), Seq("band"))
      .filter(col("rm_band").isNull || col("rm_band") > col("p_size"))
    val perPrice = survivors.groupBy(col("cents")).agg(min(col("p_size")).as("m"))
    val wPrice = Window.orderBy(col("cents")).rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice.withColumn("rm", min(col("m")).over(wPrice))
      .filter(col("rm").isNull || col("rm") > col("m"))
      .select(col("cents"), col("m"))
    survivors.join(broadcast(frontier),
        survivors("cents") === frontier("cents") && col("p_size") === col("m"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  private val skylineOracle =
    """SELECT p_partkey, p_name, p_retailprice, p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
      |ORDER BY p_partkey""".stripMargin

  // -------------------------------------------------------- chi-square
  /** Chi-square independence test, lang × source over documents — "is
    * the language mix the same across sources?". Per cell: observed
    * count, expected count under independence, and the χ² contribution
    * (obs−exp)²/exp — computed entirely on the integer lattice as
    * (obs·N − rt·ct)² / (rt·ct·N) in DECIMAL(38,0), so no engine ever
    * rounds a float mid-computation (the long product (obs·N−rt·ct)²
    * overflows int64 already at ~3k docs × 2k cells — decimal is the
    * 100 TB-honest type, mirrored by DuckDB's HUGEINT).
    *
    * Scale: one cell-level hash aggregate on the data; the marginal
    * windows run over the ~|langs|·|sources| cell frame.
    */
  def chiSquare(spark: SparkSession, sfDir: String): DataFrame = {
    val wr = Window.partitionBy(col("lang"))
    val wc = Window.partitionBy(col("source"))
    val wt = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
      .withColumn("rt", sum(col("obs")).over(wr))
      .withColumn("ct", sum(col("obs")).over(wc))
      .withColumn("n", sum(col("obs")).over(wt))
      // v = obs·N − rt·ct; contrib_e6 = half-up(1e6·v² / (rt·ct·N))
      .withColumn("v", expr(
        "CAST(obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct"))
      .withColumn("den", expr("CAST(rt AS DECIMAL(38,0)) * ct * n"))
      .withColumn("num", expr("2000000 * v * v + den"))
      .withColumn("contrib_e6",
        expr("CAST((num - (num % (2 * den))) / (2 * den) AS BIGINT)"))
      .select(col("lang"), col("source"), col("obs"),
        (col("contrib_e6").cast("double") / 1e6).as("contrib"),
        (sum(col("contrib_e6")).over(wt).cast("double") / 1e6).as("chi2"))
      .orderBy(col("lang"), col("source"))
  }

  private val chiSquareOracle =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS obs
      |  FROM documents GROUP BY 1, 2),
      |m AS (
      |  SELECT lang, source, obs,
      |         SUM(obs) OVER (PARTITION BY lang) AS rt,
      |         SUM(obs) OVER (PARTITION BY source) AS ct,
      |         SUM(obs) OVER () AS n
      |  FROM cells),
      |c AS (
      |  SELECT lang, source, obs,
      |         CAST(obs AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct AS v,
      |         CAST(rt AS HUGEINT) * ct * n AS den
      |  FROM m),
      |e AS (
      |  SELECT lang, source, obs,
      |         CAST((2000000 * v * v + den - ((2000000 * v * v + den)
      |               % (2 * den))) // (2 * den) AS BIGINT) AS contrib_e6
      |  FROM c)
      |SELECT lang, source, obs,
      |       CAST(contrib_e6 AS DOUBLE) / 1e6 AS contrib,
      |       CAST(CAST(SUM(contrib_e6) OVER () AS BIGINT) AS DOUBLE) / 1e6
      |         AS chi2
      |FROM e ORDER BY lang, source""".stripMargin

  // ------------------------------------------------------- adamic-adar
  /** Adamic-Adar co-purchase link prediction over the order→part
    * bipartite graph: for each part pair sharing an order, score
    * Σ_orders 1/ln(|order|) — common neighbors weighted down by how
    * promiscuous the neighbor is. Top 30 predicted links.
    *
    * Per-size weights 1e6/ln(sz) are shared Scala constants rendered
    * into both engines (ln is not correctly-rounded-guaranteed in
    * either runtime), summed as exact longs. Scale: the pair fan-out is
    * bounded by order size (≤ k² per order, k capped at 20), the pair
    * aggregate is one hash shuffle, and the top-30 is TakeOrdered —
    * never a global sort.
    */
  private[graft] val adamicAdarE6: Map[Int, Long] =
    (2 to 20).map(s => s -> math.round(1e6 / math.log(s))).toMap

  def adamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    val weight = adamicAdarE6.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (s, e)) =>
        when(col("sz") === s, lit(e)).otherwise(acc) }
    // the corpus-scale self-join lives in the session-materialized
    // pair frame (GraphOps.coPurchasePairs) shared with the BFS walk
    GraphOps.coPurchasePairs(spark, sfDir)
      .groupBy(col("p1"), col("p2"))
      .agg(sum(weight * col("n")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("p1"), col("p2"))
      .limit(30)
      .select(col("p1"), col("p2"), col("score_e6"),
        (col("score_e6").cast("double") / 1e6).as("score"))
  }

  private val adamicAdarOracle = {
    val weight = adamicAdarE6.toSeq.sortBy(_._1)
      .map { case (s, e) => s"WHEN $s THEN $e" }.mkString(" ")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (
       |  SELECT l_orderkey, COUNT(*) AS sz FROM op GROUP BY 1
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |pairs AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       |         CASE sz $weight END AS w
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey
       |  JOIN sized s ON s.l_orderkey = a.l_orderkey)
       |SELECT p1, p2, CAST(SUM(w) AS BIGINT) AS score_e6,
       |       CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) / 1e6 AS score
       |FROM pairs GROUP BY p1, p2
       |ORDER BY score_e6 DESC, p1, p2 LIMIT 30""".stripMargin
  }

  // --------------------------------------------------------------- AUC
  /** ROC AUC of an integer score (document length) predicting a binary
    * label (lang = 'en') — the rank statistic every quality/routing
    * classifier is graded on. Computed as the tie-corrected
    * Mann-Whitney U entirely in integer arithmetic: per distinct
    * score, the doubled average rank r2 = min_rank + max_rank is
    * integral, so Σ_pos r2 − P(P+1) = 2U is exact, and
    * AUC = U / (P·N) renders as the house half-up e6 ratio. No float
    * enters until the final division.
    *
    * Scale: one hash aggregate on the score value; the rank prefix-sum
    * runs over DISTINCT scores (bounded domain), not rows. P·N products
    * guard through DECIMAL(38) — at 1e12 docs a long P·N overflows.
    */
  def rocAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val perScore = Tables.documents(spark, sfDir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("pos_cnt"))
    val wOrd = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore
      .withColumn("max_rank", sum(col("cnt")).over(wOrd))
      .withColumn("r2", col("max_rank") * 2 - col("cnt") + 1)
      .agg(sum(col("pos_cnt")).as("p"),
        sum(col("cnt") - col("pos_cnt")).as("n"),
        sum(expr("CAST(pos_cnt AS DECIMAL(38,0)) * r2")).as("sum_r2"))
      .withColumn("u2", expr("sum_r2 - CAST(p AS DECIMAL(38,0)) * (p + 1)"))
      .withColumn("pn2", expr("CAST(p AS DECIMAL(38,0)) * n * 2"))
      .withColumn("num", expr("1000000 * u2 + CAST(p AS DECIMAL(38,0)) * n"))
      .select(col("p"), col("n"), col("u2").cast("long").as("u2"),
        expr("CAST(CAST((num - (num % pn2)) / pn2 AS BIGINT) AS DOUBLE) / 1e6")
          .as("auc"))
  }

  private val rocAucOracle =
    """WITH per AS (
      |  SELECT n_chars AS score, COUNT(*) AS cnt,
      |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos_cnt
      |  FROM documents GROUP BY 1),
      |rk AS (
      |  SELECT *, SUM(cnt) OVER (ORDER BY score
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_rank
      |  FROM per),
      |agg AS (
      |  SELECT CAST(SUM(pos_cnt) AS HUGEINT) AS p,
      |         CAST(SUM(cnt - pos_cnt) AS HUGEINT) AS n,
      |         CAST(SUM(pos_cnt * (max_rank * 2 - cnt + 1)) AS HUGEINT) AS sum_r2
      |  FROM rk)
      |SELECT CAST(p AS BIGINT) AS p, CAST(n AS BIGINT) AS n,
      |       CAST(sum_r2 - p * (p + 1) AS BIGINT) AS u2,
      |       CAST(CAST((1000000 * (sum_r2 - p * (p + 1)) + p * n
      |                  - ((1000000 * (sum_r2 - p * (p + 1)) + p * n)
      |                     % (p * n * 2))) // (p * n * 2) AS BIGINT)
      |            AS DOUBLE) / 1e6 AS auc
      |FROM agg""".stripMargin

  // ---------------------------------------------------------- wilson CI
  /** Wilson 95% score interval for each source's "long-document rate"
    * (n_chars ≥ 500) — the interval a curation dashboard shows instead
    * of the raw proportion, because it stays honest at small n. The
    * interval is float math, but from EXACT integer (k, n) inputs
    * through one explicitly-parenthesized IEEE op sequence — both
    * engines execute the identical correctly-rounded ops on identical
    * operands, so the 6-dp rounds agree. z² enters as the shared
    * literal 3.8416, never as a runtime 1.96·1.96.
    *
    * Scale: one map-side boolean + per-source hash aggregate.
    */
  def wilsonCi(spark: SparkSession, sfDir: String): DataFrame = {
    val kn = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") >= 500, 1L).otherwise(0L)).as("k"))
    kn.withColumn("nn", col("n").cast("double"))
      .withColumn("phat", col("k").cast("double") / col("nn"))
      .withColumn("den", lit(1.0) + lit(3.8416) / col("nn"))
      .withColumn("center", col("phat") + lit(3.8416) / (lit(2.0) * col("nn")))
      .withColumn("rad", lit(1.96) * sqrt(
        col("phat") * (lit(1.0) - col("phat")) / col("nn") +
          lit(3.8416) / (lit(4.0) * col("nn") * col("nn"))))
      .select(col("source"), col("n"), col("k"),
        round(col("phat"), 6).as("rate"),
        round((col("center") - col("rad")) / col("den"), 6).as("lo"),
        round((col("center") + col("rad")) / col("den"), 6).as("hi"))
      .orderBy(col("source"))
  }

  private val wilsonCiOracle =
    """WITH kn AS (
      |  SELECT source, COUNT(*) AS n,
      |         SUM(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS k
      |  FROM documents GROUP BY 1),
      |c AS (
      |  SELECT source, n, CAST(k AS BIGINT) AS k,
      |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
      |         1.0 + 3.8416 / CAST(n AS DOUBLE) AS den,
      |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |           + 3.8416 / (2.0 * CAST(n AS DOUBLE)) AS center,
      |         1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |                     * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
      |                     / CAST(n AS DOUBLE)
      |                     + 3.8416 / (4.0 * CAST(n AS DOUBLE)
      |                                 * CAST(n AS DOUBLE))) AS rad
      |  FROM kn)
      |SELECT source, n, k, ROUND(phat, 6) AS rate,
      |       ROUND((center - rad) / den, 6) AS lo,
      |       ROUND((center + rad) / den, 6) AS hi
      |FROM c ORDER BY source""".stripMargin

  // ----------------------------------------------------------- OLS fit
  /** Ordinary-least-squares trend of the daily event count against the
    * day index: slope, intercept and R² from the textbook closed form —
    * every sum (n, Σx, Σy, Σxy, Σx², Σy²) an exact long over integers,
    * divisions deferred to the final projection (num/den as doubles of
    * exact ints — both engines render identical IEEE quotients).
    *
    * Scale: the daily aggregate is the one data shuffle; the fit runs
    * on the post-agg series.
    */
  def olsTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val wOrd = Window.orderBy(col("day"))
    val s = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
      .withColumn("x", row_number().over(wOrd).cast("long"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    s.select(col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
        .as("slope"),
      round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
        .as("intercept"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")) *
        (col("n") * col("sxy") - col("sx") * col("sy"))).cast("double") /
        ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
        .as("r2"))
  }

  private val olsTrendOracle =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1),
      |ix AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS x, y FROM daily),
      |s AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
      |         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
      |  FROM ix)
      |SELECT n,
      |       ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
      |             / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
      |       ROUND(CAST(sy*sxx - sx*sxy AS DOUBLE)
      |             / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS intercept,
      |       ROUND(CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) AS DOUBLE)
      |             / (CAST(n*sxx - sx*sx AS DOUBLE)
      |                * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
      |FROM s""".stripMargin

  // ------------------------------------------------------ mann-kendall
  /** Mann-Kendall nonparametric trend test on the daily event series:
    * S = Σ_{i<j} sign(y_j − y_i), with the tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 and the
    * continuity-corrected Z — the trend detector that needs no
    * normality assumption. S and the variance numerator are exact
    * longs (the pair comparison runs over the post-agg daily frame,
    * O(days²) on dimension-sized data); only Z divides.
    */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.day") < col("b.day"))
      .agg(sum(signum(col("b.y") - col("a.y")).cast("long")).as("s"))
    val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"),
        sum(col("t")).as("n"))
    pairs.crossJoin(ties)
      .withColumn("var18",
        col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_term"))
      .select(col("n"), col("s"),
        round(when(col("s") > 0, (col("s") - 1).cast("double"))
          .when(col("s") < 0, (col("s") + 1).cast("double"))
          .otherwise(lit(0.0)) /
          sqrt(col("var18").cast("double") / lit(18.0)), 6).as("z"))
  }

  private val mannKendallOracle =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
      |                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |t AS (
      |  SELECT CAST(SUM(t*(t-1)*(t*2+5)) AS BIGINT) AS tie_term,
      |         CAST(SUM(t) AS BIGINT) AS n
      |  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y)),
      |v AS (SELECT p.s, t.n, n*(n-1)*(n*2+5) - tie_term AS var18 FROM p, t)
      |SELECT n, s,
      |       ROUND((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
      |                   WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
      |                   ELSE 0.0 END)
      |             / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) AS z
      |FROM v""".stripMargin

  // -------------------------------------------------------- theil-sen
  /** Theil-Sen robust slope: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i) over the daily series — the estimator one
    * outlier day cannot bend. Slopes are exact-int quotients rendered
    * as identical IEEE doubles in both engines, so the median (exact
    * `percentile` / `median` over the O(days²) pair frame) picks the
    * same element — and an even count interpolates the same half.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val wOrd = Window.orderBy(col("day"))
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
      .withColumn("x", row_number().over(wOrd).cast("long"))
    daily.as("a").join(daily.as("b"), col("a.x") < col("b.x"))
      .select(((col("b.y") - col("a.y")).cast("double") /
        (col("b.x") - col("a.x")).cast("double")).as("slope"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
  }

  private val theilSenOracle =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1),
      |ix AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS x, y FROM daily),
      |sl AS (
      |  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM ix a JOIN ix b ON a.x < b.x)
      |SELECT COUNT(*) AS n_pairs, ROUND(median(slope), 6) AS ts_slope
      |FROM sl""".stripMargin

  // -------------------------------------------------------------- SPRT
  /** Wald's sequential probability-ratio test on the purchase rate:
    * H₀ p=0.19 vs H₁ p=0.21, log-likelihood ratio accumulated day by
    * day over (purchases, trials). The per-observation increments
    * ln(p₁/p₀) and ln(q₁/q₀) are SHARED Scala e9 constants (ln is not
    * correctly-rounded-guaranteed at runtime), so the cumulative LLR
    * is an exact long dot product n_s·c₁ + n_f·c₀; the A/B decision
    * thresholds ln(19) and ln(1/19) (α=β=0.05) are constants on the
    * same lattice. Output: the day-by-day LLR path and decision state —
    * the "stop early" monitor an experimentation platform runs.
    *
    * Scale: one daily aggregate; the cumulative windows run over the
    * post-agg series.
    */
  private[graft] val SprtC1E9: Long = // ln(0.21/0.19) · 1e9
    math.round(math.log(0.21 / 0.19) * 1e9)
  private[graft] val SprtC0E9: Long = // ln(0.79/0.81) · 1e9
    math.round(math.log(0.79 / 0.81) * 1e9)
  private[graft] val SprtAE9: Long = // ln((1-β)/α) = ln(19) · 1e9
    math.round(math.log(19.0) * 1e9)

  def sprt(spark: SparkSession, sfDir: String): DataFrame = {
    val wOrd = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("s"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("trials"), sum(col("s")).as("successes"))
      .withColumn("cum_s", sum(col("successes")).over(wOrd))
      .withColumn("cum_f", sum(col("trials") - col("successes")).over(wOrd))
      .withColumn("llr_e9",
        col("cum_s") * SprtC1E9 + col("cum_f") * SprtC0E9)
      .select(col("day"), col("trials"), col("successes"),
        (col("llr_e9").cast("double") / 1e9).as("llr"),
        when(col("llr_e9") >= SprtAE9, lit("accept_h1"))
          .when(col("llr_e9") <= -SprtAE9, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
      .orderBy(col("day"))
  }

  private val sprtOracle =
    s"""WITH daily AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS trials,
       |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS successes
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT day, trials, successes,
       |         CAST(SUM(successes) OVER w AS BIGINT) * $SprtC1E9
       |         + CAST(SUM(trials - successes) OVER w AS BIGINT) * $SprtC0E9
       |           AS llr_e9
       |  FROM daily
       |  WINDOW w AS (ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT day, trials, successes,
       |       CAST(llr_e9 AS DOUBLE) / 1e9 AS llr,
       |       CASE WHEN llr_e9 >= $SprtAE9 THEN 'accept_h1'
       |            WHEN llr_e9 <= -$SprtAE9 THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM c ORDER BY day""".stripMargin

  // --------------------------------------------------------- winsorize
  /** Winsorized statistics: extended prices clipped at the exact
    * [p01, p99] percentiles, reporting n, the clipped-row counts and
    * the mean before/after on the [[Parity.stableAvg]] lattice — the
    * robustness preprocessing a feature pipeline applies before
    * z-scoring, with the clip's effect quantified. Two passes: a
    * percentile aggregate broadcast back (exact today,
    * `approx_percentile` at 100 TB — the AggOps contract), then one
    * map-side clamp + aggregate.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.lineitem(spark, sfDir)
      .agg(expr("percentile(l_extendedprice, array(0.01, 0.99))").as("es"))
    // clip edges re-quantize to the cents lattice: a raw interpolated
    // percentile would put clipped rows OFF the 2-dp lattice and void
    // stableAvg's order-insensitivity contract
    Tables.lineitem(spark, sfDir).crossJoin(broadcast(edges))
      .select(col("l_extendedprice").as("x"),
        round(col("es").getItem(0), 2).as("lo"),
        round(col("es").getItem(1), 2).as("hi"))
      .select(col("x"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("x"))).as("xw"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        Parity.stableAvg(col("x")).as("mean_raw"),
        Parity.stableAvg(col("xw")).as("mean_winsor"))
  }

  private val winsorizeOracle =
    s"""WITH e AS (
       |  SELECT quantile_cont(l_extendedprice, [0.01, 0.99]) AS es
       |  FROM lineitem),
       |c AS (
       |  SELECT l_extendedprice AS x,
       |         ROUND(es[1], 2) AS lo, ROUND(es[2], 2) AS hi,
       |         GREATEST(ROUND(es[1], 2),
       |                  LEAST(ROUND(es[2], 2), l_extendedprice)) AS xw
       |  FROM lineitem, e)
       |SELECT COUNT(*) AS n,
       |       CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_clip_lo,
       |       CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_clip_hi,
       |       ${Parity.stableAvgSql("x")} AS mean_raw,
       |       ${Parity.stableAvgSql("xw")} AS mean_winsor
       |FROM c""".stripMargin

  // ------------------------------------------------------- rolling DAU
  /** Rolling engagement: per day, the exact distinct active users that
    * day (DAU) and over the trailing 7 days (WAU), plus the
    * DAU/WAU stickiness ratio — the growth dashboard's headline.
    *
    * Scale shape: the raw stream first collapses to DISTINCT
    * (day, user) pairs (one data-sized exchange); the trailing window
    * then fans each pair out to the ≤7 target days it is active for
    * (bounded fan-out — never a data-sized window state) and a second
    * distinct-count per target day finishes. Stickiness is the half-up
    * e6 ratio. Exact today; the 100 TB swap for ultra-wide windows is
    * an HLL sketch per (day, bucket) merged across the window.
    */
  def rollingDau(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val offsets = spark.range(0, 7).select(col("id").as("off"))
    val wau = du.crossJoin(broadcast(offsets))
      .select((col("day") + col("off")).as("day"), col("user_id"))
      .join(dau.select(col("day")), Seq("day")) // only observed days
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (((col("dau") * 2000000L + col("wau")) -
          pmod(col("dau") * 2000000L + col("wau"), col("wau") * 2)) /
          (col("wau") * 2) / lit(1000000.0)).as("stickiness"))
      .orderBy(col("day"))
  }

  private val rollingDauOracle =
    """WITH du AS (
      |  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
      |  FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
      |wau AS (
      |  SELECT t.day, COUNT(DISTINCT u.user_id) AS wau
      |  FROM dau t JOIN du u
      |    ON u.day BETWEEN t.day - 6 AND t.day
      |  GROUP BY 1)
      |SELECT d.day, d.dau, CAST(w.wau AS BIGINT) AS wau,
      |       CAST((d.dau * 2000000 + w.wau) // (w.wau * 2) AS DOUBLE)
      |         / 1000000.0 AS stickiness
      |FROM dau d JOIN wau w USING (day)
      |ORDER BY day""".stripMargin

  // ---------------------------------------------- calibration / Brier
  /** Calibration-curve + Brier-score eval of a histogram classifier:
    * even doc_ids train a per-bin positive-rate predictor (10
    * fixed-width bins over n_chars, p̂ = train positives/train count),
    * odd doc_ids evaluate it — per bin, the observed positive rate and
    * the bin's summed squared error. The reliability table every
    * probability-emitting classifier is graded on (p̂ vs observed), with
    * the Brier score = Σ se_e6 / (n_test·1e6) one division away.
    *
    * Lattice: p̂ and observed rates are e6 floor quotients; each test
    * doc's squared error (p̂_e6 − y·1e6)² is floored back to e6 before
    * summing, so the sum stays exact in a long to ~9e12 test docs per
    * bin (past that: DECIMAL(38), the [[rocAuc]] precedent). No float
    * enters either engine.
    *
    * Scale: two hash aggregates on a 10-value key plus one broadcast
    * join of the 10-row model to the test stream; the corpus max is a
    * sanctioned scalar hop (A6).
    */
  def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val maxChars = docs.agg(max(col("n_chars"))).head().getLong(0)
    val binned = docs.withColumn("bin",
      least(lit(9L), expr(s"n_chars * 10L div ${maxChars + 1}L")))
    val model = binned.filter(col("doc_id") % 2 === 0)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_train"), sum(col("y")).as("pos_train"))
      .withColumn("p_hat_e6", expr("pos_train * 1000000L div n_train"))
    binned.filter(col("doc_id") % 2 === 1)
      .join(broadcast(model), Seq("bin"))
      .withColumn("se_e6",
        expr("(p_hat_e6 - y * 1000000L) * (p_hat_e6 - y * 1000000L) div 1000000L"))
      .groupBy(col("bin"))
      .agg(first(col("n_train")).as("n_train"),
        first(col("p_hat_e6")).as("p_hat_e6"),
        count(lit(1)).as("n_test"),
        sum(col("y")).as("pos_test"),
        sum(col("se_e6")).as("se_e6_sum"))
      .withColumn("obs_e6", expr("pos_test * 1000000L div n_test"))
      .orderBy(col("bin"))
  }

  private def calibrationOracle: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         LEAST(9, n_chars * 10 //
      |           (1 + (SELECT MAX(n_chars) FROM documents))) AS bin
      |  FROM documents),
      |model AS (
      |  SELECT bin, COUNT(*) AS n_train,
      |         CAST(SUM(y) AS BIGINT) * 1000000 // COUNT(*) AS p_hat_e6
      |  FROM d WHERE doc_id % 2 = 0 GROUP BY bin)
      |SELECT t.bin, m.n_train, m.p_hat_e6,
      |       COUNT(*) AS n_test,
      |       CAST(SUM(t.y) AS BIGINT) AS pos_test,
      |       CAST(SUM((m.p_hat_e6 - t.y * 1000000)
      |                * (m.p_hat_e6 - t.y * 1000000) // 1000000)
      |            AS BIGINT) AS se_e6_sum,
      |       CAST(SUM(t.y) AS BIGINT) * 1000000 // COUNT(*) AS obs_e6
      |FROM d t JOIN model m USING (bin)
      |WHERE t.doc_id % 2 = 1
      |GROUP BY t.bin, m.n_train, m.p_hat_e6
      |ORDER BY t.bin""".stripMargin

  // ------------------------------------------------- association rules
  /** Market-basket association rules A→B over co-purchased parts:
    * support, confidence and lift for both directions of every
    * co-purchase pair, top 40 by lift. The classic Apriori output at
    * the 2-itemset level — "customers who bought A also bought B".
    *
    * All three ratios live on the exact e6 integer lattice via long
    * `div` (floor division — identical in both engines for the
    * positive operands here), so the ranking and the hash are
    * float-free. Bound: lift's numerator pair_n·N·1e6 must fit a long
    * — safe to N≈3e6 sized orders at pair_n≈1e6; past that swap the
    * product through DECIMAL(38) (the [[rocAuc]] precedent).
    *
    * Scale: the corpus-scale self-join lives in the shared
    * session-materialized pair frame ([[GraphOps.coPurchasePairs]],
    * fan-out bounded by the 2..20 order-size cap); item counts are one
    * hash aggregate joined back on the pair keys; N is a sanctioned
    * scalar hop (A6); the top-40 is a TakeOrdered, never a global
    * sort.
    */
  def assocRules(spark: SparkSession, sfDir: String): DataFrame = {
    // the corpus-wide distinct shuffle lives in the session-materialized
    // membership frame shared with the pair frame's own build
    val items = GraphOps.coPurchaseItems(spark, sfDir)
    val nOrders = items.select(col("l_orderkey")).distinct().count()
    val itemCnt = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = GraphOps.coPurchasePairs(spark, sfDir)
      .groupBy(col("p1"), col("p2"))
      .agg(sum(col("n")).as("pair_n"))
    val directed = pairs
      .unionByName(pairs.select(col("p2").as("p1"), col("p1").as("p2"),
        col("pair_n")))
      .withColumnRenamed("p1", "ante").withColumnRenamed("p2", "cons")
    directed
      .join(itemCnt.select(col("l_partkey").as("ante"),
        col("cnt").as("a_cnt")), Seq("ante"))
      .join(itemCnt.select(col("l_partkey").as("cons"),
        col("cnt").as("c_cnt")), Seq("cons"))
      .select(col("ante"), col("cons"), col("pair_n"),
        col("a_cnt"), col("c_cnt"),
        expr("pair_n * 1000000L div a_cnt").as("conf_e6"),
        expr(s"pair_n * ${nOrders}L * 1000000L div (a_cnt * c_cnt)")
          .as("lift_e6"),
        expr(s"pair_n * 1000000L div ${nOrders}L").as("supp_e6"))
      .orderBy(col("lift_e6").desc, col("ante"), col("cons"))
      .limit(40)
  }

  private val assocRulesOracle =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (
      |  SELECT l_orderkey FROM op GROUP BY 1
      |  HAVING COUNT(*) BETWEEN 2 AND 20),
      |n AS (SELECT COUNT(*) AS n_orders FROM sized),
      |ic AS (
      |  SELECT l_partkey, COUNT(*) AS cnt
      |  FROM op JOIN sized USING (l_orderkey) GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
      |         CAST(COUNT(*) AS BIGINT) AS pair_n
      |  FROM op a
      |  JOIN op b ON a.l_orderkey = b.l_orderkey
      |           AND a.l_partkey < b.l_partkey
      |  JOIN sized s ON s.l_orderkey = a.l_orderkey
      |  GROUP BY 1, 2),
      |directed AS (
      |  SELECT p1 AS ante, p2 AS cons, pair_n FROM pairs
      |  UNION ALL
      |  SELECT p2 AS ante, p1 AS cons, pair_n FROM pairs)
      |SELECT d.ante, d.cons, d.pair_n, a.cnt AS a_cnt, c.cnt AS c_cnt,
      |       d.pair_n * 1000000 // a.cnt AS conf_e6,
      |       d.pair_n * n_orders * 1000000 // (a.cnt * c.cnt) AS lift_e6,
      |       d.pair_n * 1000000 // n_orders AS supp_e6
      |FROM directed d
      |JOIN ic a ON a.l_partkey = d.ante
      |JOIN ic c ON c.l_partkey = d.cons
      |CROSS JOIN n
      |ORDER BY lift_e6 DESC, ante, cons LIMIT 40""".stripMargin

  // ------------------------------------------------- seasonal-naive eval
  /** Seasonal-naive forecast audit — the baseline every time-series
    * model must beat: predict each (event type, day)'s cent volume
    * with the SAME WEEKDAY LAST WEEK (lag-7), then score per type with
    * MAE and WAPE (weighted absolute percentage error: Σ|err| / Σ
    * actual — one division at the end, so the whole scorecard sits on
    * the exact cent/e6 lattice; per-day MAPE would divide per row and
    * leave the lattice).
    *
    * Scale shape: the 100 TB event scan collapses to a (type × day)
    * frame in ONE partial-aggregated pass; the lag-7 self-join and the
    * scoring rollup run on that tiny frame. No window, no sort — the
    * join key (type, day−7) is as partition-friendly as it gets.
    */
  def seasonalNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("t"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c"))
    val fc = daily.select(col("t"), (col("day") + 7).as("day"), col("c").as("fc_c"))
    daily.join(fc, Seq("t", "day"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("actual_c"),
        sum(abs(col("c") - col("fc_c"))).as("abs_err_c"))
      .select(col("t"), col("n_days"), col("actual_c"), col("abs_err_c"),
        expr("abs_err_c DIV n_days").as("mae_c"),
        expr("abs_err_c * 1000000 DIV actual_c").as("wape_e6"))
      .orderBy(col("t"))
  }

  private val seasonalNaiveOracle =
    """WITH daily AS (
      |  SELECT event_type AS t, epoch_ms(ts) // 86400000 AS day,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT a.t, a.c, f.c AS fc_c
      |  FROM daily a JOIN daily f ON f.t = a.t AND f.day = a.day - 7)
      |SELECT t, COUNT(*) AS n_days, CAST(SUM(c) AS BIGINT) AS actual_c,
      |       CAST(SUM(ABS(c - fc_c)) AS BIGINT) AS abs_err_c,
      |       CAST(SUM(ABS(c - fc_c)) AS BIGINT) // COUNT(*) AS mae_c,
      |       CAST(SUM(ABS(c - fc_c)) AS BIGINT) * 1000000
      |         // CAST(SUM(c) AS BIGINT) AS wape_e6
      |FROM j GROUP BY t ORDER BY t""".stripMargin

  // ----------------------------------------------------------- DiD
  /** Difference-in-differences (Card & Krueger lineage — the
    * workhorse quasi-experimental estimator when you can't randomize:
    * (treat_post − treat_pre) − (control_post − control_pre) cancels
    * both the group gap and the common time trend): treatment = odd
    * user_id, exposure starts Jan 16; the metric is mean event value
    * in cents. A PLACEBO estimate at a fake Jan 8 cutoff computed
    * INSIDE the pre-period ships alongside — the standard
    * parallel-trends smoke test; a placebo rivaling the estimate
    * means the design, not the treatment, moved the number.
    *
    * Exactness: cell sums are exact cent integers; the four cell
    * means and the DiD land as half-up e4 integer ratios over the
    * common denominator (n products fit comfortably in HUGEINT /
    * DECIMAL(38)); one row out.
    *
    * Scale shape: ONE conditional-aggregate pass over the event
    * fact — eight sums, no join, no window; the estimator is plan-
    * identical to a metrics rollup. */
  def did(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val pl = lit("2024-01-08").cast("timestamp")
    val dec = "decimal(38,0)"
    val cells = Tables.events(spark, sfDir)
      .select((col("user_id") % 2 === 1).as("treat"),
        (col("ts") >= cut).as("post"),
        // placebo experiment runs entirely inside the true pre-period
        (col("ts") >= pl && col("ts") < cut).as("ppost"),
        (col("ts") < pl).as("ppre"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    def s(p: Column) = sum(when(p, col("c")).otherwise(0L))
    def n(p: Column) = sum(when(p, 1L).otherwise(0L))
    val m = cells.agg(
      s(col("treat") && col("post")).as("s_tp"),
      n(col("treat") && col("post")).as("n_tp"),
      s(col("treat") && !col("post")).as("s_t0"),
      n(col("treat") && !col("post")).as("n_t0"),
      s(!col("treat") && col("post")).as("s_cp"),
      n(!col("treat") && col("post")).as("n_cp"),
      s(!col("treat") && !col("post")).as("s_c0"),
      n(!col("treat") && !col("post")).as("n_c0"),
      s(col("treat") && col("ppost")).as("q_tp"),
      n(col("treat") && col("ppost")).as("m_tp"),
      s(col("treat") && col("ppre")).as("q_t0"),
      n(col("treat") && col("ppre")).as("m_t0"),
      s(!col("treat") && col("ppost")).as("q_cp"),
      n(!col("treat") && col("ppost")).as("m_cp"),
      s(!col("treat") && col("ppre")).as("q_c0"),
      n(!col("treat") && col("ppre")).as("m_c0"))
    // did·D = Σ± s·(product of the other three cell counts); signed
    // half-up e4 over the exact common denominator D (DECIMAL(38))
    def didE4(stp: String, ntp: String, st0: String, nt0: String,
        scp: String, ncp: String, sc0: String, nc0: String): Column = {
      def d(c: String) = col(c).cast(dec)
      val dd = d(ntp) * d(nt0) * d(ncp) * d(nc0)
      val numRaw = (d(stp) * d(nt0) * d(ncp) * d(nc0)
        - d(st0) * d(ntp) * d(ncp) * d(nc0)
        - d(scp) * d(ntp) * d(nt0) * d(nc0)
        + d(sc0) * d(ntp) * d(nt0) * d(ncp)) * lit(10000L).cast(dec)
      val num2 = numRaw * lit(2L).cast(dec) + dd
      val den2 = dd * lit(2L).cast(dec)
      ((num2 - pmod(num2, den2)) / den2).cast("long")
    }
    m.select(col("n_tp").as("n_treat_post"), col("n_t0").as("n_treat_pre"),
      col("n_cp").as("n_ctrl_post"), col("n_c0").as("n_ctrl_pre"),
      didE4("s_tp", "n_tp", "s_t0", "n_t0", "s_cp", "n_cp", "s_c0",
        "n_c0").as("did_cents_e4"),
      didE4("q_tp", "m_tp", "q_t0", "m_t0", "q_cp", "m_cp", "q_c0",
        "m_c0").as("placebo_cents_e4"))
  }

  private val didOracle = {
    def cell(sql: String, alias: String) =
      s"CAST(SUM(CASE WHEN $sql THEN c ELSE 0 END) AS HUGEINT) AS s_$alias,\n" +
        s"CAST(SUM(CASE WHEN $sql THEN 1 ELSE 0 END) AS HUGEINT) AS n_$alias"
    def didE4(p: String) = {
      def s(c: String) = s"s_$p$c"
      def n(c: String) = s"n_$p$c"
      val d = s"(${n("tp")} * ${n("t0")} * ${n("cp")} * ${n("c0")})"
      val den = s"(2 * $d)"
      val raw = s"(${s("tp")} * ${n("t0")} * ${n("cp")} * ${n("c0")} " +
        s"- ${s("t0")} * ${n("tp")} * ${n("cp")} * ${n("c0")} " +
        s"- ${s("cp")} * ${n("tp")} * ${n("t0")} * ${n("c0")} " +
        s"+ ${s("c0")} * ${n("tp")} * ${n("t0")} * ${n("cp")})"
      val num2 = s"(2 * $raw * 10000 + $d)"
      // signed-floor half-up: DuckDB // truncates, so force the
      // positive mod (the cuped parity rule)
      s"(($num2 - (($num2 % $den + $den) % $den)) // $den)"
    }
    s"""WITH e AS (
       |  SELECT user_id % 2 = 1 AS treat,
       |         ts >= TIMESTAMP '2024-01-16' AS post,
       |         ts >= TIMESTAMP '2024-01-08'
       |           AND ts < TIMESTAMP '2024-01-16' AS ppost,
       |         ts < TIMESTAMP '2024-01-08' AS ppre,
       |         CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events),
       |m AS (SELECT
       |  ${cell("treat AND post", "tp")},
       |  ${cell("treat AND NOT post", "t0")},
       |  ${cell("NOT treat AND post", "cp")},
       |  ${cell("NOT treat AND NOT post", "c0")},
       |  ${cell("treat AND ppost", "ptp")},
       |  ${cell("treat AND ppre", "pt0")},
       |  ${cell("NOT treat AND ppost", "pcp")},
       |  ${cell("NOT treat AND ppre", "pc0")}
       |  FROM e)
       |SELECT CAST(n_tp AS BIGINT) AS n_treat_post,
       |       CAST(n_t0 AS BIGINT) AS n_treat_pre,
       |       CAST(n_cp AS BIGINT) AS n_ctrl_post,
       |       CAST(n_c0 AS BIGINT) AS n_ctrl_pre,
       |       CAST(${didE4("")} AS BIGINT) AS did_cents_e4,
       |       CAST(${didE4("p")} AS BIGINT) AS placebo_cents_e4
       |FROM m""".stripMargin
  }

  // --------------------------------------------- seasonality strength
  /** Seasonality strength (Hyndman's STL-based F_s, in the exact
    * variance-decomposition form): per event type, the share of
    * daily-total variance explained by the day-of-week means —
    * F = 1 − Var(residual)/Var(total) = Var_between(weekday)/Var_total
    * on the one-way ANOVA identity. The number that says whether
    * [[holtWinters]]' seasonal component is even worth fitting for a
    * series, and the [[forecastEval]] family's missing diagnostic.
    *
    * Exactness: cent-lattice daily sums; between/total sums of squares
    * as n-scaled DECIMAL(38)/HUGEINT integers via the ANOVA identity
    * (SSB = Σ_g (S_g²·n/n_g) − S²  on the n-common-denominator
    * lattice); one ROUND(·,6) division at the end. One fact pass +
    * a 7-row group stage per type. */
  def seasonalityStrength(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("t"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val byDow = daily.groupBy(col("t"), col("dow"))
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
        sum(col("c") * col("c")).as("sgg"))
    // per type: n, S, SS totals and Σ_g Sg²/ng on the common lattice —
    // Sg²/ng stays exact by scaling everything to denominator Πng? No:
    // use the ANOVA sums with per-group exact rationals folded as
    // (Sg² · L / ng) where L = lcm-free common scale n·Πng is too big;
    // instead quantize each group term ONCE: bg = Sg²·56 div ng (56 =
    // 8 weeks × 7 — an exact multiple of every possible ng on this
    // 30-day window is not guaranteed, so this is a DEFINED lattice,
    // floor both engines)
    val m = byDow
      .withColumn("bg",
        call_function("div", col("sg").cast(dec) * col("sg") * lit(10000L),
          col("ng")))
      .groupBy(col("t"))
      .agg(sum(col("ng")).cast("long").as("n"),
        sum(col("sg")).cast(dec).as("s"),
        sum(col("sgg")).cast(dec).as("ss"),
        sum(col("bg")).as("sb"))
    // the moments are exact integers; the F ratio leaves the lattice
    // in ONE identically-ordered double expression on both engines
    m.select(col("t"), col("n"),
      round((col("sb").cast("double") / 10000.0 -
        col("s").cast("double") * col("s").cast("double") / col("n")) /
        (col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")),
        6).as("seasonal_strength"))
      .orderBy(col("t"))
  }

  private val seasonalityStrengthOracle =
    """WITH daily AS (
      |  SELECT event_type AS t, epoch_ms(ts) // 86400000 AS day,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT t, day % 7 AS dow, COUNT(*) AS ng,
      |        CAST(SUM(c) AS HUGEINT) AS sg,
      |        CAST(SUM(c * c) AS HUGEINT) AS sgg
      |      FROM daily GROUP BY 1, 2),
      |m AS (SELECT t, CAST(SUM(ng) AS BIGINT) AS n,
      |        CAST(SUM(sg) AS HUGEINT) AS s,
      |        CAST(SUM(sgg) AS HUGEINT) AS ss,
      |        CAST(SUM(sg * sg * 10000 // ng) AS HUGEINT) AS sb
      |      FROM g GROUP BY 1)
      |SELECT t, n,
      |       ROUND((CAST(sb AS DOUBLE) / 10000.0
      |              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      |             / (CAST(ss AS DOUBLE)
      |                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
      |         AS seasonal_strength
      |FROM m ORDER BY t""".stripMargin

  // ------------------------------------------------ Neyman allocation
  /** Neyman-optimal stratified allocation (Neyman '34 — THE sampling
    * design result: for a fixed budget, sample each stratum ∝
    * N_h·σ_h, not ∝ N_h): strata = sources, metric = document token
    * count, budget = 100 docs. Ships each stratum's allocation
    * against proportional, plus the DESIGN EFFECT (variance ratio
    * Neyman/proportional ≤ 1 — how much the optimal design buys).
    * The sampling ops ([[graft.ops.CurationOps]] stratified/PPS) take
    * an allocation as given; this is the op that CHOOSES it.
    *
    * Exactness: N_h·σ_h = √(N_h·Σx² − (Σx)²) — one portable IEEE
    * sqrt of an exact integer, quantized to the integer lattice
    * before ANY cross-stratum sum (float Σ over strata would be
    * order-noise); allocations and the design effect are then exact
    * half-up integer ratios. One fact pass, stratum-sized output. */
  def neymanAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("r",
        round(sqrt((col("nh") * col("sxx") - col("sx") * col("sx"))
          .cast("double")), 0).cast("long"))
    val tot = m.agg(sum(col("r")).cast("long").as("rt"),
      sum(col("nh")).cast("long").as("nt"),
      sum(call_function("div", col("r") * col("r"), col("nh")))
        .cast("long").as("q"))
    m.crossJoin(broadcast(tot))
      .select(col("source"), col("nh").as("n_docs"),
        Parity.halfUpDiv(col("r") * 1000000L, col("nh")).as("sigma_e6"),
        Parity.halfUpDiv(lit(100L) * col("r"), col("rt")).as("neyman_n"),
        Parity.halfUpDiv(lit(100L) * col("nh"), col("nt")).as("proportional_n"),
        Parity.halfUpDiv(col("rt") * col("rt") * 1000000L, col("nt") * col("q"))
          .as("design_effect_e6"))
      .orderBy(col("source"))
  }

  private val neymanAllocOracle =
    """WITH m AS (
      |  SELECT source, COUNT(*) AS nh,
      |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sx,
      |         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)
      |                  * len(string_split(text, ' '))) AS BIGINT) AS sxx
      |  FROM documents GROUP BY source),
      |r AS (SELECT *, CAST(ROUND(sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)))
      |                     AS BIGINT) AS r FROM m),
      |t AS (SELECT CAST(SUM(r) AS BIGINT) AS rt,
      |        CAST(SUM(nh) AS BIGINT) AS nt,
      |        CAST(SUM(r * r // nh) AS BIGINT) AS q FROM r)
      |SELECT source, nh AS n_docs,
      |       (2 * r * 1000000 + nh) // (2 * nh) AS sigma_e6,
      |       (2 * 100 * r + rt) // (2 * rt) AS neyman_n,
      |       (2 * 100 * nh + nt) // (2 * nt) AS proportional_n,
      |       (2 * rt * rt * 1000000 + nt * q) // (2 * nt * q)
      |         AS design_effect_e6
      |FROM r CROSS JOIN t ORDER BY source""".stripMargin

  // ------------------------------------------------- power analysis
  /** Two-sample power analysis / minimum detectable effect — the
    * question asked BEFORE every experiment ([[cuped]] shrinks the
    * variance; this says what that buys): at α = 0.05 two-sided and
    * 80% power, MDE = (z_{α/2} + z_β)·σ·√(2/n) per arm. Computed per
    * event type from the event-value variance, both in absolute
    * cents and relative to the mean — the number that says "this
    * metric can detect a 2% move with a week of traffic" or "don't
    * bother".
    *
    * Exactness: σ² is the exact n-scaled integer moment
    * (n·Σc²−(Σc)², DECIMAL(38)/HUGEINT); the single sqrt and the
    * fixed z-sum (1.959964 + 0.841621, e6 constants) leave the
    * lattice once at the end, ROUND(·,4). One fact pass, type-sized
    * output. */
  def powerMde(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val m = Tables.events(spark, sfDir)
      .select(col("event_type").as("t"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    // half the traffic per arm; z_{0.025}+z_{0.2} = 2.801585 (e6)
    m.select(col("t"), col("n"),
      round(col("sc").cast("double") / col("n") / 100.0, 4)
        .as("mean_value"),
      round(lit(2.801585) *
        sqrt((col("n").cast(dec) * col("scc") - col("sc").cast(dec) *
          col("sc")).cast("double")) / col("n") *
        sqrt(lit(2.0) / expr("n div 2")) / 100.0, 4).as("mde_value"),
      round(lit(2.801585) *
        sqrt((col("n").cast(dec) * col("scc") - col("sc").cast(dec) *
          col("sc")).cast("double")) / col("n") *
        sqrt(lit(2.0) / expr("n div 2")) /
        (col("sc").cast("double") / col("n")) * 100.0, 4)
        .as("mde_pct"))
      .orderBy(col("t"))
  }

  private val powerMdeOracle =
    """WITH m AS (
      |  SELECT event_type AS t, COUNT(*) AS n,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
      |           AS sc,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)
      |                  * CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
      |           AS scc
      |  FROM events GROUP BY 1)
      |SELECT t, n,
      |       ROUND(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean_value,
      |       ROUND(2.801585 * sqrt(CAST(n * scc - sc * sc AS DOUBLE)) / n
      |             * sqrt(2.0 / (n // 2)) / 100.0, 4) AS mde_value,
      |       ROUND(2.801585 * sqrt(CAST(n * scc - sc * sc AS DOUBLE)) / n
      |             * sqrt(2.0 / (n // 2))
      |             / (CAST(sc AS DOUBLE) / n) * 100.0, 4) AS mde_pct
      |FROM m ORDER BY t""".stripMargin

  // --------------------------------------------------------- CUPED
  /** CUPED variance reduction (Deng et al. WSDM'13 — the adjustment
    * every large A/B platform applies before reading an experiment):
    * with X = each unit's PRE-period metric and Y = the in-experiment
    * metric, Y_adj = Y − θ(X − X̄) at θ = cov(X,Y)/var(X) keeps the
    * treatment effect unbiased while shrinking variance by exactly
    * ρ² = cov²/(var X · var Y). This op computes θ and the reduction
    * from the orders fact (pre/post 1998 split per customer) — the
    * number that decides how much traffic an experiment needs.
    *
    * Exactness: dollar-lattice sums; central moments as n-scaled
    * integers in DECIMAL(38) (Sx² passes 2^63 at sf0.1 — the
    * pcaPower precedent); θ is an exact signed half-up integer
    * division of decimals (the quotient of an exact multiple is
    * integral, so the decimal divide is exact); only ρ² leaves the
    * lattice, as one ROUND(·,6) of a [0,1] double.
    *
    * Scale shape: one conditional-sum pass over the orders fact keyed
    * by customer, then a 1-row moment aggregate — the A/B metric
    * pipeline's natural shape. */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val per = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice) AS BIGINT)").as("d"),
        (col("o_orderdate") < cut).as("pre"))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("pre"), col("d")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("d")).otherwise(0L)).as("y"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val dec = "decimal(38,0)"
    val withC = m.select(col("n"), col("sx"), col("sy"),
      (col("n").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx"))
        .as("vx"),
      (col("n").cast(dec) * col("syy") - col("sy").cast(dec) * col("sy"))
        .as("vy"),
      (col("n").cast(dec) * col("sxy") - col("sx").cast(dec) * col("sy"))
        .as("cov"))
    // signed half-up θ in e6: floor((2·cov·1e6 + vx) / (2·vx)) — the
    // numerator is adjusted to an exact multiple, so the decimal
    // divide is exact and integral
    val num = col("cov") * lit(2000000L).cast(dec) + col("vx")
    val den = col("vx") * lit(2L).cast(dec)
    withC.select(col("n").as("n_units"),
      col("sx").cast("long").as("sum_pre"),
      col("sy").cast("long").as("sum_post"),
      ((num - pmod(num, den)) / den).cast("long").as("theta_e6"),
      round(col("cov").cast("double") * col("cov").cast("double") /
        (col("vx").cast("double") * col("vy").cast("double")), 6)
        .as("var_reduction"))
  }

  private val cupedOracle =
    """WITH per AS (
      |  SELECT o_custkey,
      |         SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
      |                  THEN CAST(round(o_totalprice) AS BIGINT)
      |                  ELSE 0 END) AS x,
      |         SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
      |                  THEN 0
      |                  ELSE CAST(round(o_totalprice) AS BIGINT) END) AS y
      |  FROM orders GROUP BY o_custkey),
      |m AS (SELECT COUNT(*) AS n,
      |        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |        CAST(SUM(x*x) AS HUGEINT) AS sxx,
      |        CAST(SUM(y*y) AS HUGEINT) AS syy,
      |        CAST(SUM(x*y) AS HUGEINT) AS sxy
      |      FROM per),
      |c AS (SELECT n, sx, sy,
      |        n * sxx - sx * sx AS vx,
      |        n * syy - sy * sy AS vy,
      |        n * sxy - sx * sy AS cov
      |      FROM m)
      |SELECT n AS n_units, CAST(sx AS BIGINT) AS sum_pre,
      |       CAST(sy AS BIGINT) AS sum_post,
      |       -- cov can be negative and DuckDB's // truncates toward
      |       -- zero, so force FLOOR via the positive mod (matches
      |       -- Spark's (num - pmod)/den exactly)
      |       CAST(((2 * cov * 1000000 + vx)
      |             - (((2 * cov * 1000000 + vx) % (2 * vx) + 2 * vx)
      |                % (2 * vx))) // (2 * vx) AS BIGINT) AS theta_e6,
      |       ROUND(CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
      |             / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6)
      |         AS var_reduction
      |FROM c""".stripMargin

  // ------------------------------------------- 1-D Wasserstein drift
  /** Per-source Wasserstein-1 (earth mover's) distance between the
    * source's document-length distribution and the rest of the
    * corpus — the drift METRIC beside PSI's binned divergence: W1 is
    * bin-free, respects the value ordering (a source whose docs grew
    * by 5 tokens moves a little; PSI can score both as "all mass
    * changed"), and in 1-D it is EXACT: W1 = ∫|F_A − F_B| dv = Σ over
    * the merged value lattice of gap·|F_A − F_B|. With rational CDFs
    * over the common denominator n_A·n_B the integrand is
    * |c_A·n_B − c_B·n_A| — exact integers end to end; one half-up e6
    * division renders the distance in tokens.
    *
    * Scale shape: the corpus collapses to (source × length) counts in
    * one pass; the axis frame is (sources × distinct lengths) —
    * dimension-sized — with per-source cumsum windows (parallel by
    * source, never global). */
  def wasserstein(spark: SparkSession, sfDir: String): DataFrame = {
    val lens = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("len"))
    val bySrc = lens.groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("c"))
    val glob = lens.groupBy(col("len")).agg(count(lit(1)).as("cg"))
    val nSrc = lens.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val nAll = lens.agg(count(lit(1)).as("nt"))
    // full axis: every source × every distinct length in the corpus
    val axis = nSrc.crossJoin(broadcast(glob))
      .join(bySrc, Seq("source", "len"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(nAll))
      .withColumn("cr", col("cg") - col("c")) // rest-of-corpus count
      .withColumn("nr", col("nt") - col("ns"))
    val w = Window.partitionBy(col("source")).orderBy(col("len"))
    axis
      .withColumn("fs", sum(col("c")).over(w))
      .withColumn("fr", sum(col("cr")).over(w))
      .withColumn("gap", lead(col("len"), 1).over(w) - col("len"))
      .filter(col("gap").isNotNull)
      .groupBy(col("source"), col("ns"), col("nr"))
      .agg(sum(col("gap") * abs(col("fs") * col("nr")
        - col("fr") * col("ns"))).cast("long").as("num"))
      .select(col("source"), col("ns").as("n_docs"),
        Parity.halfUpDiv(col("num") * 1000000L, col("ns") * col("nr"))
          .as("w1_tokens_e6"))
      .orderBy(col("source"))
  }

  private val wassersteinOracle =
    """WITH l AS (SELECT source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |           FROM documents),
      |bs AS (SELECT source, len, COUNT(*) AS c FROM l GROUP BY 1, 2),
      |g AS (SELECT len, COUNT(*) AS cg FROM l GROUP BY 1),
      |ns AS (SELECT source, COUNT(*) AS nsz FROM l GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS ntot FROM l),
      |axis AS (
      |  SELECT ns.source, g.len, ns.nsz, COALESCE(bs.c, 0) AS c,
      |         g.cg - COALESCE(bs.c, 0) AS cr, nt.ntot - ns.nsz AS nr
      |  FROM ns CROSS JOIN g
      |  LEFT JOIN bs ON bs.source = ns.source AND bs.len = g.len
      |  CROSS JOIN nt),
      |cum AS (
      |  SELECT source, nsz, nr,
      |         SUM(c) OVER (PARTITION BY source ORDER BY len) AS fs,
      |         SUM(cr) OVER (PARTITION BY source ORDER BY len) AS fr,
      |         LEAD(len) OVER (PARTITION BY source ORDER BY len) - len
      |           AS gap
      |  FROM axis)
      |SELECT source, CAST(nsz AS BIGINT) AS n_docs,
      |       CAST((2*CAST(SUM(gap * ABS(fs * nr - fr * nsz)) AS BIGINT)
      |               *1000000 + nsz*nr)
      |            - (2*CAST(SUM(gap * ABS(fs * nr - fr * nsz)) AS BIGINT)
      |               *1000000 + nsz*nr) % (2*nsz*nr)
      |            AS BIGINT) // (2*nsz*nr) AS w1_tokens_e6
      |FROM cum WHERE gap IS NOT NULL
      |GROUP BY source, nsz, nr ORDER BY source""".stripMargin

  // ------------------------------------------------- symbolic motifs
  /** SAX-style symbolic motif mining over the event stream — the
    * time-series indexing trick (Lin/Keogh's Symbolic Aggregate
    * approXimation): collapse the series to PIECEWISE AGGREGATES
    * (8-hour segment sums per event type), DISCRETIZE each segment
    * against the series' own median into a binary alphabet, and count
    * sliding 3-symbol WORDS — the motif histogram that powers
    * similarity search and anomaly flags over months of telemetry
    * without ever comparing raw points.
    *
    * Exactness: PAA values are segment SUMS (integers — the mean×w
    * rescale of textbook SAX, same ordering); the median split
    * compares 2·value against the interpolated median of the DOUBLED
    * values, which is integer-exact for any parity of n (a+b stays on
    * the integer lattice); the Gaussian-breakpoint alphabet of
    * full SAX needs z-scores — the median split is the 2-symbol
    * special case that stays exact.
    *
    * Scale shape: the raw scan collapses to (type × epoch-hour)
    * counts in one partial-aggregated pass; PAA, the median (over ≤
    * ~90 segments per type), and the two word-forming self-joins all
    * run on the collapsed frame. Motif words form by joining seg+1
    * and seg+2 — so a gap in the series simply forms no word, in both
    * engines alike.
    */
  def symbolicMotifs(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("t"),
        expr("unix_millis(ts) div 3600000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val paa = hourly.groupBy(col("t"), expr("hr DIV 8").as("seg"))
      .agg(sum(col("cnt")).as("v"))
    val med = paa.groupBy(col("t"))
      .agg(expr("percentile(2 * v, 0.5D)").as("med2"))
    val sym = paa.join(broadcast(med), Seq("t"))
      .select(col("t"), col("seg"),
        when(col("v") * 2 > col("med2"), 1).otherwise(0).as("s"))
    val words = sym.as("a")
      .join(sym.as("b"), col("a.t") === col("b.t") &&
        col("b.seg") === col("a.seg") + 1)
      .join(sym.as("c"), col("a.t") === col("c.t") &&
        col("c.seg") === col("a.seg") + 2)
      .select(col("a.t").as("t"),
        (col("a.s") * 4 + col("b.s") * 2 + col("c.s")).as("word"))
    words.groupBy(col("t"), col("word"))
      .agg(count(lit(1)).as("n_motifs"))
      .orderBy(col("t"), col("word"))
  }

  private val symbolicMotifsOracle =
    """WITH hourly AS (
      |  SELECT event_type AS t, epoch_ms(ts) // 3600000 AS hr,
      |         COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |paa AS (SELECT t, hr // 8 AS seg, SUM(cnt) AS v
      |        FROM hourly GROUP BY 1, 2),
      |med AS (SELECT t, quantile_cont(2 * v, 0.5) AS med2 FROM paa GROUP BY 1),
      |sym AS (
      |  SELECT paa.t, seg,
      |         CASE WHEN v * 2 > med2 THEN 1 ELSE 0 END AS s
      |  FROM paa JOIN med ON med.t = paa.t)
      |SELECT a.t, a.s * 4 + b.s * 2 + c.s AS word,
      |       COUNT(*) AS n_motifs
      |FROM sym a
      |JOIN sym b ON b.t = a.t AND b.seg = a.seg + 1
      |JOIN sym c ON c.t = a.t AND c.seg = a.seg + 2
      |GROUP BY 1, 2 ORDER BY a.t, word""".stripMargin

  // ---------------------------------------------- off-policy evaluation
  /** Off-policy evaluation by replay (Li et al. 2011's IPS estimator
    * and its self-normalized variant) — the counterfactual question a
    * decision system asks its logs: "had we always played the best
    * action, what reward would we have seen?" The logged events are
    * treated as uniform-propensity decisions (action = event type,
    * reward = the event's cent value): the policy is chosen on the
    * TRAIN half of the days (argmax total reward, id tiebreak), and
    * evaluated on the EVAL half by inverse-propensity scoring —
    * V̂_IPS = (K/n_eval)·Σ_matched r — next to the self-normalized
    * V̂_SNIPS = Σ_matched r / n_matched, whose constant weights cancel.
    * Both sit on the exact cent lattice (one floor division each).
    *
    * Scale shape: one (action)-keyed aggregation over train, one
    * 1-row argmax broadcast back, one conditional aggregation over
    * eval. The temporal split is a partition-pruning predicate at
    * 100 TB (day-partitioned events), not a shuffle.
    */
  def ipsEval(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type").as("action"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("r_c"))
    val cut = ev.agg((min(col("day")) + lit(15L)).as("cut"))
    val split = ev.crossJoin(broadcast(cut))
    val chosen = split.filter(col("day") < col("cut"))
      .groupBy(col("action")).agg(sum(col("r_c")).as("train_r_c"))
      .agg(max(struct(col("train_r_c"), col("action"))).as("w"))
      .select(col("w.action").as("pi_action"),
        col("w.train_r_c").as("train_r_c"))
    split.filter(col("day") >= col("cut"))
      .crossJoin(broadcast(chosen))
      .groupBy(col("pi_action"), col("train_r_c"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("action") === col("pi_action"), 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(col("action") === col("pi_action"), col("r_c")).otherwise(0L))
          .as("m_r_c"))
      .select(col("pi_action"), col("train_r_c"), col("n_eval"),
        col("n_matched"), col("m_r_c"),
        expr("m_r_c * 5 DIV n_eval").as("ips_c"),
        expr("m_r_c DIV NULLIF(n_matched, 0)").as("snips_c"))
  }

  private val ipsEvalOracle =
    """WITH ev AS (
      |  SELECT event_type AS action, epoch_ms(ts) // 86400000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS r_c
      |  FROM events),
      |cut AS (SELECT MIN(day) + 15 AS cut FROM ev),
      |chosen AS (
      |  SELECT action AS pi_action, train_r_c FROM (
      |    SELECT action, CAST(SUM(r_c) AS BIGINT) AS train_r_c FROM ev, cut
      |    WHERE day < cut GROUP BY action)
      |  ORDER BY train_r_c DESC, action DESC LIMIT 1)
      |SELECT pi_action, train_r_c, COUNT(*) AS n_eval,
      |       CAST(SUM(CASE WHEN action = pi_action THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_matched,
      |       CAST(SUM(CASE WHEN action = pi_action THEN r_c ELSE 0 END)
      |            AS BIGINT) AS m_r_c,
      |       CAST(SUM(CASE WHEN action = pi_action THEN r_c ELSE 0 END)
      |            AS BIGINT) * 5 // COUNT(*) AS ips_c,
      |       CAST(SUM(CASE WHEN action = pi_action THEN r_c ELSE 0 END)
      |            AS BIGINT)
      |         // NULLIF(CAST(SUM(CASE WHEN action = pi_action THEN 1
      |                               ELSE 0 END) AS BIGINT), 0) AS snips_c
      |FROM ev CROSS JOIN cut CROSS JOIN chosen
      |WHERE day >= cut
      |GROUP BY pi_action, train_r_c""".stripMargin

  // ------------------------------------------- doubly robust eval
  /** Doubly-robust off-policy evaluation (Dudík–Langford–Li '11) —
    * the estimator that closes [[ipsEval]]'s gap: IPS is unbiased but
    * high-variance, the direct method (a reward model q̂) is
    * low-variance but biased; DR = q̂(x, π) + 1{a=π}·(r − q̂(x, a))/p
    * is unbiased if EITHER is right. Same logged-bandit framing as
    * ipsEval (actions = event types, uniform behavior propensity 1/5,
    * target π = train-window argmax): q̂ is the per-(day-of-week,
    * action) train-window mean reward with a global-mean fallback for
    * unseen cells, learned as truncating-div integers so both engines
    * hold the identical model; the estimate sums integer terms and
    * divides once. Ships DM, IPS and DR side by side — the textbook
    * variance-bias triangle in one row.
    *
    * Scale shape: the reward model is a 7×|actions| broadcast; the
    * eval pass is one scan with two broadcast joins and a 1-row
    * rollup. Nothing data-sized ever shuffles. */
  def drEval(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type").as("action"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("r_c"))
      .withColumn("dow", expr("day % 7"))
    val cut = ev.agg((min(col("day")) + lit(15L)).as("cut"))
    val split = ev.crossJoin(broadcast(cut))
    val train = split.filter(col("day") < col("cut"))
    val chosen = train
      .groupBy(col("action")).agg(sum(col("r_c")).as("train_r_c"))
      .agg(max(struct(col("train_r_c"), col("action"))).as("w"))
      .select(col("w.action").as("pi_action"))
    val qhat = train.groupBy(col("dow"), col("action"))
      .agg(sum(col("r_c")).as("s"), count(lit(1)).as("c"))
      .select(col("dow"), col("action"), expr("s div c").as("q_c"))
    val qglob = train.agg(sum(col("r_c")).as("s"), count(lit(1)).as("c"))
      .select(expr("s div c").as("qg"))
    split.filter(col("day") >= col("cut"))
      .crossJoin(broadcast(chosen)).crossJoin(broadcast(qglob))
      .join(broadcast(qhat.select(col("dow"), col("action"),
        col("q_c").as("q_a"))), Seq("dow", "action"), "left_outer")
      .join(broadcast(qhat.select(col("dow"),
        col("action").as("pi_action"), col("q_c").as("q_pi"))),
        Seq("dow", "pi_action"), "left_outer")
      .withColumn("q_a", coalesce(col("q_a"), col("qg")))
      .withColumn("q_pi", coalesce(col("q_pi"), col("qg")))
      .groupBy(col("pi_action"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("q_pi")).as("dm_sum"),
        sum(when(col("action") === col("pi_action"),
          lit(5L) * col("r_c")).otherwise(0L)).as("ips_sum"),
        sum(when(col("action") === col("pi_action"),
          lit(5L) * (col("r_c") - col("q_a"))).otherwise(0L))
          .as("corr_sum"))
      .select(col("pi_action"), col("n_eval"),
        expr("dm_sum div n_eval").as("dm_c"),
        expr("ips_sum div n_eval").as("ips_c"),
        expr("(dm_sum + corr_sum) div n_eval").as("dr_c"))
  }

  private val drEvalOracle =
    """WITH ev AS (
      |  SELECT event_type AS action, epoch_ms(ts) // 86400000 AS day,
      |         (epoch_ms(ts) // 86400000) % 7 AS dow,
      |         CAST(round(value * 100) AS BIGINT) AS r_c
      |  FROM events),
      |cut AS (SELECT MIN(day) + 15 AS cut FROM ev),
      |train AS (SELECT * FROM ev, cut WHERE day < cut),
      |chosen AS (
      |  SELECT action AS pi_action FROM (
      |    SELECT action, CAST(SUM(r_c) AS BIGINT) AS train_r_c
      |    FROM train GROUP BY action)
      |  ORDER BY train_r_c DESC, action DESC LIMIT 1),
      |qhat AS (
      |  SELECT dow, action,
      |         CAST(SUM(r_c) AS BIGINT) // COUNT(*) AS q_c
      |  FROM train GROUP BY 1, 2),
      |qglob AS (
      |  SELECT CAST(SUM(r_c) AS BIGINT) // COUNT(*) AS qg FROM train),
      |scored AS (
      |  SELECT ev.*, chosen.pi_action,
      |         COALESCE(qa.q_c, qg) AS q_a,
      |         COALESCE(qp.q_c, qg) AS q_pi
      |  FROM ev CROSS JOIN cut CROSS JOIN chosen CROSS JOIN qglob
      |  LEFT JOIN qhat qa ON qa.dow = ev.dow AND qa.action = ev.action
      |  LEFT JOIN qhat qp ON qp.dow = ev.dow AND qp.action = pi_action
      |  WHERE day >= cut)
      |SELECT pi_action, COUNT(*) AS n_eval,
      |  CAST(SUM(q_pi) AS BIGINT) // COUNT(*) AS dm_c,
      |  CAST(SUM(CASE WHEN action = pi_action THEN 5 * r_c ELSE 0 END)
      |       AS BIGINT) // COUNT(*) AS ips_c,
      |  (CAST(SUM(q_pi) AS BIGINT)
      |   + CAST(SUM(CASE WHEN action = pi_action
      |              THEN 5 * (r_c - q_a) ELSE 0 END) AS BIGINT))
      |    // COUNT(*) AS dr_c
      |FROM scored GROUP BY pi_action""".stripMargin

  // ------------------------------------------------- UCB1 replay
  /** UCB1 bandit replay (Auer–Cesa-Bianchi–Fischer '02) over the
    * logged event stream — the exploration-policy audit beside the
    * off-policy estimators ([[ipsEval]], [[drEval]]): replay the
    * days in order, and each day pick the arm (event type) maximizing
    * mean + √(2·ln N / n) over the PRIOR days' logged rewards. The
    * textbook replay is sequential; here it is one windowed plan over
    * the bounded day×arm grid (the survivalKm day-domain discipline):
    * cumulative per-arm sums/counts via LAG-less prior-day windows,
    * the bonus quantized ONCE to e6 (round-half-up of the same exact
    * integer inputs in both engines), the pick a per-day rank with
    * unseen-arms-first then ucb-desc then name — fully parallel over
    * days, zero iteration. Output per day: the pick, its prior
    * stats, the bonus, and that day's realized reward of the pick.
    *
    * Scale shape: one (day, arm) hash aggregate over the corpus, then
    * windows over the grid (days × arms, bounded by the calendar not
    * the data) — at 100 TB the grid is still a few thousand rows. */
  // -------------------------------------------------- GAE advantage
  /** Truncation horizon for the advantage sum — the standard n-step
    * cutoff; 16 steps at γλ = 1/2 leaves a 2⁻¹⁶ tail. */
  private val GaeHorizon = 16

  /** Generalized Advantage Estimation (Schulman et al. ICLR'16) over
    * the event stream's per-user trajectories — the PPO-side sibling
    * of [[graft.ops.TextOps.grpoAdvantage]]'s critic-free
    * normalization: each user's ordered events form an episode,
    * `purchase` value is the reward, the critic is the constant
    * global mean reward b, and A_t = Σᵢ (γλ)ⁱ δ_{t+i} with
    * δ_t = r_t + γV − V (terminal step drops the bootstrap).
    *
    * Exactness — the op's whole point: γ = 1/2, λ = 1 makes every
    * weight a power of two, so the advantage is computed ENTIRELY in
    * long arithmetic — δ is carried at HALF-scale (2r − b avoids the
    * b/2 split), the truncated sum at 2¹⁶ scale
    * (Σ 2^(16−i)·δ_h — exact integers, max ≈ 2.3e11), and no double
    * exists anywhere in the query. The one division (the baseline
    * b = Σr/n) is truncating integer division on nonnegative operands
    * (== DuckDB `//`).
    *
    * Scale shape: one row_number window per user (episodes are
    * user-partitioned — embarrassingly parallel), a banded self-join
    * on (user, rn ≤ rn' ≤ rn+H) producing n·H rows — LINEAR in
    * events, never quadratic in episode length — and a user-sized
    * rollup. */
  def gaeAdvantage(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)
          .as("r_e2"))
    val rk = ev
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))))
      .withColumn("n_u",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
    val b = ev.agg(
      call_function("div", sum(col("r_e2")), count(lit(1))).as("b_e2"))
    val steps = rk.crossJoin(broadcast(b))
      .select(col("user_id"), col("rn"), col("b_e2"),
        when(col("rn") === col("n_u"),
          lit(2L) * col("r_e2") - lit(2L) * col("b_e2"))
          .otherwise(lit(2L) * col("r_e2") - col("b_e2")).as("delta_h"))
    val fut = steps
      .select(col("user_id").as("f_uid"), col("rn").as("rn2"),
        col("delta_h").as("d2"))
    val adv = steps.join(fut,
        col("user_id") === col("f_uid") &&
          col("rn2") >= col("rn") && col("rn2") <= col("rn") + GaeHorizon)
      .groupBy(col("user_id"), col("rn"), col("b_e2"))
      .agg(sum(expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST($GaeHorizon - (rn2 - rn) AS INT)) * d2"))
        .cast("long").as("adv_h16"))
    adv.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_steps"),
        max(col("b_e2")).as("b_e2"),
        sum(col("adv_h16")).cast("long").as("sum_adv_h16"),
        max(col("adv_h16")).as("max_adv_h16"),
        min(col("adv_h16")).as("min_adv_h16"))
      .orderBy(col("user_id"))
  }

  private val gaeAdvantageOracle =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN event_type = 'purchase'
       |         THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END AS r_e2
       |  FROM events),
       |rk AS (SELECT *,
       |         ROW_NUMBER() OVER (PARTITION BY user_id
       |                            ORDER BY ts, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY user_id) AS n_u
       |       FROM ev),
       |b AS (SELECT CAST(SUM(r_e2) AS BIGINT) // COUNT(*) AS b_e2 FROM ev),
       |st AS (SELECT user_id, rn, b_e2,
       |         CASE WHEN rn = n_u THEN 2 * r_e2 - 2 * b_e2
       |              ELSE 2 * r_e2 - b_e2 END AS delta_h
       |       FROM rk CROSS JOIN b),
       |adv AS (
       |  SELECT a.user_id, a.rn, a.b_e2,
       |    CAST(SUM((CAST(1 AS BIGINT)
       |              << CAST($GaeHorizon - (f.rn - a.rn) AS INTEGER))
       |             * f.delta_h) AS BIGINT) AS adv_h16
       |  FROM st a JOIN st f ON a.user_id = f.user_id
       |                     AND f.rn BETWEEN a.rn AND a.rn + $GaeHorizon
       |  GROUP BY 1, 2, 3)
       |SELECT user_id, COUNT(*) AS n_steps,
       |       MAX(b_e2) AS b_e2,
       |       CAST(SUM(adv_h16) AS BIGINT) AS sum_adv_h16,
       |       MAX(adv_h16) AS max_adv_h16,
       |       MIN(adv_h16) AS min_adv_h16
       |FROM adv GROUP BY user_id ORDER BY user_id""".stripMargin

  def ucbBandit(spark: SparkSession, sfDir: String): DataFrame =
    ucbFromCells(ucbCells(Tables.events(spark, sfDir)))

  /** The day×arm reward ledger — commutative counts/sums, so the
    * streaming twin can merge arrival waves into it in any order and
    * re-fold through [[ucbFromCells]]. */
  private[graft] def ucbCells(events: DataFrame): DataFrame =
    events
      .select(col("event_type").as("arm"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("r_c"))
      .groupBy(col("day"), col("arm"))
      .agg(count(lit(1)).as("c"), sum(col("r_c")).as("s"))

  /** The windowed UCB1 kernel over a (day, arm, c, s) ledger — shared
    * verbatim between the batch op and the streaming re-fold. */
  private[graft] def ucbFromCells(cells0: DataFrame): DataFrame = {
    val cells = cells0
    // complete day×arm grid so unseen arms exist as rows
    val grid = cells.select(col("day")).distinct()
      .crossJoin(cells.select(col("arm")).distinct())
      .join(cells, Seq("day", "arm"), "left_outer")
      .na.fill(0L, Seq("c", "s"))
    val prior = Window.partitionBy(col("arm")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = grid
      .withColumn("n_prior", coalesce(sum(col("c")).over(prior), lit(0L)))
      .withColumn("s_prior", coalesce(sum(col("s")).over(prior), lit(0L)))
      .withColumn("nt", sum(col("n_prior")).over(
        Window.partitionBy(col("day"))))
      .withColumn("mean_e6", when(col("n_prior") === 0L, lit(0L))
        .otherwise(expr(
          "(2 * 1000000 * s_prior + n_prior) div (2 * n_prior)")))
      .withColumn("bonus_e6", when(col("n_prior") === 0L, lit(0L))
        .otherwise(round(sqrt(lit(2.0) *
          log(col("nt").cast("double")) /
          col("n_prior").cast("double")) * lit(1000000.0), 0)
          .cast("long")))
      .withColumn("ucb_e6", col("mean_e6") + col("bonus_e6"))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("day"))
        .orderBy(when(col("n_prior") === 0L, 0L).otherwise(1L),
          col("ucb_e6").desc, col("arm"))))
      .filter(col("rk") === 1)
      .select(col("day"), col("arm").as("chosen"), col("n_prior"),
        col("mean_e6"), col("bonus_e6"), col("ucb_e6"),
        col("c").as("day_pulls"), col("s").as("day_reward_c"))
      .orderBy(col("day"))
  }

  private val ucbBanditOracle =
    """WITH ev AS (
      |  SELECT event_type AS arm, epoch_ms(ts) // 86400000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS r_c
      |  FROM events),
      |cells AS (
      |  SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS c,
      |         CAST(SUM(r_c) AS BIGINT) AS s
      |  FROM ev GROUP BY 1, 2),
      |grid AS (
      |  SELECT d.day, a.arm, COALESCE(c.c, 0) AS c, COALESCE(c.s, 0) AS s
      |  FROM (SELECT DISTINCT day FROM cells) d
      |  CROSS JOIN (SELECT DISTINCT arm FROM cells) a
      |  LEFT JOIN cells c ON c.day = d.day AND c.arm = a.arm),
      |pri AS (
      |  SELECT *,
      |    COALESCE(SUM(c) OVER (PARTITION BY arm ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_prior,
      |    COALESCE(SUM(s) OVER (PARTITION BY arm ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS s_prior
      |  FROM grid),
      |sc AS (
      |  SELECT *, SUM(n_prior) OVER (PARTITION BY day) AS nt,
      |    CASE WHEN n_prior = 0 THEN 0
      |      ELSE (2 * 1000000 * s_prior + n_prior) // (2 * n_prior)
      |      END AS mean_e6,
      |    CASE WHEN n_prior = 0 THEN 0
      |      ELSE CAST(round(sqrt(2.0 * ln(CAST(SUM(n_prior)
      |             OVER (PARTITION BY day) AS DOUBLE))
      |             / CAST(n_prior AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      END AS bonus_e6
      |  FROM pri)
      |SELECT day, arm AS chosen, CAST(n_prior AS BIGINT) AS n_prior,
      |       CAST(mean_e6 AS BIGINT) AS mean_e6, bonus_e6,
      |       CAST(mean_e6 + bonus_e6 AS BIGINT) AS ucb_e6, c AS day_pulls,
      |       s AS day_reward_c
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY day
      |        ORDER BY CASE WHEN n_prior = 0 THEN 0 ELSE 1 END,
      |                 mean_e6 + bonus_e6 DESC, arm) AS rk
      |      FROM sc)
      |WHERE rk = 1 ORDER BY day""".stripMargin

  // ------------------------------------------------------------ registry
  // ---------------------------------------------- post-stratification
  /** Post-stratified metric estimation — the survey-statistics
    * correction an eval pipeline applies when the judged subset's
    * composition drifts from the population's: the eval docs (every
    * 7th) carry a mean score (chars) whose language mix differs from
    * the corpus; the post-stratified estimate reweights each
    * language's eval mean by the POPULATION share,
    * ps = Σ_s (N_s/N)·(sum_s/n_s), removing the composition bias.
    * Per-language rows carry both weights; the naive and
    * post-stratified totals ride every row (the summary-broadcast
    * pattern), each term floored once on the e6 lattice so both
    * engines sum identical integers.
    *
    * Scale shape: two hash aggregations (population census, eval
    * census) joined on the stratum key, one 1-row rollup broadcast
    * back. Strata counts are the only thing that ever shuffles.
    */
  def postStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pop = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_pop"))
    val ev = docs.filter(col("doc_id") % 7 === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_eval"), sum(col("n_chars")).as("sum_eval"))
    val strata = pop.join(ev, Seq("lang"))
      .crossJoin(broadcast(pop.agg(sum(col("n_pop")).as("n_tot"))))
      .withColumn("term_e6",
        expr("n_pop * sum_eval * 1000000 DIV (n_tot * n_eval)"))
    val totals = strata.agg(
      sum(col("n_eval")).as("ne_tot"), sum(col("sum_eval")).as("se_tot"),
      sum(col("term_e6")).as("ps_e6"))
      .select(expr("se_tot * 1000000 DIV ne_tot").as("naive_e6"),
        col("ps_e6"))
    strata.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_pop"), col("n_eval"),
        expr("sum_eval * 1000000 DIV n_eval").as("mean_eval_e6"),
        col("term_e6"), col("naive_e6"), col("ps_e6"))
      .orderBy(col("lang"))
  }

  private val postStratifiedOracle =
    """WITH pop AS (SELECT lang, COUNT(*) AS n_pop FROM documents GROUP BY 1),
      |ev AS (SELECT lang, COUNT(*) AS n_eval,
      |              CAST(SUM(n_chars) AS BIGINT) AS sum_eval
      |       FROM documents WHERE doc_id % 7 = 0 GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_pop) AS BIGINT) AS n_tot FROM pop),
      |strata AS (
      |  SELECT lang, n_pop, n_eval, sum_eval,
      |         n_pop * sum_eval * 1000000 // (n_tot * n_eval) AS term_e6
      |  FROM pop JOIN ev USING (lang) CROSS JOIN t),
      |tot AS (
      |  SELECT CAST(SUM(sum_eval) AS BIGINT) * 1000000
      |           // CAST(SUM(n_eval) AS BIGINT) AS naive_e6,
      |         CAST(SUM(term_e6) AS BIGINT) AS ps_e6
      |  FROM strata)
      |SELECT lang, n_pop, n_eval,
      |       sum_eval * 1000000 // n_eval AS mean_eval_e6,
      |       term_e6, naive_e6, ps_e6
      |FROM strata CROSS JOIN tot
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------- runs test
  /** Wald–Wolfowitz runs test on the training-shuffle order — the
    * "did my shuffle actually shuffle" audit a data loader runs
    * before an epoch: documents are laid out in the hash order the
    * pipeline would feed them ([[Parity.mixBucket]] of doc_id — the
    * same derandomized shuffle [[graft.ops.PipelineOps.trainSplit]]
    * uses), binarized by source half, and the number of RUNS of equal
    * labels is compared to its null expectation E[R] = 1 + 2·n₁·n₀/n.
    * Too few runs = sources still clumped (a broken shuffle feeds
    * whole crawls back-to-back); too many = anti-correlated. The row
    * carries R, the exact-rational E[R] and Var[R] on the e3/e6
    * lattices, and the squared z on the e3 lattice with its sign —
    * everything needed to reject at |z| > 1.96 without a square root
    * ever being compared across engines.
    *
    * Scale shape: one projection + one lag over the hash order (a
    * range-partitioned sort — the audit IS about a global order; at
    * 100 TB it runs per training shard exactly like the loader
    * itself) and a 1-row rollup.
    */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val laid = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        Parity.mixBucket(col("doc_id"), 2654435761L, 4294967296L).as("pos"),
        when(col("source") < "src2", 1L).otherwise(0L).as("lab"))
    val runs = laid
      .withColumn("prev", lag(col("lab"), 1).over(
        w.orderBy(col("pos"), col("doc_id"))))
      .agg(count(lit(1)).as("n"), sum(col("lab")).as("n1"),
        (sum(when(col("prev").isNull || col("prev") =!= col("lab"), 1L)
          .otherwise(0L))).as("r"))
    runs.select(col("n"), col("n1"), (col("n") - col("n1")).as("n0"), col("r"),
        expr("1000 + 2000 * n1 * (n - n1) DIV n").as("e_r_e3"),
        // staged floor divisions keep every product under 2^63 through
        // ~4e6 rows per audited shard (2n1n0·1e6 is the widest term);
        // the same staging defines the e6 value in both engines
        expr("""((2 * n1 * (n - n1) * 1000000 DIV (n * n))
                * (2 * n1 * (n - n1) - n)) DIV (n - 1)"""
          .replace("\n", " ")).as("var_r_e6"),
        (col("r") * 1000 - expr("1000 + 2000 * n1 * (n - n1) DIV n"))
          .as("dev_e3"))
      .select(col("n"), col("n1"), col("n0"), col("r"), col("e_r_e3"),
        col("var_r_e6"), col("dev_e3"),
        expr("(dev_e3 * dev_e3) DIV NULLIF(var_r_e6 DIV 1000, 0)")
          .as("z2_e3"))
  }

  private val runsTestOracle = {
    val pos = Parity.mixBucketSql("doc_id", 2654435761L, 4294967296L)
    s"""WITH laid AS (
       |  SELECT doc_id, $pos AS pos,
       |         CASE WHEN source < 'src2' THEN 1 ELSE 0 END AS lab
       |  FROM documents),
       |runs AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(lab) AS BIGINT) AS n1,
       |         CAST(SUM(CASE WHEN prev IS NULL OR prev <> lab
       |                       THEN 1 ELSE 0 END) AS BIGINT)
       |           AS r
       |  FROM (SELECT lab, lag(lab, 1) OVER (ORDER BY pos, doc_id) AS prev
       |        FROM laid)),
       |s AS (
       |  SELECT n, n1, n - n1 AS n0, r,
       |         1000 + 2000 * n1 * (n - n1) // n AS e_r_e3,
       |         ((2 * n1 * (n - n1) * 1000000 // (n * n))
       |           * (2 * n1 * (n - n1) - n)) // (n - 1) AS var_r_e6,
       |         r * 1000 - (1000 + 2000 * n1 * (n - n1) // n) AS dev_e3
       |  FROM runs)
       |SELECT n, n1, n0, r, e_r_e3, var_r_e6, dev_e3,
       |       (dev_e3 * dev_e3) // NULLIF(var_r_e6 // 1000, 0) AS z2_e3
       |FROM s""".stripMargin
  }

  // ------------------------------------------------------- Cohen's kappa
  /** Cohen's kappa — chance-corrected agreement between two raters,
    * THE statistic label-quality audits report (two annotators, or a
    * cheap heuristic vs a reference classifier: raw agreement is
    * inflated whenever class priors are skewed, which is always).
    * Raters here: the length heuristic (n_chars ≥ 300) vs the
    * whitespace-token heuristic (≥ 50 tokens) — two "keep this
    * document" judges that mostly agree by construction (both proxy
    * length) with principled disagreement on dense/sparse outliers.
    *
    * κ = (N·Σnᵢᵢ − Σₖ rₖcₖ) / (N² − Σₖ rₖcₖ) — one pass to the four
    * confusion cells (a map-side boolean pair + single hash aggregate
    * to ONE row), then exact rational arithmetic: N² and rₖcₖ in
    * DECIMAL(38) (a long N² overflows past ~3e9 rows — the honest
    * type at corpus scale), the final ratio as the house signed
    * half-up e6 division. Observed and expected agreement ship
    * alongside κ so the dashboard can see WHY chance correction bit.
    */
  def cohensKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .select(
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("ra"),
        when(size(split(col("text"), " ")) >= 50, 1L).otherwise(0L).as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L)).as("n00"))
    cells
      .withColumn("agree", col("n11") + col("n00"))
      .withColumn("rc", expr(
        """CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
          | + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)""".stripMargin))
      .withColumn("num", expr("CAST(n AS DECIMAL(38,0)) * agree - rc"))
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * n - rc"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("(agree * 2000000 + n - ((agree * 2000000 + n) % (n * 2)))" +
          " DIV (n * 2)").cast("double").divide(1e6).as("po"),
        expr("""CAST((rc * 2000000 + CAST(n AS DECIMAL(38,0)) * n
                - ((rc * 2000000 + CAST(n AS DECIMAL(38,0)) * n)
                   % (CAST(n AS DECIMAL(38,0)) * n * 2)))
               / (CAST(n AS DECIMAL(38,0)) * n * 2) AS BIGINT)"""
          .replace("\n", " ")).cast("double").divide(1e6).as("pe"),
        expr("""CAST(CASE WHEN (num < 0) <> (den < 0)
                 THEN -((abs(num) * 1000000 * 2 + abs(den)
                        - ((abs(num) * 1000000 * 2 + abs(den))
                           % (abs(den) * 2))) / (abs(den) * 2))
                 ELSE (abs(num) * 1000000 * 2 + abs(den)
                      - ((abs(num) * 1000000 * 2 + abs(den))
                         % (abs(den) * 2))) / (abs(den) * 2)
               END AS BIGINT)""".replace("\n", " "))
          .cast("double").divide(1e6).as("kappa"))
  }

  private val cohensKappaOracle =
    """WITH r AS (
      |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
      |         CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS rb
      |  FROM documents),
      |cells AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS n11,
      |         SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS n10,
      |         SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS n01,
      |         SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS n00
      |  FROM r),
      |m AS (
      |  SELECT n, n11, n10, n01, n00, n11 + n00 AS agree,
      |         CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |           + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS rc
      |  FROM cells),
      |k AS (
      |  SELECT *, CAST(n AS HUGEINT) * agree - rc AS num,
      |         CAST(n AS HUGEINT) * n - rc AS den
      |  FROM m)
      |SELECT n, CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
      |       CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
      |       CAST((agree * 2000000 + n - ((agree * 2000000 + n) % (n * 2)))
      |            // (n * 2) AS DOUBLE) / 1e6 AS po,
      |       CAST(CAST((rc * 2000000 + CAST(n AS HUGEINT) * n
      |            - ((rc * 2000000 + CAST(n AS HUGEINT) * n)
      |               % (CAST(n AS HUGEINT) * n * 2)))
      |            // (CAST(n AS HUGEINT) * n * 2) AS BIGINT) AS DOUBLE) / 1e6
      |         AS pe,
      |       CAST(CAST(CASE WHEN (num < 0) <> (den < 0)
      |              THEN -((abs(num) * 1000000 * 2 + abs(den)
      |                     - ((abs(num) * 1000000 * 2 + abs(den))
      |                        % (abs(den) * 2))) // (abs(den) * 2))
      |              ELSE (abs(num) * 1000000 * 2 + abs(den)
      |                   - ((abs(num) * 1000000 * 2 + abs(den))
      |                      % (abs(den) * 2))) // (abs(den) * 2)
      |            END AS BIGINT) AS DOUBLE) / 1e6 AS kappa
      |FROM k""".stripMargin

  // ---------------------------------------------------------- PR curve
  /** Precision/recall/F1 operating-point sweep — the threshold-picking
    * companion to [[rocAuc]] (AUC says whether the score ranks; the
    * curve says WHERE to cut it). Same classifier (n_chars predicting
    * lang = 'en'): at each of 9 fixed thresholds t, predict positive
    * when score ≥ t and report the confusion counts and the three
    * ratios on the half-up e6 lattice (F1 as its sufficient-statistic
    * form 2tp/(2tp+fp+fn) — one division, no float compounding).
    *
    * Scale: ONE scan — each row fans into the 9 sweep rows via a tiny
    * explode (the watermark-audit shape), partial-aggregated before
    * the 9-row exchange. NULLIF guards an empty prediction set.
    */
  def prCurve(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
        explode(expr("sequence(100, 900, 100)")).as("t"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("score") >= col("t") && col("pos") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("t") && col("pos") === 0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") < col("t") && col("pos") === 1, 1L)
          .otherwise(0L)).as("fn"))
      .select(col("t"), col("tp"), col("fp"), col("fn"),
        expr("""CAST((tp * 2000000 + NULLIF(tp + fp, 0)
               - ((tp * 2000000 + NULLIF(tp + fp, 0)) % ((tp + fp) * 2)))
               DIV ((tp + fp) * 2) AS DOUBLE)""".replace("\n", " "))
          .divide(1e6).as("prec"),
        expr("""CAST((tp * 2000000 + NULLIF(tp + fn, 0)
               - ((tp * 2000000 + NULLIF(tp + fn, 0)) % ((tp + fn) * 2)))
               DIV ((tp + fn) * 2) AS DOUBLE)""".replace("\n", " "))
          .divide(1e6).as("recall"),
        expr("""CAST((tp * 4000000 + NULLIF(2 * tp + fp + fn, 0)
               - ((tp * 4000000 + NULLIF(2 * tp + fp + fn, 0))
                  % ((2 * tp + fp + fn) * 2)))
               DIV ((2 * tp + fp + fn) * 2) AS DOUBLE)""".replace("\n", " "))
          .divide(1e6).as("f1"))
      .orderBy(col("t"))
  }

  private val prCurveOracle =
    """WITH sweep AS (
      |  SELECT t, n_chars AS score,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents, unnest(range(100, 1000, 100)) AS u(t)),
      |c AS (
      |  SELECT t,
      |         SUM(CASE WHEN score >= t AND pos = 1 THEN 1 ELSE 0 END) AS tp,
      |         SUM(CASE WHEN score >= t AND pos = 0 THEN 1 ELSE 0 END) AS fp,
      |         SUM(CASE WHEN score < t AND pos = 1 THEN 1 ELSE 0 END) AS fn
      |  FROM sweep GROUP BY t)
      |SELECT CAST(t AS INTEGER) AS t,
      |       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |       CAST(fn AS BIGINT) AS fn,
      |       CAST((tp * 2000000 + NULLIF(tp + fp, 0)
      |            - ((tp * 2000000 + NULLIF(tp + fp, 0)) % ((tp + fp) * 2)))
      |            // ((tp + fp) * 2) AS DOUBLE) / 1e6 AS prec,
      |       CAST((tp * 2000000 + NULLIF(tp + fn, 0)
      |            - ((tp * 2000000 + NULLIF(tp + fn, 0)) % ((tp + fn) * 2)))
      |            // ((tp + fn) * 2) AS DOUBLE) / 1e6 AS recall,
      |       CAST((tp * 4000000 + NULLIF(2 * tp + fp + fn, 0)
      |            - ((tp * 4000000 + NULLIF(2 * tp + fp + fn, 0))
      |               % ((2 * tp + fp + fn) * 2)))
      |            // ((2 * tp + fp + fn) * 2) AS DOUBLE) / 1e6 AS f1
      |FROM c ORDER BY t""".stripMargin

  // ------------------------------------------------- multi-feature OLS
  /** Two-feature OLS via the normal equations, solved in closed form
    * by Cramer's rule — l_extendedprice (cents) regressed on
    * (l_quantity, discount percentage points): the sanity regression a
    * pricing pipeline runs (in true TPC-H data β₁ recovers the mean
    * unit price; this synthetic fixture prices independently of
    * quantity, and the fit honestly reports the weak slope). Extends
    * [[olsTrend]]'s single-feature closed form to the 3×3 system.
    *
    * All nine sufficient statistics (n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂²,
    * Σy, Σx₁y, Σx₂y) accumulate as exact longs in ONE map-side
    * partial-aggregated pass; the 3×3 determinants expand in
    * DECIMAL(38,0) (widest term 1e6·Σy·Σx₁²·Σx₂² ≈ 6e35 at sf0.1 —
    * inside DECIMAL(38)/HUGEINT through ~1e7 rows; past that, center
    * the features first, which shrinks the cross-moments by orders of
    * magnitude). βs emerge as signed half-up e6 integer divisions —
    * no float until the final display division, so the fit is
    * bit-identical at any partition count.
    */
  def olsMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.lineitem(spark, sfDir)
      .select(expr("CAST(l_quantity AS BIGINT)").as("x1"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
    // 3×3 Cramer in DECIMAL(38,0); minors expand first so every
    // product is two factors wide (the precision-loss-safe order)
    val withDets = s
      .withColumn("m0", expr(
        "CAST(s11 AS DECIMAL(38,0)) * s22 - CAST(s12 AS DECIMAL(38,0)) * s12"))
      .withColumn("m1", expr(
        "CAST(sx1 AS DECIMAL(38,0)) * s22 - CAST(s12 AS DECIMAL(38,0)) * sx2"))
      .withColumn("m2", expr(
        "CAST(sx1 AS DECIMAL(38,0)) * s12 - CAST(s11 AS DECIMAL(38,0)) * sx2"))
      .withColumn("p1", expr(
        "CAST(s1y AS DECIMAL(38,0)) * s22 - CAST(s12 AS DECIMAL(38,0)) * s2y"))
      .withColumn("p2", expr(
        "CAST(s1y AS DECIMAL(38,0)) * s12 - CAST(s11 AS DECIMAL(38,0)) * s2y"))
      .withColumn("q1", expr(
        "CAST(sx1 AS DECIMAL(38,0)) * s2y - CAST(s1y AS DECIMAL(38,0)) * sx2"))
      .withColumn("det", expr("n * m0 - sx1 * m1 + sx2 * m2"))
      .withColumn("d0", expr("sy * m0 - sx1 * p1 + sx2 * p2"))
      .withColumn("d1", expr("n * p1 - sy * m1 + sx2 * q1"))
      .withColumn("d2", expr("n * p2 - sx1 * q1 + sy * m2"))
    def beta(di: String): Column = expr(
      s"""CAST(CASE WHEN ($di < 0) <> (det < 0)
         | THEN -((abs($di) * 2000000 + abs(det)
         |        - ((abs($di) * 2000000 + abs(det)) % (abs(det) * 2)))
         |        / (abs(det) * 2))
         | ELSE (abs($di) * 2000000 + abs(det)
         |      - ((abs($di) * 2000000 + abs(det)) % (abs(det) * 2)))
         |      / (abs(det) * 2)
         |END AS BIGINT)""".stripMargin.replace("\n", " "))
      .cast("double").divide(1e6)
    withDets.select(col("n"), col("sy"),
      beta("d0").as("b0"), beta("d1").as("b1"), beta("d2").as("b2"))
  }

  private val olsMultiOracle =
    """WITH s AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CAST(l_quantity AS BIGINT)) AS sx1,
      |         SUM(CAST(round(l_discount * 100) AS BIGINT)) AS sx2,
      |         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s11,
      |         SUM(CAST(l_quantity AS BIGINT)
      |             * CAST(round(l_discount * 100) AS BIGINT)) AS s12,
      |         SUM(CAST(round(l_discount * 100) AS BIGINT)
      |             * CAST(round(l_discount * 100) AS BIGINT)) AS s22,
      |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
      |         SUM(CAST(l_quantity AS BIGINT)
      |             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS s1y,
      |         SUM(CAST(round(l_discount * 100) AS BIGINT)
      |             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS s2y
      |  FROM lineitem),
      |m AS (
      |  SELECT *,
      |         CAST(s11 AS HUGEINT) * s22 - CAST(s12 AS HUGEINT) * s12 AS m0,
      |         CAST(sx1 AS HUGEINT) * s22 - CAST(s12 AS HUGEINT) * sx2 AS m1,
      |         CAST(sx1 AS HUGEINT) * s12 - CAST(s11 AS HUGEINT) * sx2 AS m2,
      |         CAST(s1y AS HUGEINT) * s22 - CAST(s12 AS HUGEINT) * s2y AS p1,
      |         CAST(s1y AS HUGEINT) * s12 - CAST(s11 AS HUGEINT) * s2y AS p2,
      |         CAST(sx1 AS HUGEINT) * s2y - CAST(s1y AS HUGEINT) * sx2 AS q1
      |  FROM s),
      |d AS (
      |  SELECT *, n * m0 - sx1 * m1 + sx2 * m2 AS det,
      |         sy * m0 - sx1 * p1 + sx2 * p2 AS d0,
      |         n * p1 - sy * m1 + sx2 * q1 AS d1,
      |         n * p2 - sx1 * q1 + sy * m2 AS d2
      |  FROM m)
      |SELECT n, CAST(sy AS BIGINT) AS sy,
      |       CAST(CAST(CASE WHEN (d0 < 0) <> (det < 0)
      |              THEN -((abs(d0) * 2000000 + abs(det)
      |                     - ((abs(d0) * 2000000 + abs(det)) % (abs(det) * 2)))
      |                     // (abs(det) * 2))
      |              ELSE (abs(d0) * 2000000 + abs(det)
      |                   - ((abs(d0) * 2000000 + abs(det)) % (abs(det) * 2)))
      |                   // (abs(det) * 2) END AS BIGINT) AS DOUBLE) / 1e6 AS b0,
      |       CAST(CAST(CASE WHEN (d1 < 0) <> (det < 0)
      |              THEN -((abs(d1) * 2000000 + abs(det)
      |                     - ((abs(d1) * 2000000 + abs(det)) % (abs(det) * 2)))
      |                     // (abs(det) * 2))
      |              ELSE (abs(d1) * 2000000 + abs(det)
      |                   - ((abs(d1) * 2000000 + abs(det)) % (abs(det) * 2)))
      |                   // (abs(det) * 2) END AS BIGINT) AS DOUBLE) / 1e6 AS b1,
      |       CAST(CAST(CASE WHEN (d2 < 0) <> (det < 0)
      |              THEN -((abs(d2) * 2000000 + abs(det)
      |                     - ((abs(d2) * 2000000 + abs(det)) % (abs(det) * 2)))
      |                     // (abs(det) * 2))
      |              ELSE (abs(d2) * 2000000 + abs(det)
      |                   - ((abs(d2) * 2000000 + abs(det)) % (abs(det) * 2)))
      |                   // (abs(det) * 2) END AS BIGINT) AS DOUBLE) / 1e6 AS b2
      |FROM d""".stripMargin

  // ------------------------------------------------------------- DTW
  private[graft] final case class DtwCell(
      t1: String, t2: String, day: java.sql.Date, c1: Long, c2: Long)
  private[graft] final case class DtwOut(
      t1: String, t2: String, n_days: Long, dtw: Long)

  /** Dynamic time warping distance between every pair of event-type
    * daily-volume series — the elastic-alignment similarity measure
    * for time series whose shapes match but whose timing drifts
    * (Euclidean distance punishes a one-day phase shift; DTW aligns
    * it). An operator Spark genuinely lacks: the DP recurrence
    * D(i,j) = |aᵢ−bⱼ| + min(D(i−1,j), D(i,j−1), D(i−1,j−1)) is
    * sequential in BOTH dimensions — not a window, not an aggregate —
    * so this is the charter's sanctioned per-group imperative case:
    * pairs are the parallel unit (one shuffle on the pair key), the
    * O(n²) DP runs locally per group over two rolling rows (O(n)
    * memory, never the matrix). Both series read off ONE dense
    * (type × day) grid, so lengths always agree and zero-fill is
    * explicit. All-integer costs — exact parity at any partition
    * count, order-independent because cells are sorted by day inside
    * the group.
    *
    * The oracle is a genuinely different formulation: a recursive CTE
    * advancing cell-by-cell through the same recurrence, carrying the
    * previous DP row as a LIST column (the token-bucket/Bellman-Ford
    * oracle discipline — typed fold vs set-based recursion).
    *
    * Scale: |types|² pairs × |days| rows shuffle once; per-group cost
    * is days² integer ops. For LONG series (n > ~10⁴) real systems
    * band the DP (Sakoe-Chiba) — the same mapGroups with a clamped
    * inner loop; the banded variant drops in without plan changes.
    */
  def dtw(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val types = daily.select(col("t")).distinct()
    val days = daily.select(col("day")).distinct()
    val dense = types.crossJoin(broadcast(days))
      .join(daily, Seq("t", "day"), "left")
      .select(col("t"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    dense.as("a")
      .join(dense.as("b"),
        col("a.day") === col("b.day") && col("a.t") < col("b.t"))
      .select(col("a.t").as("t1"), col("b.t").as("t2"), col("a.day").as("day"),
        col("a.cnt").as("c1"), col("b.cnt").as("c2"))
      .as[DtwCell]
      .groupByKey(r => (r.t1, r.t2))
      .mapGroups { (key: (String, String), it: Iterator[DtwCell]) =>
        val (t1, t2) = key
        val cells = it.toArray.sortBy(_.day.getTime)
        val a = cells.map(_.c1)
        val b = cells.map(_.c2)
        val n = a.length
        val prev = new Array[Long](n)
        val cur = new Array[Long](n)
        prev(0) = math.abs(a(0) - b(0))
        var j = 1
        while (j < n) { prev(j) = prev(j - 1) + math.abs(a(0) - b(j)); j += 1 }
        var i = 1
        while (i < n) {
          cur(0) = prev(0) + math.abs(a(i) - b(0))
          j = 1
          while (j < n) {
            cur(j) = math.abs(a(i) - b(j)) +
              math.min(math.min(prev(j), prev(j - 1)), cur(j - 1))
            j += 1
          }
          System.arraycopy(cur, 0, prev, 0, n)
          i += 1
        }
        DtwOut(t1, t2, n.toLong, prev(n - 1))
      }
      .toDF()
      .orderBy(col("t1"), col("t2"))
  }

  private val dtwOracle =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.t, g.day, COALESCE(d.cnt, 0) AS cnt
      |  FROM (SELECT a.t, b.day
      |        FROM (SELECT DISTINCT t FROM daily) a,
      |             (SELECT DISTINCT day FROM daily) b) g
      |  LEFT JOIN daily d ON d.t = g.t AND d.day = g.day),
      |s AS (SELECT t, list(cnt ORDER BY day) AS v FROM grid GROUP BY t),
      |p AS (SELECT a.t AS t1, b.t AS t2, a.v AS va, b.v AS vb
      |      FROM s a JOIN s b ON a.t < b.t),
      |dp AS (
      |  SELECT t1, t2, va, vb, 1 AS i, 1 AS j,
      |         CAST(NULL AS BIGINT[]) AS prev, [abs(va[1] - vb[1])] AS cur
      |  FROM p
      |  UNION ALL
      |  SELECT t1, t2, va, vb,
      |    CASE WHEN j < len(vb) THEN i ELSE i + 1 END,
      |    CASE WHEN j < len(vb) THEN j + 1 ELSE 1 END,
      |    CASE WHEN j < len(vb) THEN prev ELSE cur END,
      |    CASE WHEN j < len(vb) THEN
      |      list_append(cur, abs(va[i] - vb[j+1]) +
      |        CASE WHEN i = 1 THEN cur[-1]
      |             ELSE least(prev[j+1], prev[j], cur[-1]) END)
      |    ELSE [abs(va[i+1] - vb[1]) + cur[1]] END
      |  FROM dp WHERE NOT (i = len(va) AND j = len(vb)))
      |SELECT t1, t2, CAST(len(va) AS BIGINT) AS n_days, cur[-1] AS dtw
      |FROM dp WHERE i = len(va) AND j = len(vb)
      |ORDER BY t1, t2""".stripMargin

  // --------------------------------------------------- mutual information
  /** Mutual information I(lang; source) — the information-theoretic
    * companion to [[chiSquare]] over the SAME contingency cells: how
    * many nats knowing the source tells you about the language.
    * χ² asks "is there dependence?"; MI measures its magnitude on the
    * entropy scale (comparable across tables, the feature-selection
    * currency). Per cell: p_ij·ln(p_ij/(p_i·p_j)) quantized to
    * integer e6 micro-nats BEFORE summation (the langEntropy/PMI
    * doctrine — ln runs over identical integer-derived doubles in
    * both engines, and the per-term e6 round absorbs last-ulp ln
    * differences), with the total as the exact sum of quantized
    * terms.
    *
    * Scale: one cell-level hash aggregate on the data; marginal
    * windows over the |langs|·|sources| frame — the chiSquare plan.
    */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val wr = Window.partitionBy(col("lang"))
    val wc = Window.partitionBy(col("source"))
    val wt = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
      .withColumn("rt", sum(col("obs")).over(wr))
      .withColumn("ct", sum(col("obs")).over(wc))
      .withColumn("n", sum(col("obs")).over(wt))
      // p_ij·ln(p_ij·N/(r_i·c_j)) in e6 micro-nats; the ln argument is
      // the exact integer ratio (obs·N)/(rt·ct) — identical operands
      .withColumn("term_e6", round(
        col("obs").cast("double") / col("n") *
          log(col("obs").cast("double") * col("n") /
            (col("rt").cast("double") * col("ct"))) * lit(1000000.0), 0)
        .cast("long"))
      .select(col("lang"), col("source"), col("obs"),
        (col("term_e6").cast("double") / 1e6).as("contrib"),
        (sum(col("term_e6")).over(wt).cast("double") / 1e6).as("mi_nats"))
      .orderBy(col("lang"), col("source"))
  }

  private val mutualInfoOracle =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2),
      |m AS (
      |  SELECT lang, source, obs,
      |         SUM(obs) OVER (PARTITION BY lang) AS rt,
      |         SUM(obs) OVER (PARTITION BY source) AS ct,
      |         SUM(obs) OVER () AS n
      |  FROM cells),
      |t AS (
      |  SELECT lang, source, obs,
      |         CAST(ROUND(CAST(obs AS DOUBLE) / n *
      |                    ln(CAST(obs AS DOUBLE) * n /
      |                       (CAST(rt AS DOUBLE) * ct)) * 1000000.0)
      |              AS BIGINT) AS term_e6
      |  FROM m)
      |SELECT lang, source, obs,
      |       CAST(term_e6 AS DOUBLE) / 1e6 AS contrib,
      |       CAST(CAST(SUM(term_e6) OVER () AS BIGINT) AS DOUBLE) / 1e6
      |         AS mi_nats
      |FROM t ORDER BY lang, source""".stripMargin

  // ------------------------------------------------- Holt-Winters
  /** Additive Holt-Winters triple exponential smoothing per event
    * type (level + trend + weekly seasonality; Winters 1960) — the
    * model tier above [[seasonalNaive]]'s lag-7 baseline and
    * [[graft.ops.AnalyticsOps.ewma]]'s single smoothing: daily cent
    * volume, α=1/4, β=1/8, γ=1/4, classic first-two-seasons init
    * (L₀ = mean of week 1, B₀ = (mean of week 2 − mean of week 1)/7,
    * Sᵢ = xᵢ − L₀), then the three-state recurrence from day 8 with
    * one-step-ahead absolute error accumulated as the in-sample
    * score. Reports final level/trend, the next-day forecast
    * L + B + S_oldest, and the MAE — per type.
    *
    * ENTIRELY on the integer micro-cent lattice: every smoothing
    * update is `(1·new + (k−1)·old) // k` with TRUNCATING integer
    * division (Scala `Long./` == DuckDB `//`), so no float ever
    * crosses engines — the recurrence is exact, not
    * rounded-and-hopefully-stable. Day gaps are treated as
    * consecutive observations (the dense-grid repair is
    * [[graft.ops.AnalyticsOps]]'s calendar-fill job, deliberately
    * not re-run here).
    *
    * Scale shape (the tokenBucket doctrine): the 100 TB event scan
    * collapses to a (type × day) frame in ONE partial-aggregated
    * pass; the non-associative three-state fold — which no window
    * frame can express — runs typed per type over that tiny series
    * with a FORCED in-group sort. The oracle replays the identical
    * fold as a recursive CTE stepping all types in lockstep with the
    * rolling seasonal window as a list column — a completely
    * different evaluation strategy, same integer semantics.
    */
  private[graft] val HwSeason = 7

  /** The exact-integer Holt-Winters fold over a day-ordered series —
    * THE one definition the batch query and the streaming twin
    * ([[graft.streaming.StreamingOps.holtWintersStream]]) both run
    * (the extractFrame factoring discipline). Returns (level, trend,
    * next-day forecast, MAE), all micro-cents; None while the series
    * is shorter than two seasons (warm-up). */
  private[graft] def hwFold(xs: Array[Long])
      : Option[(Long, Long, Long, Long)] = {
    val m = HwSeason
    val n = xs.length
    if (n < 2 * m) None
    else {
      var lvl = xs.take(m).sum / m
      var b = (xs.slice(m, 2 * m).sum / m - lvl) / m
      val s = scala.collection.mutable.Queue(xs.take(m).map(_ - lvl): _*)
      var err = 0L
      for (i <- m until n) {
        val su = s.dequeue()
        err += math.abs(xs(i) - (lvl + b + su))
        val l1 = (xs(i) - su + 3L * (lvl + b)) / 4L
        b = ((l1 - lvl) + 7L * b) / 8L
        s.enqueue(((xs(i) - l1) + 3L * su) / 4L)
        lvl = l1
      }
      Some((lvl, b, lvl + b + s.head, err / (n - m)))
    }
  }

  def holtWinters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("t"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg((sum(expr("CAST(round(value * 100) AS BIGINT)")) * 1000000L)
        .as("xq"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (t, it) =>
        val xs = it.toArray.sortBy(_._2).map(_._3)
        hwFold(xs).iterator.map { case (lvl, b, fc, mae) =>
          (t, xs.length.toLong, lvl, b, fc, mae)
        }
      }
      .toDF("t", "n_days", "level_uc", "trend_uc", "forecast_uc", "mae_uc")
      .orderBy(col("t"))
  }

  /** The HW walk as shared oracle CTEs (through `walk`; `daily`
    * exposes the micro-cent series) — factored so the forecast
    * bake-off ([[forecastEval]]) replays the SAME recurrence. */
  private val hwWalkSql = {
    val m = HwSeason
    // the step's new level, inlined wherever the recurrence needs it
    // (recursive CTEs can't name intermediates)
    val l1 = s"(w.xs[w.i + 1] - w.s[1] + 3 * (w.l + w.b)) // 4"
    s"""daily AS (
       |  SELECT event_type AS t, epoch_ms(ts) // 86400000 AS day,
       |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) * 1000000
       |              AS BIGINT) AS xq
       |  FROM events GROUP BY 1, 2),
       |series AS (
       |  SELECT t, xq, CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY day)
       |                     AS BIGINT) AS i
       |  FROM daily),
       |init AS (
       |  SELECT t, CAST(MAX(i) AS BIGINT) AS n, list(xq ORDER BY i) AS xs
       |  FROM series GROUP BY t HAVING MAX(i) >= ${2 * m}),
       |base AS (
       |  SELECT t, n, xs, CAST($m AS BIGINT) AS i,
       |         CAST(list_sum(xs[1:$m]) // $m AS BIGINT) AS l,
       |         CAST((list_sum(xs[${m + 1}:${2 * m}]) // $m
       |               - list_sum(xs[1:$m]) // $m) // $m AS BIGINT) AS b,
       |         list_transform(xs[1:$m],
       |           v -> CAST(v - list_sum(xs[1:$m]) // $m AS BIGINT)) AS s,
       |         CAST(0 AS BIGINT) AS err
       |  FROM init),
       |walk AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT w.t, w.n, w.xs, w.i + 1,
       |         CAST($l1 AS BIGINT),
       |         CAST((($l1 - w.l) + 7 * w.b) // 8 AS BIGINT),
       |         w.s[2:] || [CAST(((w.xs[w.i + 1] - $l1) + 3 * w.s[1]) // 4
       |                          AS BIGINT)],
       |         w.err + abs(w.xs[w.i + 1] - (w.l + w.b + w.s[1]))
       |  FROM walk w WHERE w.i < w.n)""".stripMargin
  }

  private val holtWintersOracle =
    s"""WITH RECURSIVE $hwWalkSql
       |SELECT t, n AS n_days, l AS level_uc, b AS trend_uc,
       |       CAST(l + b + s[1] AS BIGINT) AS forecast_uc,
       |       CAST(err // (n - $HwSeason) AS BIGINT) AS mae_uc
       |FROM walk WHERE i = n ORDER BY t""".stripMargin

  // ------------------------------------------------ forecast bake-off
  /** MASE forecast evaluation (Hyndman & Koehler '06 — the
    * scale-free forecast scorecard): the trained model's MAE over the
    * seasonal-naive baseline's, per event type. Pure COMPOSITION of
    * the two shipped forecasters — [[holtWinters]]' exact-integer
    * recurrence MAE and [[seasonalNaive]]'s lag-7 MAE — so the
    * bake-off can never drift from what the queries actually ship
    * (the McNemar discipline, applied to forecasting). MASE < 1 ⇒
    * the model earns its keep; both MAEs are exact integers and the
    * micro-cent/cent unit difference cancels into an exact e6 ratio.
    * Each model scores its own published in-sample window (naive
    * skips week one, HW skips the two-season warm-up) — stated, not
    * hidden.
    *
    * Scale shape: both inputs collapse the event scan to (type × day)
    * frames; everything here joins type-sized scorecards. */
  def forecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    val naive = seasonalNaive(spark, sfDir)
      .select(col("t"), col("mae_c").as("naive_mae_c"))
    val hw = holtWinters(spark, sfDir)
      .select(col("t"), col("n_days"), col("mae_uc").as("hw_mae_uc"))
    hw.join(naive, Seq("t"))
      .select(col("t"), col("n_days"), col("naive_mae_c"),
        col("hw_mae_uc"),
        when(col("naive_mae_c") === 0L, lit(null).cast("long"))
          .otherwise(expr("hw_mae_uc DIV naive_mae_c")).as("mase_e6"),
        (col("hw_mae_uc") < col("naive_mae_c") * 1000000L).as("hw_wins"))
      .orderBy(col("t"))
  }

  private val forecastEvalOracle =
    s"""WITH RECURSIVE $hwWalkSql,
       |hw AS (SELECT t, n AS n_days,
       |         CAST(err // (n - $HwSeason) AS BIGINT) AS hw_mae_uc
       |       FROM walk WHERE i = n),
       |dc AS (SELECT t, day, CAST(xq // 1000000 AS BIGINT) AS c
       |       FROM daily),
       |nv AS (SELECT a.t,
       |         CAST(SUM(ABS(a.c - f.c)) AS BIGINT) // COUNT(*)
       |           AS naive_mae_c
       |       FROM dc a JOIN dc f ON f.t = a.t AND f.day = a.day - 7
       |       GROUP BY a.t)
       |SELECT hw.t, hw.n_days, nv.naive_mae_c, hw.hw_mae_uc,
       |       CASE WHEN nv.naive_mae_c = 0 THEN NULL
       |            ELSE hw.hw_mae_uc // nv.naive_mae_c END AS mase_e6,
       |       hw.hw_mae_uc < nv.naive_mae_c * 1000000 AS hw_wins
       |FROM hw JOIN nv ON nv.t = hw.t ORDER BY hw.t""".stripMargin

  // ---------------------------------------------------- WoE / IV
  /** Weight-of-evidence + information value feature screening (the
    * credit-scoring standard, Siddiqi 2006 — the categorical-feature
    * triage step before any classifier training, and the
    * interpretable sibling of [[PipelineOps.targetEncode]]: WoE is
    * the encoding, IV ranks the feature): target = customer placed at
    * least one 1-URGENT order; features = market segment and nation.
    * Per category: WoE = ln((pos_share)/(neg_share)) with ±0.5
    * Laplace smoothing, IV contribution = (pos_share − neg_share)·WoE,
    * and the per-feature IV total repeated per row (the screening
    * number: < 0.02 useless, > 0.3 strong).
    *
    * Parity: one ln per category quantized to e6 micro-nats from a
    * single IEEE ratio of exact counts; shares quantize half-up to e6
    * BEFORE the IV multiply, so every IV term is exact integer e12
    * arithmetic and the feature total an exact sum.
    *
    * Scale shape: the target flag is one semi-join-shaped aggregate on
    * the orders fact (conditional max — no distinct), features join
    * through the bounded nation broadcast, and everything after the
    * per-category rollup is ≤ 30 rows. One fact exchange total.
    */
  def woeIv(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("y"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    val long = cust.select(lit("mktsegment").as("feature"),
      col("c_mktsegment").as("category"), col("y"))
      .unionByName(cust.select(lit("nation").as("feature"),
        col("n_name").as("category"), col("y")))
    val perCat = long.groupBy(col("feature"), col("category"))
      .agg(sum(col("y")).cast("long").as("pos"),
        sum(lit(1L) - col("y")).cast("long").as("neg"))
    val wf = Window.partitionBy(col("feature"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = perCat
      .withColumn("tp", sum(col("pos")).over(wf))
      .withColumn("tn", sum(col("neg")).over(wf))
      .withColumn("woe_e6", round(log(
        ((col("pos") + 0.5) / (col("tp") + 0.5)) /
          ((col("neg") + 0.5) / (col("tn") + 0.5))) * 1000000.0, 0)
        .cast("long"))
      .withColumn("dshare_e6",
        Parity.halfUpE6(col("pos"), col("tp")) -
          Parity.halfUpE6(col("neg"), col("tn")))
      .withColumn("iv_term_e12", col("dshare_e6") * col("woe_e6"))
    // signed half-up (half away from zero): IV terms can dip negative
    // under smoothing+rounding, and DuckDB's % is C-style on negatives
    // while pmod is not — abs/negate sidesteps the convention split
    def signedHalfUpE6(num: Column, den: Column): Column = {
      val a = abs(num) * 2L + den
      val h = call_function("div", a - pmod(a, den * 2), den * 2)
      when(num < 0, -h).otherwise(h)
    }
    scored
      .withColumn("iv_e6_sum", sum(col("iv_term_e12")).over(wf))
      .select(col("feature"), col("category"), col("pos"), col("neg"),
        col("woe_e6"),
        signedHalfUpE6(col("iv_term_e12"),
          lit(1000000L)).as("iv_term_e6"),
        signedHalfUpE6(col("iv_e6_sum"),
          lit(1000000L)).as("feature_iv_e6"))
      .orderBy(col("feature"), col("category"))
  }

  private def woeHalfUpSql(num: String, den: String): String =
    s"((2000000*($num) + $den) - (2000000*($num) + $den) % (2*($den))) " +
      s"// (2*($den))"

  private val woeIvOracle = {
    // signed half-up e6 of n/d (d = 1e12 scale drop): half away from
    // zero via ABS, matching the Spark side's pmod-free form
    val hup = (n: String, d: String) =>
      s"(CASE WHEN ($n) < 0 THEN -1 ELSE 1 END) * " +
        s"(((2*ABS($n) + $d) - (2*ABS($n) + $d) % (2*($d))) // (2*($d)))"
    s"""WITH urgent AS (
       |  SELECT o_custkey,
       |         MAX(CASE WHEN o_orderpriority = '1-URGENT'
       |                  THEN 1 ELSE 0 END) AS y
       |  FROM orders GROUP BY o_custkey),
       |cust AS (SELECT c.c_custkey, c.c_mktsegment, n.n_name,
       |                COALESCE(u.y, 0) AS y
       |         FROM customer c
       |         JOIN nation n ON n.n_nationkey = c.c_nationkey
       |         LEFT JOIN urgent u ON u.o_custkey = c.c_custkey),
       |long AS (SELECT 'mktsegment' AS feature, c_mktsegment AS category, y
       |         FROM cust
       |         UNION ALL
       |         SELECT 'nation', n_name, y FROM cust),
       |pc AS (SELECT feature, category,
       |              CAST(SUM(y) AS BIGINT) AS pos,
       |              CAST(SUM(1 - y) AS BIGINT) AS neg
       |       FROM long GROUP BY feature, category),
       |tot AS (SELECT *,
       |          CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS tp,
       |          CAST(SUM(neg) OVER (PARTITION BY feature) AS BIGINT) AS tn
       |        FROM pc),
       |sc AS (SELECT *,
       |         CAST(ROUND(ln(((pos + 0.5) / (tp + 0.5)) /
       |                       ((neg + 0.5) / (tn + 0.5))) * 1000000.0)
       |              AS BIGINT) AS woe_e6,
       |         ${woeHalfUpSql("pos", "tp")} -
       |           ${woeHalfUpSql("neg", "tn")} AS dshare_e6
       |       FROM tot),
       |iv AS (SELECT *, dshare_e6 * woe_e6 AS iv_term_e12,
       |         CAST(SUM(dshare_e6 * woe_e6) OVER (PARTITION BY feature)
       |              AS BIGINT) AS iv_sum_e12
       |       FROM sc)
       |SELECT feature, category, pos, neg, woe_e6,
       |       ${hup("iv_term_e12", "1000000")} AS iv_term_e6,
       |       ${hup("iv_sum_e12", "1000000")} AS feature_iv_e6
       |FROM iv ORDER BY feature, category""".stripMargin
  }

  // ------------------------------------- Krippendorff's alpha
  /** lcm(1..20): every per-unit coincidence denominator (m_u − 1) with
    * m_u ≤ 21 ratings divides it, so per-unit disagreement terms stay
    * exact integers on one shared lattice. `max_m` in the output is
    * the witness that the bound holds (raise the constant if a corpus
    * ever exceeds it). */
  private val KaL = 232792560L

  /** Krippendorff's alpha, nominal data (Krippendorff 2011, "Computing
    * Krippendorff's Alpha-Reliability") — the annotator-reliability
    * gate an RLHF/eval labeling pipeline runs before trusting a label
    * set, and the standard answer when Cohen's kappa
    * ([[AnalyticsOps]] `q_cohens_kappa`) can't cope with MISSING
    * ratings and >2 raters per item. Units = orders, each lineitem one
    * rating, category = `l_returnflag` (3 classes, 1..17 ratings per
    * unit — genuinely unbalanced). α = 1 − D_o/D_e over the
    * coincidence matrix; units with a single rating drop out, as the
    * method requires.
    *
    * The category self-pairing is ALGEBRAIC, not joined: per unit,
    * Σ_{c≠k} n_uc·n_uk = m_u² − Σ_c n_uc², so the whole coincidence
    * computation is two aggregates — no per-unit category cross join
    * ever materializes. Each unit's term scales by lcm(1..20)/(m_u−1)
    * (exact — see [[KaL]]); D_e's pair total is (S₁² − S₂)/2 from the
    * category marginals, kept ×2 un-divided so no intermediate
    * division happens before the final signed half-up e6 ratio, done
    * in decimal(38,0)/HUGEINT because L·(S₁²−S₂) overflows a long
    * even at sf0.1.
    *
    * Scale shape: one (unit, cat) groupBy with map-side combine, one
    * unit rollup, one category-sized marginal frame (3 rows), two
    * 1-row A6 scalars cross-joined. The per-unit lattice terms are
    * bounded (≤ L·m²/2); the rollup sums them in decimal so 10¹¹
    * ratings cannot overflow. No global sort, no driver loop.
    */
  def krippendorff(spark: SparkSession, sfDir: String): DataFrame = {
    def exactDiv(num: Column, den: Column): Column =
      call_function("div", num, den)
    val uc = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey").as("u"), col("l_returnflag").as("cat"))
      .agg(count(lit(1)).as("nuc"))
    val per = uc.groupBy(col("u"))
      .agg(sum(col("nuc")).as("m"),
        sum(col("nuc") * col("nuc")).as("s2u"))
      .filter(col("m") >= 2)
    val units = per.agg(
      count(lit(1)).as("n_units"),
      sum(col("m")).cast("long").as("n"),
      max(col("m")).as("max_m"),
      sum((exactDiv(lit(KaL), col("m") - 1) *
        exactDiv(col("m") * col("m") - col("s2u"), lit(2L)))
        .cast("decimal(38,0)")).as("o_l"))
    val marg = uc.join(per.select(col("u")), Seq("u"))
      .groupBy(col("cat")).agg(sum(col("nuc")).as("nc"))
    val d2 = marg.agg(
      (sum(col("nc").cast("decimal(38,0)")) *
        sum(col("nc").cast("decimal(38,0)")) -
        sum(col("nc").cast("decimal(38,0)") * col("nc"))).as("d22"))

    // half away from zero on the e6 lattice, decimal-widened: 2e6·den
    // overflows a long here
    units.crossJoin(broadcast(d2))
      .select(col("n_units"), col("n").as("n_ratings"), col("max_m"),
        (Parity.signedHalfUpE6Dec(col("o_l") * 2,
          col("n").cast("decimal(38,0)") * KaL)
          .cast("double") / 1000000.0).as("do_rate"),
        (Parity.signedHalfUpE6Dec(
          col("d22") * KaL - col("o_l") * 2 * (col("n") - 1),
          col("d22") * KaL)
          .cast("double") / 1000000.0).as("alpha"))
  }

  private val krippendorffOracle = {
    def shup(num: String, den: String): String =
      s"(CASE WHEN ($num) < 0 THEN -1 ELSE 1 END) * " +
        s"(((2000000*ABS($num) + ($den)) - " +
        s"(2000000*ABS($num) + ($den)) % (2*($den))) // (2*($den)))"
    s"""WITH uc AS (SELECT l_orderkey AS u, l_returnflag AS cat,
       |                   COUNT(*) AS nuc
       |            FROM lineitem GROUP BY 1, 2),
       |per AS (SELECT u, CAST(SUM(nuc) AS BIGINT) AS m,
       |               CAST(SUM(nuc*nuc) AS BIGINT) AS s2u
       |        FROM uc GROUP BY u HAVING SUM(nuc) >= 2),
       |units AS (SELECT COUNT(*) AS n_units, CAST(SUM(m) AS BIGINT) AS n,
       |                 MAX(m) AS max_m,
       |                 SUM(CAST(($KaL // (m-1)) * ((m*m - s2u) // 2)
       |                     AS HUGEINT)) AS o_l
       |          FROM per),
       |marg AS (SELECT cat, CAST(SUM(nuc) AS BIGINT) AS nc
       |         FROM uc JOIN per USING (u) GROUP BY cat),
       |d2 AS (SELECT SUM(CAST(nc AS HUGEINT)) * SUM(CAST(nc AS HUGEINT))
       |              - SUM(CAST(nc AS HUGEINT) * nc) AS d22 FROM marg)
       |SELECT n_units, n AS n_ratings, max_m,
       |       CAST(${shup("2*o_l", s"CAST(n AS HUGEINT) * $KaL")}
       |            AS DOUBLE) / 1000000.0 AS do_rate,
       |       CAST(${shup(s"d22 * $KaL - 2*o_l*(n-1)",
                           s"d22 * $KaL")}
       |            AS DOUBLE) / 1000000.0 AS alpha
       |FROM units CROSS JOIN d2""".stripMargin
  }

  // --------------------------------------------------------- Hill tail index
  /** Top-k depth for [[hillTail]]. */
  private val HillK = 16

  /** Hill tail-index estimator per source (Hill 1975 — THE estimator
    * of a power-law tail exponent from order statistics, and the
    * heavy-tail diagnostic `q_zipf_slope`'s rank regression can't
    * give: zipf fits the WHOLE frequency curve, Hill reads only the
    * extreme tail, which is what decides batch-packing blowups and
    * shard skew): α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over each
    * source's k largest doc lengths. Small α̂ = heavy tail (a source
    * that will dominate token budgets); α̂ reported with its
    * asymptotic se = α̂/√k so the read is calibrated.
    *
    * Exactness: order statistics are exact (integer lengths, id
    * tie-break); each ln of an exact integer ratio quantizes to e9
    * and sums on the integer lattice; α̂ is one final division.
    * Scale shape: the rank-≤-k+1 filter is the WindowGroupLimit
    * shape (per-shard partial top-k below the exchange), then a
    * source-sized rollup — the corpus never globally sorts. */
  def hillTail(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= HillK + 1)
    val xk1 = ranked.filter(col("rk") === HillK + 1)
      .select(col("source"), col("n_chars").as("x_k1"))
    ranked.filter(col("rk") <= HillK)
      .join(xk1, Seq("source"))
      .withColumn("t_e9",
        round(log(col("n_chars").cast("double") / col("x_k1")) * 1e9, 0)
          .cast("long"))
      .groupBy(col("source"))
      .agg(first(col("x_k1")).as("x_k1"), sum(col("t_e9")).as("s"))
      .select(col("source"), lit(HillK).as("k"), col("x_k1"),
        round(lit(HillK) * 1e9 / col("s").cast("double"), 4).as("alpha"),
        round(lit(HillK) * 1e9 / col("s").cast("double") /
          math.sqrt(HillK.toDouble), 4).as("alpha_se"))
      .orderBy(col("source"))
  }

  private val hillTailOracle =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents),
       |xk1 AS (SELECT source, n_chars AS x_k1 FROM r
       |        WHERE rk = ${HillK + 1}),
       |t AS (SELECT r.source, x_k1,
       |        CAST(ROUND(ln(CAST(n_chars AS DOUBLE) / x_k1) * 1e9)
       |             AS BIGINT) AS t_e9
       |      FROM r JOIN xk1 USING (source) WHERE rk <= $HillK)
       |SELECT source, $HillK AS k, ANY_VALUE(x_k1) AS x_k1,
       |       ROUND($HillK * 1e9 / CAST(SUM(t_e9) AS DOUBLE), 4) AS alpha,
       |       ROUND($HillK * 1e9 / CAST(SUM(t_e9) AS DOUBLE)
       |             / sqrt(${HillK.toDouble}), 4) AS alpha_se
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------- one-way ANOVA
  /** One-way ANOVA of order value across the five order priorities —
    * the k-group mean-difference test the family lacked ([[chiSquare]]
    * tests CATEGORICAL association, [[abTest]] exactly two arms; a
    * data pipeline comparing k sources/treatments runs this first).
    * Reports effect size η² = SSB/SST beside F — the "is it real vs is
    * it big" pairing every experimentation write-up needs.
    *
    * Exactness: values on the cents lattice; per-group moments (n_g,
    * Σx, and corpus Σx²) are exact DECIMAL(38)/HUGEINT rollups. The
    * classic SSB/SST forms subtract near-equal magnitudes, so both are
    * rebuilt cancellation-free: N²·SSB = Σ_g (N·s_g − n_g·S)²/n_g —
    * every numerator EXACT in DECIMAL(38) (≤5e34 at sf0.1; at corpus
    * scale swap the lattice to dollars or the moments to doubles —
    * the rocAuc guard discipline), each term positive so the 5-term
    * double sum has no cancellation — and N·SST = N·Σx² − S² exact.
    * F and η² are two final well-conditioned double ratios.
    *
    * Scale shape: ONE hash aggregate per group (k=5 rows), a 1-row
    * total, broadcast re-join — the rfmSegments shape; no window, no
    * sort, no second corpus pass. */
  def anova(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("grp"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
    val per = cents.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).as("s_g"))
    val tot = cents.agg(count(lit(1)).as("n"),
      sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
      sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ss"))
    val parts = per.crossJoin(broadcast(tot))
      .withColumn("num", // exact: (N·s_g − n_g·S)², ≤ 5e34 at sf0.1
        expr("(CAST(n AS DECIMAL(38,0)) * s_g - CAST(n_g AS DECIMAL(38,0)) * s)"))
      .agg(count(lit(1)).as("k"),
        sum(expr("CAST(num * num AS DOUBLE) / n_g")).as("ssb_nn"), // ·N²
        first(col("n")).as("n"),
        first(expr("CAST(CAST(n AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)"))
          .as("sst_n")) // ·N
    parts.select(col("n"), col("k"),
      round(col("ssb_nn") / col("n") / col("sst_n"), 6).as("eta2"),
      round((col("ssb_nn") / col("n") / col("sst_n")) /
        ((lit(1) - col("ssb_nn") / col("n") / col("sst_n"))) *
        (col("n") - col("k")).cast("double") /
        (col("k") - 1).cast("double"), 6).as("f_stat"))
  }

  private val anovaOracle =
    """WITH c AS (SELECT o_orderpriority AS grp,
      |                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |           FROM orders),
      |per AS (SELECT grp, COUNT(*) AS n_g,
      |               SUM(CAST(c AS HUGEINT)) AS s_g
      |        FROM c GROUP BY grp),
      |tot AS (SELECT COUNT(*) AS n, SUM(CAST(c AS HUGEINT)) AS s,
      |               SUM(CAST(c AS HUGEINT) * c) AS ss FROM c),
      |parts AS (SELECT COUNT(*) AS k,
      |    SUM(CAST((CAST(n AS HUGEINT) * s_g - CAST(n_g AS HUGEINT) * s)
      |             * (CAST(n AS HUGEINT) * s_g - CAST(n_g AS HUGEINT) * s)
      |        AS DOUBLE) / n_g) AS ssb_nn,
      |    ANY_VALUE(n) AS n,
      |    ANY_VALUE(CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE))
      |      AS sst_n
      |  FROM per, tot)
      |SELECT n, k,
      |       ROUND(ssb_nn / n / sst_n, 6) AS eta2,
      |       ROUND((ssb_nn / n / sst_n) / (1 - ssb_nn / n / sst_n)
      |             * CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE), 6)
      |         AS f_stat
      |FROM parts""".stripMargin

  // --------------------------------------------- Kruskal-Wallis H
  /** Kruskal–Wallis rank test (K–W '52) across sources on doc length —
    * the distribution-free sibling of [[anova]] (which assumes
    * normal-ish tails; lengths are heavy-tailed, exactly K–W's use
    * case). The textbook evaluation globally SORTS to assign ranks —
    * the epoch-shuffle anti-pattern; here ranks come from the VALUE
    * HISTOGRAM instead: midrank(v) = #smaller + (ties+1)/2, read off
    * one cumulative window over the value-domain-sized histogram
    * (the survivalKm day-domain discipline), carried throughout as
    * 2×rank integers so ties never create fractions. Per-group rank
    * sums are exact decimal(38); H = 3·Σ(2R_g)²/n_g / (N(N+1)) −
    * 3(N+1) and the tie correction C = 1 − Σ(t³−t)/(N³−N) are
    * anova-style ratios of exact integers, two final doubles.
    *
    * Scale shape: one hash aggregate to (value, source) cells + one
    * value-histogram window (bounded by the length domain, not the
    * corpus) + a groups-sized rollup. NO global sort anywhere — at
    * 100 TB ranks still cost one histogram pass. */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("n_chars").as("v"), col("source"))
      .agg(count(lit(1)).as("c_gv"))
    val hist = cells.groupBy(col("v")).agg(sum(col("c_gv")).as("cnt"))
      .withColumn("before", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // 2×midrank: 2·#smaller + ties + 1 — integer even with ties
      .withColumn("r2", lit(2L) * col("before") + col("cnt") + lit(1L))
    val perGroup = cells.join(hist.select(col("v"), col("r2")), Seq("v"))
      .groupBy(col("source"))
      .agg(sum(col("c_gv")).as("n_g"),
        sum(expr("CAST(c_gv AS DECIMAL(38,0)) * r2")).as("s2_g"))
    val ties = hist.agg(
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("t3t"),
      sum(col("cnt")).as("n"))
    perGroup.crossJoin(broadcast(ties))
      .agg(count(lit(1)).as("k"), first(col("n")).as("n"),
        first(expr("CAST(t3t AS DOUBLE)")).as("t3t"),
        sum(expr("CAST(s2_g * s2_g AS DOUBLE) / n_g")).as("s2sum"))
      .select(col("n"), col("k"),
        round(lit(3.0) * col("s2sum")
          / (col("n").cast("double") * (col("n") + 1L).cast("double"))
          - lit(3.0) * (col("n") + 1L).cast("double"), 6).as("h"),
        round(lit(1.0) - col("t3t")
          / (col("n").cast("double") * col("n") * col("n")
            - col("n").cast("double")), 6).as("tie_c"),
        round((lit(3.0) * col("s2sum")
          / (col("n").cast("double") * (col("n") + 1L).cast("double"))
          - lit(3.0) * (col("n") + 1L).cast("double"))
          / (lit(1.0) - col("t3t")
            / (col("n").cast("double") * col("n") * col("n")
              - col("n").cast("double"))), 6).as("h_corrected"))
  }

  private val kruskalWallisOracle =
    """WITH cells AS (
      |  SELECT n_chars AS v, source, COUNT(*) AS c_gv
      |  FROM documents GROUP BY 1, 2),
      |hist AS (
      |  SELECT v, CAST(SUM(c_gv) AS BIGINT) AS cnt FROM cells GROUP BY 1),
      |h2 AS (
      |  SELECT v, cnt,
      |         COALESCE(SUM(cnt) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS before
      |  FROM hist),
      |r AS (SELECT v, 2 * before + cnt + 1 AS r2 FROM h2),
      |pg AS (
      |  SELECT source, CAST(SUM(c_gv) AS BIGINT) AS n_g,
      |         SUM(CAST(c_gv AS HUGEINT) * r2) AS s2_g
      |  FROM cells JOIN r USING (v) GROUP BY 1),
      |t AS (SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS t3t,
      |             CAST(SUM(cnt) AS BIGINT) AS n
      |      FROM hist),
      |agg AS (SELECT COUNT(*) AS k, ANY_VALUE(n) AS n,
      |          ANY_VALUE(CAST(t3t AS DOUBLE)) AS t3t,
      |          SUM(CAST(s2_g * s2_g AS DOUBLE) / n_g) AS s2sum
      |        FROM pg, t)
      |SELECT n, CAST(k AS BIGINT) AS k,
      |  ROUND(3.0 * s2sum / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |        - 3.0 * CAST(n + 1 AS DOUBLE), 6) AS h,
      |  ROUND(1.0 - t3t / (CAST(n AS DOUBLE) * n * n - CAST(n AS DOUBLE)),
      |        6) AS tie_c,
      |  ROUND((3.0 * s2sum / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |         - 3.0 * CAST(n + 1 AS DOUBLE))
      |        / (1.0 - t3t / (CAST(n AS DOUBLE) * n * n
      |                        - CAST(n AS DOUBLE))), 6) AS h_corrected
      |FROM agg""".stripMargin

  // --------------------------------------------- Cramér's V
  /** Cramér's V association strength for the source×lang contingency
    * table — the effect size [[chiSquare]]'s statistic lacks (χ²
    * grows with N; V = √(χ²/(N·(min(r,c)−1))) is the [0,1] strength a
    * data-mix dashboard can threshold). Expected counts are rationals
    * of marginals, so each χ² term uses the cancellation-free form
    * (N·O − R·C)²/(N·R·C) — exact decimal(38)/HUGEINT numerators cast
    * to double per cell (the anova discipline), summed over the
    * |sources|×|langs| frame. Absent cells contribute (R·C)²/(N·R·C)
    * = R·C/N, so the zero-cell mass is added in closed form from the
    * marginals alone — the observed-cell scan never fans out to the
    * full cross product.
    *
    * Scale shape: one contingency aggregate + two marginal rollups,
    * everything after is bounded-frame math. */
  def cramersV(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val obs = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val rm = obs.groupBy(col("source")).agg(sum(col("o")).as("rt"))
    val cm = obs.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("source")).as("kr"),
      countDistinct(col("lang")).as("kc"))
    // observed cells: ((N·O − R·C)² − (R·C)²)/(N·R·C) each, so adding
    // the closed-form all-cells mass Σ R·C/N = N yields the full χ²
    val obsTerms = obs.join(rm, Seq("source")).join(cm, Seq("lang"))
      .crossJoin(broadcast(n))
      .agg(sum(expr(
        """(CAST((CAST(n AS DECIMAL(38,0)) * o
          |       - CAST(rt AS DECIMAL(38,0)) * ct)
          |      * (CAST(n AS DECIMAL(38,0)) * o
          |         - CAST(rt AS DECIMAL(38,0)) * ct) AS DOUBLE)
          | - CAST(CAST(rt AS DECIMAL(38,0)) * ct
          |        * (CAST(rt AS DECIMAL(38,0)) * ct) AS DOUBLE))
          | / CAST(CAST(n AS DECIMAL(38,0)) * rt * ct AS DOUBLE)
          |""".stripMargin.replace("\n", " "))).as("obs_mass"))
    obsTerms.crossJoin(broadcast(n))
      .select(col("n"), col("kr"), col("kc"),
        round(col("obs_mass") + col("n").cast("double"), 6).as("chi2"),
        ((col("kr") - 1L) * (col("kc") - 1L)).as("dof"),
        round(sqrt((col("obs_mass") + col("n").cast("double"))
          / (col("n").cast("double")
            * (least(col("kr"), col("kc")) - 1L).cast("double"))), 6)
          .as("v"))
  }

  private val cramersVOracle =
    """WITH obs AS (
      |  SELECT source, lang, COUNT(*) AS o
      |  FROM documents GROUP BY 1, 2),
      |rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
      |cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
      |             CAST(COUNT(DISTINCT source) AS BIGINT) AS kr,
      |             CAST(COUNT(DISTINCT lang) AS BIGINT) AS kc
      |      FROM obs),
      |terms AS (
      |  SELECT SUM((CAST((CAST(n.n AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct)
      |                   * (CAST(n.n AS HUGEINT) * o
      |                      - CAST(rt AS HUGEINT) * ct) AS DOUBLE)
      |              - CAST(CAST(rt AS HUGEINT) * ct
      |                     * (CAST(rt AS HUGEINT) * ct) AS DOUBLE))
      |             / CAST(CAST(n.n AS HUGEINT) * rt * ct AS DOUBLE))
      |           AS obs_mass
      |  FROM obs JOIN rm USING (source) JOIN cm USING (lang), n)
      |SELECT n.n, n.kr, n.kc,
      |       ROUND(obs_mass + CAST(n.n AS DOUBLE), 6) AS chi2,
      |       (n.kr - 1) * (n.kc - 1) AS dof,
      |       ROUND(sqrt((obs_mass + CAST(n.n AS DOUBLE))
      |                  / (CAST(n.n AS DOUBLE)
      |                     * CAST(LEAST(n.kr, n.kc) - 1 AS DOUBLE))), 6)
      |         AS v
      |FROM terms, n""".stripMargin

  // --------------------------------------- matching estimator (ATT)
  /** Nearest-neighbor matching ATT (the Rubin matching estimator —
    * the causal tool [[cuped]]/[[did]] leave uncovered: when treatment
    * is CONFOUNDED with activity, compare each treated unit to its
    * closest control on the confounder, not to the control mean).
    * Treated = users with an above-typical error load (n_err > 16 —
    * self-selected AND mechanically activity-correlated, exactly the
    * confounding that breaks the naive difference); balancing score = pre-treatment activity (event
    * count); matching is 1-nearest WITH replacement under a caliper.
    *
    * The matching itself is the AS-OF JOIN shape with no join at all:
    * one interleaved (score, uid) sort of treated+controls, the
    * nearest preceding/succeeding control read off two running
    * struct-extremum windows (max/min of (score, uid) structs — the
    * asof discipline), the nearer of the two chosen by exact integer
    * |Δscore| with a deterministic tie to the predecessor. ATT and
    * the naive difference ship side by side on the half-up cents
    * lattice — the gap between them IS the measured confounding.
    *
    * Scale shape: corpus → per-user aggregate → ONE global sort of
    * the user frame for the running windows (the matching literature's
    * own sort-merge; at corpus scale this is a range-partitioned sort,
    * and the windows carry 2-integer state). Everything after is a
    * 1-row reduction. */
  def psmMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val Caliper = 3L
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"),
        sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
          .as("y_cents"))
      .withColumn("treated", col("n_err") > 16L)
    val w = Window.orderBy(col("score"), col("user_id"))
    val prevW = w.rowsBetween(Window.unboundedPreceding, -1)
    val nextW = w.rowsBetween(1, Window.unboundedFollowing)
    val matched = users
      .withColumn("prev_c", max(when(!col("treated"),
        struct(col("score"), col("user_id"), col("y_cents")))).over(prevW))
      .withColumn("next_c", min(when(!col("treated"),
        struct(col("score"), col("user_id"), col("y_cents")))).over(nextW))
      .filter(col("treated"))
      .withColumn("d_prev", when(col("prev_c").isNotNull,
        col("score") - col("prev_c.score")))
      .withColumn("d_next", when(col("next_c").isNotNull,
        col("next_c.score") - col("score")))
      .withColumn("pick", when(col("d_prev").isNotNull &&
          (col("d_next").isNull || col("d_prev") <= col("d_next")), "p")
        .when(col("d_next").isNotNull, "n"))
      .withColumn("d_pick", when(col("pick") === "p", col("d_prev"))
        .when(col("pick") === "n", col("d_next")))
      .withColumn("ok", col("d_pick").isNotNull && col("d_pick") <= Caliper)
      .withColumn("y_match", when(col("ok"),
        when(col("pick") === "p", col("prev_c.y_cents"))
          .otherwise(col("next_c.y_cents"))))
    val naive = users.agg(
      sum(when(col("treated"), col("y_cents"))).as("yt"),
      sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("treated"), col("y_cents"))).as("yc"),
      sum(when(!col("treated"), 1L).otherwise(0L)).as("nc"))
    matched.agg(
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("n_unmatched"),
        sum(when(col("ok"), col("y_cents") - col("y_match"))).as("d_sum"))
      .crossJoin(broadcast(naive))
      .select(col("nt").as("n_treated"), col("nc").as("n_control"),
        col("n_matched"), col("n_unmatched"),
        // signed means: one correctly-rounded IEEE division on exact
        // integer cents (|Σ| ≪ 2^52) + ROUND — engine-identical
        expr("CAST(round(CAST(d_sum AS DOUBLE) / n_matched) AS BIGINT)")
          .as("att_cents"),
        expr("CAST(round(CAST(yt AS DOUBLE) / nt " +
          "- CAST(yc AS DOUBLE) / nc) AS BIGINT)").as("naive_diff_cents"))
  }

  private val psmMatchOracle =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
      |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_err,
      |         CAST(SUM(CASE WHEN event_type = 'purchase'
      |                       THEN CAST(round(value * 100) AS BIGINT)
      |                       ELSE 0 END) AS BIGINT) AS y_cents
      |  FROM events GROUP BY user_id),
      |f AS (SELECT *, n_err > 16 AS treated FROM u),
      |wins AS (
      |  SELECT *,
      |    MAX(CASE WHEN NOT treated
      |             THEN {'s': score, 'u': user_id, 'y': y_cents} END)
      |      OVER (ORDER BY score, user_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_c,
      |    MIN(CASE WHEN NOT treated
      |             THEN {'s': score, 'u': user_id, 'y': y_cents} END)
      |      OVER (ORDER BY score, user_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      |      AS next_c
      |  FROM f),
      |t AS (
      |  SELECT *,
      |    score - prev_c.s AS d_prev,
      |    next_c.s - score AS d_next,
      |    CASE WHEN prev_c IS NOT NULL AND
      |              (next_c IS NULL OR score - prev_c.s <= next_c.s - score)
      |         THEN 'p'
      |         WHEN next_c IS NOT NULL THEN 'n' END AS pick
      |  FROM wins WHERE treated),
      |m AS (
      |  SELECT *,
      |    CASE WHEN pick = 'p' THEN d_prev
      |         WHEN pick = 'n' THEN d_next END AS d_pick,
      |    CASE WHEN pick = 'p' THEN prev_c.y ELSE next_c.y END AS ym
      |  FROM t),
      |mm AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN d_pick IS NOT NULL AND d_pick <= 3
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |    CAST(SUM(CASE WHEN d_pick IS NULL OR d_pick > 3
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
      |    CAST(SUM(CASE WHEN d_pick IS NOT NULL AND d_pick <= 3
      |                  THEN y_cents - ym END) AS BIGINT) AS d_sum
      |  FROM m),
      |nv AS (
      |  SELECT CAST(SUM(CASE WHEN treated THEN y_cents END) AS BIGINT)
      |           AS yt,
      |         CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
      |           AS nt,
      |         CAST(SUM(CASE WHEN NOT treated THEN y_cents END) AS BIGINT)
      |           AS yc,
      |         CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT)
      |           AS nc
      |  FROM f)
      |SELECT nt AS n_treated, nc AS n_control, n_matched, n_unmatched,
      |       CAST(round(CAST(d_sum AS DOUBLE) / n_matched) AS BIGINT)
      |         AS att_cents,
      |       CAST(round(CAST(yt AS DOUBLE) / nt - CAST(yc AS DOUBLE) / nc)
      |            AS BIGINT) AS naive_diff_cents
      |FROM mm, nv""".stripMargin

  // --------------------------------------- quantile treatment effect
  /** Quantile treatment effect curve (the Lehmann–Doksom QTE — what
    * [[graft.ops.AnalyticsOps.abTest]]'s mean difference hides: a
    * treatment that helps the P90 while hurting the P20 averages to
    * "no effect"): per experiment arm (the hash-split even/odd
    * user_id), the d/10-quantiles of per-user purchase spend for
    * d = 1..9, and their per-decile difference. Quantiles are the
    * EXACT type-1 order statistics — q_d = min{v : cum(v) ≥
    * ⌈d·n/10⌉} — evaluated with NO per-arm global sort: spend
    * quantizes to the whole-currency lattice (the bounded-domain move
    * that keeps the histogram value-sized; the GK/t-digest twins are
    * the unbounded-domain path), the per-arm value histogram gets one
    * cumulative window, and each decile row binds by the bounded
    * (deciles × histogram) cum-interval join. Everything is integer
    * arithmetic end to end — ranks via (d·n+9) div 10, no float
    * anywhere.
    *
    * Scale shape: corpus → per-user aggregate → per-(arm, dollar)
    * histogram (bounded by the currency domain) → 18-row decile
    * frame. The windows run on histogram-sized frames only. */
  def qte(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
        .as("cents"))
      .select(col("user_id"), expr("cents div 100").as("dollars"),
        when(pmod(col("user_id"), lit(2L)) === 0L, "A").otherwise("B")
          .as("arm"))
    val hist = perUser.groupBy(col("arm"), col("dollars"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("arm")).orderBy(col("dollars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val n = perUser.groupBy(col("arm")).agg(count(lit(1)).as("n"))
    val deciles = n.select(col("arm"), col("n"),
        explode(expr("sequence(1, 9)")).as("d"))
      .withColumn("r", expr("(d * n + 9) div 10"))
    val q = deciles.join(hist, Seq("arm"))
      .filter(col("cum_before") < col("r") && col("r") <= col("cum"))
      .select(col("arm"), col("d"), col("dollars"))
    q.groupBy(col("d"))
      .agg(sum(when(col("arm") === "A", col("dollars"))).as("q_a"),
        sum(when(col("arm") === "B", col("dollars"))).as("q_b"))
      .withColumn("qte", col("q_b") - col("q_a"))
      .orderBy(col("d"))
  }

  private val qteOracle =
    """WITH pu AS (
      |  SELECT user_id,
      |         CAST(SUM(CASE WHEN event_type = 'purchase'
      |                       THEN CAST(round(value * 100) AS BIGINT)
      |                       ELSE 0 END) AS BIGINT) // 100 AS dollars,
      |         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM events GROUP BY user_id),
      |hist AS (
      |  SELECT arm, dollars, COUNT(*) AS cnt FROM pu GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, CAST(SUM(cnt) OVER (PARTITION BY arm ORDER BY dollars
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum
      |  FROM hist),
      |n AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM pu GROUP BY 1),
      |dec AS (
      |  SELECT arm, n, d.d, (d.d * n + 9) // 10 AS r
      |  FROM n, (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9))
      |         AS d(d)),
      |q AS (
      |  SELECT dec.arm, dec.d, cum.dollars
      |  FROM dec JOIN cum ON dec.arm = cum.arm
      |    AND cum.cum - cum.cnt < dec.r AND dec.r <= cum.cum)
      |SELECT CAST(d AS INTEGER) AS d,
      |       CAST(SUM(CASE WHEN arm = 'A' THEN dollars END) AS BIGINT)
      |         AS q_a,
      |       CAST(SUM(CASE WHEN arm = 'B' THEN dollars END) AS BIGINT)
      |         AS q_b,
      |       CAST(SUM(CASE WHEN arm = 'B' THEN dollars END)
      |            - SUM(CASE WHEN arm = 'A' THEN dollars END) AS BIGINT)
      |         AS qte
      |FROM q GROUP BY d ORDER BY d""".stripMargin

  // ------------------------------------------------- BH-FDR screen
  /** Benjamini–Hochberg FDR screen (B–H '95) over a grid of slice
    * hypotheses — the multiple-testing control a metrics platform must
    * run when it tests EVERY slice: each (source, lang) cell clearing
    * the support gate (≥8 docs — the fixture-scale setting of the
    * usual n≥30 rule; one constant) is Welch-z-tested for "does this slice's mean length differ
    * from the rest of the corpus", and the step-up procedure marks
    * the largest k with p_(k) ≤ k·α/m, rejecting ranks 1..k — shown
    * beside naive p<α (inflates discoveries) and Bonferroni p<α/m
    * (deflates power), the three-way comparison that motivates FDR.
    *
    * Exactness: all moments are integer (n_chars), so the Welch z's
    * mean difference uses the cancellation-free cross-multiplied form
    * (n₂s₁−n₁s₂)/(n₁n₂) and sample variances exact decimal(38)
    * numerators (nᵢqᵢ−sᵢ²) — z is a short identical-token double
    * expression half-up-rounded to 4 dp BEFORE the p-value transform,
    * so the transcendental's input is an exact rational both engines
    * agree on. p = erfc(|z|/√2) via the Abramowitz–Stegun 7.1.26
    * polynomial (public constants, same literal tokens both sides),
    * e9-quantized; every BH comparison then runs on exact integers
    * (p_e9·20·m ≤ i·1e9 at α=0.05) — the procedure itself can never
    * split on float noise, only the 4 dp z-lattice can move (and sits
    * ~1e11 above double ulp).
    *
    * Scale shape: one hash aggregate to |sources|×|langs| cells + a
    * 1-row total broadcast; ranking and the step-up cummax run on the
    * bounded cell frame. At 1e6 slices the windows stay
    * histogram-sized; nothing touches the corpus twice. */
  def bhFdr(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "CAST(n_chars AS DECIMAL(38,0))"
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n1"),
        sum(expr(dec)).as("s1"),
        sum(expr(s"$dec * n_chars")).as("q1"))
      .filter(col("n1") >= 8)
    val tot = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        sum(expr(dec)).as("s"),
        sum(expr(s"$dec * n_chars")).as("q"))
    val z = cells.crossJoin(broadcast(tot))
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("s2", col("s") - col("s1"))
      .withColumn("q2", col("q") - col("q1"))
      .filter(col("n2") >= 8)
      .withColumn("zval", expr(
        """round((CAST(CAST(n2 AS DECIMAL(38,0)) * s1
          |            - CAST(n1 AS DECIMAL(38,0)) * s2 AS DOUBLE)
          |        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
          |       / sqrt(CAST(CAST(n1 AS DECIMAL(38,0)) * q1 - s1 * s1
          |                   AS DOUBLE)
          |              / (CAST(n1 AS DOUBLE) * (n1 - 1.0)) / n1
          |              + CAST(CAST(n2 AS DECIMAL(38,0)) * q2 - s2 * s2
          |                     AS DOUBLE)
          |              / (CAST(n2 AS DOUBLE) * (n2 - 1.0)) / n2), 4)
          |""".stripMargin.replace("\n", " ")))
      .withColumn("x", abs(col("zval")) / sqrt(lit(2.0)))
      .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
      .withColumn("p_e9", expr(
        """CAST(round(((0.254829592 * t - 0.284496736 * t * t
          |  + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
          |  + 1.061405429 * t * t * t * t * t) * exp(-x * x))
          |  * 1000000000.0) AS BIGINT)""".stripMargin.replace("\n", " ")))
    val m = Window.partitionBy()
    val ranked = z
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p_e9"), col("source"), col("lang"))))
      .withColumn("cond",
        col("p_e9") * 20L * col("m") <= col("rk") * 1000000000L)
      .withColumn("kstar",
        max(when(col("cond"), col("rk")).otherwise(0)).over(m))
    ranked.select(col("rk"), col("source"), col("lang"), col("n1").as("n"),
        col("zval").as("z"), col("p_e9"),
        (col("p_e9") * 20L <= 1000000000L).as("rej_naive"),
        (col("p_e9") * 20L * col("m") <= 1000000000L).as("rej_bonf"),
        (col("rk") <= col("kstar")).as("rej_bh"))
      .orderBy(col("rk"))
  }

  private val bhFdrOracle =
    """WITH d AS (SELECT source, lang, CAST(n_chars AS HUGEINT) AS x
      |           FROM documents),
      |cells AS (SELECT source, lang, COUNT(*) AS n1,
      |                 SUM(x) AS s1, SUM(x * x) AS q1
      |          FROM d GROUP BY 1, 2 HAVING COUNT(*) >= 8),
      |tot AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q FROM d),
      |w AS (SELECT source, lang, n1, s1, q1,
      |             n - n1 AS n2, s - s1 AS s2, q - q1 AS q2
      |      FROM cells, tot WHERE n - n1 >= 8),
      |z AS (SELECT source, lang, n1,
      |        round((CAST(CAST(n2 AS HUGEINT) * s1
      |                    - CAST(n1 AS HUGEINT) * s2 AS DOUBLE)
      |               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
      |              / sqrt(CAST(CAST(n1 AS HUGEINT) * q1 - s1 * s1
      |                          AS DOUBLE)
      |                     / (CAST(n1 AS DOUBLE) * (n1 - 1.0)) / n1
      |                     + CAST(CAST(n2 AS HUGEINT) * q2 - s2 * s2
      |                            AS DOUBLE)
      |                     / (CAST(n2 AS DOUBLE) * (n2 - 1.0)) / n2), 4)
      |          AS zval
      |      FROM w),
      |p AS (SELECT source, lang, n1, zval,
      |        CAST(round(((0.254829592 * t - 0.284496736 * t * t
      |          + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
      |          + 1.061405429 * t * t * t * t * t) * exp(-x * x))
      |          * 1000000000.0) AS BIGINT) AS p_e9
      |      FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t
      |            FROM (SELECT *, abs(zval) / sqrt(2.0) AS x FROM z))),
      |r AS (SELECT *,
      |        COUNT(*) OVER () AS m,
      |        ROW_NUMBER() OVER (ORDER BY p_e9, source, lang) AS rk
      |      FROM p),
      |k AS (SELECT *,
      |        MAX(CASE WHEN p_e9 * 20 * m <= rk * 1000000000
      |                 THEN rk ELSE 0 END) OVER () AS kstar
      |      FROM r)
      |SELECT CAST(rk AS INTEGER) AS rk, source, lang,
      |       CAST(n1 AS BIGINT) AS n, zval AS z, p_e9,
      |       p_e9 * 20 <= 1000000000 AS rej_naive,
      |       p_e9 * 20 * m <= 1000000000 AS rej_bonf,
      |       rk <= kstar AS rej_bh
      |FROM k ORDER BY rk""".stripMargin

  // --------------------------------------- Herfindahl concentration
  /** Herfindahl–Hirschman source-concentration index per language +
    * an ALL row — the one-number "is this corpus dominated by a
    * single crawl source?" gauge a data-mix dashboard thresholds
    * (the DoReMi/temperature-mix ops RESHAPE the mix; this measures
    * how lopsided it currently is). HHI = Σ share², its reciprocal
    * is the effective number of sources (the corpus-science sibling
    * of [[graft.ops.TextOps]]' vocab diversity), and the normalized
    * form (k·HHI−1)/(k−1) is the [0,1] comparison across languages
    * with different source counts. All three are rationals of the
    * exact count frame — c_i²/N² sums carried as DECIMAL(38)/HUGEINT
    * and emitted as half-up integer lattices (e6/e3/e6), so the
    * whole row hashes exactly; zero doubles anywhere.
    *
    * Scale shape: one (lang, source) hash aggregate bounded by the
    * label cross product, then lang-sized rollups — at 100 TB the
    * only corpus-sized pass is the first count. */
  def herfindahl(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
    val global = cells.groupBy(col("source"))
      .agg(sum(col("c")).as("c")).withColumn("lang", lit("ALL"))
    def roll(src: DataFrame): DataFrame = src.groupBy(col("lang"))
      .agg(count(lit(1)).as("k_sources"), sum(col("c")).as("n_docs"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sc2"))
      .withColumn("n2", expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs"))
      .select(col("lang"), col("k_sources"), col("n_docs"),
        expr("(2000000 * sc2 + n2) div (2 * n2)").as("hhi_e6"),
        expr("(2000 * n2 + sc2) div (2 * sc2)").as("eff_e3"),
        expr("""CASE WHEN k_sources = 1 THEN 1000000L ELSE
                (2000000 * (k_sources * sc2 - n2)
                 + (k_sources - 1) * n2)
                div (2 * (k_sources - 1) * n2) END""")
          .as("norm_e6"))
    roll(cells).unionByName(roll(global)).orderBy(col("lang"))
  }

  private val herfindahlOracle =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2),
      |unioned AS (
      |  SELECT * FROM cells
      |  UNION ALL
      |  SELECT 'ALL' AS lang, source, SUM(c) AS c FROM cells GROUP BY 2),
      |r AS (
      |  SELECT lang, COUNT(*) AS k_sources,
      |         CAST(SUM(c) AS HUGEINT) AS n_docs,
      |         SUM(CAST(c AS HUGEINT) * c) AS sc2
      |  FROM unioned GROUP BY 1)
      |SELECT lang, CAST(k_sources AS BIGINT) AS k_sources,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST((2000000 * sc2 + n_docs * n_docs)
      |       // (2 * n_docs * n_docs) AS BIGINT) AS hhi_e6,
      |  CAST((2000 * n_docs * n_docs + sc2) // (2 * sc2) AS BIGINT)
      |    AS eff_e3,
      |  CAST(CASE WHEN k_sources = 1 THEN 1000000 ELSE
      |       (2000000 * (k_sources * sc2 - n_docs * n_docs)
      |        + (k_sources - 1) * n_docs * n_docs)
      |       // (2 * (k_sources - 1) * n_docs * n_docs) END AS BIGINT)
      |    AS norm_e6
      |FROM r ORDER BY lang""".stripMargin

  // --------------------------------------- Brown–Forsythe (Levene)
  /** Brown–Forsythe homogeneity-of-variance test across sources on
    * doc length — the gate that decides whether [[anova]]'s equal-
    * variance assumption holds before anyone trusts its F (and, for
    * a corpus, whether sources differ in length SPREAD, not just
    * mean — a mix-balance signal shares can't see). Levene '60 with
    * the '74 median center: z = |x − med_g|, W = ((N−k)/(k−1)) ·
    * SSB(z)/SSW(z). Group medians come off the per-source VALUE
    * HISTOGRAM (the [[kruskalWallis]] no-global-sort discipline);
    * carrying 2×median keeps z integral even when an even group's
    * median is fractional, and the ×2 scale cancels in the W ratio.
    * SSB/SSW use the cancellation-free exact forms (Σs_g²/n_g −
    * S²/N etc.) from DECIMAL(38)/HUGEINT moment sums — two final
    * doubles.
    *
    * Scale shape: one (source, length) hash aggregate, one window
    * over the per-source length domain (bounded by the value domain,
    * not the corpus), a groups-sized rollup. No global sort. */
  def leveneTest(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = cells
      .withColumn("before", coalesce(sum(col("cnt")).over(cum), lit(0L)))
      .withColumn("n_g", sum(col("cnt")).over(
        Window.partitionBy(col("source"))))
      .withColumn("rl", expr("(n_g + 1) div 2"))
      .withColumn("ru", expr("n_g div 2 + 1"))
    val med = hist.groupBy(col("source"))
      .agg(min(when(col("rl") > col("before") &&
          col("rl") <= col("before") + col("cnt"), col("v"))).as("mlo"),
        min(when(col("ru") > col("before") &&
          col("ru") <= col("before") + col("cnt"), col("v"))).as("mhi"))
      .select(col("source"), (col("mlo") + col("mhi")).as("med2"))
    val pg = cells.join(med, Seq("source"))
      .withColumn("z2", abs(lit(2L) * col("v") - col("med2")))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_g"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * z2")).as("s_g"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * z2 * z2")).as("ss_g"))
    pg.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(expr("CAST(s_g AS DOUBLE)")).as("s"),
        sum(expr("CAST(ss_g AS DOUBLE)")).as("ss"),
        sum(expr("CAST(s_g * s_g AS DOUBLE) / n_g")).as("a"))
      .select(col("n"), col("k"),
        round(((col("n") - col("k")).cast("double") /
          (col("k") - 1).cast("double")) *
          (col("a") - col("s") * col("s") / col("n").cast("double")) /
          (col("ss") - col("a")), 6).as("w_stat"))
  }

  private val leveneOracle =
    """WITH cells AS (
      |  SELECT source, n_chars AS v, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |h AS (
      |  SELECT source, v, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS before,
      |    SUM(cnt) OVER (PARTITION BY source) AS n_g
      |  FROM cells),
      |med AS (
      |  SELECT source,
      |    MIN(CASE WHEN (n_g + 1) // 2 > before
      |              AND (n_g + 1) // 2 <= before + cnt THEN v END)
      |    + MIN(CASE WHEN n_g // 2 + 1 > before
      |               AND n_g // 2 + 1 <= before + cnt THEN v END)
      |      AS med2
      |  FROM h GROUP BY 1),
      |pg AS (
      |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_g,
      |    SUM(CAST(cnt AS HUGEINT) * abs(2 * v - med2)) AS s_g,
      |    SUM(CAST(cnt AS HUGEINT) * abs(2 * v - med2)
      |        * abs(2 * v - med2)) AS ss_g
      |  FROM cells JOIN med USING (source) GROUP BY 1),
      |agg AS (
      |  SELECT COUNT(*) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
      |    SUM(CAST(s_g AS DOUBLE)) AS s, SUM(CAST(ss_g AS DOUBLE)) AS ss,
      |    SUM(CAST(s_g * s_g AS DOUBLE) / n_g) AS a
      |  FROM pg)
      |SELECT n, CAST(k AS BIGINT) AS k,
      |  ROUND((CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
      |        * (a - s * s / CAST(n AS DOUBLE)) / (ss - a), 6) AS w_stat
      |FROM agg""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_herfindahl" -> (herfindahl _),
    "q_levene" -> (leveneTest _),
    "q_bh_fdr" -> (bhFdr _),
    "q_qte" -> (qte _),
    "q_psm_match" -> (psmMatch _),
    "q_kruskal_wallis" -> (kruskalWallis _),
    "q_cramers_v" -> (cramersV _),
    "q_anova" -> (anova _),
    "q_hill_tail" -> (hillTail _),
    "q_woe_iv" -> (woeIv _),
    "q_krippendorff" -> (krippendorff _),
    "q_holt_winters" -> (holtWinters _),
    "q_forecast_eval" -> (forecastEval _),
    "q_wasserstein" -> (wasserstein _),
    "q_cuped" -> (cuped _),
    "q_did" -> (did _),
    "q_power_mde" -> (powerMde _),
    "q_neyman_alloc" -> (neymanAlloc _),
    "q_seasonality_strength" -> (seasonalityStrength _),
    "q_mutual_info" -> (mutualInfo _),
    "q_dtw" -> (dtw _),
    "q_cohens_kappa" -> (cohensKappa _),
    "q_pr_curve" -> (prCurve _),
    "q_ols_multi" -> (olsMulti _),
    "q_runs_test" -> (runsTest _),
    "q_post_stratified" -> (postStratified _),
    "q_ips_eval" -> (ipsEval _),
    "q_dr_eval" -> (drEval _),
    "q_ucb_bandit" -> (ucbBandit _),
    "q_gae_advantage" -> (gaeAdvantage _),
    "q_symbolic_motifs" -> (symbolicMotifs _),
    "q_seasonal_naive" -> (seasonalNaive _),
    "q_rfm" -> (rfmSegments _),
    "q_attribution" -> (attribution _),
    "q_benford" -> (benfordDigits _),
    "q_changepoint" -> (changePoint _),
    "q_autocorr" -> (autocorr _),
    "q_skyline" -> (skyline _),
    "q_chi_square" -> (chiSquare _),
    "q_adamic_adar" -> (adamicAdar _),
    "q_auc" -> (rocAuc _),
    "q_wilson_ci" -> (wilsonCi _),
    "q_ols_trend" -> (olsTrend _),
    "q_mann_kendall" -> (mannKendall _),
    "q_theil_sen" -> (theilSen _),
    "q_sprt" -> (sprt _),
    "q_winsorize" -> (winsorize _),
    "q_rolling_dau" -> (rollingDau _),
    "q_assoc_rules" -> (assocRules _),
    "q_calibration" -> (calibration _)
  )

  def oracles: Map[String, String] = Map(
    "q_herfindahl" -> herfindahlOracle,
    "q_levene" -> leveneOracle,
    "q_bh_fdr" -> bhFdrOracle,
    "q_qte" -> qteOracle,
    "q_psm_match" -> psmMatchOracle,
    "q_kruskal_wallis" -> kruskalWallisOracle,
    "q_cramers_v" -> cramersVOracle,
    "q_anova" -> anovaOracle,
    "q_hill_tail" -> hillTailOracle,
    "q_woe_iv" -> woeIvOracle,
    "q_krippendorff" -> krippendorffOracle,
    "q_holt_winters" -> holtWintersOracle,
    "q_forecast_eval" -> forecastEvalOracle,
    "q_wasserstein" -> wassersteinOracle,
    "q_cuped" -> cupedOracle,
    "q_did" -> didOracle,
    "q_power_mde" -> powerMdeOracle,
    "q_neyman_alloc" -> neymanAllocOracle,
    "q_seasonality_strength" -> seasonalityStrengthOracle,
    "q_mutual_info" -> mutualInfoOracle,
    "q_dtw" -> dtwOracle,
    "q_cohens_kappa" -> cohensKappaOracle,
    "q_pr_curve" -> prCurveOracle,
    "q_ols_multi" -> olsMultiOracle,
    "q_runs_test" -> runsTestOracle,
    "q_post_stratified" -> postStratifiedOracle,
    "q_ips_eval" -> ipsEvalOracle,
    "q_dr_eval" -> drEvalOracle,
    "q_ucb_bandit" -> ucbBanditOracle,
    "q_gae_advantage" -> gaeAdvantageOracle,
    "q_symbolic_motifs" -> symbolicMotifsOracle,
    "q_seasonal_naive" -> seasonalNaiveOracle,
    "q_rfm" -> rfmSegmentsOracle,
    "q_attribution" -> attributionOracle,
    "q_benford" -> benfordOracle,
    "q_changepoint" -> changePointOracle,
    "q_autocorr" -> autocorrOracle,
    "q_skyline" -> skylineOracle,
    "q_chi_square" -> chiSquareOracle,
    "q_adamic_adar" -> adamicAdarOracle,
    "q_auc" -> rocAucOracle,
    "q_wilson_ci" -> wilsonCiOracle,
    "q_ols_trend" -> olsTrendOracle,
    "q_mann_kendall" -> mannKendallOracle,
    "q_theil_sen" -> theilSenOracle,
    "q_sprt" -> sprtOracle,
    "q_winsorize" -> winsorizeOracle,
    "q_rolling_dau" -> rollingDauOracle,
    "q_assoc_rules" -> assocRulesOracle,
    "q_calibration" -> calibrationOracle
  )
}
