package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** S14 — catalog introspection, the reference's schema-adaptive layer:
  *
  *  - required-table existence checks before a pipeline runs
  *    (`dags/ducklake_utils.py:152-158`,
  *    `dags/gravity/verify_dependencies.py:12-31`);
  *  - `PRAGMA table_info` + candidate-column picking, so the long-trip
  *    transform adapts to whichever id/geometry columns the gold table
  *    actually has (`dags/bussiness_layer/
  *    transform_gold_long_trip_dependency.py:22-33,42-56`);
  *  - whole-catalog column dump (`dags/get_schema/get_shema.py:14`).
  *
  * Spark mapping: temp views + `spark.catalog.tableExists` /
  * `spark.table(t).schema`. Driver-side introspection only — no data
  * moves; the resolved names are injected into an ordinary pushed-down
  * DataFrame plan, exactly like the reference interpolates the resolved
  * column into its SQL string.
  */
object CatalogOps {

  private val CatalogTables = Seq("nation", "region", "customer", "orders", "documents")

  private def registerViews(spark: SparkSession, sfDir: String): Unit =
    CatalogTables.foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }

  // ------------------------------------------------------------------
  /** Catalog dump: per registered table, its column count, alphabetical
    * first column (from the schema — introspection, not data) and its
    * row count (from the data). The oracle states the known physical
    * schema as constants and recomputes the counts, so a wrong schema
    * read OR a wrong count both fail.
    */
  def catalogDump(spark: SparkSession, sfDir: String): DataFrame = {
    registerViews(spark, sfDir)
    val missing = CatalogTables.filterNot(spark.catalog.tableExists)
    require(missing.isEmpty, s"verify_dependencies failed: missing $missing")
    import spark.implicits._
    val schemaSide = CatalogTables.map { t =>
      val fields = spark.table(t).schema.fieldNames
      (t, fields.length, fields.min)
    }.toDF("table_name", "n_cols", "first_col_alpha")
    val countSide = CatalogTables.map(t =>
        spark.table(t).groupBy().agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("table_name"), col("n_rows")))
      .reduce(_.union(_))
    schemaSide.join(countSide, Seq("table_name"))
      .orderBy(col("table_name"))
  }

  private val catalogDumpOracle =
    """SELECT s.table_name, s.n_cols, s.first_col_alpha, c.n_rows
      |FROM (VALUES ('nation', 3, 'n_name'), ('region', 2, 'r_name'),
      |             ('customer', 5, 'c_acctbal'), ('orders', 6, 'o_custkey'),
      |             ('documents', 5, 'doc_id')) AS s(table_name, n_cols, first_col_alpha)
      |JOIN (SELECT 'nation' AS table_name, COUNT(*) AS n_rows FROM nation
      |      UNION ALL SELECT 'region', COUNT(*) FROM region
      |      UNION ALL SELECT 'customer', COUNT(*) FROM customer
      |      UNION ALL SELECT 'orders', COUNT(*) FROM orders
      |      UNION ALL SELECT 'documents', COUNT(*) FROM documents) c
      |  USING (table_name)
      |ORDER BY table_name""".stripMargin

  // ------------------------------------------------------------------
  /** Schema-adaptive aggregation: the amount/date columns are RESOLVED
    * at plan-build time from a candidate list against the actual schema
    * (`transform_gold_long_trip_dependency.py:42-56` picks
    * municipality/geometry columns the same way), then injected into a
    * plain pushed-down aggregate. The oracle hardcodes the columns the
    * resolution must arrive at.
    */
  def schemaAdaptive(spark: SparkSession, sfDir: String): DataFrame = {
    registerViews(spark, sfDir)
    val fields = spark.table("orders").schema.fieldNames.toSet
    def resolve(cands: Seq[String]): String =
      cands.find(fields.contains).getOrElse(
        sys.error(s"none of $cands present in orders(${fields.mkString(",")})"))
    val amountCol = resolve(Seq("total_amount", "order_total", "o_totalprice"))
    val dateCol = resolve(Seq("order_date", "created_at", "o_orderdate"))
    val statusCol = resolve(Seq("status", "o_orderstatus"))
    spark.table("orders")
      .groupBy(year(col(dateCol)).cast("int").as("yr"), col(statusCol).as("status"))
      .agg(count(lit(1)).as("n"),
        round(sum(col(amountCol)), 4).as("total_amount"))
      .orderBy(col("yr"), col("status"))
  }

  private val schemaAdaptiveOracle =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus AS status,
      |       COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total_amount
      |FROM orders GROUP BY 1, 2 ORDER BY yr, status""".stripMargin

  // ------------------------------------------------------------------
  /** Data-quality expectations — the assertion pass a pipeline runs
    * before publishing a layer: null checks, uniqueness, accepted
    * values, numeric range, and referential integrity, each emitted as
    * a (check, n_violations, pass) row. The per-column checks fold into
    * ONE aggregation pass over each table (conditional sums — no
    * per-check scans); referential integrity is the one genuine
    * anti-join. At 100 TB this is exactly the shape a dq framework
    * compiles to, and the single-pass form is why it stays one scan.
    */
  def dqChecks(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val liChecks = li.agg(
      sum(when(col("l_orderkey").isNull, 1).otherwise(0)).cast("long")
        .as("null_orderkey"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0))
        .cast("long").as("bad_returnflag"),
      sum(when(!col("l_quantity").between(1, 50), 1).otherwise(0))
        .cast("long").as("qty_out_of_range"))
    val dupOrders = ord.groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0)).cast("long").as("v"))
    val orphans = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    def row(name: String, v: org.apache.spark.sql.DataFrame) =
      v.select(lit(name).as("check_name"), col(v.columns.head).as("n_violations"))
    // stack() pivots the single aggregate row into the three per-column
    // check rows — referencing liChecks from three union branches would
    // let column pruning specialize each branch and execute THREE
    // lineitem scans (ReuseExchange can't dedupe the non-identical
    // subplans), despite this being one aggregation
    liChecks.select(expr(
        """stack(3,
          |  'accepted_values_returnflag', bad_returnflag,
          |  'not_null_orderkey', null_orderkey,
          |  'range_quantity', qty_out_of_range) AS (check_name, n_violations)""".stripMargin))
      .unionByName(row("referential_lineitem_orders", orphans))
      .unionByName(row("unique_orderkey", dupOrders))
      .withColumn("pass", col("n_violations") === 0)
      .orderBy(col("check_name"))
  }

  private val dqChecksOracle =
    """SELECT 'accepted_values_returnflag' AS check_name,
      |       CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |       SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) = 0 AS pass
      |FROM lineitem
      |UNION ALL
      |SELECT 'not_null_orderkey',
      |       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'range_quantity',
      |       CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT),
      |       SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'referential_lineitem_orders',
      |       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'unique_orderkey',
      |       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT), COALESCE(SUM(n - 1), 0) = 0
      |FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders
      |      GROUP BY o_orderkey HAVING COUNT(*) > 1)
      |ORDER BY check_name""".stripMargin

  // ------------------------------------------------------------------
  /** ANALYZE-style table statistics in ONE scan — the numbers a
    * cost-based optimizer (and a data engineer) wants per column:
    * row count, null count, min/max, and distinct count, computed as
    * parallel aggregates over a single pass (the `dqChecks` pattern:
    * never rescan per column) and UNPIVOTed to one row per column.
    * Long/string stats are stacked through a common string rendering so
    * the output is one uniform relation. Exact NDV here because the
    * oracle must hash-match; the documented 100 TB swap is
    * `approx_count_distinct` per column in the same single pass
    * (the HLL path `q_approx_distinct` already pins).
    */
  def tableStats(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    // profiled columns are all FIXED-WIDTH buffer types (long, timestamp,
    // double): a varlen string min/max in the buffer would force the
    // whole pass into SortAggregate over the count-distinct-expanded
    // rows (measured 4x slower; the round-4 lesson) — string columns get
    // ndv/null stats through a numeric surrogate if ever needed
    val stats = o.agg(
      count(lit(1)).as("n_rows"),
      // o_custkey
      sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("long").as("ck_nulls"),
      min(col("o_custkey")).cast("string").as("ck_min"),
      max(col("o_custkey")).cast("string").as("ck_max"),
      countDistinct(col("o_custkey")).as("ck_ndv"),
      // o_orderdate
      sum(when(col("o_orderdate").isNull, 1).otherwise(0)).cast("long").as("od_nulls"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("od_min"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("od_max"),
      countDistinct(col("o_orderdate")).as("od_ndv"),
      // o_totalprice
      sum(when(col("o_totalprice").isNull, 1).otherwise(0)).cast("long").as("tp_nulls"),
      cast6(min(col("o_totalprice"))).as("tp_min"),
      cast6(max(col("o_totalprice"))).as("tp_max"),
      countDistinct(col("o_totalprice")).as("tp_ndv"))
    stats.select(col("n_rows"), expr(
      """stack(3,
        |  'o_custkey',   ck_nulls, ck_min, ck_max, ck_ndv,
        |  'o_orderdate', od_nulls, od_min, od_max, od_ndv,
        |  'o_totalprice', tp_nulls, tp_min, tp_max, tp_ndv)
        |AS (column_name, null_count, min_value, max_value, ndv)""".stripMargin))
      .orderBy(col("column_name"))
  }

  /** Doubles rendered C-printf style at a fixed 6 dp so both engines
    * print the same string (raw double-to-string formatting differs
    * between them; the source values are 2 dp decimals, so no rounding
    * ambiguity survives at 6 dp). */
  private def cast6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    format_string("%.6f", c)

  private val tableStatsOracle =
    """WITH s AS (
      |  SELECT COUNT(*) AS n_rows,
      |         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ck_nulls,
      |         CAST(MIN(o_custkey) AS VARCHAR) AS ck_min,
      |         CAST(MAX(o_custkey) AS VARCHAR) AS ck_max,
      |         COUNT(DISTINCT o_custkey) AS ck_ndv,
      |         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS od_nulls,
      |         strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS od_min,
      |         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS od_max,
      |         COUNT(DISTINCT o_orderdate) AS od_ndv,
      |         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp_nulls,
      |         printf('%.6f', MIN(o_totalprice)) AS tp_min,
      |         printf('%.6f', MAX(o_totalprice)) AS tp_max,
      |         COUNT(DISTINCT o_totalprice) AS tp_ndv
      |  FROM orders)
      |SELECT n_rows, column_name, null_count, min_value, max_value, ndv
      |FROM (
      |  SELECT n_rows, 'o_custkey' AS column_name, ck_nulls AS null_count,
      |         ck_min AS min_value, ck_max AS max_value, ck_ndv AS ndv FROM s
      |  UNION ALL
      |  SELECT n_rows, 'o_orderdate', od_nulls, od_min, od_max, od_ndv FROM s
      |  UNION ALL
      |  SELECT n_rows, 'o_totalprice', tp_nulls, tp_min, tp_max, tp_ndv FROM s)
      |ORDER BY column_name""".stripMargin

  // ------------------------------------------------------------------
  /** PSI drift monitor — the standard ML-ops distribution-shift check:
    * Population Stability Index of the token-count histogram between
    * two deterministic halves of the corpus (the stand-in for
    * yesterday's snapshot vs today's, or train vs serving). Per bin:
    * counts in each half, add-1-smoothed shares p and q, and the PSI
    * term (p−q)·ln(p/q); PSI > 0.2 on any feature is the conventional
    * retrain/investigate trigger. Fixed-width bins with a top
    * catch-all keep the histogram dimension-sized no matter the
    * corpus.
    *
    * Scale shape: one map-side bin projection + one 8-row conditional
    * aggregate; the share normalization windows run over the
    * bin-count aggregate, not the corpus. Parity: counts are exact
    * longs, shares are correctly-rounded double divisions of exact
    * ints, and each PSI term quantizes to e6 before the 6 dp output
    * round (the micro-nat doctrine).
    */
  private val PsiBins = 8
  private val PsiBinWidth = 16L

  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      .withColumn("grp", when(pmod(col("doc_id"), lit(2)) === 0, "a").otherwise("b"))
      .withColumn("bin",
        least(floor(col("n_tok") / PsiBinWidth), lit(PsiBins - 1L)).cast("long"))
    val counts = binned.groupBy(col("bin"))
      .agg(sum(when(col("grp") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).as("n_b"))
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("tot_a", sum(col("n_a")).over(w))
      .withColumn("tot_b", sum(col("n_b")).over(w))
      .withColumn("p", (col("n_a") + 1).cast("double") / (col("tot_a") + PsiBins))
      .withColumn("q", (col("n_b") + 1).cast("double") / (col("tot_b") + PsiBins))
      .withColumn("psi_e6",
        round((col("p") - col("q")) * log(col("p") / col("q")) * lit(1000000.0), 0)
          .cast("long"))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(col("psi_e6").cast("double") / 1000000.0, 6).as("psi_term"))
      .orderBy(col("bin"))
  }

  private val psiDriftOracle =
    s"""WITH binned AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
       |         LEAST(CAST(FLOOR(len(string_split(text, ' ')) / $PsiBinWidth)
       |                    AS BIGINT), ${PsiBins - 1}) AS bin
       |  FROM documents),
       |c AS (
       |  SELECT bin,
       |         CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM binned GROUP BY bin),
       |t AS (
       |  SELECT *, CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,
       |            CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b
       |  FROM c),
       |s AS (
       |  SELECT bin, n_a, n_b,
       |         (n_a + 1.0) / (tot_a + $PsiBins) AS p,
       |         (n_b + 1.0) / (tot_b + $PsiBins) AS q
       |  FROM t)
       |SELECT bin, n_a, n_b,
       |       ROUND(CAST(ROUND((p - q) * ln(p / q) * 1000000.0) AS BIGINT)
       |             / 1000000.0, 6) AS psi_term
       |FROM s ORDER BY bin""".stripMargin

  // ------------------------------------------------------------------
  /** Release-prep PII scrub for STRUCTURED data — the ENFORCEMENT half
    * of the privacy family ([[kAnonymity]]/[[lDiversity]]/
    * [[tCloseness]] are the audits; the free-TEXT channel — regex
    * redaction of emails/phones inside document bodies — is
    * [[graft.ops.PipelineOps.piiRedact]]): produce the publishable
    * customer table by (a) PSEUDONYMIZING the direct identifier (the
    * FULL md5 digest of salt‖name — a truncated prefix would
    * birthday-collide at corpus scale and silently merge identities;
    * the salt (`graft.pii.salt` conf, default [[PiiSaltDefault]])
    * keys the digest so an enumerable identifier space can't be
    * dictionary-reversed; deterministic for a fixed salt, so internal
    * linkage across releases survives), (b) GENERALIZING the
    * sensitive numeric to
    * 100-unit bands, and (c) enforcing k = [[AnonK]] with a
    * GENERALIZATION LADDER, not one suppression pass: segment → '*'
    * for rows whose (nation, segment) class is below k; then nation
    * → −1 for rows whose RESULTING (nation, segment-out) class is
    * still below k (the suppressed rows of a small nation would
    * otherwise form a sub-k ('*', nation) class — re-identifiable by
    * nation alone, the exact linkage attack the audit flags); then
    * DROP any row whose final class still falls short (possible only
    * on degenerate inputs; zero rows on this fixture, and the ledger
    * column `supp_level` makes a drop visible as a count delta). The
    * release is k-anonymous on its FULL quasi-identifier tuple by
    * construction — CatalogOpsSpec asserts it class by class.
    * (AnonK is declared here — above both its val-initialized oracles —
    * because Scala object vals initialize in declaration order.)
    *
    * Scale shape: each ladder rung's class histogram is
    * dimension-sized (bounded by nations × segments — genuinely
    * bounded, so the broadcast hints are legitimate, the
    * fastText-model pattern); everything else is map-side column math
    * over one pass. Output is ordered by the full column set so that
    * equal released rows cannot destabilize the hash compare.
    */
  private val AnonK = 8L

  /** Default pseudonymization salt. TPC-H customer names are enumerable
    * ("Customer#000000001"), so an UNKEYED digest is trivially
    * dictionary-reversible — the salt makes the dictionary attack
    * require the key. Production deployments must override it with a
    * real secret via `graft.pii.salt`; the default exists only so the
    * DuckDB oracle (static SQL) can replay the digest. */
  private val PiiSaltDefault = "graft.pii.salt.v1|"

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val salt = spark.conf.get("graft.pii.salt", PiiSaltDefault)
    val c = Tables.customer(spark, sfDir)
    val cls1 = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n1"))
    val r1 = c.join(broadcast(cls1), Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_name"), col("c_acctbal"),
        col("c_nationkey").as("nat1"),
        when(col("n1") < AnonK, lit("*"))
          .otherwise(col("c_mktsegment")).as("seg_out"),
        when(col("n1") < AnonK, 1).otherwise(0).as("lvl1"))
    val cls2 = r1.groupBy(col("nat1"), col("seg_out"))
      .agg(count(lit(1)).as("n2"))
    val r2 = r1.join(broadcast(cls2), Seq("nat1", "seg_out"))
      .select(col("c_name"), col("c_acctbal"), col("seg_out"),
        when(col("n2") < AnonK, lit(-1)).otherwise(col("nat1")).as("nat_out"),
        when(col("n2") < AnonK, 2).otherwise(col("lvl1")).as("supp_level"))
    val cls3 = r2.groupBy(col("nat_out"), col("seg_out"))
      .agg(count(lit(1)).as("n3"))
    r2.join(broadcast(cls3), Seq("nat_out", "seg_out"))
      .filter(col("n3") >= AnonK) // degenerate residue: drop, visibly
      .select(
        concat(lit("cust_"),
          md5(concat(lit(salt), col("c_name")).cast("binary")))
          .as("pseudonym"),
        col("nat_out"),
        (floor(col("c_acctbal") / 100) * 100).cast("long").as("bal_band"),
        col("seg_out").as("segment"),
        col("supp_level"))
      .orderBy(col("pseudonym"), col("nat_out"), col("bal_band"),
        col("segment"), col("supp_level"))
  }

  private val piiScrubOracle =
    s"""WITH cls1 AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n1
       |              FROM customer GROUP BY 1, 2),
       |r1 AS (SELECT c_name, c_acctbal, c_nationkey AS nat1,
       |              CASE WHEN n1 < $AnonK THEN '*' ELSE c_mktsegment END
       |                AS seg_out,
       |              CASE WHEN n1 < $AnonK THEN 1 ELSE 0 END AS lvl1
       |       FROM customer JOIN cls1 USING (c_nationkey, c_mktsegment)),
       |cls2 AS (SELECT nat1, seg_out, COUNT(*) AS n2
       |         FROM r1 GROUP BY 1, 2),
       |r2 AS (SELECT c_name, c_acctbal, seg_out,
       |              CASE WHEN n2 < $AnonK THEN -1 ELSE nat1 END AS nat_out,
       |              CASE WHEN n2 < $AnonK THEN 2 ELSE lvl1 END AS supp_level
       |       FROM r1 JOIN cls2 USING (nat1, seg_out)),
       |cls3 AS (SELECT nat_out, seg_out, COUNT(*) AS n3
       |         FROM r2 GROUP BY 1, 2)
       |SELECT 'cust_' || md5('$PiiSaltDefault' || c_name) AS pseudonym,
       |       nat_out,
       |       CAST(FLOOR(c_acctbal / 100) * 100 AS BIGINT) AS bal_band,
       |       seg_out AS segment,
       |       supp_level
       |FROM r2 JOIN cls3 USING (nat_out, seg_out)
       |WHERE n3 >= $AnonK
       |ORDER BY pseudonym, nat_out, bal_band, segment, supp_level""".stripMargin

  /** k-anonymity audit — the privacy-release check that complements
    * PII redaction: before publishing a table, every equivalence class
    * of the quasi-identifier tuple (here nation × market segment) must
    * contain at least k rows, or those rows are re-identifiable by
    * linkage. Per segment: class count, smallest class, classes below
    * k, and rows at risk (the suppression/generalization worklist).
    *
    * Scale shape: one hash aggregate on the quasi-identifier tuple
    * (the class histogram is dimension-sized), then a tiny conditional
    * re-aggregate — the same two-level shape as [[dqChecks]]. Exact
    * integers everywhere.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment").as("segment"), col("c_nationkey"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("class_size")).as("min_class"),
        sum(when(col("class_size") < AnonK, 1L).otherwise(0L))
          .as("n_violating"),
        sum(when(col("class_size") < AnonK, col("class_size"))
          .otherwise(0L)).cast("long").as("rows_at_risk"))
      .orderBy(col("segment"))

  private val kAnonymityOracle =
    s"""WITH cls AS (
       |  SELECT c_mktsegment AS segment, c_nationkey,
       |         COUNT(*) AS class_size
       |  FROM customer GROUP BY 1, 2)
       |SELECT segment, COUNT(*) AS n_classes,
       |       CAST(MIN(class_size) AS BIGINT) AS min_class,
       |       CAST(SUM(CASE WHEN class_size < $AnonK THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_violating,
       |       CAST(SUM(CASE WHEN class_size < $AnonK THEN class_size
       |                     ELSE 0 END) AS BIGINT) AS rows_at_risk
       |FROM cls GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------- referential integrity
  /** Cross-table referential-integrity audit between the documents
    * store and the embedding index — the check a doc+vector pipeline
    * runs after every ingest: ids present on one side but not the
    * other are stale (doc deleted, vector kept) or unembedded (doc
    * ingested, vector missing). Both directions are LEFT ANTI joins —
    * the id sets shuffle, never the payloads — plus the matched count;
    * one summary row the pipeline alerts on if any orphan count is
    * nonzero. At 100 TB both sides reduce to id columns before any
    * exchange.
    */
  def refIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"))
    val unembedded = docs.join(vecs, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("docs_without_vec"))
    val stale = vecs.join(docs, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("vecs_without_doc"))
    val matched = docs.join(vecs, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("matched"))
    matched.crossJoin(unembedded).crossJoin(stale)
      .withColumn("consistent",
        col("docs_without_vec") === 0L && col("vecs_without_doc") === 0L)
  }

  private val refIntegrityOracle =
    """SELECT
      |  (SELECT COUNT(*) FROM documents d
      |   WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
      |    AS matched,
      |  (SELECT COUNT(*) FROM documents d
      |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
      |    AS docs_without_vec,
      |  (SELECT COUNT(*) FROM embeddings e
      |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
      |    AS vecs_without_doc,
      |  (SELECT COUNT(*) FROM documents d
      |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) = 0
      |  AND
      |  (SELECT COUNT(*) FROM embeddings e
      |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) = 0
      |    AS consistent""".stripMargin

  // ------------------------------------------------------------------
  /** l-diversity audit — k-anonymity's necessary complement: a class
    * can hold ≥ k rows yet still leak if every row shares the same
    * SENSITIVE value (homogeneity attack). Per quasi-identifier class
    * (nation × market segment) count the distinct sensitive categories
    * (account-balance band: delinquent / standard / premium); classes
    * with fewer than l = 2 distinct values are the disclosure risk.
    *
    * Scale shape: the sensitive band is a map-side CASE; the distinct
    * count rides the SAME quasi-identifier hash aggregate k-anonymity
    * uses (count distinct over a 3-value domain — partial-aggregable);
    * then the per-segment re-aggregate is dimension-sized.
    */
  private val DivL = 2L

  def lDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .withColumn("band",
        when(col("c_acctbal") < 0, lit("delinquent"))
          .when(col("c_acctbal") < 5000, lit("standard"))
          .otherwise(lit("premium")))
      .groupBy(col("c_mktsegment").as("segment"), col("c_nationkey"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("band")).as("l_div"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("l_div")).as("min_l"),
        sum(when(col("l_div") < DivL, 1L).otherwise(0L)).as("n_homogeneous"),
        sum(when(col("l_div") < DivL, col("class_size")).otherwise(0L))
          .cast("long").as("rows_exposed"))
      .orderBy(col("segment"))

  private val lDiversityOracle =
    s"""WITH cls AS (
       |  SELECT c_mktsegment AS segment, c_nationkey,
       |         COUNT(*) AS class_size,
       |         COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'delinquent'
       |                             WHEN c_acctbal < 5000 THEN 'standard'
       |                             ELSE 'premium' END) AS l_div
       |  FROM customer GROUP BY 1, 2)
       |SELECT segment, COUNT(*) AS n_classes,
       |       CAST(MIN(l_div) AS BIGINT) AS min_l,
       |       CAST(SUM(CASE WHEN l_div < $DivL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_homogeneous,
       |       CAST(SUM(CASE WHEN l_div < $DivL THEN class_size ELSE 0 END)
       |         AS BIGINT) AS rows_exposed
       |FROM cls GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------------------------------
  /** Join-key skew report — the diagnostic a Spark team reads before
    * picking a salt factor or enabling AQE skew handling: per candidate
    * join key, the cardinality, the count distribution over keys (p50 /
    * p99 / max), the skew ratio max/p50, and the salt factor that would
    * level the hottest key to the p99 (ceil(max/p99), the house salting
    * rule). All from ONE hash aggregate per key column; the percentile
    * runs over the key-count frame (cardinality-sized, not data-sized).
    * Exact percentiles on integer counts interpolate exact halves —
    * identical in both engines; the sketch swap at 10⁹-key cardinality
    * is `approx_percentile`, same contract as the AggOps percentiles.
    */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame = {
    def forKey(key: String): DataFrame =
      Tables.lineitem(spark, sfDir)
        .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"),
          expr("percentile(cnt, 0.5)").as("p50"),
          expr("percentile(cnt, 0.99)").as("p99"))
        .select(lit(key).as("join_key"), col("n_keys"), col("max_cnt"),
          round(col("p50"), 4).as("p50"), round(col("p99"), 4).as("p99"),
          round(col("max_cnt") / col("p50"), 4).as("skew_ratio"),
          ceil(col("max_cnt") / col("p99")).cast("long").as("salt_factor"))
    forKey("l_orderkey")
      .unionByName(forKey("l_partkey"))
      .unionByName(forKey("l_suppkey"))
      .orderBy(col("join_key"))
  }

  private val skewReportOracle = {
    def one(key: String) =
      s"""SELECT '$key' AS join_key, COUNT(*) AS n_keys,
         |       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         |       ROUND(quantile_cont(cnt, 0.5), 4) AS p50,
         |       ROUND(quantile_cont(cnt, 0.99), 4) AS p99,
         |       ROUND(CAST(MAX(cnt) AS DOUBLE) / quantile_cont(cnt, 0.5), 4)
         |         AS skew_ratio,
         |       CAST(CEIL(CAST(MAX(cnt) AS DOUBLE) / quantile_cont(cnt, 0.99))
         |            AS BIGINT) AS salt_factor
         |FROM (SELECT $key, COUNT(*) AS cnt FROM lineitem GROUP BY 1)""".stripMargin
    s"""${one("l_orderkey")}
       |UNION ALL
       |${one("l_partkey")}
       |UNION ALL
       |${one("l_suppkey")}
       |ORDER BY join_key""".stripMargin
  }

  // ------------------------------------------------------------------
  /** Laplace-mechanism DP count release (ε = 1, sensitivity 1 →
    * b = 1): each segment's customer count is published as
    * n + Laplace(1), the third leg of the privacy battery after
    * [[kAnonymity]] and [[lDiversity]]. The inverse-CDF draw
    * u → −sign(u−½)·b·ln(1−2|u−½|) runs on a uniform derived from the
    * segment's md5 (the engine-parity hash idiom), so the release is
    * REPRODUCIBLE across engines for the oracle compare — a production
    * deployment feeds a secret per-release seed through the same
    * plumbing, which is the only change this mechanism needs. ln on
    * identical doubles + 4-dp round is the established e6-ln parity
    * pattern. One hash aggregate; noise is a map-side projection.
    */
  def dpCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
      .withColumn("h", Parity.md5Key(col("segment").cast("binary")))
      .withColumn("u", (pmod(col("h"), lit(4294967296L)).cast("double") +
        lit(0.5)) / lit(4294967296.0))
      .withColumn("noise",
        -signum(col("u") - lit(0.5)) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))))
      .select(col("segment"), col("n"),
        round(col("n") + col("noise"), 4).as("dp_n"))
      .orderBy(col("segment"))

  private val dpCountsOracle =
    s"""WITH c AS (
      |  SELECT c_mktsegment AS segment, COUNT(*) AS n FROM customer
      |  GROUP BY 1),
      |u AS (
      |  SELECT segment, n,
      |         (CAST(${Parity.md5KeySql("segment")}
      |               % 4294967296 AS DOUBLE) + 0.5) / 4294967296.0 AS u
      |  FROM c)
      |SELECT segment, n,
      |       ROUND(n + (CASE WHEN u > 0.5 THEN -1.0
      |                       WHEN u < 0.5 THEN 1.0 ELSE 0.0 END)
      |                 * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS dp_n
      |FROM u ORDER BY segment""".stripMargin

  // ------------------------------------------------------------------
  /** Differentially private median via the exponential mechanism
    * (McSherry & Talwar FOCS'07; the rank utility is the textbook DP
    * median construction) — the release the privacy family lacked:
    * [[dpCounts]] privatizes COUNTS, this privatizes an ORDER
    * STATISTIC, which no amount of Laplace-on-a-count gives you. Per
    * source, candidate values are the observed doc lengths; utility
    * u(v) = −(rank distance from the lower median, 0 inside a
    * duplicate span — exact integers from one cumulative window);
    * the mechanism samples w.p. ∝ exp(ε·u/2) via the GUMBEL-MAX
    * trick (argmax of ε·u/2 + Gumbel — the distributed-friendly
    * form: no normalizing constant, one per-key window argmax), with
    * the Gumbel from the md5-lattice uniform (deterministic, the
    * [[dpCounts]] noise discipline). ε = 1. The true median and the
    * winner's rank error ship beside the release so the
    * utility/privacy trade reads directly.
    *
    * Scale shape: one distinct-value rollup per source, one
    * source-partitioned cumulative window (values-per-source-bounded),
    * one window argmax. Selection stability: utility gaps are
    * integers scaled by ε/2 and Gumbels are md5-spread — ln() ulp
    * drift can't flip an argmax. */
  def dpQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val vals = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = vals
      .withColumn("below", coalesce(sum(col("cnt")).over(
        w.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(w.partitionBy(col("source"))))
      .withColumn("target", expr("(n + 1) DIV 2")) // lower median rank
      .withColumn("dist", // 0 inside the span, else gap to nearer end
        when(col("target").between(col("below") + 1,
          col("below") + col("cnt")), 0L)
          .otherwise(least(abs(col("below") + 1 - col("target")),
            abs(col("below") + col("cnt") - col("target")))))
      .withColumn("u", (pmod(expr(Parity.md5KeyExpr(
        "CAST(concat('dq_', source, '_', v) AS BINARY)")),
        lit(4294967296L)).cast("double") + lit(0.5)) / lit(4294967296.0))
      .withColumn("g", -log(-log(col("u"))))
      .withColumn("score", lit(-0.5) * col("dist") + col("g"))
    val winner = ranked
      .withColumn("rn", row_number().over(
        w.partitionBy(col("source"))
          .orderBy(col("score").desc, col("v"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("n"), col("v").as("dp_median"),
        col("dist").as("rank_err"))
    val truth = ranked.filter(col("target").between(col("below") + 1,
        col("below") + col("cnt")))
      .select(col("source"), col("v").as("true_median"))
    winner.join(truth, Seq("source"))
      .select(col("source"), col("n"), col("true_median"),
        col("dp_median"), col("rank_err"))
      .orderBy(col("source"))
  }

  private val dpQuantileOracle =
    s"""WITH vals AS (
      |  SELECT source, n_chars AS v, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |r AS (
      |  SELECT *,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below,
      |    SUM(cnt) OVER (PARTITION BY source) AS n
      |  FROM vals),
      |s AS (
      |  SELECT *, (n + 1) // 2 AS target FROM r),
      |d AS (
      |  SELECT *,
      |    CASE WHEN target BETWEEN below + 1 AND below + cnt THEN 0
      |         ELSE LEAST(abs(below + 1 - target),
      |                    abs(below + cnt - target)) END AS dist,
      |    (CAST(${Parity.md5KeySql("'dq_' || source || '_' || v")}
      |          % 4294967296 AS DOUBLE) + 0.5)
      |      / 4294967296.0 AS u
      |  FROM s),
      |sc AS (SELECT *, -0.5 * dist + (-ln(-ln(u))) AS score FROM d),
      |win AS (
      |  SELECT source, n, v AS dp_median, dist AS rank_err,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY score DESC, v) AS rn
      |  FROM sc),
      |tru AS (
      |  SELECT source, v AS true_median FROM sc
      |  WHERE target BETWEEN below + 1 AND below + cnt)
      |SELECT w.source, CAST(w.n AS BIGINT) AS n, t.true_median,
      |       w.dp_median, CAST(w.rank_err AS BIGINT) AS rank_err
      |FROM win w JOIN tru t ON w.source = t.source
      |WHERE w.rn = 1 ORDER BY w.source""".stripMargin

  // ------------------------------------------------------------------
  /** DP-SGD privacy accountant — the noise-calibration table a private
    * training run publishes beside its model card: for each (epochs,
    * noise multiplier σ) configuration over THIS corpus, the spent
    * ε at δ = 1e-6 via Rényi-DP composition of the per-step Gaussian
    * mechanism (Mironov 2017, public paper): each sensitivity-1 step
    * costs ε_RDP(α) = α/(2σ²), T steps compose additively, and the
    * conversion to (ε, δ)-DP takes the MINIMUM over an α ∈ [2, 64]
    * grid of T·α/(2σ²) + ln(1/δ)/(α−1). Steps derive from the corpus
    * (T = epochs·⌈n/64⌉), so the accountant reads the data it prices.
    *
    * Exactness: σ ∈ {0.5, 1, 2} makes 2σ² a power of two (division is
    * exact double scaling), T·α is exact integer, ln(1/δ) = ln(1e6) is
    * one shared libm call, and each candidate quantizes to the e6
    * lattice BEFORE the argmin — the α pick is an integer comparison
    * with ties to the smaller α, identical in both engines.
    *
    * Scale shape: one corpus COUNT (an A6 1-row frame) + a 9×63
    * constant grid — the accountant itself costs nothing at any scale;
    * it exists so the lakehouse can gate exports on a privacy budget
    * the same way dq_checks gates on quality.
    */
  def dpAccountant(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    val grid = Seq(1, 3, 10)
      .flatMap(e => Seq(0.5, 1.0, 2.0).map(s => (e, s)))
      .toDF("epochs", "sigma")
    grid.crossJoin(broadcast(n))
      .withColumn("steps", col("epochs") * expr("(n + 63) div 64"))
      .withColumn("alpha", explode(expr("sequence(2, 64)")))
      .withColumn("v_e6", round(
        (col("steps") * col("alpha") / (col("sigma") * col("sigma") * 2.0)
          + log(lit(1000000.0)) / (col("alpha") - 1)) * 1000000.0, 0)
        .cast("long"))
      .groupBy(col("epochs"), col("sigma"))
      .agg(first(col("steps")).as("steps"),
        min(struct(col("v_e6"), col("alpha"))).as("best"))
      .select(col("epochs"), col("sigma"), col("steps"),
        col("best.alpha").as("best_alpha"),
        round(col("best.v_e6") / lit(1000000.0), 6).as("eps"))
      .orderBy(col("epochs"), col("sigma"))
  }

  private val dpAccountantOracle =
    """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      |grid AS (
      |  SELECT e.epochs, s.sigma
      |  FROM (SELECT UNNEST([1, 3, 10]) AS epochs) e
      |  CROSS JOIN (SELECT UNNEST([0.5::DOUBLE, 1.0, 2.0]) AS sigma) s),
      |g2 AS (
      |  SELECT epochs, sigma, epochs * ((n + 63) // 64) AS steps
      |  FROM grid CROSS JOIN nn),
      |scored AS (
      |  SELECT epochs, sigma, steps, alpha,
      |         CAST(ROUND((steps * alpha / (sigma * sigma * 2.0)
      |               + ln(1000000.0) / (alpha - 1)) * 1000000.0)
      |              AS BIGINT) AS v_e6
      |  FROM g2, UNNEST(range(2, 65)) AS t(alpha)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY epochs, sigma
      |             ORDER BY v_e6, alpha) AS rn
      |  FROM scored)
      |SELECT CAST(epochs AS INTEGER) AS epochs, sigma,
      |       CAST(steps AS BIGINT) AS steps,
      |       CAST(alpha AS INTEGER) AS best_alpha,
      |       ROUND(v_e6 / 1000000.0, 6) AS eps
      |FROM ranked WHERE rn = 1
      |ORDER BY epochs, sigma""".stripMargin

  // ------------------------------------------------------------------
  /** Equi-depth (equi-height) 8-bucket histogram of l_extendedprice —
    * the histogram a cost-based optimizer keeps per column, where every
    * bucket holds ~n/8 rows and the EDGES move with the data (the
    * equi-WIDTH twin lives in AnalyticsOps.histogram). Two passes: one
    * aggregate for the 7 interior percentile edges (broadcast back as a
    * 1-row frame), one map-side unrolled comparison ladder + bucket
    * count.
    *
    * Percentile contract (the [[graft.ops.AggOps.approxPercentiles]]
    * contract, made explicit here because this is the suite's most
    * expensive exact-percentile user): exact `percentile` is the
    * ORACLE-PARITY mode only — it buffers the whole column in one
    * aggregation buffer, which is fine at verify SF and OOM at 100 TB.
    * The scale path is the mergeable fixed-size Greenwald–Khanna
    * `approx_percentile` with the SAME downstream ladder plan:
    * [[equidepthHistApprox]], oracle-checked via the equi-depth
    * invariant.
    */
  def equidepthHist(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.lineitem(spark, sfDir)
      .agg(expr("percentile(l_extendedprice, " +
        "array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))").as("es"))
    val x = col("l_extendedprice")
    val bucket = (0 until 7).foldLeft(lit(8)) { case (acc, i) =>
      // fold builds the ladder inside-out: check edges high→low so the
      // FIRST satisfied `<=` (lowest edge) wins
      when(x <= col("es").getItem(6 - i), lit(7 - i)).otherwise(acc)
    }
    Tables.lineitem(spark, sfDir).crossJoin(broadcast(edges))
      .select(bucket.as("bucket"), x.as("x"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("x")), 4).as("lo"), round(max(col("x")), 4).as("hi"))
      .orderBy(col("bucket"))
  }

  /** The 100 TB mode of [[equidepthHist]] exercised for real: edges
    * from the mergeable GK sketch (accuracy 10000 → rank error ≤ 0.01%
    * of rows per edge), then the SAME ladder plan, verified through the
    * property that DEFINES an equi-depth histogram rather than through
    * engine-specific sketch internals: each of the 8 buckets must hold
    * n/8 rows within a tolerance dominated by the sketch's rank error
    * (1% is 100× headroom), and bucket counts must partition the table
    * exactly. A broken sketch, ladder, or merge fails the booleans; the
    * exact row total keeps the row hashable end-to-end.
    *
    * Ties assumption: the 1% depth bound presumes no single value of
    * `l_extendedprice` carries ≳1% of all rows — equality ties cannot
    * straddle a bucket edge, so a heavy tie piles its whole mass into
    * one bucket regardless of sketch accuracy (the column is
    * near-continuous in this data: ~every value distinct, so the bound
    * has ~100× headroom). On a heavily-tied column the invariant is a
    * data property, not a sketch property — re-derive the tolerance
    * from max per-value frequency before reusing this oracle there.
    */
  def equidepthHistApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.lineitem(spark, sfDir)
      .agg(expr("approx_percentile(l_extendedprice, " +
        "array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875), 10000)").as("es"))
    val x = col("l_extendedprice")
    val bucket = (0 until 7).foldLeft(lit(8)) { case (acc, i) =>
      when(x <= col("es").getItem(6 - i), lit(7 - i)).otherwise(acc)
    }
    Tables.lineitem(spark, sfDir).crossJoin(broadcast(edges))
      .select(bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_total"),
        count(lit(1)).cast("int").as("n_buckets"),
        max(col("n")).as("n_max"), min(col("n")).as("n_min"))
      .select(col("n_total"), col("n_buckets"),
        (greatest(col("n_max") - col("n_total") / 8.0,
          col("n_total") / 8.0 - col("n_min")) <= col("n_total") / 100.0)
          .as("depth_within_1pct"))
  }

  private val equidepthHistApproxOracle =
    """SELECT COUNT(*) AS n_total, 8 AS n_buckets,
      |       TRUE AS depth_within_1pct
      |FROM lineitem""".stripMargin

  private val equidepthHistOracle =
    """WITH e AS (
      |  SELECT quantile_cont(l_extendedprice,
      |           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS es
      |  FROM lineitem),
      |b AS (
      |  SELECT CASE WHEN l_extendedprice <= es[1] THEN 1
      |              WHEN l_extendedprice <= es[2] THEN 2
      |              WHEN l_extendedprice <= es[3] THEN 3
      |              WHEN l_extendedprice <= es[4] THEN 4
      |              WHEN l_extendedprice <= es[5] THEN 5
      |              WHEN l_extendedprice <= es[6] THEN 6
      |              WHEN l_extendedprice <= es[7] THEN 7
      |              ELSE 8 END AS bucket,
      |         l_extendedprice AS x
      |  FROM lineitem, e)
      |SELECT bucket, COUNT(*) AS n,
      |       ROUND(MIN(x), 4) AS lo, ROUND(MAX(x), 4) AS hi
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------------- t-closeness
  /** t-closeness threshold (EMD above this marks a class as leaking
    * the sensitive attribute's distribution). */
  private val CloseT_E6 = 200000L

  /** t-closeness audit — the third rung of the anonymity ladder after
    * [[kAnonymity]] and [[lDiversity]], on the same quasi-identifier
    * classes (segment × nation) and the same ORDERED sensitive
    * attribute (the acctbal band, delinquent < standard < premium):
    * a class can be k-large and l-diverse yet still reveal that its
    * members are, say, 90% delinquent when the table is 10% — what
    * t-closeness bounds is the EARTH MOVER'S DISTANCE between the
    * class's band distribution and the whole table's. For an ordered
    * m-valued attribute, EMD = Σ|cum(P)−cum(Q)| / (m−1) — here
    * computed exactly: cum differences cross-multiplied onto the
    * class_size·N_total lattice, one e6 floor division at the end.
    *
    * Scale shape: identical to the siblings — one hash aggregation to
    * (class × band) counts (here pivoted as three conditional sums in
    * the same pass), one 1-row global rollup broadcast back, one
    * segment rollup. Nothing but counts ever shuffles.
    */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val banded = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment").as("segment"), col("c_nationkey"),
        when(col("c_acctbal") < 0, 0).when(col("c_acctbal") < 5000, 1)
          .otherwise(2).as("band"))
    val cls = banded.groupBy(col("segment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("band") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("band") === 1, 1L).otherwise(0L)).as("c1"))
    val glob = banded.agg(count(lit(1)).as("nn"),
      sum(when(col("band") === 0, 1L).otherwise(0L)).as("g0"),
      sum(when(col("band") === 1, 1L).otherwise(0L)).as("g1"))
    cls.crossJoin(broadcast(glob))
      .withColumn("emd_e6", expr(
        """(abs(c0 * nn - g0 * n) + abs((c0 + c1) * nn - (g0 + g1) * n))
           * 1000000 DIV (2 * n * nn)""".replace("\n", " ")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_classes"),
        max(col("emd_e6")).as("max_emd_e6"),
        sum(when(col("emd_e6") > CloseT_E6, 1L).otherwise(0L))
          .as("n_violating"),
        sum(when(col("emd_e6") > CloseT_E6, col("n")).otherwise(0L))
          .cast("long").as("rows_exposed"))
      .orderBy(col("segment"))
  }

  private val tClosenessOracle =
    s"""WITH banded AS (
       |  SELECT c_mktsegment AS segment, c_nationkey,
       |         CASE WHEN c_acctbal < 0 THEN 0
       |              WHEN c_acctbal < 5000 THEN 1 ELSE 2 END AS band
       |  FROM customer),
       |cls AS (
       |  SELECT segment, c_nationkey, COUNT(*) AS n,
       |         CAST(SUM(CASE WHEN band = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       |         CAST(SUM(CASE WHEN band = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
       |  FROM banded GROUP BY 1, 2),
       |g AS (SELECT COUNT(*) AS nn,
       |             CAST(SUM(CASE WHEN band = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g0,
       |             CAST(SUM(CASE WHEN band = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g1
       |      FROM banded),
       |e AS (
       |  SELECT segment, n,
       |         (ABS(c0 * nn - g0 * n) + ABS((c0 + c1) * nn - (g0 + g1) * n))
       |           * 1000000 // (2 * n * nn) AS emd_e6
       |  FROM cls, g)
       |SELECT segment, COUNT(*) AS n_classes, MAX(emd_e6) AS max_emd_e6,
       |       CAST(SUM(CASE WHEN emd_e6 > $CloseT_E6 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_violating,
       |       CAST(SUM(CASE WHEN emd_e6 > $CloseT_E6 THEN n ELSE 0 END)
       |            AS BIGINT) AS rows_exposed
       |FROM e GROUP BY segment ORDER BY segment""".stripMargin

  // ----------------------------------------------- randomized response
  /** Warner/generalized randomized response over the event-type
    * column — the LOCAL-DP leg of the privacy battery ([[dpCounts]]
    * adds central noise to aggregates; here each RECORD lies before
    * it ever reaches the collector): report the true type with
    * probability 12/20, otherwise one of the 4 other types with
    * probability 2/20 each; the collector debiases observed counts
    * with the textbook estimator n̂ = (c − n·q)/(p − q), which on
    * these exact rationals is (20·c − 2·n)/10 — pure integer lattice.
    * The deterministic coin (the house multiplicative hash of the
    * event id at 20 buckets; exactly 12 truth coins and 2 per
    * alternative) makes the mechanism testable and the oracle exact:
    * swap in a true RNG per record in production and the estimator is
    * unchanged in expectation (ε = ln(p/q) = ln 6 ≈ 1.79 per event).
    *
    * Scale shape: the perturbation is pure map-side column math; the
    * report is one 5-row hash aggregation joined to its 5-row truth
    * twin. Nothing else moves.
    */
  def randomizedResponse(spark: SparkSession, sfDir: String): DataFrame = {
    val typesArr = "array('click','error','purchase','signup','view')"
    val ev = Tables.events(spark, sfDir)
      .withColumn("coin",
        graft.ops.Parity.mixBucket(col("event_id"), 2654435761L, 20L))
      .withColumn("reported", expr(
        s"""CASE WHEN coin < 12 THEN event_type
            ELSE element_at(filter($typesArr, t -> t != event_type),
                            CAST(pmod(coin - 12, 4) AS INT) + 1)
            END""".replace("\n", " ")))
    val truth = ev.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n_true"))
    val obs = ev.groupBy(col("reported").as("t"))
      .agg(count(lit(1)).as("n_observed"))
    val n = ev.agg(count(lit(1)).as("n_total"))
    truth.join(obs, Seq("t")).crossJoin(broadcast(n))
      .withColumn("est_x10",
        lit(20L) * col("n_observed") - lit(2L) * col("n_total"))
      .select(col("t"), col("n_true"), col("n_observed"),
        ((col("est_x10") - pmod(col("est_x10"), lit(10L))) / 10L)
          .cast("long").as("n_est"),
        (((col("est_x10") - pmod(col("est_x10"), lit(10L))) / 10L)
          .cast("long") - col("n_true")).as("est_err"))
      .orderBy(col("t"))
  }

  private val randomizedResponseOracle = {
    val coin = graft.ops.Parity.mixBucketSql("event_id", 2654435761L, 20L)
    s"""WITH ev AS (
       |  SELECT event_type, $coin AS coin FROM events),
       |rep AS (
       |  SELECT event_type,
       |         CASE WHEN coin < 12 THEN event_type
       |              ELSE list_filter(['click','error','purchase','signup','view'],
       |                               t -> t != event_type)[CAST((coin - 12) % 4 AS INT) + 1]
       |         END AS reported
       |  FROM ev),
       |truth AS (SELECT event_type AS t, COUNT(*) AS n_true FROM rep GROUP BY 1),
       |obs AS (SELECT reported AS t, COUNT(*) AS n_observed FROM rep GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_total FROM rep)
       |SELECT t, n_true, n_observed,
       |       (20 * n_observed - 2 * n_total) // 10 AS n_est,
       |       (20 * n_observed - 2 * n_total) // 10 - n_true AS est_err
       |FROM truth JOIN obs USING (t) CROSS JOIN n
       |ORDER BY t""".stripMargin
  }

  // ------------------------------------------ join-cardinality estimate
  /** Join-size estimation by hashed key sampling — what a cost-based
    * optimizer's stats layer computes before committing to a join
    * order: the self-join fan-out |lineitem ⋈ lineitem on partkey| =
    * Σ_k c_k² is estimated from only the keys whose house hash lands
    * in a 5%-of-domain sample (Horvitz–Thompson: scale the sampled
    * Σ c_k² by 20), and reported NEXT TO the exact value with the
    * relative error on the e6 lattice — the audit that tells you
    * whether the sample rate is adequate before trusting the estimate
    * on a join you can't afford to run.
    *
    * Key-hash (not row-) sampling is the part that matters: sampling
    * ROWS at rate p biases Σc² by ~p² per key; sampling the KEY DOMAIN
    * keeps every surviving key's count exact, so the estimator is
    * unbiased over the hash draw — and the derandomized house hash
    * makes the draw reproducible in both engines.
    *
    * Scale shape: the exact side is one (key)-count aggregation (the
    * join itself is never executed — Σc² IS its cardinality); the
    * estimate side filters the SAME aggregate map-side to ~5% of keys.
    * At 100 TB the estimate pass reads 5% of the key space and the
    * exact pass exists only because this is an audit — production
    * keeps just the sampled sketch.
    */
  def joinCardEst(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .withColumn("sampled",
        graft.ops.Parity.mixBucket(col("l_partkey"), 2654435761L, 100L) < 5)
    counts.agg(
        count(lit(1)).as("n_keys"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled_keys"),
        sum(col("c") * col("c")).as("true_pairs"),
        (sum(when(col("sampled"), col("c") * col("c")).otherwise(0L)) * 20L)
          .as("est_pairs"))
      .select(col("n_keys"), col("n_sampled_keys"), col("true_pairs"),
        col("est_pairs"),
        expr("abs(est_pairs - true_pairs) * 1000000 DIV true_pairs")
          .as("rel_err_e6"))
  }

  private val joinCardEstOracle = {
    val h = graft.ops.Parity.mixBucketSql("l_partkey", 2654435761L, 100L)
    s"""WITH c AS (
       |  SELECT l_partkey, COUNT(*) AS c,
       |         CASE WHEN $h < 5 THEN 1 ELSE 0 END AS sampled
       |  FROM lineitem GROUP BY 1)
       |SELECT COUNT(*) AS n_keys,
       |       CAST(SUM(sampled) AS BIGINT) AS n_sampled_keys,
       |       CAST(SUM(c * c) AS BIGINT) AS true_pairs,
       |       CAST(SUM(CASE WHEN sampled = 1 THEN c * c ELSE 0 END) * 20
       |            AS BIGINT) AS est_pairs,
       |       ABS(CAST(SUM(CASE WHEN sampled = 1 THEN c * c ELSE 0 END) * 20
       |                AS BIGINT) - CAST(SUM(c * c) AS BIGINT)) * 1000000
       |         // CAST(SUM(c * c) AS BIGINT) AS rel_err_e6
       |FROM c""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_card_est" -> (joinCardEst _),
    "q_t_closeness" -> (tCloseness _),
    "q_randomized_response" -> (randomizedResponse _),
    "q_skew_report" -> (skewReport _),
    "q_dp_counts" -> (dpCounts _),
    "q_dp_quantile" -> (dpQuantile _),
    "q_dp_accountant" -> (dpAccountant _),
    "q_equidepth_hist" -> (equidepthHist _),
    "q_equidepth_hist_approx" -> (equidepthHistApprox _),
    "q_ref_integrity" -> (refIntegrity _),
    "q_k_anonymity" -> (kAnonymity _),
    "q_pii_scrub" -> (piiScrub _),
    "q_l_diversity" -> (lDiversity _),
    "q_psi_drift" -> (psiDrift _),
    "q_catalog_dump" -> (catalogDump _),
    "q_schema_adaptive" -> (schemaAdaptive _),
    "q_dq_checks" -> (dqChecks _),
    "q_table_stats" -> (tableStats _)
  )

  def oracles: Map[String, String] = Map(
    "q_join_card_est" -> joinCardEstOracle,
    "q_t_closeness" -> tClosenessOracle,
    "q_randomized_response" -> randomizedResponseOracle,
    "q_skew_report" -> skewReportOracle,
    "q_dp_counts" -> dpCountsOracle,
    "q_dp_quantile" -> dpQuantileOracle,
    "q_dp_accountant" -> dpAccountantOracle,
    "q_equidepth_hist" -> equidepthHistOracle,
    "q_equidepth_hist_approx" -> equidepthHistApproxOracle,
    "q_ref_integrity" -> refIntegrityOracle,
    "q_k_anonymity" -> kAnonymityOracle,
    "q_pii_scrub" -> piiScrubOracle,
    "q_l_diversity" -> lDiversityOracle,
    "q_psi_drift" -> psiDriftOracle,
    "q_catalog_dump" -> catalogDumpOracle,
    "q_schema_adaptive" -> schemaAdaptiveOracle,
    "q_dq_checks" -> dqChecksOracle,
    "q_table_stats" -> tableStatsOracle
  )
}
