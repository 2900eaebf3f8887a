package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY.md §2.2 (projections/filters), §2.3 (joins), §2.6 (sort/limit/
  * set-op) operator battery. One named query per operator family, each
  * mirrored by DuckDB oracle SQL the driver hash-matches at sf0.01.
  *
  * Everything here is Spark built-ins: the plans are whole-stage-codegen
  * end to end, filters and column pruning reach the parquet scan, small
  * dimension sides are broadcast explicitly. Every query ends in a full
  * ORDER BY of its keys and rounds doubles to 4dp — in both engines — so
  * the hash compare is float-noise-proof (SURVEY.md §7.4).
  */
object RelationalOps {

  import Parity.r4

  // ---------------------------------------------------------------- P1+S1
  /** Rename-projection, the bronze ingest shape of
    * `dags/mitma/bronze_mitma.py:51-67` (Spanish→English columns): pure
    * projection + predicate; Catalyst prunes the scan to the 5 columns
    * and pushes the filter into the parquet reader.
    */
  def bronzeRename(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_partkey").as("part_id"),
        col("l_quantity").as("qty"),
        col("l_returnflag").as("flag"))
      .filter(col("flag") =!= "N")
      .orderBy(col("order_id"), col("line_no"))

  private val bronzeRenameOracle =
    """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
      |       l_partkey AS part_id, l_quantity AS qty, l_returnflag AS flag
      |FROM lineitem WHERE l_returnflag <> 'N'
      |ORDER BY order_id, line_no""".stripMargin

  // ------------------------------------------------------------ P2/P4/P5
  /** Equality/BETWEEN/null-guard predicate stack
    * (`dags/mitma/silver_mitma.py:129-139` quality filters). */
  def filterPred(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity").between(10, 40) &&
        col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
        col("l_discount").isNotNull && col("l_returnflag") =!= "N")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), r4(sum(col("l_quantity"))).as("sum_qty"))
      .orderBy(col("l_returnflag"))

  private val filterPredOracle =
    """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity),4) AS sum_qty
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 40
      |  AND l_shipdate >= TIMESTAMP '1994-01-01'
      |  AND l_discount IS NOT NULL AND l_returnflag <> 'N'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- P3
  /** LIKE / NOT LIKE prefix+infix filters
    * (`dags/mitma/silver_mitma.py:131-134` PT%/FR% zone exclusion). */
  def likeFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(!col("p_type").like("STANDARD%") && col("p_name").like("%e%") &&
        !col("p_name").like("red%"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), r4(sum(col("p_retailprice"))).as("sum_price"))
      .orderBy(col("p_brand"))

  private val likeFilterOracle =
    """SELECT p_brand, COUNT(*) AS n, ROUND(SUM(p_retailprice),4) AS sum_price
      |FROM part
      |WHERE p_type NOT LIKE 'STANDARD%' AND p_name LIKE '%e%'
      |  AND p_name NOT LIKE 'red%'
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- P9
  /** CASE WHEN bucket classification (`dags/gravity/create_ranking.py:19-24`
    * infrastructure_status buckets). First-match-wins semantics are the
    * same in both engines, so the overlapping boundary at 50000 is safe.
    */
  def caseBuckets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice").between(50000, 150000), "mid")
          .otherwise("large"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        r4(sum(col("o_totalprice"))).as("sum_price"),
        Parity.stableAvg(col("o_totalprice")).as("avg_price"))
      .orderBy(col("bucket"))

  private val caseBucketsOracle =
    """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
      |            WHEN o_totalprice BETWEEN 50000 AND 150000 THEN 'mid'
      |            ELSE 'large' END AS bucket,
      |       COUNT(*) AS n, ROUND(SUM(o_totalprice),4) AS sum_price,
      |       CAST((2*CAST(ROUND(ROUND(SUM(o_totalprice),4)*10000) AS BIGINT) + COUNT(o_totalprice)) // (2*COUNT(o_totalprice)) AS DOUBLE)/10000.0 AS avg_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- P10
  /** COALESCE / NULLIF guards (`dags/gravity/create_gravity_data.py:16-30`).
    * NULLIF(x,0) drops zeros from the avg; COALESCE re-fills for the sum.
    */
  def nullGuards(spark: SparkSession, sfDir: String): DataFrame = {
    val nz = when(col("c_acctbal") === 0.0, lit(null)).otherwise(col("c_acctbal"))
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(nz).as("n_nonzero"),
        Parity.stableAvg(nz).as("avg_nonzero"),
        r4(sum(coalesce(nz, lit(0.0)))).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  private val nullGuardsOracle =
    """SELECT c_mktsegment,
      |       COUNT(NULLIF(c_acctbal, 0)) AS n_nonzero,
      |       CAST((2*CAST(ROUND(ROUND(SUM(NULLIF(c_acctbal, 0)),4)*10000) AS BIGINT) + COUNT(NULLIF(c_acctbal, 0))) // (2*COUNT(NULLIF(c_acctbal, 0))) AS DOUBLE)/10000.0 AS avg_nonzero,
      |       ROUND(SUM(COALESCE(NULLIF(c_acctbal, 0), 0)),4) AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- P8
  /** TRY_CAST validity filtering (`dags/mitma/silver_mitma.py:137-139`):
    * keep only castable rows, count the rest. The regexp pulls the numeric
    * payload out of the JSON props string portably (no JSON extension
    * dependency in the oracle).
    */
  def tryCast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS INT)"))
      .withColumn("bad", expr("try_cast(event_type AS DOUBLE)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("k_sum"),
        count(col("bad")).as("n_castable"))
      .orderBy(col("event_type"))

  private val tryCastOracle =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(TRY_CAST(regexp_extract(props, '[0-9]+') AS INTEGER)) AS BIGINT) AS k_sum,
      |       COUNT(TRY_CAST(event_type AS DOUBLE)) AS n_castable
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ J2/J3
  /** Left-outer equi-join with an extra join-time condition
    * (`dags/gravity/create_gravity_data.py:21-23`). The dimension side is
    * broadcast — at cluster scale this is a map-side join, no shuffle of
    * the fact table.
    */
  def joinLeftOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c),
        o("o_custkey") === c("c_custkey") && c("c_nationkey") < 13, "left")
      .groupBy(col("o_orderstatus"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
      .agg(count(lit(1)).as("n"), r4(sum(col("o_totalprice"))).as("sum_price"))
      .orderBy(col("o_orderstatus"), col("segment"))
  }

  private val joinLeftOuterOracle =
    """SELECT o_orderstatus, COALESCE(c_mktsegment, 'NONE') AS segment,
      |       COUNT(*) AS n, ROUND(SUM(o_totalprice),4) AS sum_price
      |FROM orders LEFT JOIN customer
      |  ON o_custkey = c_custkey AND c_nationkey < 13
      |GROUP BY o_orderstatus, segment
      |ORDER BY o_orderstatus, segment""".stripMargin

  // ---------------------------------------------------------------- J4
  /** Cross join + theta filter (`dags/gravity/create_distances.py:13-22`
    * all-pairs distance matrix). Both sides are tiny dimensions →
    * BroadcastNestedLoopJoin, which is exactly right; the theta predicate
    * can't be pushed into a hash join anyway.
    */
  def crossTheta(spark: SparkSession, sfDir: String): DataFrame = {
    val n1 = Tables.nation(spark, sfDir).select(
      col("n_nationkey").as("k1"), col("n_name").as("name1"))
    val n2 = Tables.nation(spark, sfDir).select(
      col("n_nationkey").as("k2"), col("n_name").as("name2"))
    n1.crossJoin(n2)
      .filter(col("k1") =!= col("k2") &&
        pmod(col("k1") * 7 + col("k2") * 3, lit(11)) > 4)
      .select(col("name1"), col("name2"),
        (col("k1") * 7 + col("k2") * 3).cast("long").as("score"))
      .orderBy(col("name1"), col("name2"))
  }

  private val crossThetaOracle =
    """SELECT n1.n_name AS name1, n2.n_name AS name2,
      |       CAST(n1.n_nationkey*7 + n2.n_nationkey*3 AS BIGINT) AS score
      |FROM nation n1 CROSS JOIN nation n2
      |WHERE n1.n_nationkey <> n2.n_nationkey
      |  AND (n1.n_nationkey*7 + n2.n_nationkey*3) % 11 > 4
      |ORDER BY name1, name2""".stripMargin

  // ---------------------------------------------------------------- J5
  /** Disjunctive (OR) join (`dags/bussiness_layer/generate_report.py:119-126`)
    * rewritten as a union of two equi-joins: branch 2 re-checks ¬cond1 so
    * each qualifying pair appears exactly once. A naive OR condition
    * degrades to BroadcastNestedLoopJoin; the rewrite keeps both branches
    * hash-joinable — at 100 TB that is the difference between O(n·m) and
    * two shuffled/broadcast hash joins.
    */
  def orJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val b1 = s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
    val b2 = s.join(broadcast(n),
      pmod(s("s_suppkey"), lit(25)) === n("n_nationkey") &&
        s("s_nationkey") =!= n("n_nationkey"))
    b1.select(col("n_name"), col("s_acctbal")).
      union(b2.select(col("n_name"), col("s_acctbal")))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), r4(sum(col("s_acctbal"))).as("sum_bal"))
      .orderBy(col("n_name"))
  }

  private val orJoinOracle =
    """SELECT n_name, COUNT(*) AS n, ROUND(SUM(s_acctbal),4) AS sum_bal
      |FROM supplier JOIN nation
      |  ON s_nationkey = n_nationkey OR (s_suppkey % 25) = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- J6
  /** Semi-join (`dags/bussiness_layer/transform_gold_long_trip_dependency
    * .py:101-109` — inner join used for membership). `left_semi` never
    * duplicates or widens rows and stops probing at first match.
    */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val rich = Tables.customer(spark, sfDir).filter(col("c_acctbal") > 5000)
    o.join(broadcast(rich), o("o_custkey") === rich("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), r4(sum(col("o_totalprice"))).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val semiJoinOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |       ROUND(SUM(o_totalprice),4) AS sum_price
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer
      |              WHERE c_custkey = o_custkey AND c_acctbal > 5000)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Anti-join — the complement of [[semiJoin]] (capability extension; the
    * reference has no NOT EXISTS, but a complete engine needs it). */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val rich = Tables.customer(spark, sfDir).filter(col("c_acctbal") > 5000)
    o.join(broadcast(rich), o("o_custkey") === rich("c_custkey"), "left_anti")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), r4(sum(col("o_totalprice"))).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val antiJoinOracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |       ROUND(SUM(o_totalprice),4) AS sum_price
      |FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM customer
      |                  WHERE c_custkey = o_custkey AND c_acctbal > 5000)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ O2/O3
  /** ORDER BY … DESC LIMIT n (`dags/gravity/create_ranking.py:27`). The
    * unique orderkey tiebreak makes the result deterministic; Spark plans
    * TakeOrderedAndProject (per-partition top-k then merge — no global
    * sort of the full table).
    */
  def topK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  private val topKOracle =
    """SELECT o_orderkey, o_totalprice, o_orderstatus
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- O4
  /** UNION ALL of two heterogeneous branches + re-aggregate (the J5
    * rewrite building block). */
  def unionAll(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v"))
    val b = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").as("k"), col("l_extendedprice").as("v"))
    a.union(b)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), r4(sum(col("v"))).as("sum_v"))
      .orderBy(col("k"))
  }

  private val unionAllOracle =
    """SELECT k, COUNT(*) AS n, ROUND(SUM(v),4) AS sum_v
      |FROM (SELECT o_custkey AS k, o_totalprice AS v FROM orders
      |      WHERE o_orderstatus = 'F'
      |      UNION ALL
      |      SELECT l_suppkey AS k, l_extendedprice AS v FROM lineitem
      |      WHERE l_returnflag = 'R')
      |GROUP BY k ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- P6
  /** `IN (<dynamic list>)` — the reference builds the list driver-side
    * (target districts from a prior query) and interpolates it into the
    * report SQL (`dags/mitma/generate_report.py:45-56`,
    * `dags/bussiness_layer/generate_report.py:105,126`). Same two-phase
    * shape here: a driver `collect()` of the top-2 segments, then
    * `isin(values: _*)` — which Catalyst compiles to an In predicate
    * pushed to the parquet scan. The oracle expresses the identical set
    * as an IN-subquery.
    */
  def isinFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val targetSegs = cust.groupBy(col("c_mktsegment")).count()
      .orderBy(col("count").desc, col("c_mktsegment").asc)
      .limit(2).collect().map(_.getString(0)).toSeq
    cust.filter(col("c_mktsegment").isin(targetSegs: _*))
      .groupBy(col("c_mktsegment"), col("c_nationkey").cast("int").as("nation"))
      // stableAvg, not ROUND(AVG): several (segment, nation) groups land
      // EXACTLY on 4dp half-boundaries where a 1-ulp sum-order change
      // flips ROUND between engines (see Parity scaladoc)
      .agg(count(lit(1)).as("n"), Parity.stableAvg(col("c_acctbal")).as("avg_bal"))
      .orderBy(col("c_mktsegment"), col("nation"))
  }

  private val isinFilterOracle =
    s"""SELECT c_mktsegment, CAST(c_nationkey AS INTEGER) AS nation,
      |       COUNT(*) AS n, ${Parity.stableAvgSql("c_acctbal")} AS avg_bal
      |FROM customer
      |WHERE c_mktsegment IN (
      |  SELECT c_mktsegment FROM customer GROUP BY c_mktsegment
      |  ORDER BY COUNT(*) DESC, c_mktsegment ASC LIMIT 2)
      |GROUP BY 1, 2 ORDER BY c_mktsegment, nation""".stripMargin

  // ---------------------------------------------------------------- F5
  /** TRIM / NULLIF(TRIM(x), '') — the INE cleaners' blank-to-NULL
    * normalization (`dags/Economy/transform_silver_economy.py:39`,
    * `dags/Population/transform_silver_population.py:50-52`). Padded and
    * deterministically-blanked strings are synthesized, repaired, and
    * aggregated; blanks must come back as NULL, not ''.
    */
  def trimNullif(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(
        // Space-only padding: Spark's one-arg trim strips every ASCII char
        // <= 0x20 while DuckDB's TRIM strips spaces only, so a control char
        // in the padding (or the group key) diverges between engines.
        trim(concat(lit("  "), col("c_mktsegment"), lit("   "))).as("seg"),
        when(pmod(col("c_custkey"), lit(7)) === 0, lit("   "))
          .otherwise(col("c_name")).as("raw"))
      .select(col("seg"), expr("nullif(trim(raw), '')").as("cleaned"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cleaned").isNull, 1).otherwise(0)).as("n_blank"),
        min(length(col("cleaned"))).cast("long").as("min_len"),
        max(length(col("cleaned"))).cast("long").as("max_len"))
      .orderBy(col("seg"))

  private val trimNullifOracle =
    """SELECT TRIM('  ' || c_mktsegment || '   ') AS seg,
      |       COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN cleaned IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
      |       CAST(MIN(length(cleaned)) AS BIGINT) AS min_len,
      |       CAST(MAX(length(cleaned)) AS BIGINT) AS max_len
      |FROM (SELECT c_mktsegment,
      |             NULLIF(TRIM(CASE WHEN c_custkey % 7 = 0 THEN '   '
      |                              ELSE c_name END), '') AS cleaned
      |      FROM customer)
      |GROUP BY 1 ORDER BY seg""".stripMargin

  // ------------------------------------------------------------------
  /** FULL OUTER join — the one join type the battery lacked: nations
    * with customers (some nations have none at tiny SF) fully joined to
    * nations with suppliers, keys coalesced, side markers counted. Both
    * unmatched directions are exercised by restricting each side to a
    * different key range.
    */
  def fullOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val custSide = graft.Tables.customer(spark, sfDir)
      .filter(col("c_nationkey") < 15)
      .groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val suppSide = graft.Tables.supplier(spark, sfDir)
      .filter(col("s_nationkey") >= 10)
      .groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    custSide.join(suppSide, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nation"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        (col("ck").isNotNull && col("sk").isNotNull).as("matched"))
      .orderBy(col("nation"))
  }

  private val fullOuterJoinOracle =
    """SELECT COALESCE(ck, sk) AS nation,
      |       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp,
      |       ck IS NOT NULL AND sk IS NOT NULL AS matched
      |FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer
      |      WHERE c_nationkey < 15 GROUP BY 1) c
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS sk, COUNT(*) AS n_supp FROM supplier
      |      WHERE s_nationkey >= 10 GROUP BY 1) s
      |  ON ck = sk
      |ORDER BY nation""".stripMargin

  // ------------------------------------------------------------------
  /** EXCEPT / INTERSECT set operations (distinct semantics) over the
    * two nation-key populations, tagged and unioned into one result.
    * Spark plans both as left-anti / left-semi aggregates — no sort,
    * single exchange per branch.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 3 === 0).select(col("c_nationkey").as("k"))
    val s = graft.Tables.supplier(spark, sfDir)
      .filter(col("s_suppkey") % 2 === 0).select(col("s_nationkey").as("k"))
    c.except(s).withColumn("op", lit("except"))
      .unionByName(c.intersect(s).withColumn("op", lit("intersect")))
      .orderBy(col("op"), col("k"))
  }

  private val setOpsOracle =
    """WITH c AS (SELECT c_nationkey AS k FROM customer WHERE c_custkey % 3 = 0),
      |     s AS (SELECT s_nationkey AS k FROM supplier WHERE s_suppkey % 2 = 0)
      |SELECT k, 'except' AS op FROM (SELECT k FROM c EXCEPT SELECT k FROM s)
      |UNION ALL
      |SELECT k, 'intersect' AS op FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
      |ORDER BY op, k""".stripMargin

  // ------------------------------------------------------------------
  /** Raw-SQL entry point: the reference is SQL-first (every operator is
    * a SQL string against DuckDB), so the engine must accept the same
    * workload as `spark.sql(...)` over registered views — here a
    * TPC-H-Q1-shaped pricing summary whose text is near-identical to
    * the DuckDB oracle. Catalyst parses/optimizes SQL and DataFrame
    * code into the same plans; this pins that parity end to end.
    */
  def sqlEntry(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 4) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem_v
        |WHERE l_shipdate <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  private val sqlEntryOracle =
    """SELECT l_returnflag, l_linestatus,
      |       ROUND(SUM(l_quantity), 4) AS sum_qty,
      |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------ json extract
  /** Semi-structured extraction over the events `props` JSON column —
    * the lakehouse staple the rest of the battery didn't touch yet.
    * Both of Spark's access paths run side by side and must agree per
    * row: `from_json` with an explicit schema (the typed, codegen'd
    * path a silver layer should use — parse ONCE per row into a
    * struct) and `get_json_object` (the schemaless JSONPath probe of
    * ad-hoc exploration). The oracle extracts the same field with
    * DuckDB's JSON reader, so a parse divergence on any row breaks
    * either the agreement count or the aggregates. Map-side projection
    * + one aggregation — no scale surface beyond the parse itself.
    */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, sfDir)
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .withColumn("k_path", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        countDistinct(col("k")).as("ndv_k"),
        min(col("k")).cast("long").as("min_k"),
        max(col("k")).cast("long").as("max_k"),
        sum(when(col("k") <=> col("k_path"), 1).otherwise(0)).cast("long")
          .as("n_paths_agree"))
      .orderBy(col("event_type"))
  }

  private val jsonExtractOracle =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       COUNT(DISTINCT k) AS ndv_k,
      |       CAST(MIN(k) AS BIGINT) AS min_k,
      |       CAST(MAX(k) AS BIGINT) AS max_k,
      |       COUNT(*) AS n_paths_agree
      |FROM (SELECT event_type,
      |             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------ correlated subquery
  /** Correlated scalar subquery — TPC-H Q17's shape: orders priced above
    * 1.5× their own customer's average. Spark cannot execute a
    * per-row subquery; Catalyst DECORRELATES it into an aggregate +
    * join (RewriteCorrelatedScalarSubquery), which is exactly the plan
    * a hand-written rewrite would produce — the optimizer altitude
    * argument in one query. Near-identical SQL text runs on both
    * engines; DuckDB decorrelates with its own flattening, so what is
    * being compared is the SEMANTICS, independent of either engine's
    * rewrite.
    */
  def correlatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_custkey, COUNT(*) AS n_big,
        |       ROUND(SUM(o_totalprice), 4) AS big_total
        |FROM orders_v o
        |WHERE o_totalprice > 1.5 * (SELECT AVG(i.o_totalprice)
        |                            FROM orders_v i
        |                            WHERE i.o_custkey = o.o_custkey)
        |GROUP BY o_custkey
        |HAVING COUNT(*) >= 2
        |ORDER BY o_custkey""".stripMargin)
  }

  private val correlatedSubqueryOracle =
    """SELECT o_custkey, COUNT(*) AS n_big,
      |       ROUND(SUM(o_totalprice), 4) AS big_total
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (SELECT AVG(i.o_totalprice)
      |                            FROM orders i
      |                            WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 2
      |ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------------------ ntile
  /** Quantile bucketing with ntile — the window-function family the
    * battery hadn't exercised: customers quartiled by balance WITHIN
    * their segment, aggregated per (segment, quartile). ntile's bucket
    * boundaries are count-arithmetic (not value-percentiles), so the
    * result is integer-deterministic given the tie-broken ordering —
    * (acctbal, custkey) makes the sort total on both engines.
    */
  def ntileBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    graft.Tables.customer(spark, sfDir)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 4).as("lo"),
        round(max(col("c_acctbal")), 4).as("hi"))
      .orderBy(col("c_mktsegment"), col("quartile"))
  }

  private val ntileBucketsOracle =
    """SELECT c_mktsegment, quartile, COUNT(*) AS n,
      |       ROUND(MIN(c_acctbal), 4) AS lo,
      |       ROUND(MAX(c_acctbal), 4) AS hi
      |FROM (SELECT c_mktsegment, c_acctbal,
      |             CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
      |                            ORDER BY c_acctbal ASC, c_custkey ASC)
      |               AS INTEGER) AS quartile
      |      FROM customer)
      |GROUP BY c_mktsegment, quartile
      |ORDER BY c_mktsegment, quartile""".stripMargin

  // ------------------------------------------------------------ null-safe join
  /** Null-safe equi-join (`<=>` / Catalyst NullSafeEqual) — NULL keys
    * MATCH each other instead of silently dropping, the semantics a
    * dimension join needs when "unknown" is itself a valid bucket.
    * Both sides derive a nullable key (priority with '1-URGENT' mapped
    * to NULL via NULLIF), and the <=> condition still plans as a hash
    * join on the key (null-safe equality is hashable — no fallback to
    * nested-loop), so the scale profile is identical to a plain
    * equi-join. The oracle is DuckDB's IS NOT DISTINCT FROM; a join
    * that dropped the NULL bucket fails the row count AND the hash.
    */
  def nullsafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val left = Tables.orders(spark, sfDir)
      .select(nullif(col("o_orderpriority"), lit("1-URGENT")).as("pk"),
        col("o_totalprice"))
    // the dim derives from the left side — alias both so the null-safe
    // self-join condition resolves unambiguously
    val dim = left.groupBy(col("pk")).agg(count(lit(1)).as("n_dim"))
      .withColumnRenamed("pk", "dk")
    left.join(dim, col("pk") <=> col("dk"))
      .groupBy(coalesce(col("pk"), lit("1-URGENT")).as("priority"))
      .agg(count(lit(1)).as("n_matched"),
        max(col("n_dim")).as("n_dim"),
        round(sum(col("o_totalprice")), 4).as("price_sum"))
      .orderBy(col("priority"))
  }

  private val nullsafeJoinOracle =
    """WITH l AS (SELECT NULLIF(o_orderpriority, '1-URGENT') AS pk,
      |                  o_totalprice
      |           FROM orders),
      |     d AS (SELECT pk, COUNT(*) AS n_dim FROM l GROUP BY pk)
      |SELECT COALESCE(l.pk, '1-URGENT') AS priority,
      |       COUNT(*) AS n_matched, MAX(d.n_dim) AS n_dim,
      |       ROUND(SUM(l.o_totalprice), 4) AS price_sum
      |FROM l JOIN d ON l.pk IS NOT DISTINCT FROM d.pk
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ exact decimal
  /** Exact DECIMAL aggregation — the money lattice. Every other sum in
    * the battery rides doubles + 4 dp rounding; at 100 TB a revenue
    * report needs EXACT arithmetic (a billion float additions drift;
    * decimal addition cannot). Cast once at the scan edge to
    * DECIMAL(12,2), sum on the widened decimal accumulator — both
    * engines produce the identical exact value, no rounding tolerance
    * involved. The discounted-revenue product stays exact too:
    * (12,2)x(12,2) multiplication is representable well inside both
    * engines' 38-digit ceiling.
    */
  def decimalExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_discount").cast("decimal(12,2)").as("disc"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).as("price_exact"),
        sum(col("price") * (lit(BigDecimal(1)).cast("decimal(12,2)") -
          col("disc"))).as("revenue_exact"))
      // rendered as full-scale strings: both engines print DECIMAL with
      // trailing zeros ("…8990"), while a float hop on either side would
      // trim them and break the exact-value hash (round-5 lesson)
      .select(col("l_returnflag"), col("n"),
        col("price_exact").cast("decimal(24,2)").cast("string").as("price_exact"),
        col("revenue_exact").cast("decimal(24,4)").cast("string").as("revenue_exact"))
      .orderBy(col("l_returnflag"))

  private val decimalExactOracle =
    """SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
      |            AS DECIMAL(24,2)) AS VARCHAR) AS price_exact,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                (CAST(1 AS DECIMAL(12,2)) -
      |                 CAST(l_discount AS DECIMAL(12,2))))
      |            AS DECIMAL(24,4)) AS VARCHAR) AS revenue_exact
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------ lateral join
  /** Correlated LATERAL join — the per-row subquery FROM-clause form
    * (Catalyst LateralJoin + DecorrelateInnerQuery): for every nation,
    * the top-2 customers by balance pulled by a correlated ORDER BY /
    * LIMIT subquery. Spark decorrelates this into a ranked window under
    * the hood — the same plan the explicit row_number rewrite
    * (q_topk_per_group) produces — so the declarative form costs
    * nothing extra at scale; it's pinned here because analysts write
    * LATERAL, not window rewrites. Deterministic tiebreak on custkey.
    */
  def lateralTopk(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation_v")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT n.n_name, t.c_custkey, ROUND(t.c_acctbal, 4) AS bal
        |FROM nation_v n,
        |LATERAL (SELECT c_custkey, c_acctbal
        |         FROM customer_v c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_custkey""".stripMargin)
  }

  private val lateralTopkOracle =
    """SELECT n.n_name, t.c_custkey, ROUND(t.c_acctbal, 4) AS bal
      |FROM nation n,
      |LATERAL (SELECT c_custkey, c_acctbal
      |         FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n.n_name, t.c_custkey""".stripMargin

  // ------------------------------------------------------------ star join
  /** TPC-H Q5-shaped star join — the whole-plan showcase every
    * warehouse runs: revenue by nation for one region and one
    * order-date year, with the "local supplier" condition
    * (customer and supplier share a nation). Six tables join in one
    * query: lineitem (fact) ⋈ orders (fact, date-pruned) ⋈ customer ⋈
    * supplier ⋈ nation ⋈ region.
    *
    * Scale shape: the ONLY fact-fact edge is lineitem ⋈ orders on
    * orderkey — the one unavoidable exchange (or zero with the
    * bucketed layout of q_bucketed_join); every dimension side is
    * explicitly `broadcast()`, so filters (r_name, the date year)
    * reach the scans and the dim joins add no shuffle. The date
    * predicate prunes orders BEFORE its join — at 100 TB the
    * partition-pruned year is what makes this interactive. Revenue is
    * exact integer e4 (cents × discount-percent): 2 dp × 2 dp inputs,
    * so no float enters until the final /1e4 display division.
    */
  def starJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          expr("CAST(round((1.0D - l_discount) * 100) AS BIGINT)")).as("rev_e4"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(spark, sfDir)
      .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("rev_e4"))
      .select(col("n_name"), col("n_lines"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"))
      .orderBy(col("n_name"))
  }

  private val starJoinOracle =
    """SELECT n_name, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * CAST(round((1.0 - l_discount) * 100) AS BIGINT))
      |            AS DOUBLE) / 10000.0 AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------------- explode_outer
  /** Null-preserving generate (`explode_outer`) — the LEFT-JOIN form of
    * array flattening: a document whose extracted array is EMPTY must
    * survive as one row with a NULL element, or every downstream
    * per-document aggregate silently drops it (the classic fan-out
    * bug: inner explode = inner join against your own array). Arrays
    * here are each document's long words (≥ 8 chars — 106 of 500
    * fixture docs have none); the rollup pins exactly the
    * rows-vs-docs-vs-nulls accounting that distinguishes outer from
    * inner generate. The oracle spells the same semantics as a LEFT
    * JOIN LATERAL unnest — the relational definition of the operator.
    *
    * Scale: generate is map-side; the fan-out is data-bounded (words
    * per doc), and the rollup partial-aggregates per source.
    */
  def explodeOuter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode_outer(expr("filter(split(text, ' '), w -> length(w) >= 8)"))
          .as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("w").isNull, 1L).otherwise(0L)).as("n_empty_docs"),
        count(col("w")).as("n_words"))
      .orderBy(col("source"))

  private val explodeOuterOracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split(text, ' '),
      |                     w -> length(w) >= 8) AS ws
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_rows,
      |       COUNT(DISTINCT doc_id) AS n_docs,
      |       CAST(SUM(CASE WHEN w IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_empty_docs,
      |       COUNT(w) AS n_words
      |FROM d LEFT JOIN LATERAL (SELECT unnest(ws) AS w) t ON TRUE
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- union by name
  /** Schema-reconciling union (`unionByName(allowMissingColumns)`) —
    * how heterogeneous exports concatenate without positional-union
    * corruption: each side's missing columns NULL-fill, and columns
    * align by NAME (a positional UNION of these two frames would
    * silently zip lang against source). The oracle is DuckDB's
    * UNION ALL BY NAME — the same reconciliation rule stated natively.
    * Complements sources/SchemaEvolution's parquet mergeSchema (file-
    * level evolution) with the frame-level form.
    */
  def unionMissing(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val a = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val b = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"))
    a.unionByName(b, allowMissingColumns = true)
      .groupBy(coalesce(col("lang"), lit("?")).as("lang"),
        coalesce(col("source"), lit("?")).as("source"))
      .agg(count(lit(1)).as("n"),
        count(col("n_chars")).as("n_chars_present"))
      .orderBy(col("lang"), col("source"))
  }

  private val unionMissingOracle =
    """WITH u AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1)
      |SELECT COALESCE(lang, '?') AS lang, COALESCE(source, '?') AS source,
      |       COUNT(*) AS n, COUNT(n_chars) AS n_chars_present
      |FROM u GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_explode_outer" -> (explodeOuter _),
    "q_union_missing" -> (unionMissing _),
    "q_star_join" -> (starJoin _),
    "q_nullsafe_join" -> (nullsafeJoin _),
    "q_decimal_exact" -> (decimalExact _),
    "q_lateral_topk" -> (lateralTopk _),
    "q_json_extract" -> (jsonExtract _),
    "q_correlated_subquery" -> (correlatedSubquery _),
    "q_ntile_buckets" -> (ntileBuckets _),
    "q_full_outer" -> (fullOuterJoin _),
    "q_set_ops" -> (setOps _),
    "q_sql_entry" -> (sqlEntry _),
    "q_bronze_rename" -> (bronzeRename _),
    "q_isin_filter" -> (isinFilter _),
    "q_trim_nullif" -> (trimNullif _),
    "q_filter_pred" -> (filterPred _),
    "q_like_filter" -> (likeFilter _),
    "q_case_buckets" -> (caseBuckets _),
    "q_null_guards" -> (nullGuards _),
    "q_try_cast" -> (tryCast _),
    "q_join_leftouter" -> (joinLeftOuter _),
    "q_cross_theta" -> (crossTheta _),
    "q_or_join" -> (orJoin _),
    "q_semi_join" -> (semiJoin _),
    "q_anti_join" -> (antiJoin _),
    "q_topk" -> (topK _),
    "q_union_all" -> (unionAll _)
  ) ++ AggOps.queries

  def oracles: Map[String, String] = Map(
    "q_explode_outer" -> explodeOuterOracle,
    "q_union_missing" -> unionMissingOracle,
    "q_star_join" -> starJoinOracle,
    "q_nullsafe_join" -> nullsafeJoinOracle,
    "q_decimal_exact" -> decimalExactOracle,
    "q_lateral_topk" -> lateralTopkOracle,
    "q_json_extract" -> jsonExtractOracle,
    "q_correlated_subquery" -> correlatedSubqueryOracle,
    "q_ntile_buckets" -> ntileBucketsOracle,
    "q_full_outer" -> fullOuterJoinOracle,
    "q_set_ops" -> setOpsOracle,
    "q_sql_entry" -> sqlEntryOracle,
    "q_bronze_rename" -> bronzeRenameOracle,
    "q_isin_filter" -> isinFilterOracle,
    "q_trim_nullif" -> trimNullifOracle,
    "q_filter_pred" -> filterPredOracle,
    "q_like_filter" -> likeFilterOracle,
    "q_case_buckets" -> caseBucketsOracle,
    "q_null_guards" -> nullGuardsOracle,
    "q_try_cast" -> tryCastOracle,
    "q_join_leftouter" -> joinLeftOuterOracle,
    "q_cross_theta" -> crossThetaOracle,
    "q_or_join" -> orJoinOracle,
    "q_semi_join" -> semiJoinOracle,
    "q_anti_join" -> antiJoinOracle,
    "q_topk" -> topKOracle,
    "q_union_all" -> unionAllOracle
  ) ++ AggOps.oracles
}
