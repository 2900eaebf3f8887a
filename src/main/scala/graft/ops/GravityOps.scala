package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geo.GeoFunctions

/** The reference's spatial/gravity analytics (SURVEY.md §3.2, §3.3)
  * re-expressed over the harness star schema: nations stand in for
  * municipalities (FIXTURES.md §6), with deterministic synthetic
  * coordinates derived from keys so every number is reproducible in the
  * DuckDB oracle with plain SQL math.
  *
  * Scale notes: centroids/distances/economy/population are all
  * municipality-grained (thousands of rows at Spain scale) — they are
  * broadcast to the fact-table joins. The only fact-table shuffle in the
  * whole gravity chain is the trips aggregation's single groupBy. Distance
  * math is the codegen'd haversine Column expression, not a UDF.
  */
object GravityOps {

  import Parity.r4

  // Deterministic Spain-box coordinates from an integer key. Both engines
  // evaluate the identical double expression, so the values are
  // bit-identical and safe to compare after rounding.
  private def synthLon(key: Column): Column = lit(-9.0) + pmod(key, lit(97)) * 0.1
  private def synthLat(key: Column): Column = lit(36.0) + pmod(key, lit(83)) * 0.08
  private def synthLonSql(k: String) = s"-9.0 + ($k % 97) * 0.1"
  private def synthLatSql(k: String) = s"36.0 + ($k % 83) * 0.08"

  /** Per-nation centroid of its customers' synthetic points — the
    * `ST_Point(AVG(ST_X), AVG(ST_Y))` centroid form the reference itself
    * uses (`…long_trip_dependency.py:77`), which for point sets equals
    * `ST_Centroid(ST_Union_Agg(centroid))` (`dags/gravity/create_centroids
    * .py:13-19`).
    *
    * Float-determinism: the average runs over the INTEGER key residues
    * (integer-valued doubles sum exactly, so the result is identical in
    * both engines regardless of partial-sum order) and the affine
    * lon/lat transform is applied after the agg — making the centroids
    * bit-identical between Spark and DuckDB. Averaging the quantized
    * doubles directly can land exactly on a rounding half-boundary where
    * a 1-ulp sum-order difference flips the rounded digit.
    */
  private def centroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("int").as("municipality"),
        pmod(col("c_custkey"), lit(97)).as("mlon"),
        pmod(col("c_custkey"), lit(83)).as("mlat"))
      .groupBy(col("municipality"))
      .agg((lit(-9.0) + avg(col("mlon")) * 0.1).as("clon"),
        (lit(36.0) + avg(col("mlat")) * 0.08).as("clat"))

  private val centroidsSql: String =
    s"""SELECT CAST(c_nationkey AS INTEGER) AS municipality,
       |       -9.0 + AVG(c_custkey % 97) * 0.1 AS clon,
       |       36.0 + AVG(c_custkey % 83) * 0.08 AS clat
       |FROM customer GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  def geoCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centroids(spark, sfDir)
      .select(col("municipality"), round(col("clon"), 6).as("clon"),
        round(col("clat"), 6).as("clat"))
      .orderBy(col("municipality"))

  private val geoCentroidsOracle =
    s"""SELECT municipality, ROUND(clon, 6) AS clon, ROUND(clat, 6) AS clat
       |FROM ($centroidsSql) ORDER BY municipality""".stripMargin

  // ------------------------------------------------------------------
  /** Cross join + spheroid-distance theta filter
    * (`dags/gravity/create_distances.py:13-22`): all municipality pairs,
    * self-pairs and near-zero distances dropped. Municipality-grained on
    * both sides → BroadcastNestedLoopJoin over tiny inputs is the right
    * plan; the O(n²) output is the operator's semantics, not a plan flaw.
    */
  private def distances(spark: SparkSession, sfDir: String): DataFrame = {
    val c = centroids(spark, sfDir)
    val o = c.select(col("municipality").as("origin_municipality"),
      col("clon").as("olon"), col("clat").as("olat"))
    val d = c.select(col("municipality").as("dest_municipality"),
      col("clon").as("dlon"), col("clat").as("dlat"))
    o.crossJoin(d)
      .withColumn("distance_km",
        GeoFunctions.haversineKm(col("olon"), col("olat"), col("dlon"), col("dlat")))
      .filter(col("origin_municipality") =!= col("dest_municipality") &&
        col("distance_km") > 0.1)
      .select(col("origin_municipality"), col("dest_municipality"), col("distance_km"))
  }

  private val distancesSql: String = {
    val hav = GeoFunctions.haversineKmSql("o.clon", "o.clat", "d.clon", "d.clat")
    s"""SELECT o.municipality AS origin_municipality,
       |       d.municipality AS dest_municipality,
       |       $hav AS distance_km
       |FROM cent o CROSS JOIN cent d
       |WHERE o.municipality <> d.municipality AND $hav > 0.1""".stripMargin
  }

  def geoDistanceMatrix(spark: SparkSession, sfDir: String): DataFrame =
    distances(spark, sfDir)
      .select(col("origin_municipality"), col("dest_municipality"),
        r4(col("distance_km")).as("distance_km"))
      .orderBy(col("origin_municipality"), col("dest_municipality"))

  private val geoDistanceMatrixOracle =
    s"""WITH cent AS ($centroidsSql)
       |SELECT origin_municipality, dest_municipality,
       |       ROUND(distance_km, 4) AS distance_km
       |FROM ($distancesSql)
       |ORDER BY origin_municipality, dest_municipality""".stripMargin

  // ------------------------------------------------------------------
  /** The full gravity-model pipeline (§3.2): centroids → distances →
    * trips/economy/population aggregates → 3-way left join → driver-side
    * k calibration (`dags/gravity/calculate_gold.py:10-44`) → predicted
    * trips + mismatch ratio → infrastructure ranking
    * (`dags/gravity/create_ranking.py:11-27`).
    *
    * k is rounded to 8dp before re-injection so both engines multiply by
    * the identical constant. Fallback k=1.0 when NULL/0 mirrors
    * `k_factor = k_result[0] if k_result[0] else 1.0`.
    *
    * Returns the (unordered) ranking plus a release thunk that drops the
    * cached gravity intermediate — call it once the ranking has been
    * materialized, so memory accounting never leans on a harness-side
    * `clearCache()`.
    */
  private def rankingPipeline(spark: SparkSession, sfDir: String): (DataFrame, () => Unit) = {
    val o = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)

    // origin = customer's nation, dest = synthetic destination bucket
    val trips = o.join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
      .select(col("c_nationkey").cast("int").as("origin_municipality"),
        pmod(col("o_orderkey"), lit(25)).cast("int").as("dest_municipality"),
        (col("o_totalprice") / 1024.0).as("trips"))
      .groupBy(col("origin_municipality"), col("dest_municipality"))
      .agg(avg(col("trips")).as("mean_trips"),
        stddev_samp(col("trips")).as("std_trips"))

    val economy = cust.groupBy(col("c_nationkey").cast("int").as("municipality"))
      .agg(avg(col("c_acctbal")).as("avg_income"))
    val population = cust.groupBy(col("c_nationkey").cast("int").as("municipality"))
      .agg(count(lit(1)).as("population"))

    val gravityData = distances(spark, sfDir)
      .join(broadcast(population),
        col("origin_municipality") === population("municipality"), "left")
      .drop("municipality")
      .join(broadcast(economy),
        col("dest_municipality") === economy("municipality"), "left")
      .drop("municipality")
      .join(broadcast(trips), Seq("origin_municipality", "dest_municipality"), "left")
      .select(
        col("origin_municipality"), col("dest_municipality"), col("distance_km"),
        coalesce(col("population"), lit(0L)).as("origin_population"),
        coalesce(col("avg_income"), lit(0.0)).as("dest_economic_activity"),
        col("mean_trips").as("actual_mean_trips"), col("std_trips"))
      .cache()

    // Phase 1: the engine→driver scalar hop (fetchone() in the reference).
    val kRow = gravityData.filter(col("actual_mean_trips").isNotNull)
      .agg((sum(col("actual_mean_trips") * col("distance_km") * col("distance_km")) /
        when(sum(col("origin_population") * col("dest_economic_activity")) === 0.0,
          lit(null))
          .otherwise(sum(col("origin_population") * col("dest_economic_activity"))))
        .as("k")).first()
    // COALESCE(NULLIF(ROUND(k, 8), 0), 1.0) — round FIRST, then the
    // zero/null→1.0 fallback, in exactly the oracle's order (a raw k in
    // (0, 5e-9) rounds to 0 and must fall back, not propagate as 0).
    val k = (if (kRow.isNullAt(0)) None else Some(kRow.getDouble(0)))
      .map(v => BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .filter(_ != 0.0)
      .getOrElse(1.0)

    // Phase 2: gold + ranking.
    val predicted = lit(k) * col("origin_population") * col("dest_economic_activity") /
      (col("distance_km") * col("distance_km"))
    val gold = gravityData.select(
      col("origin_municipality"), col("origin_population"),
      col("actual_mean_trips"),
      predicted.as("predicted_trips"),
      when(predicted > 0, col("actual_mean_trips") / predicted)
        .otherwise(lit(null)).as("mismatch_ratio"))

    val ranking = gold.filter(col("mismatch_ratio").isNotNull)
      .groupBy(col("origin_municipality"))
      .agg(
        r4(avg(col("mismatch_ratio"))).as("avg_mismatch_ratio"),
        max(col("origin_population")).as("population"),
        count(lit(1)).as("num_connections"),
        r4(sum(col("actual_mean_trips"))).as("total_actual_trips"),
        r4(sum(col("predicted_trips"))).as("total_predicted_trips"),
        when(avg(col("mismatch_ratio")) < 0.5, "Well-served")
          .when(avg(col("mismatch_ratio")).between(0.5, 1.5), "Adequately-served")
          .otherwise("Underserved").as("infrastructure_status"))
    (ranking, () => { gravityData.unpersist(); () })
  }

  /** The materialized gold ranking table — the reference writes
    * `gold_gravity_model_analysis` once (`dags/gravity/calculate_gold.py:24-44`)
    * and every consumer, including the map stage
    * (`dags/gravity/create_map.py:20`), READS the table instead of
    * re-running the pipeline. Mirrored here: the first caller per
    * session+SF runs [[rankingPipeline]], writes the parquet gold table
    * through the Medallion scratch warehouse, and releases the cached
    * intermediate; everyone else pays a 25-row parquet read. At 100 TB
    * this is the difference between one gravity calibration per day and
    * one per downstream query.
    */
  def goldRanking(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = s"${graft.etl.Medallion.warehouse(sfDir)}/gold_gravity_ranking"
    var release: () => Unit = () => ()
    try graft.etl.Medallion.materializeOnce(spark, tbl) {
      val (ranking, rel) = rankingPipeline(spark, sfDir)
      release = rel
      ranking
    } finally release() // cached intermediate freed on success AND failure
  }

  /** The ranking query itself now reads the gold table (parquet
    * round-trips every value exactly, so the oracle is unchanged). */
  def gravityModel(spark: SparkSession, sfDir: String): DataFrame =
    goldRanking(spark, sfDir).orderBy(col("origin_municipality"))

  private val gravityModelOracle: String = {
    s"""WITH cent AS ($centroidsSql),
       |dist AS ($distancesSql),
       |trips AS (
       |  SELECT CAST(c_nationkey AS INTEGER) AS origin_municipality,
       |         CAST(o_orderkey % 25 AS INTEGER) AS dest_municipality,
       |         AVG(o_totalprice / 1024.0) AS mean_trips,
       |         STDDEV_SAMP(o_totalprice / 1024.0) AS std_trips
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |economy AS (
       |  SELECT CAST(c_nationkey AS INTEGER) AS municipality,
       |         AVG(c_acctbal) AS avg_income
       |  FROM customer GROUP BY 1),
       |population AS (
       |  SELECT CAST(c_nationkey AS INTEGER) AS municipality,
       |         COUNT(*) AS population
       |  FROM customer GROUP BY 1),
       |gravity_data AS (
       |  SELECT d.origin_municipality, d.dest_municipality, d.distance_km,
       |         COALESCE(p.population, 0) AS origin_population,
       |         COALESCE(e.avg_income, 0) AS dest_economic_activity,
       |         t.mean_trips AS actual_mean_trips, t.std_trips
       |  FROM dist d
       |  LEFT JOIN population p ON d.origin_municipality = p.municipality
       |  LEFT JOIN economy e ON d.dest_municipality = e.municipality
       |  LEFT JOIN trips t ON d.origin_municipality = t.origin_municipality
       |                   AND d.dest_municipality = t.dest_municipality),
       |kf AS (
       |  SELECT COALESCE(NULLIF(ROUND(
       |           SUM(actual_mean_trips * distance_km * distance_km) /
       |           NULLIF(SUM(origin_population * dest_economic_activity), 0), 8),
       |           0), 1.0) AS k
       |  FROM gravity_data WHERE actual_mean_trips IS NOT NULL),
       |gold AS (
       |  SELECT origin_municipality, origin_population, actual_mean_trips,
       |         k * origin_population * dest_economic_activity /
       |           (distance_km * distance_km) AS predicted_trips,
       |         CASE WHEN k * origin_population * dest_economic_activity /
       |                   (distance_km * distance_km) > 0
       |              THEN actual_mean_trips /
       |                   (k * origin_population * dest_economic_activity /
       |                    (distance_km * distance_km))
       |              ELSE NULL END AS mismatch_ratio
       |  FROM gravity_data CROSS JOIN kf)
       |SELECT origin_municipality,
       |       ROUND(AVG(mismatch_ratio), 4) AS avg_mismatch_ratio,
       |       MAX(origin_population) AS population,
       |       COUNT(*) AS num_connections,
       |       ROUND(SUM(actual_mean_trips), 4) AS total_actual_trips,
       |       ROUND(SUM(predicted_trips), 4) AS total_predicted_trips,
       |       CASE WHEN AVG(mismatch_ratio) < 0.5 THEN 'Well-served'
       |            WHEN AVG(mismatch_ratio) BETWEEN 0.5 AND 1.5 THEN 'Adequately-served'
       |            ELSE 'Underserved' END AS infrastructure_status
       |FROM gold WHERE mismatch_ratio IS NOT NULL
       |GROUP BY origin_municipality
       |ORDER BY origin_municipality""".stripMargin
  }

  // ------------------------------------------------------------------
  /** Long-distance-trip dependency (BQ3, `dags/bussiness_layer/
    * transform_gold_long_trip_dependency.py:85-158`): origin centroid
    * required (inner), destination centroid optional (left → NULL
    * distance), conditional sums over a distance threshold. Destination
    * buckets 25-29 have no centroid, exercising the NULL-distance branch.
    * Threshold scaled to 500 km (reference: 15 km at census-section
    * scale) so the synthetic nation distances actually discriminate.
    */
  def longTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val cent = centroids(spark, sfDir)

    val trips = o.join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
      .select(col("c_nationkey").cast("int").as("origin"),
        pmod(col("o_orderkey"), lit(30)).cast("int").as("dest"),
        (col("o_totalprice") / 1024.0).as("trips"))

    val oc = cent.select(col("municipality").as("origin"),
      col("clon").as("olon"), col("clat").as("olat"))

    val withDist = trips
      .join(broadcast(oc), Seq("origin"))
      .join(broadcast(cent.select(col("municipality").as("dest"),
        col("clon").as("dlon"), col("clat").as("dlat"))), Seq("dest"), "left")
      .withColumn("distance_km",
        when(col("dlon").isNull, lit(null)).otherwise(
          GeoFunctions.haversineKm(col("olon"), col("olat"), col("dlon"), col("dlat"))))

    withDist.groupBy(col("origin").as("municipality_id"))
      .agg(
        r4(sum(col("trips"))).as("total_trips"),
        r4(sum(when(col("distance_km") > 500.0, col("trips")).otherwise(0.0)))
          .as("long_trips"),
        r4(sum(when(col("distance_km").isNotNull, col("trips")).otherwise(0.0)))
          .as("trips_with_distance"),
        round(sum(when(col("distance_km") > 500.0, col("trips")).otherwise(0.0)) /
          when(sum(when(col("distance_km").isNotNull, col("trips")).otherwise(0.0)) === 0.0,
            lit(null))
            .otherwise(sum(when(col("distance_km").isNotNull, col("trips")).otherwise(0.0))), 6)
          .as("long_trip_ratio"),
        r4(avg(col("distance_km"))).as("avg_trip_km"))
      .orderBy(col("municipality_id"))
  }

  private val longTripOracle: String = {
    val hav = GeoFunctions.haversineKmSql("oc.clon", "oc.clat", "dc.clon", "dc.clat")
    s"""WITH cent AS ($centroidsSql),
       |trips AS (
       |  SELECT CAST(c_nationkey AS INTEGER) AS origin,
       |         CAST(o_orderkey % 30 AS INTEGER) AS dest,
       |         o_totalprice / 1024.0 AS trips
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |with_dist AS (
       |  SELECT t.origin, t.trips,
       |         CASE WHEN dc.clon IS NULL THEN NULL ELSE $hav END AS distance_km
       |  FROM trips t
       |  JOIN cent oc ON t.origin = oc.municipality
       |  LEFT JOIN cent dc ON t.dest = dc.municipality)
       |SELECT origin AS municipality_id,
       |       ROUND(SUM(trips), 4) AS total_trips,
       |       ROUND(SUM(CASE WHEN distance_km > 500.0 THEN trips ELSE 0 END), 4) AS long_trips,
       |       ROUND(SUM(CASE WHEN distance_km IS NOT NULL THEN trips ELSE 0 END), 4) AS trips_with_distance,
       |       ROUND(SUM(CASE WHEN distance_km > 500.0 THEN trips ELSE 0 END) /
       |             NULLIF(SUM(CASE WHEN distance_km IS NOT NULL THEN trips ELSE 0 END), 0), 6)
       |         AS long_trip_ratio,
       |       ROUND(AVG(distance_km), 4) AS avg_trip_km
       |FROM with_dist GROUP BY origin ORDER BY municipality_id""".stripMargin
  }

  // ------------------------------------------------------------------
  /** P11: spatial predicate filter vs a constant WKT polygon
    * (`dags/gravity/extract_geometry.py:22-43`). The AOI is an
    * axis-aligned box — exactly like the reference's default Valencia
    * polygon — so the generic ray-casting st_within UDF can be checked
    * against plain BETWEEN arithmetic in the oracle.
    */
  private val aoiWkt =
    "POLYGON((-6 38, -2 38, -2 41, -6 41, -6 38))"

  def polygonFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val inAoi = GeoFunctions.pointInAoiUdf(aoiWkt) // parsed once, driver-side
    val (xmin, ymin, xmax, ymax) = graft.geo.Geo.bbox(graft.geo.Geo.parseWkt(aoiWkt))
    Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("int").as("municipality"),
        pmod(col("c_custkey"), lit(97)).as("mlon"),
        pmod(col("c_custkey"), lit(83)).as("mlat"),
        synthLon(col("c_custkey")).as("lon"), synthLat(col("c_custkey")).as("lat"))
      // bbox prefilter: codegen'd Column predicate culls rows before the
      // exact point-in-polygon UDF (which no longer parses WKT per row).
      .filter(col("lon").between(xmin, xmax) && col("lat").between(ymin, ymax))
      .filter(inAoi(col("lon"), col("lat")))
      .groupBy(col("municipality"))
      .agg(count(lit(1)).as("n_inside"),
        // integer-residue average + affine-after (see centroids note)
        round(lit(-9.0) + avg(col("mlon")) * 0.1, 6).as("avg_lon"),
        round(lit(36.0) + avg(col("mlat")) * 0.08, 6).as("avg_lat"))
      .orderBy(col("municipality"))
  }

  private val polygonFilterOracle =
    s"""SELECT municipality, COUNT(*) AS n_inside,
       |       ROUND(-9.0 + AVG(mlon) * 0.1, 6) AS avg_lon,
       |       ROUND(36.0 + AVG(mlat) * 0.08, 6) AS avg_lat
       |FROM (SELECT CAST(c_nationkey AS INTEGER) AS municipality,
       |             c_custkey % 97 AS mlon, c_custkey % 83 AS mlat,
       |             ${synthLonSql("c_custkey")} AS lon,
       |             ${synthLatSql("c_custkey")} AS lat
       |      FROM customer)
       |WHERE lon BETWEEN -6 AND -2 AND lat BETWEEN 38 AND 41
       |GROUP BY municipality ORDER BY municipality""".stripMargin

  // ------------------------------------------------------------------
  /** §2.8 predicate family, oracle-checked: st_intersects / st_contains
    * / st_overlaps / st_isvalid / st_astext over key-derived rectangle
    * pairs — the selectable spatial predicate of
    * `dags/section_extraction/extract_sections_from_polygon.py:33-39`
    * (the reference lets the caller pick contains/intersects/overlaps).
    *
    * Rectangle A sits on a coarse 0.5-grid; B's offsets/sizes are chosen
    * so (a) every outcome class occurs — disjoint, A⊇B, B⊇A, proper
    * overlap — and (b) NO B edge ever comes within 0.03 of an A edge
    * (verified over all 25 keys), so closed-set vs OGC boundary
    * conventions cannot diverge and the DuckDB oracle is plain interval
    * arithmetic over the same coordinates.
    */
  def polygonPredicates(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    val k = col("n_nationkey")
    def rect(x0: Column, y0: Column, w: Column, h: Column): Column =
      concat(lit("POLYGON(("),
        x0, lit(" "), y0, lit(", "),
        x0 + w, lit(" "), y0, lit(", "),
        x0 + w, lit(" "), y0 + h, lit(", "),
        x0, lit(" "), y0 + h, lit(", "),
        x0, lit(" "), y0, lit("))"))
    val ax0 = pmod(k, lit(10)) * 2.0
    val ay0 = pmod(k, lit(7)) * 1.5
    val aw = lit(1.0) + pmod(k, lit(3)) * 0.5
    val ah = lit(1.2)
    val bx0 = ax0 + lit(-0.57) + pmod(k, lit(6)) * 0.46
    val by0 = ay0 + lit(-0.91) + pmod(k, lit(6)) * 0.47
    val bw = lit(0.14) + pmod(k, lit(7)) * 0.59
    val bh = lit(0.11) + pmod(k, lit(7)) * 0.46
    Tables.nation(spark, sfDir)
      .select(k.cast("int").as("k"),
        rect(ax0, ay0, aw, ah).as("a"), rect(bx0, by0, bw, bh).as("b"))
      .select(col("k"),
        expr("st_intersects(a, b)").as("ab_intersects"),
        expr("st_contains(a, b)").as("a_contains_b"),
        expr("st_contains(b, a)").as("b_contains_a"),
        expr("st_overlaps(a, b)").as("ab_overlaps"),
        expr("st_isvalid(a) AND st_isvalid(b)").as("both_valid"),
        // print∘parse fixed point: st_astext(st_geomfromtext(…)) must
        // preserve the geometry numerically, pinned via the centroid
        expr("""abs(st_x(st_centroid(st_astext(st_geomfromtext(a)))) - st_x(st_centroid(a))) < 1e-12
                AND abs(st_y(st_centroid(st_astext(st_geomfromtext(b)))) - st_y(st_centroid(b))) < 1e-12""")
          .as("astext_roundtrip"))
      .orderBy(col("k"))
  }

  private val polygonPredicatesOracle =
    """SELECT k,
      |       (ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1) AS ab_intersects,
      |       (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1) AS a_contains_b,
      |       (ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1) AS b_contains_a,
      |       ((ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1)
      |        AND NOT (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1)
      |        AND NOT (ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1)) AS ab_overlaps,
      |       TRUE AS both_valid,
      |       TRUE AS astext_roundtrip
      |FROM (SELECT CAST(n_nationkey AS INTEGER) AS k,
      |             (n_nationkey % 10) * 2.0 AS ax0,
      |             (n_nationkey % 10) * 2.0 + 1.0 + (n_nationkey % 3) * 0.5 AS ax1,
      |             (n_nationkey % 7) * 1.5 AS ay0,
      |             (n_nationkey % 7) * 1.5 + 1.2 AS ay1,
      |             (n_nationkey % 10) * 2.0 - 0.57 + (n_nationkey % 6) * 0.46 AS bx0,
      |             (n_nationkey % 10) * 2.0 - 0.57 + (n_nationkey % 6) * 0.46
      |               + 0.14 + (n_nationkey % 7) * 0.59 AS bx1,
      |             (n_nationkey % 7) * 1.5 - 0.91 + (n_nationkey % 6) * 0.47 AS by0,
      |             (n_nationkey % 7) * 1.5 - 0.91 + (n_nationkey % 6) * 0.47
      |               + 0.11 + (n_nationkey % 7) * 0.46 AS by1
      |      FROM nation)
      |ORDER BY k""".stripMargin

  // ------------------------------------------------------------------
  /** §2.8 ST_Distance_Spheroid, oracle-checked: the Vincenty UDF the
    * reference calls (`dags/gravity/create_distances.py:17,21`) measured
    * against its haversine twin over every synthetic-centroid pair, with
    * an in-engine bounded-deviation boolean (the q_approx_distinct
    * tolerance pattern). Geodesic-vs-great-circle deviation over this
    * Spain-box grid is ≤0.25% (measured across all 300 pairs), so the
    * 0.5% gate is noise-proof; the oracle states the haversine value and
    * TRUE. A Vincenty that drifted (wrong flattening, broken iteration)
    * fails the gate; exact spheroid anchors live in GeoSpec.
    */
  def distanceSpheroidCheck(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    def pts(alias: String) = Tables.nation(spark, sfDir).select(
      col("n_nationkey").cast("int").as(s"k$alias"),
      (lit(-6.5) + pmod(col("n_nationkey"), lit(19)) * 0.39).as(s"lon$alias"),
      (lit(36.0) + pmod(col("n_nationkey"), lit(17)) * 0.45).as(s"lat$alias"))
    pts("1").crossJoin(pts("2"))
      .filter(col("k1") < col("k2"))
      .withColumn("hav_km",
        GeoFunctions.haversineKm(col("lon1"), col("lat1"), col("lon2"), col("lat2")))
      .withColumn("vin_km",
        expr("st_distance_spheroid(st_point(lon1, lat1), st_point(lon2, lat2))") / 1000.0)
      .select(col("k1"), col("k2"),
        r4(col("hav_km")).as("hav_km"),
        (abs(col("vin_km") - col("hav_km")) / col("hav_km") <= 0.005).as("spheroid_ok"))
      .orderBy(col("k1"), col("k2"))
  }

  private val distanceSpheroidCheckOracle = {
    def lon(a: String) = s"(-6.5 + (n$a.n_nationkey % 19) * 0.39)"
    def lat(a: String) = s"(36.0 + (n$a.n_nationkey % 17) * 0.45)"
    val hav = GeoFunctions.haversineKmSql(lon("1"), lat("1"), lon("2"), lat("2"))
    s"""SELECT CAST(n1.n_nationkey AS INTEGER) AS k1,
       |       CAST(n2.n_nationkey AS INTEGER) AS k2,
       |       ROUND($hav, 4) AS hav_km,
       |       TRUE AS spheroid_ok
       |FROM nation n1 CROSS JOIN nation n2
       |WHERE n1.n_nationkey < n2.n_nationkey
       |ORDER BY k1, k2""".stripMargin
  }

  // ------------------------------------------------------------------
  /** A10: ST_Centroid(ST_Union_Agg(geometry)) per region
    * (`dags/gravity/create_centroids.py:13-19`) over synthetic rectangle
    * polygons. The oracle computes the analytically-equal area-weighted
    * rectangle-center mean — validating the whole WKT parse → union-agg →
    * centroid UDF path against closed-form arithmetic.
    */
  def unionCentroid(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    val k = col("n_nationkey")
    val lon0 = lit(-9.0) + pmod(k, lit(10)) * 1.5
    val lat0 = lit(36.0) + pmod(k, lit(7)) * 1.1
    val w = lit(0.5) + pmod(k, lit(5)) * 0.1
    val h = lit(0.4) + pmod(k, lit(3)) * 0.1
    Tables.nation(spark, sfDir)
      .select(col("n_regionkey").cast("int").as("region"),
        concat(lit("POLYGON(("),
          lon0, lit(" "), lat0, lit(", "),
          lon0 + w, lit(" "), lat0, lit(", "),
          lon0 + w, lit(" "), lat0 + h, lit(", "),
          lon0, lit(" "), lat0 + h, lit(", "),
          lon0, lit(" "), lat0, lit("))")).as("poly"))
      .groupBy(col("region"))
      .agg(expr("st_union_agg(poly)").as("union_wkt"))
      .select(col("region"),
        round(expr("st_x(st_centroid(union_wkt))"), 6).as("cx"),
        round(expr("st_y(st_centroid(union_wkt))"), 6).as("cy"),
        round(expr("st_area(union_wkt)"), 6).as("total_area"))
      .orderBy(col("region"))
  }

  private val unionCentroidOracle =
    """SELECT CAST(n_regionkey AS INTEGER) AS region,
      |       ROUND(SUM((lon0 + w/2) * (w*h)) / SUM(w*h), 6) AS cx,
      |       ROUND(SUM((lat0 + h/2) * (w*h)) / SUM(w*h), 6) AS cy,
      |       CAST(ROUND(SUM(w*h), 6) AS DOUBLE) AS total_area
      |FROM (SELECT n_regionkey,
      |             -9.0 + (n_nationkey % 10) * 1.5 AS lon0,
      |             36.0 + (n_nationkey % 7) * 1.1 AS lat0,
      |             0.5 + (n_nationkey % 5) * 0.1 AS w,
      |             0.4 + (n_nationkey % 3) * 0.1 AS h
      |      FROM nation)
      |GROUP BY 1 ORDER BY region""".stripMargin

  // ------------------------------------------------------------------
  /** ST_Transform EPSG:25830→4326 (`dags/geometry/transform_silver_geometry
    * .py:20,26`), oracle-checked via the roundtrip trick: known in-zone
    * lon/lat → forward Krüger projection (in-engine UDF) → the REGISTERED
    * `st_transform_25830_4326` inverse — and the oracle simply states the
    * input coordinates. The inverse series itself is not expressible in
    * portable SQL, but forward∘inverse ≡ identity to ≤3e-8 deg (measured)
    * against a 5e-7 rounding half-gap at 6dp, so the compare is
    * deterministic. Distinct input lattice from [[geoRoundtrip]], and this
    * one exercises the session-registered transform the reference's
    * silver-geometry stage calls, not a test-local UDF.
    */
  def geoTransform(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    // single UDF for the forward hop (one Krüger evaluation per row);
    // the inverse is the registered st_transform_25830_4326 under test
    graft.GraftFunctions.registerOnce(spark, "utm30n_forward") {
      spark.udf.register("utm30n_forward", (lon: Double, lat: Double) => {
        val (e, n) = graft.geo.Geo.lonLatToUtm30n(lon, lat)
        Array(e, n)
      })
    }
    Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("int").as("k"),
        (lit(-6.3) + pmod(col("n_nationkey"), lit(21)) * 0.31).as("lon"),
        (lit(36.1) + pmod(col("n_nationkey"), lit(11)) * 0.52).as("lat"))
      .withColumn("en", expr("utm30n_forward(lon, lat)"))
      .withColumn("pt", expr("st_transform_25830_4326(en[0], en[1])"))
      .select(col("k"),
        round(expr("st_x(pt)"), 6).as("lon_tr"),
        round(expr("st_y(pt)"), 6).as("lat_tr"))
      .orderBy(col("k"))
  }

  private val geoTransformOracle =
    """SELECT CAST(n_nationkey AS INTEGER) AS k,
      |       CAST(ROUND(-6.3 + (n_nationkey % 21) * 0.31, 6) AS DOUBLE) AS lon_tr,
      |       CAST(ROUND(36.1 + (n_nationkey % 11) * 0.52, 6) AS DOUBLE) AS lat_tr
      |FROM nation ORDER BY k""".stripMargin

  // ------------------------------------------------------------------
  /** F14: ST_AsGeoJSON (`dags/gravity/create_map.py:32`) — the map-sink
    * serialization. The GeoJSON strings are produced by the UDF and then
    * PARSED BACK with Spark's JSON path extraction; the oracle computes
    * the same type names and coordinates directly, so the output must be
    * well-formed JSON with the right structure and numbers — not merely
    * a string that looks plausible.
    */
  def geoJson(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    val k = col("n_nationkey")
    val lon0 = lit(-9.0) + pmod(k, lit(10)) * 1.5
    val lat0 = lit(36.0) + pmod(k, lit(7)) * 1.1
    val w = lit(0.5) + pmod(k, lit(5)) * 0.1
    Tables.nation(spark, sfDir)
      .select(k.cast("int").as("k"),
        expr("st_asgeojson(st_point(-9.0 + (n_nationkey % 10) * 1.5," +
          " 36.0 + (n_nationkey % 7) * 1.1))").as("gj_point"),
        concat(lit("POLYGON(("),
          lon0, lit(" "), lat0, lit(", "),
          lon0 + w, lit(" "), lat0, lit(", "),
          lon0 + w, lit(" "), lat0 + w, lit(", "),
          lon0, lit(" "), lat0, lit("))")).as("poly_wkt"))
      .withColumn("gj_poly", expr("st_asgeojson(st_geomfromtext(poly_wkt))"))
      .select(col("k"),
        get_json_object(col("gj_point"), "$.type").as("point_type"),
        round(get_json_object(col("gj_point"), "$.coordinates[0]")
          .cast("double"), 6).as("jx"),
        round(get_json_object(col("gj_point"), "$.coordinates[1]")
          .cast("double"), 6).as("jy"),
        get_json_object(col("gj_poly"), "$.type").as("poly_type"),
        round(get_json_object(col("gj_poly"), "$.coordinates[0][2][1]")
          .cast("double"), 6).as("ring_pt_y"))
      .orderBy(col("k"))
  }

  private val geoJsonOracle =
    """SELECT CAST(n_nationkey AS INTEGER) AS k,
      |       'Point' AS point_type,
      |       CAST(ROUND(-9.0 + (n_nationkey % 10) * 1.5, 6) AS DOUBLE) AS jx,
      |       CAST(ROUND(36.0 + (n_nationkey % 7) * 1.1, 6) AS DOUBLE) AS jy,
      |       'Polygon' AS poly_type,
      |       CAST(ROUND(36.0 + (n_nationkey % 7) * 1.1
      |             + 0.5 + (n_nationkey % 5) * 0.1, 6) AS DOUBLE) AS ring_pt_y
      |FROM nation ORDER BY k""".stripMargin

  // ------------------------------------------------------------------
  /** J9 complete: the map-rendering join (`dags/gravity/create_map.py:
    * 20-44`) — infrastructure ranking ⋈ municipality geometry, regrouped
    * by service status with `st_union_agg` dissolving each status bucket
    * into one multipolygon (then measured, which is what the Kepler sink
    * consumes). The ranking side reads the materialized gold table
    * ([[goldRanking]]) exactly as `create_map.py:20` reads
    * `gold_gravity_model_analysis` — no gravity recompute, no second k
    * calibration. Geometry is the key-derived rectangle per
    * municipality, so the oracle can recompute the dissolve analytically
    * (union area = Σ member areas, centroid = area-weighted center —
    * exact for disjoint rectangles).
    */
  def mapJoin(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    val ranking = goldRanking(spark, sfDir)
      .select(col("origin_municipality").as("municipality"),
        col("infrastructure_status"))
    val k = col("n_nationkey")
    val lon0 = lit(-9.0) + pmod(k, lit(10)) * 1.5
    val lat0 = lit(36.0) + pmod(k, lit(7)) * 1.1
    val w = lit(0.5) + pmod(k, lit(5)) * 0.1
    val h = lit(0.4) + pmod(k, lit(3)) * 0.1
    val geometry = Tables.nation(spark, sfDir)
      .select(k.cast("int").as("municipality"),
        concat(lit("POLYGON(("),
          lon0, lit(" "), lat0, lit(", "),
          lon0 + w, lit(" "), lat0, lit(", "),
          lon0 + w, lit(" "), lat0 + h, lit(", "),
          lon0, lit(" "), lat0 + h, lit(", "),
          lon0, lit(" "), lat0, lit("))")).as("poly"))
    ranking.join(broadcast(geometry), Seq("municipality"))
      .groupBy(col("infrastructure_status"))
      .agg(count(lit(1)).as("n_municipalities"),
        expr("st_union_agg(poly)").as("dissolved"))
      .select(col("infrastructure_status"), col("n_municipalities"),
        round(expr("st_area(dissolved)"), 6).as("total_area"),
        round(expr("st_x(st_centroid(dissolved))"), 6).as("cx"),
        round(expr("st_y(st_centroid(dissolved))"), 6).as("cy"))
      .orderBy(col("infrastructure_status"))
  }

  private lazy val mapJoinOracle =
    s"""WITH ranking AS ($gravityModelOracle),
       |geom AS (
       |  SELECT CAST(n_nationkey AS INTEGER) AS municipality,
       |         -9.0 + (n_nationkey % 10) * 1.5 AS lon0,
       |         36.0 + (n_nationkey % 7) * 1.1 AS lat0,
       |         0.5 + (n_nationkey % 5) * 0.1 AS w,
       |         0.4 + (n_nationkey % 3) * 0.1 AS h
       |  FROM nation)
       |SELECT infrastructure_status, COUNT(*) AS n_municipalities,
       |       CAST(ROUND(SUM(w * h), 6) AS DOUBLE) AS total_area,
       |       ROUND(SUM((lon0 + w/2) * (w*h)) / SUM(w*h), 6) AS cx,
       |       ROUND(SUM((lat0 + h/2) * (w*h)) / SUM(w*h), 6) AS cy
       |FROM ranking r JOIN geom g ON r.origin_municipality = g.municipality
       |GROUP BY 1 ORDER BY infrastructure_status""".stripMargin

  // ------------------------------------------------------------------
  /** ST_Transform round-trip, oracle-checked: synthetic in-zone lon/lat
    * → UTM 30N forward → inverse → the oracle states the INPUT
    * coordinates. The Krüger-series round-trip error is ≤3e-8 deg
    * (measured) against a 5e-7 rounding half-gap at 6dp, and the inputs
    * are fixed, so the compare is deterministic — this pins the
    * projection pair to ground truth in a way the rows-only
    * q_geo_transform cannot. */
  def geoRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    GeoFunctions.register(spark)
    // one UDF for the whole forward∘inverse trip — separate _e/_n
    // accessors would each run the full Krüger projection per row
    graft.GraftFunctions.registerOnce(spark, "utm30n_roundtrip") {
      spark.udf.register("utm30n_roundtrip", (lon: Double, lat: Double) => {
        val (e, n) = graft.geo.Geo.lonLatToUtm30n(lon, lat)
        val (lon2, lat2) = graft.geo.Geo.utm30nToLonLat(e, n)
        graft.geo.Geo.toWkt(graft.geo.Geo.GPoint(graft.geo.Geo.Pt(lon2, lat2)))
      })
    }
    Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("int").as("k"),
        (lit(-6.5) + pmod(col("n_nationkey"), lit(19)) * 0.39).as("lon"),
        (lit(36.0) + pmod(col("n_nationkey"), lit(17)) * 0.45).as("lat"))
      .withColumn("pt", expr("utm30n_roundtrip(lon, lat)"))
      .select(col("k"),
        round(expr("st_x(pt)"), 6).as("lon_rt"),
        round(expr("st_y(pt)"), 6).as("lat_rt"))
      .orderBy(col("k"))
  }

  private val geoRoundtripOracle =
    """SELECT CAST(n_nationkey AS INTEGER) AS k,
      |       CAST(ROUND(-6.5 + (n_nationkey % 19) * 0.39, 6) AS DOUBLE) AS lon_rt,
      |       CAST(ROUND(36.0 + (n_nationkey % 17) * 0.45, 6) AS DOUBLE) AS lat_rt
      |FROM nation ORDER BY k""".stripMargin

  // --------------------------------------------------- grid spatial join
  /** Grid-indexed spatial join — the many-polygon generalization of
    * [[polygonFilter]]'s single-AOI scan, and THE pattern that makes
    * point-in-polygon joins survive 100 TB (PostGIS/Sedona's
    * partitioned spatial join): both sides are keyed to 1°×1° GRID
    * CELLS — points by floor of their coordinates, each nation's
    * service rectangle by the (±1-cell padded) cell range of its
    * bounds — and candidates form on a plain (cx, cy) EQUI-join, with
    * the exact containment predicate verifying only same-cell pairs.
    * No polygon is ever tested against a point outside its padded
    * cell neighborhood, and nothing nested-loops.
    *
    * The ±1 pad makes the candidate set robust to floating-point
    * floor at cell boundaries (a point computed epsilon under a
    * boundary in one engine and epsilon over in the other would still
    * be a candidate in both; the verify predicate — identical IEEE
    * comparisons — then decides identically).
    *
    * Output is the per-polygon audit: candidates from the index vs
    * exact hits — the selectivity a spatial optimizer tracks per
    * grid resolution.
    */
  def gridSpatialJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // points and rectangles share the synthetic residue lattice
    // (0.1° lon / 0.08° lat steps), so the exact containment check
    // compares INTEGER residues — the polygonFilter/polygonPredicates
    // doctrine: never let a float boundary decide a row's fate.
    // Doubles appear only in the cell index, where the ±1 pad absorbs
    // any floor-at-boundary wobble.
    val pts = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        pmod(col("c_custkey"), lit(97)).as("m"),
        pmod(col("c_custkey"), lit(83)).as("n"))
      .withColumn("cx", floor(col("m") * 0.1).cast("long"))
      .withColumn("cy", floor(col("n") * 0.08).cast("long"))
    val k = col("n_nationkey")
    val rects = Tables.nation(spark, sfDir)
      .select(k.cast("int").as("k"),
        (pmod(k, lit(10)) * 9).as("mx0"), (pmod(k, lit(7)) * 12).as("ny0"))
      .withColumn("mx1", col("mx0") + lit(8) + pmod(col("k"), lit(3)) * 4)
      .withColumn("ny1", col("ny0") + lit(12))
    val rectCells = rects
      .withColumn("cx", explode(expr(
        "sequence(CAST(floor(mx0 * 0.1) AS BIGINT) - 1, " +
          "CAST(floor(mx1 * 0.1) AS BIGINT) + 1)")))
      .withColumn("cy", explode(expr(
        "sequence(CAST(floor(ny0 * 0.08) AS BIGINT) - 1, " +
          "CAST(floor(ny1 * 0.08) AS BIGINT) + 1)")))
    val perRect = pts.join(rectCells, Seq("cx", "cy"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("m").between(col("mx0"), col("mx1")) &&
          col("n").between(col("ny0"), col("ny1")), 1L).otherwise(0L))
          .as("n_inside"))
    // polygons whose cells hold no points still belong in the audit
    rects.select(col("k")).join(perRect, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_inside"), lit(0L)).as("n_inside"))
      .orderBy(col("k"))
  }

  private val gridSpatialJoinOracle =
    s"""WITH pts AS (
       |  SELECT c_custkey, c_custkey % 97 AS m, c_custkey % 83 AS n,
       |         CAST(FLOOR((c_custkey % 97) * CAST(0.1 AS DOUBLE)) AS BIGINT) AS cx,
       |         CAST(FLOOR((c_custkey % 83) * CAST(0.08 AS DOUBLE)) AS BIGINT) AS cy
       |  FROM customer),
       |rects AS (
       |  SELECT CAST(n_nationkey AS INT) AS k,
       |         (n_nationkey % 10) * 9 AS mx0, (n_nationkey % 7) * 12 AS ny0
       |  FROM nation),
       |r2 AS (SELECT k, mx0, ny0, mx0 + 8 + (k % 3) * 4 AS mx1,
       |              ny0 + 12 AS ny1
       |       FROM rects),
       |cells AS (
       |  SELECT k, mx0, ny0, mx1, ny1, cx.cx, cy.cy
       |  FROM r2,
       |  LATERAL unnest(range(
       |    CAST(FLOOR(mx0 * CAST(0.1 AS DOUBLE)) AS BIGINT) - 1,
       |    CAST(FLOOR(mx1 * CAST(0.1 AS DOUBLE)) AS BIGINT) + 2)) AS cx(cx),
       |  LATERAL unnest(range(
       |    CAST(FLOOR(ny0 * CAST(0.08 AS DOUBLE)) AS BIGINT) - 1,
       |    CAST(FLOOR(ny1 * CAST(0.08 AS DOUBLE)) AS BIGINT) + 2)) AS cy(cy)),
       |agg AS (
       |  SELECT k, COUNT(*) AS n_cand,
       |         CAST(SUM(CASE WHEN m BETWEEN mx0 AND mx1
       |                        AND n BETWEEN ny0 AND ny1
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
       |  FROM pts p JOIN cells c ON c.cx = p.cx AND c.cy = p.cy
       |  GROUP BY k)
       |SELECT r.k, COALESCE(n_cand, 0) AS n_cand,
       |       COALESCE(n_inside, 0) AS n_inside
       |FROM rects r LEFT JOIN agg ON agg.k = r.k
       |ORDER BY r.k""".stripMargin

  // ----------------------------------------------------------- geohash
  /** Geohash-6 spatial indexing — THE portable spatial bucketing key
    * (public base32 interleave encoding): quantize lon/lat to 15 bits
    * each, interleave (lon first) into a 30-bit code, render as 6
    * base32 chars. Prefix truncation = spatial containment, which is
    * what makes it a partition/join key: `substr(gh, 1, k)` buckets
    * co-locate nearby points for neighborhood joins (the grid-join's
    * cell key, but hierarchical and sortable — a z-order curve in
    * string clothing).
    *
    * Engine parity by construction: the coordinates live on the e6
    * integer lattice (key-derived, Spain-ish extents), quantization is
    * exact integer floor division, every bit extraction is
    * `(q DIV 2^s) % 2` and every 5-bit char an integer divide —
    * rendered for both engines from ONE Scala formula builder, so no
    * float touches any cell boundary. GeoSpec cross-checks against an
    * INDEPENDENT implementation (successive-bisection algorithm, the
    * textbook construction) — the oracle proves engine parity, the
    * spec proves the encoding is actually geohash.
    *
    * Scale: pure map-side arithmetic on two columns — a free rider on
    * any scan, like every good partition key.
    */
  def geohash(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("int").as("k"),
        (lit(-6300000L) + pmod(col("n_nationkey"), lit(21)) * 310000L)
          .as("lon_e6"),
        (lit(36100000L) + pmod(col("n_nationkey"), lit(11)) * 520000L)
          .as("lat_e6"))
      .withColumn("lon_q",
        expr("(lon_e6 + 180000000) * 32768 DIV 360000000"))
      .withColumn("lat_q",
        expr("(lat_e6 + 90000000) * 32768 DIV 180000000"))
      .withColumn("g", expr(geohashBitsSql("DIV")))
      .select(col("k"),
        (col("lon_e6").cast("double") / 1e6).as("lon"),
        (col("lat_e6").cast("double") / 1e6).as("lat"),
        expr(geohashCharsSql("DIV")).as("gh6"))
      .withColumn("gh3", substring(col("gh6"), 1, 3))
      .orderBy(col("k"))
  }

  /** Base32 alphabet of the public geohash encoding (no a/i/l/o). */
  private[graft] val GhAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** 30-bit interleave as engine-portable integer arithmetic over
    * columns lon_q/lat_q — bit i of the 15-bit quantized value via
    * `DIV 2^(14-i) % 2`, placed at interleaved weight (lon even
    * positions from the MSB, lat odd). `div` = "DIV" (Spark) / "//"
    * (DuckDB). */
  private[ops] def geohashBitsSql(div: String): String =
    (0 until 15).flatMap { i =>
      Seq(s"((lon_q $div ${1 << (14 - i)}) % 2) * ${1L << (29 - 2 * i)}",
        s"((lat_q $div ${1 << (14 - i)}) % 2) * ${1L << (28 - 2 * i)}")
    }.mkString(" + ")

  /** Six 5-bit chars of column g through the base32 table. */
  private[ops] def geohashCharsSql(div: String): String =
    (0 until 6).map { j =>
      s"substr('$GhAlphabet', CAST(((g $div ${1L << (25 - 5 * j)}) % 32) AS INT) + 1, 1)"
    }.mkString(" || ")

  private lazy val geohashOracle =
    s"""WITH pts AS (
       |  SELECT CAST(n_nationkey AS INTEGER) AS k,
       |         CAST(-6300000 + (n_nationkey % 21) * 310000 AS BIGINT) AS lon_e6,
       |         CAST(36100000 + (n_nationkey % 11) * 520000 AS BIGINT) AS lat_e6
       |  FROM nation),
       |q AS (
       |  SELECT *, (lon_e6 + 180000000) * 32768 // 360000000 AS lon_q,
       |         (lat_e6 + 90000000) * 32768 // 180000000 AS lat_q
       |  FROM pts),
       |bits AS (SELECT *, ${geohashBitsSql("//")} AS g FROM q)
       |SELECT k, CAST(lon_e6 AS DOUBLE) / 1e6 AS lon,
       |       CAST(lat_e6 AS DOUBLE) / 1e6 AS lat,
       |       ${geohashCharsSql("//")} AS gh6,
       |       substr(${geohashCharsSql("//")}, 1, 3) AS gh3
       |FROM bits ORDER BY k""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_geohash" -> (geohash _),
    "q_grid_spatial_join" -> (gridSpatialJoin _),
    "q_geo_roundtrip" -> (geoRoundtrip _),
    "q_map_join" -> (mapJoin _),
    "q_geojson" -> (geoJson _),
    "q_geo_centroids" -> (geoCentroids _),
    "q_geo_distance_matrix" -> (geoDistanceMatrix _),
    "q_gravity_model" -> (gravityModel _),
    "q_long_trip" -> (longTrip _),
    "q_polygon_filter" -> (polygonFilter _),
    "q_polygon_predicates" -> (polygonPredicates _),
    "q_distance_spheroid" -> (distanceSpheroidCheck _),
    "q_union_centroid" -> (unionCentroid _),
    "q_geo_transform" -> (geoTransform _)
  )

  def oracles: Map[String, String] = Map(
    "q_geohash" -> geohashOracle,
    "q_grid_spatial_join" -> gridSpatialJoinOracle,
    "q_geo_roundtrip" -> geoRoundtripOracle,
    "q_map_join" -> mapJoinOracle,
    "q_geojson" -> geoJsonOracle,
    "q_geo_centroids" -> geoCentroidsOracle,
    "q_geo_distance_matrix" -> geoDistanceMatrixOracle,
    "q_gravity_model" -> gravityModelOracle,
    "q_long_trip" -> longTripOracle,
    "q_polygon_filter" -> polygonFilterOracle,
    "q_polygon_predicates" -> polygonPredicatesOracle,
    "q_distance_spheroid" -> distanceSpheroidCheckOracle,
    "q_union_centroid" -> unionCentroidOracle,
    "q_geo_transform" -> geoTransformOracle
  )
}
