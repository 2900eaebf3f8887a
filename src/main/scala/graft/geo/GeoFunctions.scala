package graft.geo

import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Spark bindings for the §2.8 spatial function surface. Two tiers:
  *
  *  - HOT PATH (distance math over fact-table rows): pure Column
  *    expressions ([[haversineKm]]) — built from `functions._` so they
  *    stay inside whole-stage codegen. Used by the gravity/long-trip
  *    pipelines where the expression runs per joined pair.
  *  - GEOMETRY PATH (WKT polygon predicates, centroids, reprojection):
  *    Scala UDFs over [[Geo]]. These run over dimension-sized geometry
  *    tables (census sections ≈ 36k rows in the reference), never over
  *    the fact table, so UDF overhead is irrelevant at scale and codegen
  *    Expressions would buy nothing.
  */
object GeoFunctions {

  /** Haversine great-circle distance in KM as a codegen-friendly Column
    * expression (mirrors ST_Distance_Spheroid/1000 within 0.5%; exact
    * parity with the DuckDB oracle since both engines evaluate the same
    * double-precision formula).
    */
  def haversineKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dphi = radians(lat2 - lat1)
    val dl = radians(lon2 - lon1)
    val h = pow(sin(dphi / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dl / 2), 2)
    lit(2 * Geo.MeanRadius / 1000.0) * asin(sqrt(h))
  }

  /** The same formula as DuckDB SQL text, parameterized on the four
    * column expressions — keeps Spark and oracle literally in lockstep. */
  def haversineKmSql(lon1: String, lat1: String, lon2: String, lat2: String): String =
    s"2 * ${Geo.MeanRadius / 1000.0} * asin(sqrt(" +
      s"pow(sin(radians(($lat2) - ($lat1)) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"pow(sin(radians(($lon2) - ($lon1)) / 2), 2)))"

  // ------------------------------------------------------------- UDF layer

  import Geo._

  /** Point-in-constant-polygon test with the AOI parsed ONCE on the
    * driver; the closure ships the parsed geometry to executors. The
    * naive `st_within(st_point(lon, lat), '<wkt>')` form re-parses both
    * the point and the constant polygon WKT on EVERY row — Catalyst
    * cannot constant-fold through a UDF, so at fact-table scale that is
    * a per-row allocation storm. Pair this with a bbox `between`
    * prefilter (a plain Column predicate that stays in whole-stage
    * codegen) so the exact ray-cast only runs on bbox survivors.
    */
  def pointInAoiUdf(aoiWkt: String): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val g = parseWkt(aoiWkt)
    udf((lon: Double, lat: Double) => contains(g, Pt(lon, lat)))
  }

  /** WKT-in/WKT-out aggregate union: collects member polygons into a
    * MULTIPOLYGON (`ST_Union_Agg`, `dags/gravity/create_centroids.py:16`).
    * The reference only ever feeds the union into ST_Centroid or
    * ST_AsGeoJSON, so a multipolygon collect is semantically sufficient
    * (SURVEY.md §2.8) — centroid-of-collect = area-weighted centroid,
    * identical to centroid-of-dissolve for non-overlapping census polygons.
    */
  class UnionAgg extends Aggregator[String, List[String], String] {
    def zero: List[String] = Nil
    def reduce(b: List[String], a: String): List[String] =
      if (a == null) b else a :: b
    def merge(b1: List[String], b2: List[String]): List[String] = b1 ::: b2
    def finish(r: List[String]): String = {
      val polys = r.sorted.flatMap { w =>
        parseWkt(w) match {
          case GPolygon(p) => Vector(p)
          case GMultiPolygon(ps) => ps
          case GPoint(p) => // points union → multipoint not needed; skip
            Vector.empty
        }
      }
      if (polys.isEmpty) null else toWkt(GMultiPolygon(polys.toVector))
    }
    // kryo buffer: the aggregation runs over dimension-sized geometry
    // tables (census sections), never fact rows, so opaque-buffer cost is
    // irrelevant and kryo avoids hand-rolling a List encoder.
    def bufferEncoder: Encoder[List[String]] = Encoders.kryo[List[String]]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  // NULL handling: Spark null-short-circuits only PRIMITIVE-typed UDF
  // args — a String-typed arg receives the raw null, so every WKT
  // function must guard explicitly or a single null geometry row (an
  // expected condition in this data model — UnionAgg skips them) NPEs
  // the whole task. The DuckDB twins return NULL on NULL; mirror that.
  // Boxed return types keep the result slot nullable.
  private def nsS(f: String => String): String => String =
    w => if (w == null) null else f(w)
  private def nsD(f: String => Double): String => java.lang.Double =
    w => if (w == null) null else java.lang.Double.valueOf(f(w))
  private def nsB(f: String => Boolean): String => java.lang.Boolean =
    w => if (w == null) null else java.lang.Boolean.valueOf(f(w))
  private def nsD2(f: (String, String) => Double): (String, String) => java.lang.Double =
    (a, b) => if (a == null || b == null) null else java.lang.Double.valueOf(f(a, b))
  private def nsB2(f: (String, String) => Boolean): (String, String) => java.lang.Boolean =
    (a, b) => if (a == null || b == null) null else java.lang.Boolean.valueOf(f(a, b))

  /** Register every st_* function once per session. Returns the
    * session for chaining. SQL names mirror the DuckDB spatial extension.
    */
  def register(spark: SparkSession): SparkSession =
    graft.GraftFunctions.registerOnce(spark, "st_union_agg") {
      val u = spark.udf
      u.register("st_point", (x: Double, y: Double) => toWkt(GPoint(Pt(x, y))))
      u.register("st_x", nsD(w => parseWkt(w) match {
        case GPoint(p) => p.x
        case g => centroid(g).x
      }))
      u.register("st_y", nsD(w => parseWkt(w) match {
        case GPoint(p) => p.y
        case g => centroid(g).y
      }))
      u.register("st_centroid", nsS(w => toWkt(GPoint(centroid(parseWkt(w))))))
      u.register("st_area", nsD(w => area(parseWkt(w))))
      u.register("st_distance_spheroid", nsD2((a, b) => {
        (parseWkt(a), parseWkt(b)) match {
          case (GPoint(p), GPoint(q)) => distanceSpheroid(p.x, p.y, q.x, q.y)
          // convenience beyond DuckDB (which rejects non-points): polygons
          // measure centroid-to-centroid
          case (ga, gb) =>
            val (p, q) = (centroid(ga), centroid(gb))
            distanceSpheroid(p.x, p.y, q.x, q.y)
        }
      }))
      u.register("st_intersects", nsB2((a, b) => intersects(parseWkt(a), parseWkt(b))))
      u.register("st_contains", nsB2((a, b) => containsGeom(parseWkt(a), parseWkt(b))))
      u.register("st_within", nsB2((a, b) => within(parseWkt(a), parseWkt(b))))
      u.register("st_overlaps", nsB2((a, b) => overlaps(parseWkt(a), parseWkt(b))))
      u.register("st_xmin", nsD(w => bbox(parseWkt(w))._1))
      u.register("st_ymin", nsD(w => bbox(parseWkt(w))._2))
      u.register("st_xmax", nsD(w => bbox(parseWkt(w))._3))
      u.register("st_ymax", nsD(w => bbox(parseWkt(w))._4))
      u.register("st_astext", nsS(w => toWkt(parseWkt(w))))
      u.register("st_asgeojson", nsS(w => toGeoJson(parseWkt(w))))
      u.register("st_isvalid", nsB(w => isValid(parseWkt(w))))
      u.register("st_geomfromtext", nsS(w => toWkt(parseWkt(w))))
      u.register("st_transform_25830_4326", (e: Double, n: Double) => {
        val (lon, lat) = utm30nToLonLat(e, n); toWkt(GPoint(Pt(lon, lat)))
      })
      u.register("st_union_agg", udaf(new UnionAgg))
    }

  /** Column-API wrappers (same UDFs, usable without SQL). */
  def st_centroid(c: Column): Column = call_udf("st_centroid", c)
  def st_union_agg(c: Column): Column = call_udf("st_union_agg", c)
  def st_within(a: Column, b: Column): Column = call_udf("st_within", a, b)
  def st_intersects(a: Column, b: Column): Column = call_udf("st_intersects", a, b)
  def st_x(c: Column): Column = call_udf("st_x", c)
  def st_y(c: Column): Column = call_udf("st_y", c)
}
