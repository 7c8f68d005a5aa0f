package graft.operators

import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}
import graft.functions.Geo

/** Geospatial operator queries exercising [[graft.functions.Geo]] —
  * the reference's PostGIS workload re-expressed over testdata
  * (SURVEY.md §2.8, §7.1: geometry → numeric-derived points/rings).
  */
object GeoQueries {

  val entries: Seq[QueryDef] = Seq(

    // F1/F9/F12 WKT point construction from numeric columns
    // (reference etl.py:115-117). Both engines stringify doubles the same
    // way for these 2-dp values (verified: '6.55', '100.0').
    QueryDef("q18_wkt_point",
      """SELECT event_id,
        |       concat('POINT(', CAST(round(1e-9 + value, 2) AS VARCHAR), ' ',
        |              CAST(user_id AS VARCHAR), ')') AS wkt
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          Geo.formatPointWkt(Num.roundOut(col("value"), 2), col("user_id")).as("wkt"))
        .orderBy(col("event_id"))
    },

    // F2/F5/F6 + J1: points-in-polygon counts with REAL geometry machinery:
    // square rings are built as coord arrays → formatted to WKT → parsed
    // back (roundtrip) → ray-cast containment UDF against event points.
    // The oracle expresses the same squares as range predicates; ring edges
    // are offset (.005 / .5) so no data point lies on a boundary and the
    // even-odd ray cast agrees exactly with closed-range semantics.
    // Scale: polygons broadcast; one UDF probe per (point, polygon) — the
    // BroadcastNestedLoopJoin shape of the reference GIST-probed join. The
    // containment predicate is the native codegen Expression
    // (graft.plans.StContains), not the Scala UDF.
    QueryDef("q19_point_in_polygon",
      """WITH polys AS (SELECT CAST(range AS INT) AS poly_id FROM range(0, 5))
        |SELECT p.poly_id, count(e.event_id) AS n_inside
        |FROM polys p
        |LEFT JOIN events e
        |  ON (e.value % 50) > 10 * p.poly_id + 0.005
        | AND (e.value % 50) < 10 * p.poly_id + 9.995
        | AND (e.user_id % 50) > 0.5
        | AND (e.user_id % 50) < 49.5
        |GROUP BY p.poly_id ORDER BY p.poly_id""".stripMargin) { (s, d) =>
      val polys = s.range(0, 5).select(col("id").cast("int").as("poly_id"))
        .withColumn("x0", col("poly_id") * 10 + 0.005)
        .withColumn("x1", col("poly_id") * 10 + 9.995)
        .withColumn("ring_wkt", Geo.formatPolygonWkt(array(
          Geo.makePoint(col("x0"), lit(0.5)),
          Geo.makePoint(col("x1"), lit(0.5)),
          Geo.makePoint(col("x1"), lit(49.5)),
          Geo.makePoint(col("x0"), lit(49.5)),
          Geo.makePoint(col("x0"), lit(0.5)))))
        .withColumn("ring", Geo.parsePolygonWkt(col("ring_wkt")))
        .select(col("poly_id"), col("ring"))
      val pts = Tables.events(s, d).select(col("event_id"),
        (col("value") % 50).as("px"),
        (col("user_id") % 50).cast("double").as("py"))
      val perPoly = pts
        .join(broadcast(polys), graft.plans.StContains(col("ring"), col("px"), col("py")))
        .groupBy(col("poly_id")).agg(count(lit(1)).as("cnt"))
      polys.select(col("poly_id"))
        .join(perPoly, Seq("poly_id"), "left")
        .select(col("poly_id"), coalesce(col("cnt"), lit(0L)).as("n_inside"))
        .orderBy(col("poly_id"))
    },

    // F2/F5/F6 complete semantics: MULTIPOLYGON with holes and a disjoint
    // second part. Each poly_id is two square parts — part A carries a
    // square HOLE (a point in the hole is OUTSIDE, PostGIS ST_Contains
    // semantics) — built as coord rings → full MULTIPOLYGON WKT →
    // parsed back to the flat ring list → probed by the native even-odd
    // StContainsRings expression (crossing parity over ALL rings). The
    // oracle expresses the identical geometry as box predicates: (in outer
    // A and not in hole) or in part B; edges offset .005/.5 so no point
    // sits on a boundary. Scale: same broadcast-probe shape as q19.
    QueryDef("q53_polygon_holes",
      """WITH polys AS (SELECT CAST(range AS INT) AS poly_id FROM range(0, 5))
        |SELECT p.poly_id, count(e.event_id) AS n_inside
        |FROM polys p
        |LEFT JOIN events e ON (
        |  ((e.value % 50) > 10 * p.poly_id + 0.005
        |   AND (e.value % 50) < 10 * p.poly_id + 9.995
        |   AND (e.user_id % 50) > 0.5 AND (e.user_id % 50) < 29.5
        |   AND NOT ((e.value % 50) > 10 * p.poly_id + 2.005
        |            AND (e.value % 50) < 10 * p.poly_id + 3.995
        |            AND (e.user_id % 50) > 10.5 AND (e.user_id % 50) < 19.5))
        |  OR ((e.value % 50) > 10 * p.poly_id + 0.005
        |      AND (e.value % 50) < 10 * p.poly_id + 9.995
        |      AND (e.user_id % 50) > 30.5 AND (e.user_id % 50) < 49.5))
        |GROUP BY p.poly_id ORDER BY p.poly_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.Column
      def sq(x0: Column, y0: Column, x1: Column, y1: Column) = array(
        Geo.makePoint(x0, y0), Geo.makePoint(x1, y0),
        Geo.makePoint(x1, y1), Geo.makePoint(x0, y1), Geo.makePoint(x0, y0))
      val polys = s.range(0, 5).select(col("id").cast("int").as("poly_id"))
        .withColumn("x0", col("poly_id") * 10 + 0.005)
        .withColumn("x1", col("poly_id") * 10 + 9.995)
        .withColumn("hx0", col("poly_id") * 10 + 2.005)
        .withColumn("hx1", col("poly_id") * 10 + 3.995)
        .withColumn("wkt", Geo.formatMultiPolygonWkt(array(
          array(sq(col("x0"), lit(0.5), col("x1"), lit(29.5)),        // part A
            sq(col("hx0"), lit(10.5), col("hx1"), lit(19.5))),        // its hole
          array(sq(col("x0"), lit(30.5), col("x1"), lit(49.5))))))    // part B
        .withColumn("rings", Geo.parseRingsWkt(col("wkt")))
        .select(col("poly_id"), col("rings"))
      val pts = Tables.events(s, d).select(col("event_id"),
        (col("value") % 50).as("px"),
        (col("user_id") % 50).cast("double").as("py"))
      val perPoly = pts
        .join(broadcast(polys),
          graft.plans.StContainsRings(col("rings"), col("px"), col("py")))
        .groupBy(col("poly_id")).agg(count(lit(1)).as("cnt"))
      polys.select(col("poly_id"))
        .join(perPoly, Seq("poly_id"), "left")
        .select(col("poly_id"), coalesce(col("cnt"), lit(0L)).as("n_inside"))
        .orderBy(col("poly_id"))
    },

    // F8 ST_DWithin analog: haversine distance (pure column math, no UDF)
    // from each event-derived point to the origin, within 15000 km.
    QueryDef("q20_haversine",
      """SELECT event_id, round(1e-9 + dist_km, 4) AS dist_km FROM (
        |  SELECT event_id,
        |         2 * 6371.0 * asin(sqrt(
        |           sin(radians(lat) / 2) * sin(radians(lat) / 2) +
        |           cos(radians(lat)) * cos(radians(0)) *
        |           sin(radians(lon) / 2) * sin(radians(lon) / 2))) AS dist_km
        |  FROM (SELECT event_id, (value % 360) - 180 AS lon,
        |               (user_id % 180) - 90 AS lat FROM events)
        |) WHERE dist_km < 15000 ORDER BY event_id""".stripMargin) { (s, d) =>
      val pts = Tables.events(s, d).select(col("event_id"),
        ((col("value") % 360) - 180).as("lon"),
        ((col("user_id") % 180) - 90).cast("double").as("lat"))
      pts.withColumn("dist_km",
          Geo.haversineKm(col("lat"), col("lon"), lit(0.0), lit(0.0)))
        .filter(col("dist_km") < 15000)
        .select(col("event_id"), Num.roundOut(col("dist_km"), 4).as("dist_km"))
        .orderBy(col("event_id"))
    },

    // F8 ST_DWithin as the REGISTERED SQL FUNCTION with its self-carried
    // index ([[graft.plans.StDWithinSql]]): the probe point and radius are
    // literals, so the expansion's latitude band constant-folds into range
    // predicates on the stored `lat` column and reaches the parquet scan
    // as PushedFilters — the reference's GIST-index pruning
    // (etl.py:230-237) played by row-group min/max stats over an
    // ingest-persisted points table. GeoPushdownSpec pins the plan; the
    // oracle recomputes the same points and the identical haversine
    // inequality (band conjunct is semantically redundant by soundness).
    QueryDef("q87_dwithin_function",
      """WITH p AS (
        |  SELECT event_id, (user_id % 180) - 90 AS lat,
        |         (value % 360) - 180 AS lon
        |  FROM events
        |)
        |SELECT event_id, round(1e-9 + lat, 4) AS lat,
        |       round(1e-9 + lon, 4) AS lon
        |FROM p
        |WHERE 2 * 6371.0 * asin(sqrt(
        |        sin(radians(-82.0 - lat) / 2) * sin(radians(-82.0 - lat) / 2) +
        |        cos(radians(lat)) * cos(radians(-82.0)) *
        |        sin(radians(0.0 - lon) / 2) * sin(radians(0.0 - lon) / 2)))
        |      <= 3000
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      graft.plans.StDWithinSql.register(s)
      pointsTable(s, d)
        .filter(expr("st_dwithin(lat, lon, -82.0, 0.0, 3000.0)"))
        .select(col("event_id"),
          Num.roundOut(col("lat"), 4).as("lat"),
          Num.roundOut(col("lon"), 4).as("lon"))
        .orderBy(col("event_id"))
    }
  )

  /** Event-derived points PERSISTED content-keyed — the "store lat/lon as
    * plain columns at ingest" layout every geo warehouse uses, so range
    * predicates can prune row groups by min/max stats. Exposed for
    * GeoPushdownSpec's plan pin. */
  private[graft] def pointsTable(s: org.apache.spark.sql.SparkSession, d: String) =
    DerivedTable(s, d, Artifacts.geopoints) {
      Tables.events(s, d).select(col("event_id"),
        ((col("user_id") % 180) - 90).cast("double").as("lat"),
        ((col("value") % 360) - 180).as("lon"))
    }
}
