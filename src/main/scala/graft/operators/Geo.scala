package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Geo-filtered search (Qdrant geo_radius / ES geo_distance payload
  * filters). The test tables carry no coordinates, so a deterministic
  * synthetic profile is derived per user (md5-hash → lat/lon grid) —
  * the geometry, not the provenance, is what the operator exercises.
  *
  * Scale shape: the radius predicate is a pure per-row expression
  * over two doubles; a production layout would first prune by a
  * bounding box on partition-level lat/lon min-max (the standard
  * geo-partitioning trick), then apply the exact haversine — both
  * stages scan-level, no shuffle.
  */
object Geo {

  private def bucket(saltedId: Column, mod: Int): Column =
    graft.functions.hashes.md5Bucket(saltedId, mod.toLong)

  /** Synthetic user coordinates: lat ∈ [-90, 90), lon ∈ [-180, 180)
    * on a 0.01° grid, from salted md5 buckets of the user id.
    * Materialized ONCE per (session, sf) — the whole geo family
    * shares one point frame, so the two md5 hashes per user are paid
    * on the first geo query of a session, not recomputed under every
    * query's expression tree (the same treatment dedup's shingle
    * frames get). In production this frame is the collection's
    * payload scan — the cache models its OS page-cache residency.
    */
  def userGeo(spark: SparkSession, sfDir: String): DataFrame =
    IndexCache.materialized(spark, s"geo-points#$sfDir") {
      Tables.events(spark, sfDir)
        .select(col("user_id")).distinct()
        .withColumn("lat",
          bucket(col("user_id").cast("string"), 18000).cast("double") / 100.0 - 90.0)
        .withColumn("lon",
          bucket(concat(lit("x"), col("user_id").cast("string")), 36000).cast("double") / 100.0 - 180.0)
    }

  /** Great-circle distance in km (haversine, R = 6371). Written as
    * one fixed expression tree so the oracle can mirror the exact
    * operation order.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * 6371.0) * asin(sqrt(a))
  }

  /** Geo radius search: users within 3000 km of (10°, 20°), nearest
    * 50 by rounded distance with id tie-break.
    */
  def qGeoSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val (qLat, qLon, radiusKm) = (10.0, 20.0, 3000.0)
    userGeo(spark, sfDir)
      .withColumn("dist_km",
        round(haversineKm(lit(qLat), lit(qLon), col("lat"), col("lon")), 6))
      .filter(col("dist_km") <= radiusKm)
      .orderBy(col("dist_km"), col("user_id"))
      .limit(50)
      .select(col("user_id"), col("lat"), col("lon"), col("dist_km"))
  }

  /** Grid aggregation (ES `geohash_grid` / `geotile_grid`): bucket
    * every point into a 10°×10° cell, count and centroid per cell,
    * densest 20 cells. The cell key is per-row floor arithmetic (a
    * rectangular stand-in for the geohash string — same bucketing
    * shape, no base-32 detour), the aggregate map-side combinable:
    * the heat-map query stays one scan at any point count.
    */
  def qGeoGrid(spark: SparkSession, sfDir: String): DataFrame =
    userGeo(spark, sfDir)
      .withColumn("cell_lat", (floor(col("lat") / 10.0) * 10).cast("long"))
      .withColumn("cell_lon", (floor(col("lon") / 10.0) * 10).cast("long"))
      .groupBy(col("cell_lat"), col("cell_lon"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("lat")), 6).as("centroid_lat"),
        round(avg(col("lon")), 6).as("centroid_lon"))
      .orderBy(col("n_points").desc, col("cell_lat"), col("cell_lon"))
      .limit(20)

  /** ES `geohash_grid` at precision 3 — TRUE base-32 geohash cells
    * (bit-interleaved lon/lat, lon bit first, the geohash standard),
    * not the plain degree grid [[qGeoGrid]] keeps for its simpler
    * shape: per cell, point count and centroid. The encode is one
    * closed-form integer expression — 8 lon + 7 lat bits interleaved
    * into 15 bits, split into three 5-bit base-32 characters — so
    * both engines land identical cells from identical IEEE
    * arithmetic; the aggregate is map-side combinable with |cells|
    * output rows at any corpus size, and the top-k is a TakeOrdered.
    */
  def qGeohashGrid(spark: SparkSession, sfDir: String): DataFrame =
    userGeo(spark, sfDir)
      .withColumn("geohash", geohash3(col("lat"), col("lon")))
      .groupBy(col("geohash"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("lat")), 6).as("centroid_lat"),
        round(avg(col("lon")), 6).as("centroid_lon"))
      .orderBy(col("n_points").desc, col("geohash"))
      .limit(20)

  /** The geohash base-32 alphabet (no a/i/l/o). */
  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Precision-3 geohash of (lat, lon) as one closed-form integer
    * expression: quantize lon to 8 bits and lat to 7, interleave
    * lon-first into 15 bits, split into three 5-bit base-32 chars.
    * Equivalent to the standard interval-subdivision algorithm at
    * 15 bits (GeoSpec pins that against an independently-written
    * reference encoder on fixed landmarks and 20k random points).
    */
  private[graft] def geohash3(lat: Column, lon: Column): Column = {
    val lonI = least(floor((lon + lit(180.0)) / lit(360.0) * lit(256.0)),
      lit(255.0)).cast("int")
    val latI = least(floor((lat + lit(90.0)) / lit(180.0) * lit(128.0)),
      lit(127.0)).cast("int")
    val inter = (
      (0 until 8).map(j =>
        shiftright(lonI, 7 - j).bitwiseAND(lit(1)) * lit(1 << (14 - 2 * j))) ++
      (0 until 7).map(j =>
        shiftright(latI, 6 - j).bitwiseAND(lit(1)) * lit(1 << (13 - 2 * j)))
    ).reduce(_ + _)
    val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    concat(
      element_at(alpha, shiftright(inter, 10).bitwiseAND(lit(31)) + 1),
      element_at(alpha, shiftright(inter, 5).bitwiseAND(lit(31)) + 1),
      element_at(alpha, inter.bitwiseAND(lit(31)) + 1))
  }

  /** Bounding-box + centroid aggregation (ES `geo_bounds` +
    * `geo_centroid`): per event type, the box and centroid of the
    * acting users' locations. The user-profile join is a plain key
    * join on user_id (both sides shrink to two doubles per row
    * before moving); the aggregate is min/max/avg — map-side
    * combinable, |event types| output rows.
    */
  def qGeoBounds(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"))
      .join(userGeo(spark, sfDir), "user_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(min(col("lat")), 6).as("min_lat"),
        round(max(col("lat")), 6).as("max_lat"),
        round(min(col("lon")), 6).as("min_lon"),
        round(max(col("lon")), 6).as("max_lon"),
        round(avg(col("lat")), 6).as("centroid_lat"),
        round(avg(col("lon")), 6).as("centroid_lon"))
      .orderBy(col("event_type"))

  /** Test polygon for [[qGeoPolygon]]: a concave pentagon in
    * (lon, lat) space. Vertex latitudes are pairwise distinct so no
    * edge is horizontal and the ray-cast slope below never divides
    * by zero.
    */
  val PolyVerts: Seq[(Double, Double)] = Seq(
    (-120.0, -58.0), (60.0, -62.0), (55.0, 58.0), (-30.0, 2.0), (-115.0, 62.0))

  /** Even-odd ray cast (cast east from the point): a point is inside
    * iff an odd number of polygon edges cross the ray. Unrolled to a
    * fixed expression tree per edge — pure per-row arithmetic, no
    * UDF, works on arbitrary simple (incl. concave) polygons.
    *
    * Each edge's slope `(xj−xi)/(yj−yi)` is a CONSTANT of the
    * polygon, so it is folded to one double literal at plan time —
    * the per-row, per-edge cost is compare + multiply + add, never a
    * division (the division was measured at 3× the radius filter's
    * cost on the same frame).
    */
  def pointInPolygon(lon: Column, lat: Column, verts: Seq[(Double, Double)]): Column = {
    // a HORIZONTAL edge can never cross the eastward ray (its two
    // endpoints sit on the same side of every latitude) — skip it at
    // plan time; its slope is ±∞ anyway
    val crossings = verts.indices
      .filter(i => verts(i)._2 != verts((i + 1) % verts.size)._2)
      .map { i =>
        val (xi, yi) = verts(i)
        val (_, yj) = verts((i + 1) % verts.size)
        val m = edgeSlope(verts, i)
        when(((lit(yi) > lat) =!= (lit(yj) > lat)) &&
          (lon < lit(m) * (lat - lit(yi)) + lit(xi)),
          1).otherwise(0)
      }
    // a fully degenerate (all-horizontal) polygon contains nothing
    crossings.reduceOption(_ + _).fold(lit(false))(_ % 2 === 1)
  }

  /** `(xj−xi)/(yj−yi)` for edge i, computed once in driver doubles —
    * the SAME double lands as the literal in both the Catalyst tree
    * and the SQL mirror, so the boundary arithmetic stays
    * bit-for-bit identical between Spark and the oracle.
    */
  private def edgeSlope(verts: Seq[(Double, Double)], i: Int): Double = {
    val (xi, yi) = verts(i)
    val (xj, yj) = verts((i + 1) % verts.size)
    (xj - xi) / (yj - yi)
  }

  /** Shortest decimal form that parses back to exactly this double
    * (Java's Double.toString round-trip guarantee) — what makes the
    * folded slope constant identical on both sides of the oracle.
    */
  private def dlit(d: Double): String = d.toString

  /** The SQL mirror of [[pointInPolygon]] over columns `lon`/`lat`:
    * identical constants (slopes pre-folded to the same doubles),
    * operation order, and even-odd rule, so the oracle reproduces
    * the boundary arithmetic bit-for-bit.
    */
  def polygonCrossingsSql(verts: Seq[(Double, Double)]): String =
    verts.indices
      .filter(i => verts(i)._2 != verts((i + 1) % verts.size)._2)
      .map { i =>
        val (xi, yi) = verts(i)
        val (_, yj) = verts((i + 1) % verts.size)
        val m = edgeSlope(verts, i)
        s"(CASE WHEN (($yi > lat) <> ($yj > lat)) AND " +
          s"(lon < ${dlit(m)} * (lat - $yi) + $xi) THEN 1 ELSE 0 END)"
      } match {
        case Nil => "0" // degenerate polygon: 0 crossings, matches nothing
        case terms => terms.mkString(" + ")
      }

  /** Polygon containment search (Qdrant `geo_polygon` filter
    * condition / ES `geo_polygon` query): users whose location falls
    * inside an arbitrary simple polygon. Like the radius filter, the
    * predicate is a per-row expression over two doubles — scan-level,
    * no shuffle; a production layout would pre-prune by the polygon's
    * bounding box on partition min-max before the exact cast.
    */
  def qGeoPolygon(spark: SparkSession, sfDir: String): DataFrame =
    userGeo(spark, sfDir)
      .filter(pointInPolygon(col("lon"), col("lat"), PolyVerts))
      .orderBy(col("user_id"))
      .limit(200)
      .select(col("user_id"), col("lat"), col("lon"))

  /** Session-scoped at-rest GEO payload layout of the point frame
    * (built once per corpus — the ingest-time artifact): the user
    * points land Morton-clustered by bucketed lat/lon under a
    * [[graft.api.PayloadIndex]] geo layout, so geo predicates skip
    * files on footer min/max instead of scanning the corpus.
    */
  private def geoIndexPath(spark: SparkSession, sfDir: String): String =
    IndexCache.sessionLayout(spark, "geoindex", sfDir) { p =>
      graft.api.PayloadIndex.write(
        userGeo(spark, sfDir).select(col("user_id"),
          col("lat").as("loc_lat"), col("lon").as("loc_lon")),
        p, graft.api.PayloadIndex.Layout(geo = Some("loc")), numFiles = 32)
    }

  /** [[qGeoPolygon]] served from the AT-REST geo payload layout —
    * same polygon, same answers (hash-checked against the same
    * oracle), but the predicate runs against the Morton-clustered
    * file layout through the [[graft.api.FilterDsl.GeoPolygon]] wire
    * condition, whose implied bounding box is what the parquet
    * footer stats prune on. The production read path of a
    * geo-indexed collection, as `q_bm25_indexed` is for text.
    */
  def qGeoPolygonIndexed(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.PayloadIndex.scan(spark, geoIndexPath(spark, sfDir),
        graft.api.FilterDsl.Filter(must = Seq(
          graft.api.FilterDsl.GeoPolygon("loc", PolyVerts))))
      .select(col("user_id"), col("loc_lat").as("lat"), col("loc_lon").as("lon"))
      .orderBy(col("user_id"))
      .limit(200)

  // ---- geo_shape payloads (ES geo_shape, relation=intersects) ------

  /** Even-odd ray cast where the POLYGON is a column (a shape-valued
    * payload field, `array<struct<lon:double,lat:double>>`) and the
    * point is a literal — the mirror image of [[pointInPolygon]].
    * Pure per-row array arithmetic (`transform` + `aggregate`), no
    * UDF. A horizontal edge contributes 0 crossings via the same
    * first-conjunct guard (the double division then yields ±Inf,
    * which the guarded comparison never consults).
    */
  def pointInShape(shape: Column, lonQ: Double, latQ: Double): Column = {
    val n = size(shape)
    val crossings = aggregate(
      transform(shape, (v, i) => {
        val w = element_at(shape, pmod(i + 1, n) + 1) // next vertex, ring-closed
        val (xi, yi) = (v("lon"), v("lat"))
        val (xj, yj) = (w("lon"), w("lat"))
        when(((yi > lit(latQ)) =!= (yj > lit(latQ))) &&
          (lit(lonQ) < (xj - xi) / (yj - yi) * (lit(latQ) - yi) + xi),
          1).otherwise(0)
      }),
      lit(0), _ + _)
    crossings % 2 === 1
  }

  // signed area of the (P,Q,R) triangle ×2 — the orientation test
  // behind the segment-crossing predicate
  private def ccw(px: Column, py: Column, qx: Column, qy: Column,
                  rx: Column, ry: Column): Column =
    (qx - px) * (ry - py) - (qy - py) * (rx - px)

  /** Does the stored shape INTERSECT the literal simple polygon
    * `verts` (ES `geo_shape` with `relation: intersects`)? The
    * standard three-way decomposition for simple polygons:
    *  1. a stored vertex lies inside the query polygon, or
    *  2. a query vertex lies inside the stored shape, or
    *  3. a stored edge properly crosses a query edge.
    * Containment either way hits 1 or 2; partial overlap hits 3 (or
    * both). Proper crossings only (strict orientation signs):
    * boundary-touching shapes are treated as disjoint, the usual
    * floating-point-geometry convention. All three legs are per-row
    * expressions over the 2·|shape| doubles — scan-level, prunable
    * by the stored bbox columns, no shuffle.
    */
  def shapeIntersectsPolygon(shape: Column, verts: Seq[(Double, Double)]): Column = {
    val storedVertexInP =
      exists(shape, v => pointInPolygon(v("lon"), v("lat"), verts))
    val pVertexInShape =
      verts.map { case (lo, la) => pointInShape(shape, lo, la) }.reduce(_ || _)
    val n = size(shape)
    val edgeCross = exists(
      transform(shape, (v, i) => {
        val w = element_at(shape, pmod(i + 1, n) + 1)
        val (ax, ay) = (v("lon"), v("lat"))
        val (bx, by) = (w("lon"), w("lat"))
        verts.indices.map { k =>
          val (cx, cy) = verts(k)
          val (dx, dy) = verts((k + 1) % verts.size)
          (ccw(ax, ay, bx, by, lit(cx), lit(cy)) *
            ccw(ax, ay, bx, by, lit(dx), lit(dy)) < 0) &&
            (ccw(lit(cx), lit(cy), lit(dx), lit(dy), ax, ay) *
              ccw(lit(cx), lit(cy), lit(dx), lit(dy), bx, by) < 0)
        }.reduce(_ || _)
      }),
      (b: Column) => b)
    storedVertexInP || pVertexInShape || edgeCross
  }

  /** Minkowski sum of two CONVEX polygons (both in (lon, lat), any
    * vertex order; normalized to ccw-from-bottom internally) — the
    * classic edge-angle merge. Used by the q_geo_shape ORACLE: a
    * constant-size symmetric shape D centered at c intersects a
    * convex polygon P iff c ∈ P ⊕ D, which turns the generic
    * shape-intersection answer into a point-in-polygon SQL mirror an
    * independent engine can check.
    */
  private[graft] def minkowskiSum(p: Seq[(Double, Double)],
                                  d: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    def normalize(v: Seq[(Double, Double)]): IndexedSeq[(Double, Double)] = {
      val area = v.indices.map { i =>
        val (x1, y1) = v(i); val (x2, y2) = v((i + 1) % v.size)
        x1 * y2 - x2 * y1
      }.sum
      val ccwV = (if (area < 0) v.reverse else v).toIndexedSeq
      val start = ccwV.indices.minBy(i => (ccwV(i)._2, ccwV(i)._1))
      ccwV.drop(start) ++ ccwV.take(start)
    }
    val (a, b) = (normalize(p), normalize(d))
    val (n, m) = (a.size, b.size)
    def edge(v: IndexedSeq[(Double, Double)], i: Int): (Double, Double) = {
      val (x1, y1) = v(i % v.size); val (x2, y2) = v((i + 1) % v.size)
      (x2 - x1, y2 - y1)
    }
    val out = Vector.newBuilder[(Double, Double)]
    var (i, j) = (0, 0)
    while (i < n || j < m) {
      val (ax, ay) = a(i % n); val (bx, by) = b(j % m)
      out += ((ax + bx, ay + by))
      val (e1x, e1y) = edge(a, i); val (e2x, e2y) = edge(b, j)
      val cross = e1x * e2y - e1y * e2x
      if (i >= n) j += 1
      else if (j >= m) i += 1
      else if (cross > 0) i += 1
      else if (cross < 0) j += 1
      else { i += 1; j += 1 }
    }
    out.result()
  }

  /** Constant half-extents of every stored diamond shape — constant
    * BY DESIGN: it is what makes the oracle's Minkowski reduction
    * exact (per-row sizes would need a per-row dilation).
    */
  val ShapeRLat = 3.17
  val ShapeRLon = 5.73

  /** The q_geo_shape query polygon: convex, ccw, no horizontal or
    * vertical edges (so every Minkowski-sum edge keeps a finite
    * nonzero ray-cast slope), vertices off the 0.01° data grid.
    */
  val ShapeQueryVerts: Seq[(Double, Double)] = Seq(
    (-40.37, -25.115), (35.29, -30.425), (48.73, 22.175), (-25.19, 38.645))

  /** The diamond D centered at the origin, ccw from the east vertex. */
  private def shapeDiamond: Seq[(Double, Double)] = Seq(
    (ShapeRLon, 0.0), (0.0, ShapeRLat), (-ShapeRLon, 0.0), (0.0, -ShapeRLat))

  /** Per-user shape payloads: a diamond of constant half-extents
    * around each user's point — the shape-valued payload FIELD
    * `zone`, stored in the [[graft.api.FilterDsl.GeoShapeIntersects]]
    * naming convention (`zone_shape: array<struct<lon,lat>>` plus the
    * four `zone_*` bbox columns the [[graft.api.PayloadIndex]]
    * geo-shape layout clusters and prunes on).
    */
  def userShapes(spark: SparkSession, sfDir: String): DataFrame = {
    def vert(lonC: Column, latC: Column): Column =
      struct(lonC.as("lon"), latC.as("lat"))
    userGeo(spark, sfDir)
      .withColumn("zone_shape", array(
        vert(col("lon") + ShapeRLon, col("lat")),
        vert(col("lon"), col("lat") + ShapeRLat),
        vert(col("lon") - ShapeRLon, col("lat")),
        vert(col("lon"), col("lat") - ShapeRLat)))
      .withColumn("zone_latmin", col("lat") - ShapeRLat)
      .withColumn("zone_latmax", col("lat") + ShapeRLat)
      .withColumn("zone_lonmin", col("lon") - ShapeRLon)
      .withColumn("zone_lonmax", col("lon") + ShapeRLon)
  }

  /** The oracle polygon: P ⊕ D, computed in driver doubles so the
    * SQL mirror carries the same literals.
    */
  private[graft] def shapeOracleVerts: Seq[(Double, Double)] =
    minkowskiSum(ShapeQueryVerts, shapeDiamond)

  /** Shape-intersection search (ES `geo_shape`, relation
    * intersects): users whose stored shape payload intersects the
    * query polygon. The generic three-leg intersection expression
    * runs against the shape column; the DuckDB oracle checks the
    * same rows through the Minkowski reduction (center ∈ P ⊕ D) —
    * two independent formulations of one region, agreeing row for
    * row. Scan-level like every geo predicate; the bbox-overlap
    * pre-filter below is logically implied by intersection, so the
    * result is unchanged while footer min/max pruning gets plain
    * range predicates to skip files on.
    */
  def qGeoShape(spark: SparkSession, sfDir: String): DataFrame =
    userShapes(spark, sfDir)
      .filter(graft.api.FilterDsl.GeoShapeIntersects("zone", ShapeQueryVerts).toColumn)
      .orderBy(col("user_id"))
      .limit(300)
      .select(col("user_id"), col("lat"), col("lon"))

  /** Distance-ring aggregation (ES `geo_distance` agg): concentric
    * bands around a query point, each with its point count and mean
    * distance. The ring key is a per-row expression over the same
    * haversine as [[qGeoSearch]], so the histogram is one
    * map-side-combinable scan — the "how far are my users" heat query
    * at any point count.
    */
  def qGeoRings(spark: SparkSession, sfDir: String): DataFrame = {
    val (qLat, qLon) = (10.0, 20.0)
    userGeo(spark, sfDir)
      .withColumn("dist_km",
        round(haversineKm(lit(qLat), lit(qLon), col("lat"), col("lon")), 6))
      .withColumn("ring",
        when(col("dist_km") < 1000, "r0")
          .when(col("dist_km") < 3000, "r1")
          .when(col("dist_km") < 6000, "r2")
          .when(col("dist_km") < 10000, "r3")
          .otherwise("r4"))
      .groupBy(col("ring"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("dist_km")), 6).as("avg_dist_km"))
      .orderBy(col("ring"))
  }

  /** Tile aggregation (ES `geotile_grid`): bucket every point into
    * its zoom-6 Web-Mercator slippy tile (`z/x/y` — the map-serving
    * key of `search_mvt` and every tile layer), count and centroid
    * per tile, densest 20. Distinct from [[qGeoGrid]]'s plain
    * lat/lon cells: the y axis is the Mercator projection, so the
    * key matches what a map client requests. Points outside the
    * Mercator domain (|lat| > 85) are excluded, as ES does.
    *
    * The tile indices are pure per-row floor arithmetic, so the
    * histogram is one map-side-combinable scan; the float work
    * (ln/tan/cos) lands on INTEGER floors, where a sub-ulp libm
    * disagreement only matters within 1 ulp of a tile boundary —
    * nowhere on a 0.01° grid.
    */
  def qGeoTile(spark: SparkSession, sfDir: String): DataFrame = {
    val z = 6
    val n = 1 << z // 64 tiles per axis
    userGeo(spark, sfDir)
      .filter(abs(col("lat")) <= 85.0)
      .withColumn("tile_x",
        floor((col("lon") + 180.0) / 360.0 * n).cast("long"))
      .withColumn("tile_y",
        floor((lit(1.0) - log(tan(radians(col("lat"))) +
          lit(1.0) / cos(radians(col("lat")))) / math.Pi) / 2.0 * n).cast("long"))
      .groupBy(col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("lat")), 6).as("centroid_lat"),
        round(avg(col("lon")), 6).as("centroid_lon"))
      .select(concat(lit(s"$z/"), col("tile_x"), lit("/"), col("tile_y")).as("tile"),
        col("n_points"), col("centroid_lat"), col("centroid_lon"))
      .orderBy(col("n_points").desc, col("tile"))
      .limit(20)
  }

  /** Track aggregation (ES `geo_line`): per user, connect that
    * user's event points — coordinates derived per EVENT on the same
    * 0.01° md5 grid as [[userGeo]] — into a line ordered by event
    * time, truncated to the first `LineSize` points (ES returns
    * `complete=false` when the track was truncated, mirrored here).
    * The line is serialized as integer centidegrees ("lonc:latc …")
    * so the string is bit-identical across engines — no float
    * formatting in the hash path.
    *
    * Scale shape: the per-user rank is one window whose
    * `row_number ≤ k` plans as WindowGroupLimit (each partition
    * pre-limits to k before the user-keyed shuffle), and the line
    * assembly aggregates only the ≤k survivors per user; n_points
    * rides the same shuffle as a combinable count. No corpus-sized
    * collect anywhere — the track store pattern for billions of
    * pings.
    */
  def qGeoLine(spark: SparkSession, sfDir: String): DataFrame = {
    val LineSize = 10
    val pts = graft.Tables.events(spark, sfDir)
      .filter(col("user_id") % 15 === 7)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("lonc",
        graft.functions.hashes.md5Bucket(
          concat(lit("x"), col("event_id").cast("string")), 36000) - 18000)
      .withColumn("latc",
        graft.functions.hashes.md5Bucket(col("event_id").cast("string"), 18000) - 9000)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = pts.groupBy(col("user_id")).agg(count(lit(1)).as("n_points"))
    pts
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= LineSize)
      .withColumn("pt", concat(col("lonc").cast("string"), lit(":"),
        col("latc").cast("string")))
      .groupBy(col("user_id"))
      // struct sort keys the collected points by rank — collect_list
      // order is not deterministic across partitions on its own
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(named_struct('rn', rn, 'pt', pt))), s -> s.pt)"))
        .as("line"))
      .join(broadcast(counts), "user_id")
      .select(col("user_id"), col("n_points"), col("line"),
        (col("n_points") <= LineSize).as("complete"))
      .orderBy(col("user_id"))
  }
}
