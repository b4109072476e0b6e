package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.core._

/** Column-level API of the engine, in the style of
  * org.apache.spark.sql.functions. Cell-id kernels, the spatial predicates
  * (PIP against polygon text, within-distance) and term generation are
  * native Catalyst expressions (codegen'd; terms use the one default
  * scheme, [[S2SpatialKernels.indexer]]). The remaining geometry-typed
  * operators (coverings, neighbors, metrics) are deterministic Scala UDFs
  * whose kernels are the exact core implementations. [[functionTable]] is
  * the one list of SQL names, shared by [[registerAll]] and
  * [[graft.S2Extensions]]. */
object S2 {
  import ColumnBridge.{column => toCol, expression => toExpr}

  // ---- native expressions ----
  /** Leaf cell id of (latDeg, lngDeg). */
  def cellId(latDeg: Column, lngDeg: Column): Column =
    toCol(S2CellIdFromLatLngDeg(toExpr(latDeg), toExpr(lngDeg)))

  /** Leaf cell id of a direction vector (any scale). */
  def cellIdXYZ(x: Column, y: Column, z: Column): Column =
    toCol(S2CellIdFromXYZ(toExpr(x), toExpr(y), toExpr(z)))

  def parent(id: Column, level: Int): Column =
    toCol(S2Parent(toExpr(id), toExpr(lit(level))))
  def parent(id: Column, level: Column): Column =
    toCol(S2Parent(toExpr(id), toExpr(level)))
  def level(id: Column): Column = toCol(S2Level(toExpr(id)))
  def orderKey(id: Column): Column = toCol(S2OrderKey(toExpr(id)))
  def rangeMin(id: Column): Column = toCol(S2RangeMin(toExpr(id)))
  def rangeMax(id: Column): Column = toCol(S2RangeMax(toExpr(id)))
  def token(id: Column): Column = toCol(S2Token(toExpr(id)))
  def fromToken(tok: Column): Column = toCol(S2FromToken(toExpr(tok)))
  def cellCenterLat(id: Column): Column = toCol(S2CellCenterLat(toExpr(id)))
  def cellCenterLng(id: Column): Column = toCol(S2CellCenterLng(toExpr(id)))
  def commonAncestorLevel(a: Column, b: Column): Column =
    toCol(S2CommonAncestorLevel(toExpr(a), toExpr(b)))

  /** Squared chord distance between two unit vectors (six double cols) —
    * pure Column arithmetic, fully codegen'd. */
  def chordDist2(x1: Column, y1: Column, z1: Column,
                 x2: Column, y2: Column, z2: Column): Column = {
    val dx = x1 - x2; val dy = y1 - y2; val dz = z1 - z2
    least(lit(4.0), dx * dx + dy * dy + dz * dz)
  }

  /** Chord distance → surface radians: 2*asin(sqrt(d2)/2). */
  def chordToRadians(d2: Column): Column = asin(sqrt(d2) * 0.5) * 2.0

  /** Unit-vector columns (x,y,z struct) from lat/lng degrees. */
  def pointFromLatLng(latDeg: Column, lngDeg: Column): Column = {
    val latR = radians(latDeg); val lngR = radians(lngDeg)
    struct(
      (cos(lngR) * cos(latR)).as("x"),
      (sin(lngR) * cos(latR)).as("y"),
      sin(latR).as("z"))
  }

  // ---- UDF-backed geometry operators ----
  /** Covering of a spherical cap given center (latDeg,lngDeg) + radius in
    * radians; returns Array[Long] cell ids (deterministic, reference
    * coverer semantics). */
  val capCoveringUdf = udf { (lat: Double, lng: Double, radiusRad: Double,
                              maxCells: Int, minLevel: Int, maxLevel: Int) =>
    new S2RegionCoverer(maxCells, minLevel, maxLevel)
      .getCovering(S2Cap.fromCenterAngle(V3.fromLatLngDegrees(lat, lng), radiusRad))
  }

  def capCovering(lat: Column, lng: Column, radiusRad: Column,
                  maxCells: Int = 8, minLevel: Int = 0, maxLevel: Int = 30): Column =
    capCoveringUdf(lat, lng, radiusRad, lit(maxCells), lit(minLevel), lit(maxLevel))

  /** Fixed-level BFS "simple covering" of a cap, flood-filled outward from
    * the cell containing its center (s2region_coverer.cc:488-516). */
  val capSimpleCoveringUdf = udf { (lat: Double, lng: Double,
                                    radiusRad: Double, level: Int) =>
    val c = V3.fromLatLngDegrees(lat, lng)
    S2RegionCoverer.simpleCovering(S2Cap.fromCenterAngle(c, radiusRad), c, level)
  }

  /** Covering of a polygon in the reference text format
    * ("lat:lng, lat:lng, …"; loops joined by ';'). */
  val polygonCoveringUdf = udf { (polyText: String, maxCells: Int,
                                  minLevel: Int, maxLevel: Int) =>
    val poly = PolyCache.get(polyText)
    new S2RegionCoverer(maxCells, minLevel, maxLevel).getCovering(poly)
  }

  def polygonCovering(polyText: Column, maxCells: Int = 8,
                      minLevel: Int = 0, maxLevel: Int = 30): Column =
    polygonCoveringUdf(polyText, lit(maxCells), lit(minLevel), lit(maxLevel))

  /** Rect covering from degree bounds. */
  val rectCoveringUdf = udf { (latLo: Double, lngLo: Double, latHi: Double,
                               lngHi: Double, maxCells: Int) =>
    new S2RegionCoverer(maxCells)
      .getCovering(S2LatLngRect.fromDegrees(latLo, lngLo, latHi, lngHi))
  }

  // ---- term indexer (the equi-joinable spatial join keys) ----
  /** Index terms for a point document (reference
    * s2region_term_indexer.cc:155-213). */
  def pointIndexTerms(latDeg: Column, lngDeg: Column): Column =
    toCol(S2PointIndexTermsExpr(toExpr(latDeg.cast("double")), toExpr(lngDeg.cast("double"))))

  /** Query terms for a polygon-text region. */
  def polygonQueryTerms(polyText: Column): Column =
    toCol(S2PolyQueryTermsExpr(toExpr(polyText)))

  /** Query terms for a cap region. */
  def capQueryTerms(lat: Column, lng: Column, radiusRad: Column): Column =
    toCol(S2CapQueryTermsExpr(toExpr(lat.cast("double")), toExpr(lng.cast("double")),
      toExpr(radiusRad.cast("double"))))

  /** Neighbors of a cell at a given level. */
  val neighborsUdf = udf { (id: Long, level: Int) =>
    S2CellId.allNeighbors(id, level)
  }
  def neighbors(id: Column, level: Column): Column = neighborsUdf(id, level)

  /** Normalized cell union of an array column. */
  val normalizeUnionUdf = udf { (ids: Array[Long]) => S2CellUnion.normalize(ids) }
  /** Expand a covering by a radius (buffered joins). */
  val expandUnionUdf = udf { (ids: Array[Long], radiusRad: Double) =>
    S2CellUnion.expandByRadius(ids, radiusRad, 2)
  }

  /** Cube-face decomposition of a unit vector (reference s2coords.h
    * XYZtoFaceUV / STtoIJ, s2coords.h:322-356): returns
    * struct(face, u, v, i, j) — face 0-5, cube coords in [-1,1], and the
    * leaf-grid (i,j) of the quadratic-projection (s,t). */
  val faceUVUdf = udf { (x: Double, y: Double, z: Double) =>
    val f = S2Coords.face(x, y, z)
    val u = S2Coords.validFaceXYZtoU(f, x, y, z)
    val v = S2Coords.validFaceXYZtoV(f, x, y, z)
    val i = S2Coords.stToIJ(S2Coords.uvToST(u))
    val j = S2Coords.stToIJ(S2Coords.uvToST(v))
    (f, u, v, i, j)
  }
  def faceUV(x: Column, y: Column, z: Column): Column = faceUVUdf(x, y, z)

  def cellArea(id: Column): Column = {
    val exactAreaUdf = udf { (cellId: Long) => S2Cell(cellId).exactArea }
    exactAreaUdf(id)
  }

  /** E6/E7 fixed-point lat/lng conversions (reference s1angle.h:39-55):
    * degrees stored as 1e6/1e7-scaled integers, round-half-even free —
    * the reference uses round-to-nearest via lround. */
  def e7(deg: Column): Column = round(deg * 1e7, 0).cast("long")
  def fromE7(e: Column): Column = e.cast("double") / 1e7
  def e6(deg: Column): Column = round(deg * 1e6, 0).cast("long")
  def fromE6(e: Column): Column = e.cast("double") / 1e6

  /** Earth mean radius (reference s2earth.h). */
  val EarthRadiusMeters: Double = 6371010.0

  /** Level whose cells are at most `meters` wide (kMinWidth
    * GetLevelForMaxValue — reference s2metrics.h:118). */
  def levelForMaxMeters(meters: Double): Int =
    S2Metrics.MinWidth.levelForMaxValue(meters / EarthRadiusMeters)

  private val levelForMetersUdf = udf { (m: Double) => levelForMaxMeters(m) }
  def levelForMeters(meters: Column): Column = levelForMetersUdf(meters)

  /** Level selection across the metric family (reference s2metrics.h:
    * 95-141): struct(minwidth_lmax, maxwidth_lmin, avgedge_closest,
    * avgarea_lmax) for an angle in radians. */
  val metricLevelsUdf = udf { (r: Double) =>
    (S2Metrics.MinWidth.levelForMaxValue(r),
      S2Metrics.MaxWidth.levelForMinValue(r),
      S2Metrics.AvgEdge.closestLevel(r),
      S2Metrics.AvgArea.levelForMaxValue(r * r))
  }
  def metricLevels(radians: Column): Column = metricLevelsUdf(radians)

  /** Greedy maximum-tile range tiling (reference S2CellId::maximum_tile,
    * s2cell_id.cc:168-191): minimal multi-level cell list exactly covering
    * the leaf range [rangeMin(begin), rangeMin(limit)) — `limit` is a cell
    * id whose rangeMin is the exclusive boundary (pass next(c) to include
    * cell c). Drives range-partitioner boundaries with cell-aligned splits. */
  def rangeTiling(begin: Long, limit: Long): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var pos = begin
    while (S2CellId.uLt(S2CellId.rangeMin(pos), S2CellId.rangeMin(limit))) {
      val tile = S2CellId.maximumTile(pos, limit)
      out += tile
      pos = S2CellId.next(tile)
      if (out.size > 1000000) throw new IllegalStateException("tiling too fine")
    }
    out.toArray
  }

  /** The SQL surface: (name, usage, builder) for every SQL-callable
    * native expression. Explicit casts stand in for the type coercion that
    * ExpectsInputTypes (private[sql] in Spark 4) would normally inject for
    * SQL literals. */
  val functionTable: Seq[(String, String, Seq[Expression] => Expression)] = {
    def d(e: Expression): Expression = Cast(e, DoubleType)
    Seq(
      ("s2_cellid", "leaf cell id of (latDeg, lngDeg)",
        es => S2CellIdFromLatLngDeg(d(es(0)), d(es(1)))),
      ("s2_cellid_xyz", "leaf cell id of direction vector",
        es => S2CellIdFromXYZ(d(es(0)), d(es(1)), d(es(2)))),
      ("s2_parent", "ancestor cell at level",
        es => S2Parent(Cast(es(0), LongType), Cast(es(1), IntegerType))),
      ("s2_level", "cell level", es => S2Level(es.head)),
      ("s2_token", "order-preserving hex token", es => S2Token(es.head)),
      ("s2_cell_from_token", "token -> cell id", es => S2FromToken(es.head)),
      ("s2_order_key", "signed-order Hilbert key", es => S2OrderKey(es.head)),
      ("s2_range_min", "first leaf of cell", es => S2RangeMin(es.head)),
      ("s2_range_max", "last leaf of cell", es => S2RangeMax(es.head)),
      ("s2_cell_center_lat", "cell center latitude (deg)", es => S2CellCenterLat(es.head)),
      ("s2_cell_center_lng", "cell center longitude (deg)", es => S2CellCenterLng(es.head)),
      // spatial predicates + term generators (see S2SpatialJoinRule: a JOIN
      // whose condition is one of these predicates plans as a term equi-join)
      ("s2_contains", "exact point-in-polygon(polyText, latDeg, lngDeg)",
        es => S2ContainsPoint(es(0), d(es(1)), d(es(2)))),
      ("s2_within_distance", "points within radiusRad(latA,lngA,latB,lngB,r)",
        es => S2WithinDistance(d(es(0)), d(es(1)), d(es(2)), d(es(3)), d(es(4)))),
      ("s2_point_index_terms", "ancestor index terms of a point",
        es => S2PointIndexTermsExpr(d(es(0)), d(es(1)))),
      ("s2_poly_query_terms", "query terms of a polygon region",
        es => S2PolyQueryTermsExpr(es(0))),
      ("s2_cap_query_terms", "query terms of a cap region",
        es => S2CapQueryTermsExpr(d(es(0)), d(es(1)), d(es(2)))))
  }

  /** Register [[functionTable]] in an existing session. */
  def registerAll(spark: SparkSession): Unit =
    functionTable.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }

  /** Column forms of the SQL spatial predicates (the join-rewrite markers
    * S2SpatialJoinRule recognizes — see that rule's scaladoc). */
  def contains(polyText: Column, latDeg: Column, lngDeg: Column): Column =
    ColumnBridge.column(S2ContainsPoint(ColumnBridge.expression(polyText),
      ColumnBridge.expression(latDeg.cast("double")),
      ColumnBridge.expression(lngDeg.cast("double"))))

  def withinDistance(latA: Column, lngA: Column, latB: Column, lngB: Column,
                     radiusRad: Column): Column =
    ColumnBridge.column(S2WithinDistance(
      ColumnBridge.expression(latA.cast("double")),
      ColumnBridge.expression(lngA.cast("double")),
      ColumnBridge.expression(latB.cast("double")),
      ColumnBridge.expression(lngB.cast("double")),
      ColumnBridge.expression(radiusRad.cast("double"))))

  /** Idempotently add [[graft.plans.S2SpatialJoinRule]] to an EXISTING
    * session's optimizer (for sessions not built with
    * `.withExtensions(new S2Extensions)` / the spark.sql.extensions
    * config, which inject it into the operator-optimization fixpoint). */
  def enableSpatialJoins(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.plans.S2SpatialJoinRule))
      spark.experimental.extraOptimizations = cur :+ graft.plans.S2SpatialJoinRule
  }
}

/** Per-executor cache of parsed polygons (polygon text is typically a
  * small query-side dimension; parsing once per executor, not per row).
  * Cleared when an insert would pass 10k polygons or 64 MB; a hit takes no
  * lock. */
object PolyCache {
  private val cache = new graft.runtime.BoundedCache[String, S2Polygon](10000, 64L << 20,
    // the text's chars, ~48 bytes per vertex (V3 + array slot), loop bounds
    (text, p) => 2L * text.length + p.loops.map(48L * _.numVertices + 256L).sum)
  def get(text: String): S2Polygon = {
    val p = cache.get(text)
    if (p != null) p else cache.put(text, S2TextFormat.parsePolygon(text))
  }
}
