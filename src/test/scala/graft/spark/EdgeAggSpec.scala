package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.S2
import graft.operators._
import graft.sources.DocSource

class EdgeAggSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docs = S2Joins.withCellId(
    DocSource.docs(spark, 3000L), col("lat"), col("lng")).cache()

  test("edge distance kernel: endpoint vs interior cases, symmetry, triangle sanity") {
    val a = V3.fromLatLngDegrees(0, 0)
    val b = V3.fromLatLngDegrees(0, 10)
    // point "above" the middle of the edge: interior case
    val m = V3.fromLatLngDegrees(5, 5)
    val dm = S2EdgeDistances.distance2(m, a, b)
    val expectInterior = S1ChordAngle.fromRadians(math.toRadians(5))
    assert(math.abs(S1ChordAngle.toRadians(dm) - math.toRadians(5)) < 1e-9)
    // point beyond endpoint a: vertex case = distance to a
    val va = V3.fromLatLngDegrees(0, -7)
    assert(S2EdgeDistances.distance2(va, a, b) == (va - a).norm2)
    // symmetry
    assert(S2EdgeDistances.distance2(m, a, b) == S2EdgeDistances.distance2(m, b, a))
    // point on the edge: ~0
    val on = V3.fromLatLngDegrees(0, 3)
    assert(S2EdgeDistances.distance2(on, a, b) < 1e-25)
    // project + interpolate round trip
    val proj = S2EdgeDistances.project(m, a, b)
    assert(math.abs((m - proj).norm2 - dm) < 1e-15)
    val mid = S2EdgeDistances.interpolate(a, b, 0.5)
    assert(math.abs(V3.lngDegrees(mid) - 5.0) < 1e-9)
    assert(math.abs(mid.norm - 1.0) < 1e-12)
  }

  test("closestShapesJoin matches brute-force edge distances; polygon interior is 0") {
    val shapes = Seq(
      EdgeQueries.Shape(1, Array(
        V3.fromLatLngDegrees(0, 0), V3.fromLatLngDegrees(0, 30),
        V3.fromLatLngDegrees(20, 30)), closed = false),        // polyline
      EdgeQueries.Shape(2, S2TextFormat.parsePoints("10:-50, 10:-20, 35:-20, 35:-50"), closed = true), // polygon
      EdgeQueries.Shape(3, Array(
        V3.fromLatLngDegrees(-60, 100), V3.fromLatLngDegrees(-60, 140)), closed = false))
    val got = EdgeQueries.closestShapesJoin(docs, shapes, k = 2)
      .select("doc_id", "shape_id", "dist2", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val all = docs.select("doc_id", "lat", "lng").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val wanted = all.flatMap { case (id, lat, lng) =>
      val p = V3.fromLatLngDegrees(lat, lng)
      shapes.map(s => (id, s.id, s.distance2(p)))
        .sortBy { case (_, sid, d) => (d, sid) }
        .take(2).zipWithIndex.map { case ((i, sid, d), r) => (i, sid, d, r + 1) }
    }.toSet
    assert(got.toSet == wanted)
    // any doc inside polygon 2 reports dist2 == 0
    val poly = new S2Polygon(Array(S2Loop(
      S2TextFormat.parsePoints("10:-50, 10:-20, 35:-20, 35:-50"))))
    val inside = all.filter { case (_, lat, lng) =>
      poly.contains(V3.fromLatLngDegrees(lat, lng)) }
    assert(inside.nonEmpty)
    val gotMap = got.groupBy(t => (t._1, t._2)).view.mapValues(_.head._3)
    inside.foreach { case (id, _, _) => assert(gotMap((id, 2)) == 0.0) }
  }

  test("covering-prefiltered closest-shapes join = brute force at 1000 shapes") {
    val rnd = new scala.util.Random(7)
    val shapes = (0 until 1000).map { i =>
      val lat = rnd.nextDouble() * 160 - 80
      val lng = rnd.nextDouble() * 350 - 175
      EdgeQueries.Shape(i, Array(V3.fromLatLngDegrees(lat, lng),
        V3.fromLatLngDegrees(lat + 1.5, lng + 2.0)), closed = false)
    }
    val maxD2 = S1ChordAngle.fromRadians(0.05)
    def run(threshold: Int) =
      EdgeQueries.closestShapesJoin(docs, shapes, k = 3, maxDist2 = maxD2,
        prefilterFrom = threshold)
        .select("doc_id", "shape_id", "dist2", "rank").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    val pre = run(64)            // prefilter active (1000 >= 64)
    val brute = run(Int.MaxValue) // linear scan
    assert(pre == brute)
    assert(pre.nonEmpty)

    // UNBOUNDED kNN at 1000 shapes: ring-escalation prefilter = brute force
    def runUnbounded(threshold: Int) =
      EdgeQueries.closestShapesJoin(docs.limit(500), shapes, k = 3,
        prefilterFrom = threshold)
        .select("doc_id", "shape_id", "dist2", "rank").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    val preU = runUnbounded(64)
    val bruteU = runUnbounded(Int.MaxValue)
    assert(preU == bruteU)
    assert(preU.nonEmpty)
  }

  test("exact within-distance join certifies boundary points the double kernel can miss") {
    import spark.implicits._
    val shapes = Seq(EdgeQueries.Shape(1, Array(
      V3.fromLatLngDegrees(0, 0), V3.fromLatLngDegrees(0, 30)), closed = false))
    // (0, 3) lies EXACTLY on the edge's great circle (z = sin(0) = 0) and
    // between the endpoints -> exact distance 0; (0.5, 3) does not
    val pts = Seq(("on", 0.0, 3.0), ("off", 0.5, 3.0)).toDF("doc_id", "lat", "lng")
    val got = EdgeQueries.exactWithinDistanceJoin(pts, shapes, r2 = 0.0)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(got == Set("on"))
    // away from boundaries the exact join agrees with the double kernel
    val r2 = 0.01
    val exact = EdgeQueries.exactWithinDistanceJoin(docs, shapes, r2)
      .select("doc_id", "shape_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val kernel = EdgeQueries.closestShapesJoin(docs, shapes, k = 1, maxDist2 = r2)
      .select("doc_id", "shape_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(exact == kernel)
  }

  test("per-doc distance queries skip a doc with a null coordinate") {
    import spark.implicits._
    val pts = Seq(("a", Option(10.0), 20.0), ("b", Option(-30.0), -120.0),
      ("nolat", Option.empty[Double], 5.0)).toDF("doc_id", "lat", "lng")
    val valid = pts.where(col("lat").isNotNull)
    val shapes = Seq(
      EdgeQueries.Shape(1, Array(
        V3.fromLatLngDegrees(0, 0), V3.fromLatLngDegrees(0, 30)), closed = false),
      EdgeQueries.Shape(2, Array(V3.fromLatLngDegrees(-40, -100)), closed = false))
    val cells = Seq(7 -> Array(S2CellId.parent(S2CellId.fromLatLngDegrees(0, 0), 5)))
    val queries: Seq[DataFrame => DataFrame] = Seq(
      EdgeQueries.closestShapesJoin(_, shapes, k = 1),
      CellQueries.closestCellsJoin(_, cells, k = 1),
      CellQueries.furthestShapesJoin(_, shapes, k = 1),
      EdgeQueries.exactWithinDistanceJoin(_, shapes, r2 = 4.0))
    queries.foreach { q =>
      val got = q(pts).collect().toSet
      assert(got.map(_.getString(0)) == Set("a", "b"))
      assert(got == q(valid).collect().toSet)
    }
  }

  test("cell union aggregator merges group coverings; bound and centroid aggs are sane") {
    import org.apache.spark.sql.functions._
    // per-cluster covering union at level 8
    val withCov = docs.withColumn("cells",
      array(graft.functions.S2.parent(col("cell_id"), 8)))
    val grouped = withCov
      .groupBy((col("lat") > 0).as("north"))
      .agg(Aggregators.cellUnionColumn(col("cells")).as("union_cells"),
        Aggregators.rectBoundColumn(col("lat"), col("lng")).as("bound"),
        Aggregators.centroidColumn(col("lat"), col("lng")).as("centroid"),
        count(lit(1)).as("n"))
      .collect()
    assert(grouped.length == 2)
    grouped.foreach { r =>
      val cells = r.getSeq[Long](1).toArray
      // normalized: sorted by unsigned order, no contained duplicates
      val ords = cells.map(S2CellId.orderKey)
      assert(ords.sameElements(ords.sorted))
      for (i <- 1 until cells.length)
        assert(!S2CellId.contains(cells(i - 1), cells(i)))
      // every doc's level-8 cell must be contained in the group union
      val north = r.getBoolean(0)
      val members = docs.where((col("lat") > 0) === north)
        .select(graft.functions.S2.parent(col("cell_id"), 8)).collect()
        .map(_.getLong(0))
      members.foreach(c => assert(S2CellUnion.containsCellId(cells, c)))
      // bound contains all members
      val b = r.getStruct(2)
      val (latLo, lngLo, latHi, lngHi) = (b.getDouble(0), b.getDouble(1),
        b.getDouble(2), b.getDouble(3))
      val pts = docs.where((col("lat") > 0) === north)
        .select("lat", "lng").collect()
      pts.foreach { p =>
        assert(p.getDouble(0) >= latLo - 1e-9 && p.getDouble(0) <= latHi + 1e-9)
      }
      // centroid direction roughly matches hemisphere
      val c = r.getStruct(3)
      if (north) assert(c.getDouble(2) > 0) else assert(c.getDouble(2) < 0)
      assert(r.getLong(4) == pts.length)
    }
  }

  test("convex hull ids aggregator: strict corner ids, partition-invariant, 2-point degenerate") {
    import spark.implicits._
    // 4 square corners (ids 1-4) + interior and edge-midpoint-ish points:
    // strict hull = exactly the corners
    val rows = Seq(
      (1L, 0.0, 0.0), (2L, 0.0, 20.0), (3L, 20.0, 20.0), (4L, 20.0, 0.0),
      (5L, 10.0, 10.0), (6L, 5.0, 7.0), (7L, 12.0, 3.0))
    def hullIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(Aggregators.convexHullIdsColumn(col("id"), col("lat"), col("lng")))
        .head().getStruct(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))
    val df = rows.toDF("id", "lat", "lng")
    assert(hullIds(df) == Seq(1L, 2L, 3L, 4L))
    // merge path: same result regardless of partitioning
    assert(hullIds(df.repartition(5)) == Seq(1L, 2L, 3L, 4L))
    // 2-point group: both ids survive (the synthetic midpoint vertex of
    // the degenerate edge loop is dropped by id-matching)
    assert(hullIds(rows.take(2).toDF("id", "lat", "lng")) == Seq(1L, 2L))
  }

  test("convex hull aggregator: hull encloses members; hemisphere-wide group is full") {
    // windowed docs: hulls are proper loops
    val windowed = docs.where(col("lat").between(0, 40) && col("lng").between(0, 60))
    val hulls = windowed
      .groupBy((col("lng") > 30).as("east"))
      .agg(Aggregators.convexHullColumn(col("lat"), col("lng")).as("hull"))
      .collect()
    assert(hulls.length == 2)
    hulls.foreach { r =>
      val h = r.getStruct(1)
      assert(!h.getBoolean(0)) // not full
      val vs = h.getSeq[org.apache.spark.sql.Row](1)
        .map(v => V3(v.getDouble(0), v.getDouble(1), v.getDouble(2))).toArray
      assert(vs.length >= 3)
      val east = r.getBoolean(0)
      val members = windowed.where((col("lng") > 30) === east)
        .select("lat", "lng").collect()
        .map(p => V3.fromLatLngDegrees(p.getDouble(0), p.getDouble(1)))
      members.foreach { m =>
        for (i <- vs.indices) {
          val a = vs(i); val b = vs((i + 1) % vs.length)
          assert(S2Predicates.sign(a, b, m) >= 0 || m == a || m == b)
        }
      }
    }
    // the whole skewed-global table spans a hemisphere: full sentinel
    val full = docs.agg(
      Aggregators.convexHullColumn(col("lat"), col("lng")).as("hull")).head()
    assert(full.getStruct(0).getBoolean(0))
  }

  test("S2Extensions makes native expressions SQL-callable") {
    // getOrCreate reuses the suite's shared session (built WITHOUT the
    // extension); clear it so a genuinely new session applies injections,
    // then restore for later tests.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.S2Extensions())
      .getOrCreate()
    try {
    val row = s2.sql(
      """SELECT s2_token(s2_parent(s2_cellid(48.8566, 2.3522), 10)) AS tok,
                s2_level(s2_cellid(0.0, 0.0)) AS lvl""").head()
    assert(row.getString(0) ==
      S2CellId.toToken(S2CellId.parent(S2CellId.fromLatLngDegrees(48.8566, 2.3522), 10)))
    assert(row.getInt(1) == 30)
    // term generators and PIP through the extension equal the Column API
    // on a face 4-5 row (negative cell id)
    import s2.implicits._
    val poly = "-40:-130, -40:-110, -20:-110, -20:-130"
    val face5 = Seq((-30.0, -120.0, 0.01, poly)).toDF("lat", "lng", "r", "poly")
    face5.createOrReplaceTempView("face5_row")
    assert(S2CellId.fromLatLngDegrees(-30.0, -120.0) < 0)
    val sql = s2.sql(
      """SELECT s2_point_index_terms(lat, lng), s2_poly_query_terms(poly),
                s2_cap_query_terms(lat, lng, r), s2_contains(poly, lat, lng)
         FROM face5_row""").head()
    val api = face5.select(S2.pointIndexTerms($"lat", $"lng"), S2.polygonQueryTerms($"poly"),
      S2.capQueryTerms($"lat", $"lng", $"r"), S2.contains($"poly", $"lat", $"lng")).head()
    for (i <- 0 until 3) {
      assert(sql.getSeq[String](i).nonEmpty)
      assert(sql.getSeq[String](i) == api.getSeq[String](i), s"column $i")
    }
    assert(sql.getBoolean(3) && api.getBoolean(3))
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
