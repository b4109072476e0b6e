package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.{S2, S2SpatialKernels}

/** Region×region joins and measures: both sides carry *regions* (as
  * normalized cell-union arrays), intersection decided by the
  * S2RegionTermIndexer scheme — two regions share ≥1 term iff their
  * coverings intersect (/root/reference/src/s2/s2region_term_indexer.cc:27-72) —
  * then refined with the exact sorted-merge cell-union intersection
  * (/root/reference/src/s2/s2cell_union.cc:355-439). Every join here
  * uses the engine's one term scheme, [[S2SpatialKernels.indexer]]. */
object RegionJoins {

  val indexTermsUdf = udf { (cells: Array[Long]) =>
    S2SpatialKernels.indexer.indexTermsForCovering(cells) }
  val queryTermsUdf = udf { (cells: Array[Long]) =>
    S2SpatialKernels.indexer.queryTermsForCovering(cells) }
  val unionIntersectsUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.intersectsUnion(a, b) }
  /** Index terms of a polygon-text region (its query terms are
    * [[S2.polygonQueryTerms]]). */
  private val polyIndexTermsUdf = udf { (text: String) =>
    S2SpatialKernels.indexer.indexTerms(graft.functions.PolyCache.get(text)) }

  /** The term scheme's candidate pairs: `l` rows explode `indexTerms`,
    * `r` rows explode `queryTerms`, the sides equi-join on the term, and
    * the pairs are deduplicated on (lid, rid) — two regions may share
    * several terms. Every column of `l` and `r` rides the join. */
  private def termCandidates(l: DataFrame, indexTerms: Column, lid: String,
                             r: DataFrame, queryTerms: Column, rid: String): DataFrame =
    l.withColumn("term", explode(indexTerms))
      .join(r.withColumn("term", explode(queryTerms)), "term").drop("term")
      .dropDuplicates(lid, rid)

  /** Inner join of two region tables on covering intersection. Both sides
    * arbitrary size; one term equi-join shuffle + exact cell-union refine.
    * Left columns (leftId, leftCells) vs right (rightId, rightCells). */
  def intersectsJoin(left: DataFrame, leftId: String, leftCells: String,
                     right: DataFrame, rightId: String, rightCells: String): DataFrame = {
    termCandidates(
      left.select(col(leftId).as("lid"), col(leftCells).as("lcells")),
      indexTermsUdf(col("lcells")), "lid",
      right.select(col(rightId).as("rid"), col(rightCells).as("rcells")),
      queryTermsUdf(col("rcells")), "rid")
      .where(unionIntersectsUdf(col("lcells"), col("rcells")))
      .select("lid", "rid")
  }

  /** Segment × segment proper-crossing join (BOTH sides large — the
    * road-intersection shape): each segment emits S2RegionTermIndexer
    * index/query terms for its bounding cap, candidates share ≥1 term
    * (one equi-join shuffle carrying id + 4 coordinate scalars per term,
    * AQE/skew eligible, never all-pairs), then the EXACT crossing
    * predicate refines (S2EdgeCrossings.crossingSign — the
    * s2edge_crossings.cc CrossingSign ladder). Shared-endpoint contacts
    * are excluded (crossingSign = 0 there; use vertexCrossing semantics
    * downstream if needed). Returns (id_a, id_b).
    *
    * Scale note: bounding-cap coverings of VERY LONG arcs are loose
    * (a quarter-sphere segment pulls quarter-sphere candidates) —
    * tessellate long segments first (Projections tessellator) so each
    * piece's cap is tight; short road-network segments need nothing. */
  def edgeCrossingJoin(left: DataFrame, leftId: String,
                       right: DataFrame, rightId: String,
                       lat1: String = "lat1", lng1: String = "lng1",
                       lat2: String = "lat2", lng2: String = "lng2"): DataFrame = {
    def cap(la1: Double, ln1: Double, la2: Double, ln2: Double): S2Cap = {
      val u = V3.fromLatLngDegrees(la1, ln1)
      val v = V3.fromLatLngDegrees(la2, ln2)
      val c0 = u + v
      val center = if (c0.norm2 < 1e-30) u else c0.normalize
      S2Cap.fromCenterAngle(center, math.min(math.Pi, center.angle(u) + 1e-14))
    }
    val segIdxTerms = udf { (la1: Double, ln1: Double, la2: Double, ln2: Double) =>
      S2SpatialKernels.indexer.indexTerms(cap(la1, ln1, la2, ln2)) }
    val segQryTerms = udf { (la1: Double, ln1: Double, la2: Double, ln2: Double) =>
      S2SpatialKernels.indexer.queryTerms(cap(la1, ln1, la2, ln2)) }
    val crosses = udf {
      (a1La: Double, a1Ln: Double, a2La: Double, a2Ln: Double,
       b1La: Double, b1Ln: Double, b2La: Double, b2Ln: Double) =>
        S2EdgeCrossings.crossingSign(
          V3.fromLatLngDegrees(a1La, a1Ln), V3.fromLatLngDegrees(a2La, a2Ln),
          V3.fromLatLngDegrees(b1La, b1Ln), V3.fromLatLngDegrees(b2La, b2Ln)) > 0
    }
    termCandidates(
      left.select(col(leftId).as("id_a"),
        col(lat1).cast("double").as("_la1"), col(lng1).cast("double").as("_ln1"),
        col(lat2).cast("double").as("_la2"), col(lng2).cast("double").as("_ln2")),
      segIdxTerms(col("_la1"), col("_ln1"), col("_la2"), col("_ln2")), "id_a",
      right.select(col(rightId).as("id_b"),
        col(lat1).cast("double").as("_rb1"), col(lng1).cast("double").as("_rn1"),
        col(lat2).cast("double").as("_rb2"), col(lng2).cast("double").as("_rn2")),
      segQryTerms(col("_rb1"), col("_rn1"), col("_rb2"), col("_rn2")), "id_b")
      .where(crosses(col("_la1"), col("_ln1"), col("_la2"), col("_ln2"),
        col("_rb1"), col("_rn1"), col("_rb2"), col("_rn2")))
      .select("id_a", "id_b")
  }

  /** Exact polygon×polygon intersects join (polygon text columns, both
    * sides arbitrary size): covering-term candidates + exact
    * S2Polygon.intersectsPolygon refine (edge crossings + containment,
    * reference s2polygon.h:296-343). */
  def polygonIntersectsJoin(left: DataFrame, leftId: String, leftPoly: String,
                            right: DataFrame, rightId: String, rightPoly: String): DataFrame = {
    val exact = udf { (a: String, b: String) =>
      graft.functions.PolyCache.get(a)
        .intersectsPolygon(graft.functions.PolyCache.get(b)) }
    termCandidates(
      left.select(col(leftId).as("lid"), col(leftPoly).as("lpoly")),
      polyIndexTermsUdf(col("lpoly")), "lid",
      right.select(col(rightId).as("rid"), col(rightPoly).as("rpoly")),
      S2.polygonQueryTerms(col("rpoly")), "rid")
      .where(exact(col("lpoly"), col("rpoly")))
      .select("lid", "rid")
  }

  /** Per-pair overlap fractions (S2Polygon::GetOverlapFractions,
    * s2polygon.cc:600) as a struct column over two polygon-text columns:
    * (frac_a, frac_b) = intersection area over each operand's area,
    * clamped to 1. */
  val overlapFractionsUdf = udf { (a: String, b: String) =>
    val (fa, fb) = S2BooleanOps.overlapFractions(
      graft.functions.PolyCache.get(a), graft.functions.PolyCache.get(b))
    (fa, fb)
  }

  /** ApproxContains / ApproxDisjoint (s2polygon.cc:676,682) over polygon
    * text columns at tolerance `tolRadians`. */
  def approxContainsUdf(tolRadians: Double) = udf { (a: String, b: String) =>
    PolygonApprox.approxContains(graft.functions.PolyCache.get(a),
      graft.functions.PolyCache.get(b), tolRadians)
  }
  def approxDisjointUdf(tolRadians: Double) = udf { (a: String, b: String) =>
    PolygonApprox.approxDisjoint(graft.functions.PolyCache.get(a),
      graft.functions.PolyCache.get(b), tolRadians)
  }

  /** Overlap-fraction join (dedup-by-region-overlap shape): polygon-text
    * tables on both sides, arbitrary size. Covering-term candidates (one
    * equi-join shuffle carrying id + text per term, never all-pairs), then
    * the exact boolean-op intersection area refines each candidate pair.
    * Emits (lid, rid, frac_l, frac_r) for pairs with positive overlap and
    * frac_l >= minFraction — pairs without a shared term have disjoint
    * coverings, hence fraction 0, and are correctly absent. */
  def overlapFractionsJoin(left: DataFrame, leftId: String, leftPoly: String,
                           right: DataFrame, rightId: String, rightPoly: String,
                           minFraction: Double = 0.0): DataFrame = {
    termCandidates(
      left.select(col(leftId).as("lid"), col(leftPoly).as("lpoly")),
      polyIndexTermsUdf(col("lpoly")), "lid",
      right.select(col(rightId).as("rid"), col(rightPoly).as("rpoly")),
      S2.polygonQueryTerms(col("rpoly")), "rid")
      .withColumn("fr", overlapFractionsUdf(col("lpoly"), col("rpoly")))
      .where(col("fr._1") > 0 && col("fr._1") >= minFraction)
      .select(col("lid"), col("rid"),
        col("fr._1").as("frac_l"), col("fr._2").as("frac_r"))
  }

  // ---- cell-union set algebra as columns (SURVEY §2.9) ----
  val unionUdf = udf { (a: Array[Long], b: Array[Long]) => S2CellUnion.union(a, b) }
  val intersectionUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.intersection(a, b) }
  val differenceUdf = udf { (a: Array[Long], b: Array[Long]) =>
    S2CellUnion.difference(a, b) }
  val leafCountUdf = udf { (a: Array[Long]) => S2CellUnion.leafCellsCovered(a) }
  val exactAreaUdf = udf { (a: Array[Long]) => S2CellUnion.exactArea(a) }

  def cellUnion(a: Column, b: Column): Column = unionUdf(a, b)
  def cellIntersection(a: Column, b: Column): Column = intersectionUdf(a, b)
  def cellDifference(a: Column, b: Column): Column = differenceUdf(a, b)
  def leafCellsCovered(a: Column): Column = leafCountUdf(a)
  def unionExactArea(a: Column): Column = exactAreaUdf(a)

  /** Directed Hausdorff distance (squared chord) from chain A to chain B —
    * S2HausdorffDistanceQuery.GetDirectedDistance over open chains. This
    * IS the reference's formulation: its directed distance is the max over
    * target VERTICES of the closest-edge distance
    * (s2hausdorff_distance_query.cc:111-122, "this approximation of
    * Hausdorff distance"). */
  val directedHausdorffUdf = udf {
    (aLat: Seq[Double], aLng: Seq[Double], bLat: Seq[Double], bLng: Seq[Double]) =>
      val av = aLat.zip(aLng).map { case (la, ln) => V3.fromLatLngDegrees(la, ln) }.toArray
      val bv = bLat.zip(bLng).map { case (la, ln) => V3.fromLatLngDegrees(la, ln) }.toArray
      val d = S2Hausdorff.directedDistance2(
        IndexedSeq(S2Hausdorff.Chain(av, closed = false)),
        IndexedSeq(S2Hausdorff.Chain(bv, closed = false)),
        includeInteriors = false)
      if (d == Double.PositiveInfinity) -1.0 else d
  }

  /** Undirected Hausdorff distance (squared chord) between two polygon
    * texts, interiors included (S2HausdorffDistanceQuery.GetDistance). */
  val polygonHausdorffUdf = udf { (aText: String, bText: String) =>
    def chains(p: S2Polygon): IndexedSeq[S2Hausdorff.Chain] =
      p.loops.map(l => S2Hausdorff.Chain(l.vertices, closed = true)).toIndexedSeq
    val d = S2Hausdorff.distance2(
      chains(graft.functions.PolyCache.get(aText)),
      chains(graft.functions.PolyCache.get(bText)))
    if (d == Double.PositiveInfinity) -1.0 else d
  }
}
