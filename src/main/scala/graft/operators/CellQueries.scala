package graft.operators

import org.apache.spark.sql.DataFrame
import graft.core._

/** Closest-cell and furthest-edge queries — S2ClosestCellQuery
  * (/root/reference/src/s2/s2closest_cell_query.h:89) and
  * S2FurthestEdgeQuery (/root/reference/src/s2/s2furthest_edge_query.h:107)
  * semantics re-expressed as broadcast narrow maps: the dimension side
  * (labeled cell unions / shape chains) broadcasts; each row computes its
  * ranked results locally (candidate list is already sorted, so ranks are
  * emitted in the flatMap — no shuffle anywhere, like
  * [[EdgeQueries.closestShapesJoin]]). */
object CellQueries {

  /** Exact squared-chord distance from a point to an S2 cell: 0 inside,
    * else min distance to the 4 boundary edges (reference
    * S2Cell::GetDistance semantics, s2cell.cc GetDistanceInternal). */
  def cellDistance2(p: V3, cell: S2Cell): Double = {
    if (cell.containsPoint(p)) return 0.0
    var best = Double.MaxValue
    var k = 0
    while (k < 4) {
      val d = S2EdgeDistances.distance2(p, cell.vertex(k), cell.vertex((k + 1) & 3))
      if (d < best) best = d
      k += 1
    }
    best
  }

  /** Distance from a point to a cell union = min over its cells. */
  def unionDistance2(p: V3, cells: Array[S2Cell]): Double = {
    var best = Double.MaxValue
    var i = 0
    while (i < cells.length && best > 0) {
      val d = cellDistance2(p, cells(i))
      if (d < best) best = d
      i += 1
    }
    best
  }

  /** For each doc row, the `k` closest labeled cell unions:
    * (doc_id, target_id, dist2, rank); `maxDist2` prunes. Ties break by
    * target id ascending (deterministic, reference result order). */
  def closestCellsJoin(docs: DataFrame, targets: Seq[(Int, Array[Long])], k: Int,
                       maxDist2: Double = 4.0,
                       idCol: String = "doc_id",
                       latCol: String = "lat", lngCol: String = "lng"): DataFrame = {
    val resolved: Array[(Int, Array[S2Cell])] =
      targets.map { case (tid, cells) => (tid, cells.map(S2Cell(_))) }.toArray
    val bT = docs.sparkSession.sparkContext.broadcast(resolved)
    EdgeQueries.rankedPerDoc(docs, k, "target_id", descending = false,
        idCol, latCol, lngCol) { () =>
      val ts = bT.value
      (p: V3, best: EdgeQueries.TopK) => {
        var i = 0
        while (i < ts.length) {
          val d = unionDistance2(p, ts(i)._2)
          if (d <= maxDist2) best.offer(d, ts(i)._1)
          i += 1
        }
      }
    }
  }

  /** For each doc row, the `k` FURTHEST shapes (max squared-chord distance
    * over each shape's edges — exact chord-space max, reference
    * UpdateMaxDistance): (doc_id, shape_id, dist2, rank), ordered by
    * DECREASING distance, ties by shape id ascending; `minDist2` prunes
    * (S2FurthestEdgeQuery options max_results / min_distance). */
  def furthestShapesJoin(docs: DataFrame, shapes: Seq[EdgeQueries.Shape], k: Int,
                         minDist2: Double = 0.0,
                         idCol: String = "doc_id",
                         latCol: String = "lat", lngCol: String = "lng"): DataFrame = {
    val bS = docs.sparkSession.sparkContext.broadcast(shapes.toArray)
    // offered as (-dist2, shape_id): iteration yields decreasing distance
    EdgeQueries.rankedPerDoc(docs, k, "shape_id", descending = true,
        idCol, latCol, lngCol) { () =>
      val ss = bS.value
      (p: V3, best: EdgeQueries.TopK) => {
        var i = 0
        while (i < ss.length) {
          val sh = ss(i)
          val vs = sh.vertices
          var d = 0.0
          if (vs.length == 1) d = (p - vs(0)).norm2
          else {
            val n = vs.length
            val last = if (sh.closed) n else n - 1
            var e = 0
            while (e < last) {
              val m = S2EdgeDistances.maxDistance2(p, vs(e), vs(if (e + 1 == n) 0 else e + 1))
              if (m > d) d = m
              e += 1
            }
          }
          if (d >= minDist2) best.offer(-d, sh.id)
          i += 1
        }
      }
    }
  }
}
