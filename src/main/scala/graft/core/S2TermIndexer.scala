package graft.core

/** Covering/ancestor term scheme that turns "region intersects region"
  * into an equi-join: two regions intersect iff they share at least one
  * term (then an exact refine confirms). Semantics identical to the
  * reference (s2region_term_indexer.cc:36-252): ANCESTOR terms are plain
  * tokens, COVERING terms are marker-prefixed tokens.
  *
  * Defaults match the reference: maxCells=8, minLevel=4, maxLevel=16,
  * levelMod=1, marker='$'.
  */
final class S2TermIndexer(val maxCells: Int = 8,
                          val minLevel: Int = 4,
                          val maxLevel: Int = 16,
                          val levelMod: Int = 1,
                          val marker: String = "$",
                          val indexContainsPointsOnly: Boolean = false,
                          val optimizeForSpace: Boolean = false)
    extends Serializable {

  def trueMaxLevel: Int =
    if (levelMod == 1) maxLevel
    else maxLevel - (maxLevel - minLevel) % levelMod

  @inline private def ancestorTerm(id: Long): String = S2CellId.toToken(id)
  @inline private def coveringTerm(id: Long): String = marker + S2CellId.toToken(id)

  private def coverer = new S2RegionCoverer(maxCells, minLevel, maxLevel, levelMod)

  /** Terms to index for a point document. */
  def indexTermsForPoint(x: Double, y: Double, z: Double): Array[String] =
    indexTermsForPoint(x, y, z, null)

  /** The point's terms whose cell is in `keep` (sorted cell ids; null
    * keeps every term). Only a kept cell's token is built. */
  def indexTermsForPoint(x: Double, y: Double, z: Double, keep: Array[Long]): Array[String] = {
    val id = S2CellId.fromPoint(x, y, z)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var level = minLevel
    while (level <= maxLevel) {
      val ancestor = S2CellId.parent(id, level)
      if (keep == null || java.util.Arrays.binarySearch(keep, ancestor) >= 0)
        out += ancestorTerm(ancestor)
      level += levelMod
    }
    out.toArray
  }

  /** Terms to index for a region document. */
  def indexTerms(region: S2Region): Array[String] =
    indexTermsForCovering(coverer.getCovering(region))

  def indexTermsForCovering(covering: Array[Long]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var prevId = 0L
    val tml = trueMaxLevel
    for (id <- covering) {
      var level = S2CellId.level(id)
      if (level < tml) out += coveringTerm(id)
      if (level == tml || !optimizeForSpace)
        out += ancestorTerm(S2CellId.parent(id, level))
      var break = false
      while (!break && { level -= levelMod; level >= minLevel }) {
        val ancestorId = S2CellId.parent(id, level)
        if (prevId != 0L && S2CellId.level(prevId) > level &&
            S2CellId.parent(prevId, level) == ancestorId) {
          break = true // already emitted this ancestor chain
        } else {
          out += ancestorTerm(ancestorId)
        }
      }
      prevId = id
    }
    out.toArray
  }

  /** Terms to look up for a point query. */
  def queryTermsForPoint(x: Double, y: Double, z: Double): Array[String] = {
    val id = S2CellId.fromPoint(x, y, z)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var level = trueMaxLevel
    out += ancestorTerm(S2CellId.parent(id, level))
    if (indexContainsPointsOnly) return out.toArray
    while (level >= minLevel) {
      out += coveringTerm(S2CellId.parent(id, level))
      level -= levelMod
    }
    out.toArray
  }

  /** Terms to look up for a region query. */
  def queryTerms(region: S2Region): Array[String] =
    queryTermsForCovering(coverer.getCovering(region))

  def queryTermsForCovering(covering: Array[Long]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var prevId = 0L
    val tml = trueMaxLevel
    for (id <- covering) {
      var level = S2CellId.level(id)
      out += ancestorTerm(id)
      if (!indexContainsPointsOnly) {
        if (optimizeForSpace && level < tml) out += coveringTerm(id)
        var break = false
        while (!break && { level -= levelMod; level >= minLevel }) {
          val ancestorId = S2CellId.parent(id, level)
          if (prevId != 0L && S2CellId.level(prevId) > level &&
              S2CellId.parent(prevId, level) == ancestorId) {
            break = true
          } else {
            out += coveringTerm(ancestorId)
          }
        }
      }
      prevId = id
    }
    out.toArray
  }
}

/** Parser/printer for the reference's canonical text grammar
  * (s2text_format.h:69-412): points/loops as "lat:lng, lat:lng, …"
  * (degrees), polygons as loops joined by ';', special loops "empty" /
  * "full". */
object S2TextFormat {
  def parsePoint(s: String): V3 = {
    val Array(lat, lng) = s.trim.split(":")
    V3.fromLatLngDegrees(lat.toDouble, lng.toDouble)
  }

  def parsePoints(s: String): Array[V3] =
    s.split(",").filter(_.trim.nonEmpty).map(parsePoint)

  def parseLoop(s: String): S2Loop = s.trim.toLowerCase match {
    case "empty" => S2Loop.empty
    case "full" => S2Loop.full
    case other => S2Loop(parsePoints(other))
  }

  def parsePolygon(s: String): S2Polygon =
    if (s.trim.isEmpty) S2Polygon.empty
    else new S2Polygon(s.split(";").map(parseLoop))

  def pointToString(p: V3): String = {
    val lat = V3.latDegrees(p)
    val lng = V3.lngDegrees(p)
    s"$lat:$lng"
  }

  def loopToString(loop: S2Loop): String =
    if (loop.isEmpty) "empty"
    else if (loop.isFull) "full"
    else loop.vertices.map(pointToString).mkString(", ")

  def polygonToString(poly: S2Polygon): String =
    poly.loops.map(loopToString).mkString("; ")

  /** "f/0123…" debug-format cell, or a hex token. */
  def parseCellId(s: String): Long =
    if (s.contains("/")) S2CellId.fromDebugString(s) else S2CellId.fromToken(s)
}
