package graft.operators

import graft.core._

/** Immutable stabbing index over labeled cell coverings — the Spark-side
  * analogue of the reference's S2CellIndex + S2RegionSharder
  * (/root/reference/src/s2/s2cell_index.h:70-171,
  *  /root/reference/src/s2/s2region_sharder.h:28-71).
  *
  * Build flattens the labeled leaf ranges (on the sign-flipped Hilbert
  * order, so plain signed comparison is correct across all 6 faces) into
  * DISJOINT elementary segments, each carrying its full (label, interior)
  * list. A lookup is then exactly one binary search + O(hits) —
  * no scan bound that degenerates when coverings contain face-level cells
  * (a covering of a hemisphere produces ~2^61-wide intervals; any
  * "bounded backward scan" scheme collapses to O(n) there).
  *
  * This structure is small (≤ ~1M segments) and rides the serialized plan
  * or task closure to executors; it turns a spatial join against a modest
  * region/tile set into a narrow, shuffle-free map over the big table —
  * the plan we want at 100 TB whenever one side fits in memory.
  *
  * [[RegionStab]] and [[TileStab]] wrap it in the two per-row rules of the
  * flagship query; every stab-and-refine and tile choice goes through them.
  */
final class CellIntervalIndex private (
    private val segStart: Array[Long],        // disjoint segment starts (sorted)
    private val segEnd: Array[Long],          // inclusive segment ends
    private val segOff: Array[Int],           // offset into entry arrays
    private val entryLabel: Array[Int],       // per (segment, entry)
    private val entryInterior: Array[Boolean]
) extends Serializable {

  def size: Int = segStart.length

  // ---- allocation-free direct accessors (hot codegen kernels loop over
  // segment entries without closures or array copies) ----
  /** Index of the segment containing `ord`, or -1 (public hot-path form). */
  def segmentOf(ord: Long): Int = findSeg(ord)
  /** Entry range [entryBegin(s), entryEnd(s)) of segment s. */
  @inline def entryBegin(s: Int): Int = segOff(s)
  @inline def entryEnd(s: Int): Int = segOff(s + 1)
  @inline def labelAt(e: Int): Int = entryLabel(e)
  @inline def interiorAt(e: Int): Boolean = entryInterior(e)

  /** Index of the segment containing `ord`, or -1. */
  @inline private def findSeg(ord: Long): Int = {
    var l = 0; var r = segStart.length
    while (l < r) { val m = (l + r) >>> 1; if (segStart(m) <= ord) l = m + 1 else r = m }
    val i = l - 1
    if (i >= 0 && segEnd(i) >= ord) i else -1
  }

  /** Labels containing the leaf cell (distinct ascending). */
  def labelsContaining(leafOrd: Long): Array[Int] = {
    val s = findSeg(leafOrd)
    if (s < 0) return Array.emptyIntArray
    java.util.Arrays.copyOfRange(entryLabel, segOff(s), segOff(s + 1))
  }

  /** Total leaf-cell overlap weight per label for a covering; used by
    * mostIntersecting. Iterates segments overlapping each covering cell —
    * O(log n + touched segments). */
  private def overlapWeights(covering: Array[Long]): scala.collection.mutable.SortedMap[Int, Long] = {
    val weights = scala.collection.mutable.SortedMap.empty[Int, Long]
    var k = 0
    while (k < covering.length) {
      val c = covering(k)
      val cLo = S2CellId.orderKey(S2CellId.rangeMin(c))
      val cHi = S2CellId.orderKey(S2CellId.rangeMax(c))
      // first segment that might overlap
      var l = 0; var r = segStart.length
      while (l < r) { val m = (l + r) >>> 1; if (segStart(m) <= cLo) l = m + 1 else r = m }
      var i = math.max(0, l - 1)
      while (i < segStart.length && segStart(i) <= cHi) {
        val ovLo = math.max(segStart(i), cLo); val ovHi = math.min(segEnd(i), cHi)
        if (ovLo <= ovHi) {
          val w = (ovHi - ovLo) / 2 + 1 // leaf ids step by 2
          var e = segOff(i)
          while (e < segOff(i + 1)) {
            val lab = entryLabel(e)
            weights.update(lab, weights.getOrElse(lab, 0L) + w)
            e += 1
          }
        }
        i += 1
      }
      k += 1
    }
    weights
  }

  /** Most-intersecting label for a covering (S2RegionSharder
    * GetMostIntersectingShard semantics: maximize leaf-cell overlap;
    * ties → smallest label; miss → default). */
  def mostIntersecting(covering: Array[Long], default: Int): Int = {
    val weights = overlapWeights(covering)
    if (weights.isEmpty) default
    else weights.maxBy { case (lab, w) => (w, -lab) }._1
  }

  /** All labels whose covering intersects the given covering. */
  def intersectingLabels(covering: Array[Long]): Array[Int] =
    overlapWeights(covering).keys.toArray
}

object CellIntervalIndex {
  /** Build from (label, covering, interiorCovering) triples. */
  def build(entries: Seq[(Int, Array[Long], Array[Long])]): CellIntervalIndex = {
    // (lo, hi, label, interior) raw intervals
    val raw = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Boolean)]
    for ((lab, covering, interiorCells) <- entries) {
      val interiorSet = interiorCells.toSet
      val coveringSet = covering.toSet
      val all = (covering.map(c => (c, interiorSet.contains(c)))
        ++ interiorCells.filterNot(coveringSet.contains).map(c => (c, true)))
      for ((c, isInt) <- all) {
        raw += ((S2CellId.orderKey(S2CellId.rangeMin(c)),
                 S2CellId.orderKey(S2CellId.rangeMax(c)),
                 lab, isInt))
      }
    }
    // sweep: elementary segments between consecutive boundary points
    // boundaries: each interval contributes [lo, hi+1). The active set is
    // maintained INCREMENTALLY as a per-label aggregate (interval count,
    // interior count) in a sorted map — intervals are added at their lo
    // boundary and removed at hi+1 via a hi-sorted pointer, so
    // per-segment cost is O(emitted entries + adds/removes),
    // not O(depth) re-aggregation. With 10^4 broadcast caps the former
    // per-segment groupBy dominated index construction ~5x.
    val bounds = raw.flatMap { case (lo, hi, _, _) =>
      Seq(lo, if (hi == Long.MaxValue) Long.MaxValue else hi + 1)
    }.distinct.sorted.toArray
    val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Long]
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val eLab = scala.collection.mutable.ArrayBuffer.empty[Int]
    val eInt = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val byLo = raw.sortBy(_._1).toArray
    val byHi = raw.sortBy(_._2).toArray
    var loPtr = 0
    var hiPtr = 0
    final class Agg {
      var count = 0
      var interior = 0
    }
    val active = new java.util.TreeMap[Int, Agg]()
    def add(t: (Long, Long, Int, Boolean)): Unit = {
      var a = active.get(t._3)
      if (a == null) { a = new Agg; active.put(t._3, a) }
      a.count += 1
      if (t._4) a.interior += 1
    }
    def remove(t: (Long, Long, Int, Boolean)): Unit = {
      val a = active.get(t._3)
      a.count -= 1
      if (t._4) a.interior -= 1
      if (a.count == 0) { active.remove(t._3); () }
    }
    var bi = 0
    while (bi < bounds.length - 1) {
      val s = bounds(bi)
      val e = bounds(bi + 1) - 1 // inclusive; bounds(bi+1) = next start
      while (loPtr < byLo.length && byLo(loPtr)._1 <= s) { add(byLo(loPtr)); loPtr += 1 }
      while (hiPtr < byHi.length && byHi(hiPtr)._2 < s) { remove(byHi(hiPtr)); hiPtr += 1 }
      if (!active.isEmpty) {
        starts += s; ends += e; offs += eLab.length
        val it = active.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          eLab += en.getKey
          eInt += en.getValue.interior > 0
        }
      }
      bi += 1
    }
    offs += eLab.length
    new CellIntervalIndex(starts.toArray, ends.toArray, offs.toArray,
      eLab.toArray, eInt.toArray)
  }

  /** Build from regions: covering + interior covering via the reference
    * coverer semantics. */
  def fromRegions(regions: Seq[(Int, S2Region)], maxCells: Int = 64,
                  maxLevel: Int = 30): CellIntervalIndex = {
    val cov = new S2RegionCoverer(maxCells, 0, maxLevel)
    build(regions.map { case (lab, r) =>
      (lab, cov.getCovering(r), cov.getInteriorCovering(r))
    })
  }
}

/** S2's covering join for one doc: an interior covering cell hits without
  * a test, any other candidate gets the exact `contains`. Slots are the
  * sorted region labels, so hits in slot order are hits in label order.
  * Labels must be distinct: one label, one region to refine against. */
final class RegionStab(regions: Seq[(Int, S2Region)], maxCells: Int = 64)
    extends Serializable {
  private val sorted = regions.sortBy(_._1).toArray
  require(sorted.indices.forall(i => i == 0 || sorted(i - 1)._1 != sorted(i)._1),
    "region labels must be distinct")
  /** Label of each slot, ascending. */
  val labels: Array[Int] = sorted.map(_._1)
  private val regs: Array[S2Region] = sorted.map(_._2)
  private val index = CellIntervalIndex.fromRegions(regs.indices.map(i => (i, regs(i))), maxCells)

  def size: Int = labels.length

  /** Writes to `out` (length ≥ [[size]]), ascending, the slots of the
    * regions containing the point at `lat`/`lng` degrees, whose leaf cell
    * has order key `ord`, and returns their count. Allocation-free unless
    * an entry needs the exact test, which builds the point once per row. */
  def hits(ord: Long, lat: Double, lng: Double, out: Array[Int]): Int = {
    val s = index.segmentOf(ord)
    if (s < 0) return 0
    var n = 0
    var p: V3 = null
    var e = index.entryBegin(s)
    val end = index.entryEnd(s)
    while (e < end) {
      val slot = index.labelAt(e)
      val hit = index.interiorAt(e) || {
        if (p == null) p = V3.fromLatLngDegrees(lat, lng)
        regs(slot).contains(p)
      }
      if (hit) { out(n) = slot; n += 1 }
      e += 1
    }
    n
  }
}

/** S2RegionSharder's tile choice for one cell: a unique containing tile is
  * taken directly, otherwise the most-intersecting tile wins, ties to the
  * smallest id. Slots are the sorted distinct tile ids; the cells of a
  * repeated id are merged. */
final class TileStab(tiles: Seq[(Int, Array[Long])]) extends Serializable {
  /** Tile id of each slot, ascending. */
  val ids: Array[Int] = tiles.map(_._1).distinct.sorted.toArray
  private val index = {
    val slotOfId = ids.zipWithIndex.toMap
    CellIntervalIndex.build(tiles.map { case (id, cells) => (slotOfId(id), cells, Array.empty[Long]) })
  }

  def size: Int = ids.length

  /** Slot of the tile `cellId` falls in, or -1 outside every tile. */
  def slotOf(cellId: Long): Int = {
    val s = index.segmentOf(S2CellId.orderKey(cellId))
    if (s < 0) -1
    else {
      val b = index.entryBegin(s)
      if (index.entryEnd(s) - b == 1) index.labelAt(b)
      else index.mostIntersecting(Array(cellId), -1)
    }
  }
}
