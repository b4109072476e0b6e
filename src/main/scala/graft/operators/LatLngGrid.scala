package graft.operators

import graft.core.S2LatLngRect

/** A 180×360 bitmap of 1° lat/lng cells, marking every cell that overlaps
  * one of a region set's rect bounds widened by [[LatLngGrid.MarginDeg]]: a
  * point whose cell is unmarked lies in none of the regions. It is the cheap
  * data-induced predicate of the fused flagship pass, derived from the small
  * (region) side and applied to each doc before its trig and cell id.
  *
  * The margin guards the rounding between a doc's input degrees and the
  * lat/lng of its unit vector, which is what a region's bound is tested
  * against (that rounding is ~1e-14°, far inside it). A lng interval that crosses the antimeridian marks both ends,
  * and a widened interval that passes ±180° wraps to the other side. */
final class LatLngGrid private (bits: Array[Long]) extends Serializable {

  /** False only for a point with finite lat in [-90, 90] and lng in
    * [-180, 180] whose cell is unmarked; true for every other input, NaN
    * and out-of-range coordinates included. */
  def mayContain(latDeg: Double, lngDeg: Double): Boolean =
    !(latDeg >= -90 && latDeg <= 90 && lngDeg >= -180 && lngDeg <= 180) || {
      val i = LatLngGrid.row(latDeg + 90) * 360 + LatLngGrid.col(lngDeg + 180)
      (bits(i >>> 6) & (1L << i)) != 0
    }
}

object LatLngGrid {
  val MarginDeg = 1e-6

  // lat + 90 in [0, 180] and lng + 180 in [0, 360]; the top edge joins the
  // last cell
  @inline private def row(x: Double): Int = math.min(x.toInt, 179)
  @inline private def col(x: Double): Int = math.min(x.toInt, 359)

  def of(bounds: Iterable[S2LatLngRect]): LatLngGrid = {
    val bits = new Array[Long]((180 * 360 + 63) / 64)
    for (b <- bounds if !b.isEmpty) {
      val r0 = row(math.max(0, math.toDegrees(b.latLo) - MarginDeg + 90))
      val r1 = row(math.max(0, math.toDegrees(b.latHi) + MarginDeg + 90))
      val lo = math.toDegrees(b.lngLo) - MarginDeg
      val hi = math.toDegrees(b.lngHi) + MarginDeg
      // widened lng spans in degrees; each is marked where it, or its copy
      // shifted by ±360°, meets [-180, 180]
      val spans =
        if (b.lng.isInverted) Seq((lo, 180 + MarginDeg), (-180 - MarginDeg, hi))
        else Seq((lo, hi))
      for ((a, z) <- spans; shift <- Seq(-360, 0, 360)) {
        val a1 = math.max(a + shift, -180); val z1 = math.min(z + shift, 180)
        if (a1 <= z1) for (r <- r0 to r1; c <- col(a1 + 180) to col(z1 + 180)) {
          val i = r * 360 + c
          bits(i >>> 6) |= 1L << i
        }
      }
    }
    new LatLngGrid(bits)
  }
}
