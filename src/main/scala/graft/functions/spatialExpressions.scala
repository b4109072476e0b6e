package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, QuinaryExpression, TernaryExpression, BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._

/** SQL-surface spatial predicates and their term generators: the one
  * implementation of point/polygon/cap terms and point-in-polygon. The
  * Column API ([[S2]]), the SQL function table, the term-join operators
  * and [[graft.plans.S2SpatialJoinRule]] all build these expressions.
  *
  * The predicates ([[S2ContainsPoint]], [[S2WithinDistance]]) are honest
  * scalar expressions — usable in any WHERE clause — but their real
  * purpose is to be *recognizable join conditions*: when one appears as
  * the condition of a plain-SQL join, [[graft.plans.S2SpatialJoinRule]]
  * rewrites the join into the S2RegionTermIndexer candidate equi-join
  * (reference s2region_term_indexer.cc:27-72) with this same predicate as
  * the exact refine, eliminating the BroadcastNestedLoopJoin the naive
  * plan would produce.
  *
  * The term generators ([[S2PointIndexTermsExpr]] etc.) are the native
  * column forms of S2TermIndexer. The query-side generators use the one
  * default scheme, [[S2SpatialKernels.indexer]]. [[S2PointIndexTermsExpr]]
  * carries its indexer as a non-child field (same default), which
  * generated code reaches as a reference object (as [[S2StabMatch]] ships
  * its stab), so a caller-chosen document scheme survives whole-stage
  * codegen. Plans print only its children and the size of its `keep`
  * set: the indexer has no stable string form. */

/** Shared kernels (static forwarders make these callable from generated
  * Java). [[indexer]] is the engine's one default term scheme: a term
  * join is only correct when both sides use the SAME scheme, so every
  * default caller shares this instance. */
object S2SpatialKernels {
  val indexer = new S2TermIndexer()

  def polyContains(polyText: UTF8String, lat: Double, lng: Double): Boolean =
    PolyCache.get(polyText.toString).contains(V3.fromLatLngDegrees(lat, lng))

  def withinDistance(latA: Double, lngA: Double, latB: Double, lngB: Double,
                     radiusRad: Double): Boolean = {
    val a = V3.fromLatLngDegrees(latA, lngA)
    val b = V3.fromLatLngDegrees(latB, lngB)
    (a - b).norm2 <= S1ChordAngle.fromRadians(radiusRad)
  }

  private def toArrayData(terms: Array[String]): ArrayData =
    new GenericArrayData(terms.map(t => UTF8String.fromString(t).asInstanceOf[Any]))

  def pointIndexTerms(ix: S2TermIndexer, keep: Array[Long], lat: Double, lng: Double): ArrayData = {
    val p = V3.fromLatLngDegrees(lat, lng)
    toArrayData(ix.indexTermsForPoint(p.x, p.y, p.z, keep))
  }

  def polyQueryTerms(polyText: UTF8String): ArrayData =
    toArrayData(indexer.queryTerms(PolyCache.get(polyText.toString)))

  def capQueryTerms(lat: Double, lng: Double, radiusRad: Double): ArrayData =
    toArrayData(indexer.queryTerms(
      S2Cap.fromCenterAngle(V3.fromLatLngDegrees(lat, lng), radiusRad)))
}

/** s2_contains(polyText, latDeg, lngDeg) — exact point-in-polygon
  * (crossing parity, reference s2loop.cc:605-617). */
case class S2ContainsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BooleanType
  override def prettyName: String = "s2_contains"
  override protected def nullSafeEval(poly: Any, lat: Any, lng: Any): Any =
    S2SpatialKernels.polyContains(poly.asInstanceOf[UTF8String],
      lat.asInstanceOf[Double], lng.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, la, ln) =>
      s"graft.functions.S2SpatialKernels.polyContains($p, $la, $ln)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** s2_within_distance(latA, lngA, latB, lngB, radiusRad) — true when the
  * two points are within `radiusRad` surface radians (exact chord-angle
  * compare, monotone-safe: d² ≤ chord²(r)). */
case class S2WithinDistance(latA: Expression, lngA: Expression,
                            latB: Expression, lngB: Expression,
                            radius: Expression) extends QuinaryExpression {
  override def children: Seq[Expression] = Seq(latA, lngA, latB, lngB, radius)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "s2_within_distance"
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    S2SpatialKernels.withinDistance(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], e.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d, e) =>
      s"graft.functions.S2SpatialKernels.withinDistance($a, $b, $c, $d, $e)")
  override protected def withNewChildrenInternal(nc: IndexedSeq[Expression]) =
    copy(latA = nc(0), lngA = nc(1), latB = nc(2), lngB = nc(3), radius = nc(4))
}

/** s2_point_index_terms(latDeg, lngDeg) — the ancestor index terms of a
  * point document (reference s2region_term_indexer.cc:155-175): plain
  * tokens at levels minLevel..maxLevel, never marker-prefixed.
  *
  * `keep` (sorted cell ids, a non-child field like `indexer`) restricts
  * the terms to those cells: a term join passes the plain query terms of
  * its other side, since no other doc term can meet them. Plans print it
  * as its count, `keep=n`, never as a literal list. */
case class S2PointIndexTermsExpr(left: Expression, right: Expression,
                                 indexer: S2TermIndexer = S2SpatialKernels.indexer,
                                 keep: Option[Array[Long]] = None)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "s2_point_index_terms"
  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    S2SpatialKernels.pointIndexTerms(indexer, keep.orNull,
      lat.asInstanceOf[Double], lng.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ix = ctx.addReferenceObj("indexer", indexer, classOf[S2TermIndexer].getName)
    val k = ctx.addReferenceObj("keep", keep.orNull, "long[]")
    defineCodeGen(ctx, ev, (la, ln) =>
      s"graft.functions.S2SpatialKernels.pointIndexTerms($ix, $k, $la, $ln)")
  }
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ keep.map(k => s"keep=${k.length}")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** s2_poly_query_terms(polyText) — the query terms of a polygon region
  * (covering cells as plain tokens + marker-prefixed ancestors). Against
  * point index terms, the plain tokens are a normalized (disjoint)
  * covering, so each intersecting (point, polygon) pair shares EXACTLY
  * one term — the property that lets [[graft.plans.S2SpatialJoinRule]]
  * skip pair deduplication. */
case class S2PolyQueryTermsExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "s2_poly_query_terms"
  override protected def nullSafeEval(poly: Any): Any =
    S2SpatialKernels.polyQueryTerms(poly.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p => s"graft.functions.S2SpatialKernels.polyQueryTerms($p)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** s2_cap_query_terms(latDeg, lngDeg, radiusRad) — query terms of the cap
  * around a point; the within-distance analogue of
  * [[S2PolyQueryTermsExpr]] (same single-shared-term property). */
case class S2CapQueryTermsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "s2_cap_query_terms"
  override protected def nullSafeEval(lat: Any, lng: Any, r: Any): Any =
    S2SpatialKernels.capQueryTerms(lat.asInstanceOf[Double],
      lng.asInstanceOf[Double], r.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, ln, r) =>
      s"graft.functions.S2SpatialKernels.capQueryTerms($la, $ln, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}
