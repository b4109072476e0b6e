package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import graft.core._
import graft.operators.CellIntervalIndex

/** Native stab-and-refine expression for the broadcast contains join:
  * candidate labels from one binary search into the (plan-shipped)
  * CellIntervalIndex; interior hits skip the exact region test. Unlike a
  * Scala UDF there is no per-row argument boxing or CatalystTypeConverter
  * on the result — codegen passes primitives and the kernel returns
  * ArrayData directly. The index/regions ride the serialized plan to
  * executors (small: covering cells of a dimension-sized region set). */
case class S2StabMatch(first: Expression, second: Expression, third: Expression,
                       index: CellIntervalIndex,
                       regions: Array[(Int, S2Region)])
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // O(1) label -> region lookup for the refine path (labels are small
  // ints; dense array when compact, hash map fallback) — rebuilt lazily
  // per executor after plan deserialization.
  @transient private lazy val denseByLabel: Array[S2Region] = {
    val maxLab = regions.iterator.map(_._1).max
    if (maxLab >= 0 && maxLab < math.max(1024, 4 * regions.length)) {
      val arr = new Array[S2Region](maxLab + 1)
      regions.foreach { case (l, r) => arr(l) = r }
      arr
    } else null
  }
  @transient private lazy val mapByLabel: java.util.HashMap[Int, S2Region] = {
    val m = new java.util.HashMap[Int, S2Region](regions.length * 2)
    regions.foreach { case (l, r) => m.put(l, r) }
    m
  }
  private def regionOf(lab: Int): S2Region = {
    val d = denseByLabel
    if (d != null) { if (lab >= 0 && lab < d.length) d(lab) else null }
    else mapByLabel.get(lab)
  }

  def kernel(cellOrd: Long, lat: Double, lng: Double): ArrayData = {
    // allocation-free on misses and interior-only hits except the result:
    // no closures (would allocate Ref cells per row), no ArrayBuffer[Int]
    // (boxes), scratch buffer reused per thread. GC pressure from this
    // kernel was the measured 32-thread scaling limiter.
    val s = index.segmentOf(cellOrd)
    if (s < 0) return S2StabMatch.EmptyArray
    var buf = S2StabMatch.scratch.get()
    var cnt = 0
    var p: V3 = null
    var i = index.entryBegin(s)
    val end = index.entryEnd(s)
    while (i < end) {
      val lab = index.labelAt(i)
      var hit = index.interiorAt(i)
      if (!hit) {
        if (p == null) p = V3.fromLatLngDegrees(lat, lng)
        val reg = regionOf(lab)
        hit = reg != null && reg.contains(p)
      }
      if (hit) {
        if (cnt == buf.length) { // overlap depth exceeded the scratch: grow
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          S2StabMatch.scratch.set(buf)
        }
        buf(cnt) = lab; cnt += 1
      }
      i += 1
    }
    if (cnt == 0) S2StabMatch.EmptyArray
    else new GenericArrayData(java.util.Arrays.copyOfRange(buf, 0, cnt))
  }

  override def nullSafeEval(ord: Any, lat: Any, lng: Any): Any =
    kernel(ord.asInstanceOf[Long], lat.asInstanceOf[Double], lng.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stab", this, classOf[S2StabMatch].getName)
    defineCodeGen(ctx, ev, (o, la, ln) => s"$ref.kernel($o, $la, $ln)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object S2StabMatch {
  val EmptyArray = new GenericArrayData(Array.emptyIntArray)
  // per-thread candidate scratch (expressions are shared across tasks in
  // a local[n] JVM); starts at 4096 and doubles if a segment's overlap
  // depth ever exceeds it (arbitrary region sets are accepted)
  private[functions] val scratch: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](4096))
}

/** Native tile-assignment expression (S2RegionSharder semantics): leaf
  * stab into the tile interval index; unique hit returns directly,
  * overlapping tiles fall back to most-intersecting, miss returns
  * `default`. Same no-boxing rationale as [[S2StabMatch]]. */
case class S2TileAssign(child: Expression, index: CellIntervalIndex,
                        default: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  def kernel(cellId: Long): Int = {
    // allocation-free fast paths: the per-row labelsContaining array copy
    // was measurable GC pressure at 32 threads
    val ord = S2CellId.orderKey(cellId)
    val s = index.segmentOf(ord)
    if (s < 0) return default
    val b = index.entryBegin(s); val e = index.entryEnd(s)
    if (e - b == 1) index.labelAt(b)
    else if (e == b) default
    else index.mostIntersecting(Array(cellId), default)
  }

  override def nullSafeEval(id: Any): Any = kernel(id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tileIdx", this, classOf[S2TileAssign].getName)
    defineCodeGen(ctx, ev, id => s"$ref.kernel($id)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
