package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import graft.operators.{RegionStab, TileStab}

/** Native stab-and-refine expression for the broadcast contains join: the
  * labels of the regions containing each row's point, by
  * [[RegionStab.hits]]. Unlike a Scala UDF there is no per-row argument
  * boxing or CatalystTypeConverter on the result — codegen passes
  * primitives and the kernel returns ArrayData directly. The stab rides
  * the serialized plan to executors (small: covering cells of a
  * dimension-sized region set). */
case class S2StabMatch(first: Expression, second: Expression, third: Expression,
                       stab: RegionStab)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // per-thread slot scratch (expressions are shared across tasks in a
  // local[n] JVM), one slot per label: a row hits each region at most once
  @transient private lazy val scratch: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](stab.size))

  def kernel(cellOrd: Long, lat: Double, lng: Double): ArrayData = {
    // a miss allocates nothing, a hit only its result: GC pressure from
    // this kernel was the measured 32-thread scaling limiter
    val slots = scratch.get()
    val n = stab.hits(cellOrd, lat, lng, slots)
    if (n == 0) S2StabMatch.EmptyArray
    else {
      val labels = new Array[Int](n)
      var i = 0
      while (i < n) { labels(i) = stab.labels(slots(i)); i += 1 }
      new GenericArrayData(labels)
    }
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
}

/** Native tile-assignment expression: the id of the tile
  * [[TileStab.slotOf]] picks for the row's cell, or `default` outside
  * every tile. Same no-boxing rationale as [[S2StabMatch]]. */
case class S2TileAssign(child: Expression, tiles: TileStab, default: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  def kernel(cellId: Long): Int = {
    val s = tiles.slotOf(cellId)
    if (s >= 0) tiles.ids(s) else default
  }

  override def nullSafeEval(id: Any): Any = kernel(id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tileIdx", this, classOf[S2TileAssign].getName)
    defineCodeGen(ctx, ev, id => s"$ref.kernel($id)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
