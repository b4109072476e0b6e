package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a module: `trace` is the id of the job it belongs
  * to, `parent` the span that made the call (-1 for a job's root). */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      startNs: Long, var endNs: Long = -1L)

/** In-memory span recorder. Spans are opened and closed on the driver
  * thread that runs the job; each open span is published as a Spark local
  * property, so the jobs it submits (and their stages and tasks) carry its
  * id and [[ExecListener]] can attach their counters to it. When disabled,
  * `span` runs its body and records nothing. */
final class Tracer {
  @volatile var enabled = false
  var sc: SparkContext = _
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val ids = new AtomicInteger()
  private var traces = 0
  /** counters by span id, filled by the listeners */
  val counters = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()

  def add(spanId: Int, key: String, v: Double): Unit = {
    counters.computeIfAbsent(spanId, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a: Double, b: Double) => a + b)
    ()
  }

  /** A job's root span: a new trace id. */
  def root[T](name: String)(body: => T): T = {
    if (enabled) traces += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(ids.getAndIncrement(), parent.map(_.id).getOrElse(-1), traces,
        name, System.nanoTime())
      spans.synchronized(spans += s)
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, parent.map(_.id.toString).orNull)
      }
    }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Span ids of `root` and everything below it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id)).toSeq
    walk(root.id).toSet
  }

  /** Counter `key` summed over `root`'s subtree. */
  def total(root: Span, key: String): Double =
    subtree(root).iterator.map(id => Option(counters.get(id)).flatMap(m => Option(m.get(key)))
      .map(_.doubleValue).getOrElse(0.0)).sum

  /** A layer's self time: its span minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    seconds(s) - spans.filter(_.parent == s.id).map(seconds).sum

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val c = Option(counters.get(s.id)).map(_.asScala.toMap).getOrElse(Map.empty)
    Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s), "counters" -> c)
  }
}

object Tracer { val Key = "perfbench.span" }

/** Spark task counters, each attached to the span whose thread submitted
  * the job. Also keeps every task's run time per (span, stage) so the
  * heaviest stage's straggler ratio can be read per job. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val taskMs = new ConcurrentHashMap[(Int, Int), java.util.Vector[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    sp.foreach { id =>
      tracer.add(id.toInt, "exec.jobs", 1)
      e.stageIds.foreach(st => stageSpan.put(st, id.toInt))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => tracer.add(id, "exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      tracer.add(id, "exec.tasks", 1)
      if (e.reason != Success) tracer.add(id, "exec.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        tracer.add(id, "exec.run_ms", m.executorRunTime.toDouble)
        tracer.add(id, "exec.cpu_s", m.executorCpuTime / 1e9)
        tracer.add(id, "exec.gc_s", m.jvmGCTime / 1e3)
        tracer.add(id, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        tracer.add(id, "exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        tracer.add(id, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        tracer.add(id, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        tracer.add(id, "exec.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        tracer.add(id, "exec.spill_disk_bytes", m.diskBytesSpilled.toDouble)
        taskMs.computeIfAbsent((id, e.stageId), _ => new java.util.Vector[Long]())
          .add(m.executorRunTime)
      }
    }

  /** max ÷ median task time in the stage with the most task time among
    * `spanIds`; 0 when no stage ran. */
  def taskSkew(spanIds: Set[Int]): Double = {
    val stages = taskMs.asScala.collect { case ((sp, _), v) if spanIds(sp) => v.asScala.toSeq }
    if (stages.isEmpty) 0.0
    else {
      val heaviest = stages.maxBy(_.sum).sorted
      heaviest.last / math.max(1.0, heaviest(heaviest.size / 2).toDouble)
    }
  }
}

/** Plan-layer counters of every Dataset action: planning time from the
  * query's own phase tracker, and the physical operators of its final
  * plan. Events arrive on Spark's listener bus, so readers drain the bus
  * first. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class PlanStats(planningMs: Double, exchanges: Int, broadcasts: Int, nestedLoops: Int)
  val seen = new java.util.Vector[PlanStats]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(stats(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def stats(qe: QueryExecution): PlanStats = {
    val plan: SparkPlan = qe.executedPlan
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    PlanStats(ms,
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
      collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size,
      collectWithSubqueries(plan) {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }.size)
  }

  def drain(): Seq[PlanStats] = seen.synchronized {
    val out = seen.asScala.toSeq; seen.clear(); out
  }
}
