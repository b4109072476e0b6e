package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`.
  *
  *   measure  --workload W --seed S --seconds T --trace 0|1 --work DIR --budget B
  *       generates W's input table for seed S unless a complete one is
  *       cached, runs the closed loop and prints the result object last
  *   selftest
  *       checks the job loop's failure accounting without Spark
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "job_s_p50" -> "s",
    "job_s_tail" -> "s", "docs_per_s" -> "docs/s", "peak_rss_mb" -> "MB", "scaling_eff" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.generate_s" -> "s", "sources.table_bytes" -> "bytes", "sources.bytes_per_doc" -> "bytes",
    "runtime.write_spatial_s" -> "s", "runtime.partitions" -> "count") ++
    Layers.coreKeys.map(k => k -> unitOf(k)) ++
    Seq("functions.poly_parse_us" -> "us") ++
    Seq("operators.ladder.scan_s", "operators.ladder.cellid_s", "operators.ladder.stab_refine_s",
      "operators.ladder.tile_s", "operators.ladder.fused_s").map(_ -> "s") ++
    Seq("operators.index_build_ms" -> "ms", "operators.index_segments" -> "count",
      "operators.stab_ns" -> "ns", "operators.candidates_per_doc" -> "count",
      "operators.interior_share" -> "ratio", "operators.refine_match_ratio" -> "ratio",
      "operators.match_rate" -> "ratio",
      "operators.terms_per_doc" -> "count", "operators.query_terms" -> "count",
      "operators.term_candidates" -> "count", "operators.term_refine_match_ratio" -> "ratio",
      "operators.skew_detect_s" -> "s", "operators.hot_terms" -> "count", "operators.salted" -> "flag") ++
    Layers.planKeys.map(k => k -> unitOf(k)) ++
    Layers.execKeys.map(k => k -> unitOf(k)) ++
    Seq("trace.overhead" -> "ratio")

  private def unitOf(k: String): String =
    if (k.endsWith("_ns")) "ns" else if (k.endsWith("_us")) "us" else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_share") || k.endsWith("_skew")) "ratio" else "count"

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, budget: Double)

  def parse(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(args.headOption.getOrElse(""), kv.getOrElse("workload", ""),
      kv.get("seed").map(_.toLong).getOrElse(0L), kv.get("seconds").map(_.toDouble).getOrElse(10.0),
      kv.get("trace").contains("1"), new File(kv.getOrElse("work", ".bench_build/perfbench")),
      kv.get("budget").map(_.toDouble).getOrElse(150.0))
  }

  /** budgets count from here, input generation included */
  val started: Long = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = o.mode match {
      case "selftest" => SelfTest.run()
      case "measure" =>
        Workloads.byName(o.workload) match {
          case None =>
            System.err.println(s"unknown workload '${o.workload}'; known: " +
              Workloads.all.map(_.name).mkString(", "))
            2
          case Some(w) =>
            val prepared = prepare(o, w)
            if (prepared != 0) prepared else new Measure(o, w).run()
        }
      case m => System.err.println(s"unknown mode '$m'"); 2
    }
    System.exit(code)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(o: Opts, w: Workload, threads: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$threads]").appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      // 4 tasks per core in scans and shuffles: with one task per core, a
      // core stalled by its neighbours on a shared host stalls the job
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.work, "hadoop-tmp").getAbsolutePath)
    w.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cache(o: Opts) = new TableCache(new File(o.work, "data"))

  /** Generates the workload's table unless a complete one is cached, in a
    * session of its own that is stopped before any set-up is timed. The
    * heap is fixed (`-Xms` = `-Xmx`), so generation in the same JVM does
    * not move `peak_rss_mb`. */
  def prepare(o: Opts, w: Workload): Int = {
    val c = cache(o)
    c.removeIncomplete()
    val dir = c.dirFor(w.name, o.seed, w.docs, w.version)
    if (!c.complete(dir)) {
      c.fits(w.docs * w.bytesPerDoc) match {
        case Left(why) =>
          Store.writeAtomic(Store.runStamped(new File(o.work, "runs").toPath, s"${w.name}-s${o.seed}-skipped"),
            Json(Map("workload" -> w.name, "seed" -> o.seed, "skipped" -> why)))
          System.err.println(s"perfbench: cannot generate ${w.name} inputs: $why")
          return 3
        case Right(()) =>
      }
      val spark = session(o, w, cores)
      try {
        val (extra, sec) = Workloads.timed(w.generate(spark, o.seed, dir.getPath))
        val bytes = Store.treeBytes(dir)
        Store.writeAtomic(new File(dir, c.MetaFile).toPath, Json(Map(
          "workload" -> w.name, "seed" -> o.seed, "docs" -> w.docs, "version" -> w.version,
          "generate_s" -> sec, "table_bytes" -> bytes) ++ extra))
        println(f"perfbench: generated ${w.name} seed ${o.seed}: ${w.docs} docs, $bytes bytes in $sec%.2f s")
      } finally spark.stop()
    }
    c.touchAndEvict(w.name, dir)
    0
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** One measuring run of one workload. */
final class Measure(o: Main.Opts, w: Workload) {
  import Main._

  private def elapsed = (System.nanoTime() - started) / 1e9
  private val tracer = new Tracer
  private val setupLoop = new Loop("warm-up")
  private var expected: Option[Any] = None
  private val record = mutable.LinkedHashMap.empty[String, Any]

  private def dir: File = cache(o).dirFor(w.name, o.seed, w.docs, w.version)

  /** session start → inputs ready → one warm-up job; the oracle runs once,
    * outside the timed part, and checks the warm-up result. */
  private def setup[R](threads: Int): (SparkSession, Inputs[R], Double) = {
    val s0 = System.nanoTime()
    val spark = session(o, w, threads)
    val in = w.open(spark, dir.getPath, o.seed, tracer).asInstanceOf[Inputs[R]]
    var warm: Option[R] = None
    val sec = setupLoop.runOne(() => { val r = in.job(); warm = Some(r); r }, (_: R) => None)
      .map(_ => (System.nanoTime() - s0) / 1e9)
    if (expected.isEmpty) expected = Some(in.oracle())
    val want = expected.get.asInstanceOf[R]
    warm.flatMap(r => in.check(r, want)).foreach { msg =>
      setupLoop.failures += s"warm-up wrong result: $msg"
    }
    (spark, in, sec.getOrElse(Double.NaN))
  }

  def run(): Int = {
    if (!cache(o).complete(dir)) {
      System.err.println(s"perfbench: no complete input table at $dir")
      return 2
    }
    val meta = cache(o).meta(dir)
    record ++= Seq("workload" -> w.name, "seed" -> o.seed, "docs" -> w.docs, "cores" -> cores,
      "seconds" -> o.seconds, "trace" -> o.trace, "table" -> dir.getName, "table_meta" -> meta)
    val (metrics, loops) = if (o.trace) traced(meta) else untraced()
    val attempted = loops.map(_.attempted).sum
    val failures = loops.flatMap(l => l.failures.map(l.label + ": " + _))
    record ++= Seq("attempted" -> attempted, "failed" -> failures.size, "failures" -> failures,
      "metrics" -> metrics, "error_rate" -> failures.size.toDouble / math.max(1, attempted))
    val runs = new File(o.work, "runs").toPath
    val artifact = Store.runStamped(runs, s"${w.name}-s${o.seed}-trace${if (o.trace) 1 else 0}")
    Store.writeAtomic(artifact, Json(record))

    failures.foreach(f => println(s"perfbench: FAILED $f"))
    println(f"perfbench: ${w.name} seed ${o.seed}: $attempted jobs attempted, ${failures.size} failed " +
      f"(error_rate ${failures.size.toDouble / math.max(1, attempted)}%.4f); record $artifact")
    val units = (if (o.trace) PerLayer else EndToEnd).toMap
    val order = (if (o.trace) PerLayer else EndToEnd).map(_._1)
    order.foreach(k => println(f"  $k%-36s ${metrics(k)}%16.6f ${units(k)}"))
    val complete = metrics.values.forall(v => !v.isNaN && !v.isInfinite)
    println(Json(Map("correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> mutable.LinkedHashMap(order.map(k => k -> Map("value" -> metrics(k), "unit" -> units(k))): _*))))
    if (complete) 0 else 1
  }

  /** Untimed, checked jobs after set-up, for half of `--seconds`: job
    * times keep falling for tens of jobs after the JVM starts while the JIT
    * recompiles the job's hot paths. */
  private def warmUp[R](in: Inputs[R]): Unit =
    setupLoop.runFor(o.seconds * Measure.WarmShare, Measure.MinJobs, o.seconds)(
      () => in.job(), (r: R) => in.check(r, expected.get.asInstanceOf[R]))

  private def drive[R](in: Inputs[R], loop: Loop, seconds: Double, minJobs: Int, hard: Double): Unit =
    loop.runFor(seconds, minJobs, hard)(() => in.job(), r => in.check(r, expected.get.asInstanceOf[R]))

  /** End-to-end metrics, tracing off. */
  private def untraced(): (Map[String, Double], Seq[Loop]) = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var current: (SparkSession, Inputs[Any]) = null
    for (i <- 0 until Measure.Setups) {
      if (current != null) current._1.stop()
      val (s, in, sec) = setup[Any](cores)
      setups += sec
      current = (s, in)
    }
    warmUp(current._2)
    val main = new Loop(s"local[$cores]")
    val mainSeconds = o.seconds * Measure.MainShare
    drive(current._2, main, mainSeconds, Measure.MinJobs, (o.budget - elapsed) * 0.6)
    current._1.stop()
    val s1 = session(o, w, 1)
    val in1 = w.open(s1, dir.getPath, o.seed, tracer).asInstanceOf[Inputs[Any]]
    setupLoop.runOne(() => in1.job(), (r: Any) => in1.check(r, expected.get))
    val single = new Loop("local[1]")
    drive(in1, single, o.seconds - mainSeconds, Measure.MinSingleJobs, math.max(1.0, o.budget - elapsed - 10))
    s1.stop()

    val p50 = if (main.times.isEmpty) Double.NaN else Stats.median(main.times.toSeq)
    val tail = if (main.times.isEmpty) None else Some(Stats.tail(main.times.toSeq))
    val p50single = if (single.times.isEmpty) Double.NaN else Stats.median(single.times.toSeq)
    record ++= Seq("setup_samples_s" -> setups, "job_s" -> main.times, "job_s_single" -> single.times,
      "job_s_tail_percentile" -> tail.map(_._2), "job_s_tail_samples" -> main.times.size)
    val okSetups = setups.filterNot(_.isNaN).toSeq
    (Map("setup_s" -> (if (okSetups.isEmpty) Double.NaN else Stats.median(okSetups)),
      "job_s_p50" -> p50, "job_s_tail" -> tail.map(_._1).getOrElse(Double.NaN),
      "docs_per_s" -> w.docs / p50, "peak_rss_mb" -> peakRssMb(),
      "scaling_eff" -> p50single / (cores * p50)), Seq(setupLoop, main, single))
  }

  /** Per-layer metrics: traced and untraced jobs alternate in one session,
    * then the layer measurements run. */
  private def traced(meta: Map[String, Double]): (Map[String, Double], Seq[Loop]) = {
    val (spark, in, _) = setup[Any](cores)
    warmUp(in)
    val sc = spark.sparkContext
    tracer.sc = sc
    val exec = new ExecListener(tracer)
    val plans = new PlanListener
    sc.addSparkListener(exec)
    spark.listenerManager.register(plans)
    def drain(): Unit = org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilListenersProcessed(sc)
    val plain = new Loop("untraced")
    val traced = new Loop("traced")
    val jobs = mutable.ArrayBuffer.empty[Map[String, Double]]
    val start = elapsed
    while ((elapsed - start < o.seconds || traced.attempted < Measure.MinTracedJobs) &&
           elapsed < o.budget * 0.5) {
      tracer.enabled = false
      plain.runOne(() => in.job(), (r: Any) => in.check(r, expected.get))
      drain(); plans.drain()
      tracer.enabled = true
      val before = tracer.spans.size
      val evalsBefore = in.distEvals
      val ok = traced.runOne(() => in.job(), (r: Any) => in.check(r, expected.get))
      tracer.enabled = false
      drain()
      val ps = plans.drain()
      val root = tracer.spans.drop(before).find(_.parent == -1)
      if (ok.isDefined) root.foreach { r => jobs += perJob(r, exec, ps, in.distEvals - evalsBefore) }
    }
    val l = new Layers(spark, w, spark.read.parquet(dir.getPath))
    l.put("sources.generate_s", meta("generate_s"))
    l.put("sources.table_bytes", meta("table_bytes"))
    l.put("sources.bytes_per_doc", meta("table_bytes") / w.docs)
    if (w.name == TermJoinSkew.name) {
      l.put("runtime.write_spatial_s", meta("write_spatial_s"))
      l.put("runtime.partitions", meta("partitions"))
    } else l.skip(Seq("runtime.write_spatial_s", "runtime.partitions"), "no spatial table is written")
    l.core(if (w.name == Knn.name) Knn.ladderCaps(o.seed) else Nil)
    l.functions()
    if (w.name == RegionTile.name) l.regionTileOperators()
    else l.skip(l.ladderKeys ++ l.stabKeys, "the ladder and stab counters apply to region_tile")
    if (w.name == TermJoinSkew.name)
      l.termOperators(expected.get.asInstanceOf[TermJoinSkew.Pairs].size.toLong)
    else l.skip(l.termKeys, "the term-join counters apply to term_join_skew")
    // knn is not among the measured workloads (see README), so its
    // counters go to the run record only
    if (w.name == Knn.name) Layers.knnKeys.foreach(k => l.notes(k) = median(jobs.map(_(k)).toSeq))
    (Layers.planKeys ++ Layers.execKeys).foreach(k => l.put(k, median(jobs.map(_(k)).toSeq)))
    val overhead = Stats.median(traced.times.toSeq) / Stats.median(plain.times.toSeq) - 1
    l.put("trace.overhead", overhead)
    spark.stop()
    record ++= Seq("untraced_job_s" -> plain.times, "traced_job_s" -> traced.times,
      "traced_jobs" -> jobs, "absent" -> l.absent, "notes" -> l.notes, "spans" -> tracer.toJson)
    l.absent.foreach { case (k, why) => println(s"perfbench: $k reads 0: $why") }
    (l.values.toMap, Seq(setupLoop, plain, traced))
  }

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** The per-layer numbers of one traced job. */
  private def perJob(root: Span, exec: ExecListener, ps: Seq[PlanListener#PlanStats],
                     evals: Long): Map[String, Double] = {
    val wall = tracer.seconds(root)
    def t(k: String) = tracer.total(root, k)
    val child = (n: String) => tracer.spans.find(s => s.parent == root.id && s.name == n)
    val m = mutable.Map[String, Double]("job_s" -> wall)
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_s", "exec.gc_s", "exec.input_bytes",
      "exec.input_rows", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
      "exec.shuffle_fetch_wait_s", "exec.spill_disk_bytes", "exec.task_failures").foreach(k => m(k) = t(k))
    m("exec.busy_share") = t("exec.run_ms") / 1e3 / (wall * cores)
    m("exec.task_skew") = exec.taskSkew(tracer.subtree(root))
    m("plans.planning_ms") = ps.map(_.planningMs).sum
    m("plans.exchanges") = ps.map(_.exchanges).sum.toDouble
    m("plans.broadcast_exchanges") = ps.map(_.broadcasts).sum.toDouble
    m("plans.nested_loop_joins") = ps.map(_.nestedLoops).sum.toDouble
    child("operators.S2Joins.knnJoin").foreach(s => m("operators.knn_broadcast_s") = tracer.seconds(s))
    child("operators.S2Joins.knnJoinLarge").foreach { s =>
      m("operators.knn_ladder_s") = tracer.seconds(s)
      m("operators.knn_ladder_jobs") = tracer.total(s, "exec.jobs")
    }
    m("operators.knn_dist_evals_per_doc") = evals.toDouble / w.docs
    m.toMap
  }
}

object Measure {
  val Setups = 3
  val MainShare = 0.8
  val MinJobs = 3
  val MinSingleJobs = 2
  val WarmShare = 0.5
  val MinTracedJobs = 3

}
