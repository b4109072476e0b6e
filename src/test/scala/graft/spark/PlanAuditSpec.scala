package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.operators._
import graft.sources.DocSource

/** Physical-plan audits: the properties that make these operators hold at
  * 100 TB are asserted on the executed plan, not just observed manually —
  * column pruning reaches the scan, broadcast joins stay exchange-free,
  * aggregations keep partial (map-side) phases, and native expressions
  * stay inside WholeStageCodegen. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docsPath: String = {
    val p = java.nio.file.Files.createTempDirectory("plan-audit").toString + "/docs"
    DocSource.docs(spark, 2000L).write.mode("overwrite").parquet(p)
    p
  }

  def regions: Seq[(Int, S2Region)] = Seq(
    1 -> S2TextFormat.parsePolygon("0:0, 0:35, 30:35, 30:0"),
    2 -> S2Cap.fromCenterAngle(V3.fromLatLngDegrees(48, 2), 0.08))

  test("covering+PIP join: scan prunes to lat/lng, zero exchanges, codegen on") {
    val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
    val joined = S2Joins.broadcastContainsJoin(docs, regions)
      .groupBy("qid").count()
    joined.collect() // materialize so AQE finalizes + codegen markers appear
    // AQE prints Final + Initial sections; audit the final plan only
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scanLine = plan.split("\n").find(_.contains("ReadSchema")).get
    assert(scanLine.contains("ReadSchema: struct<lat:double,lng:double>"),
      s"scan did not prune to lat/lng: $scanLine")
    // join itself adds no exchange; the single exchange is the final agg
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)")) // *(n) = codegen stage markers
    // partial aggregation before the exchange
    assert(plan.contains("HashAggregate"), plan)
  }

  test("pre-join operators add no shuffle at all") {
    val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
    val joined = S2Joins.broadcastContainsJoin(docs, regions)
    val tiled = S2Joins.tileAssign(joined, Seq((0, Array(S2CellId.fromFace(0)))))
    val plan = tiled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("density rollup keeps map-side partial aggregation") {
    val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
    val plan = Density.cellDensity(docs, 6).queryExecution.executedPlan.toString
    // two HashAggregates (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("term join plans as an equi-join (hash or sort-merge, AQE-eligible)") {
    import spark.implicits._
    val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
    val polys = Seq((1, "0:0, 0:35, 30:35, 30:0")).toDF("qid", "poly")
    val joined = S2Joins.termPolygonJoin(docs, polys)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Join") || plan.contains("join"), plan)
    // equi-join on term: planner chose hash/sort-merge/broadcast, not BNLJ
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("term join candidate shuffles never carry the document payload") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // force shuffle joins + non-adaptive plan so every exchange is visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
      val polys = Seq((1, "0:0, 0:35, 30:35, 30:0"),
        (2, "-40:-80, -40:-30, -10:-30, -10:-80")).toDF("qid", "poly")
      val joined = S2Joins.termPolygonJoin(docs, polys)
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      // `spans` (the interleaved payload) may ride exactly ONE exchange:
      // the final id-keyed payload re-join — never the per-term explode
      // (13 terms/doc), the term equi-join, or the candidate dedup
      val spansCarrying = exchanges.filter(_.output.exists(_.name == "spans"))
      assert(spansCarrying.size <= 1,
        spansCarrying.map(_.output.map(_.name).mkString(",")).mkString("\n"))
      assert(exchanges.size - spansCarrying.size >= 2)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("term join prune: the doc-term exchange carries ids and coordinates, no term literals") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
      val texts = Seq("0:0, 0:35, 30:35, 30:0", "-40:-80, -40:-30, -10:-30, -10:-80")
      val polys = texts.zipWithIndex.map { case (t, i) => (i + 1, t) }.toDF("qid", "poly")
      val ix = graft.functions.S2SpatialKernels.indexer
      val plain = texts.flatMap(t => ix.queryTerms(S2TextFormat.parsePolygon(t)))
        .filterNot(_.startsWith(ix.marker)).distinct
      val joined = S2Joins.termPolygonJoin(docs, polys)
      val docTerms = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "doc_id") &&
          e.output.exists(_.name == "term") => e.output.map(_.name)
      }
      assert(docTerms.map(_.sorted) == Seq(Seq("doc_id", "lat", "lng", "term")), docTerms)
      // the term set prints as its size, never as literals: only tokens
      // mixing digits and letters, which no plan text or expression id forms
      val explain = joined.queryExecution.toString
      assert(explain.contains(s"keep=${plain.size}"), explain)
      assert("""\bIn(Set)?\(""".r.findFirstIn(explain).isEmpty, explain)
      val literals = plain.filter(t => t.exists(_.isDigit) && t.exists(_.isLetter))
        .filter(t => s"(?<![0-9a-z])$t(?![0-9a-z])".r.findFirstIn(explain).nonEmpty)
      assert(plain.exists(_.exists(_.isLetter)) && literals.isEmpty, literals)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("closest-shapes join is a pure narrow map: zero exchanges") {
    val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
    val shapes = Seq(
      EdgeQueries.Shape(1, Array(V3.fromLatLngDegrees(0, 0),
        V3.fromLatLngDegrees(0, 30)), closed = false),
      EdgeQueries.Shape(2, Array(V3.fromLatLngDegrees(40, 40),
        V3.fromLatLngDegrees(50, 60)), closed = false))
    val joined = EdgeQueries.closestShapesJoin(docs, shapes, k = 2, maxDist2 = 0.05)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan) // rank emitted in the flatMap
  }

  test("knnJoinLarge runs its per-round rank filter as a map-side WindowGroupLimit") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val docs = S2Joins.withCellId(
      DocSource.docs(spark, 20000L, clusterFrac = 0.0).select("doc_id", "lat", "lng"),
      col("lat"), col("lng"))
    val targets = docs.where(col("doc_id").substr(4, 9).cast("long") % 50 === 0)
      .select(col("doc_id").substr(4, 9).cast("int").as("qid"),
        (col("lat") * 0.97).as("t_lat"), (col("lng") * 0.97).as("t_lng"))
    val out = S2Joins.knnJoinLarge(docs, targets, k = 5, radii = Seq(0.1, 0.4))
    assert(out.count() == 400L * 5)
    // the rank filter sits below AQE query stages and, once the ladder
    // takes more than one round, below the cached per-round results
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ => p.children.flatMap(walk)
    })
    val nodes = walk(out.queryExecution.executedPlan)
    assert(nodes.exists {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }, nodes.map(_.nodeName).distinct.mkString(", "))
  }

  test("q_s2_sql_join driver gate plans term-join, not BNLJ/cartesian") {
    // the actual gate query text (pure SQL through S2SpatialJoinRule)
    for (name <- Seq("q_s2_sql_join", "q_s2_sql_within")) {
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: $plan")
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
      assert(plan.contains("Generate"), s"$name: $plan") // term explode present
    }
  }

  test("exact dedup groupBy hashes small keys, not text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.exactDuplicates(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // shuffle key is the md5 hash column, 2-phase agg
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("md5"), plan)
  }

  test("AQE skew-split backstop engages on a hot join key (thresholds scaled down)") {
    // AQE's OptimizeSkewedJoin is the engine's one skew mechanism for term
    // joins; this proves it is real, not assumed, on a bare hot key and on
    // termPolygonJoin over clustered docs. Thresholds are scaled to
    // unit-test data — the same ratios Spark applies at 256 MB partitions
    // on a cluster.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // at 4 reducers every one holds a like mix of the clustered docs'
      // hot and cold terms; at 32 a hot term stands out (split from 16 up)
      "spark.sql.shuffle.partitions" -> "32")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of the left side lands on one key; right side is uniform
      val left = (0 until 60000).map { i =>
        (if (i % 10 == 0) i.toLong % 97 else 7L, s"payload-$i-${"x" * 40}")
      }.toDF("k", "payload")
      val right = (0L until 97L).map(k => (k, s"dim-$k")).toDF("k", "dim")
        .repartition(4) // defeat LocalRelation so the join shuffles both sides
      val joined = left.join(right, "k")
      assert(joined.collect().length == 60000) // executes THIS plan (AQE finalizes)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the hot partition:\n$finalPlan")

      // continent-scale quad: its coarse covering terms match whole clusters
      val docs = S2Joins.withCellId(spark.read.parquet(docsPath), col("lat"), col("lng"))
      val polys = Seq((1, graft.SparkEntry.skewPolyText)).toDF("qid", "poly")
      val terms = S2Joins.termPolygonJoin(docs, polys)
      // collect THIS Dataset (not a projection of it) so its plan finalizes
      val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
        .map(r => (r.getAs[String]("doc_id"), r.getAs[Int]("qid"))).sorted
      val got = key(terms)
      assert(got.nonEmpty)
      val termPlan = terms.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(termPlan.contains("skew=true"), s"AQE did not split a hot term:\n$termPlan")
      assert(!termPlan.contains("BroadcastNestedLoopJoin"), termPlan)
      assert(!termPlan.contains("CartesianProduct"), termPlan)
      val regions = Seq(1 -> (S2TextFormat.parsePolygon(graft.SparkEntry.skewPolyText): S2Region))
      assert(got.sameElements(key(S2Joins.broadcastContainsJoin(docs, regions))))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
