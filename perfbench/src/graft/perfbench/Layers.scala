package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Bench
import graft.core._
import graft.operators.{CellIntervalIndex, S2Joins, Skew}

/** Per-layer measurements made outside the timed jobs: single-thread
  * kernel costs over a fixed sample of the workload's own inputs, the
  * region_tile operator ladder from separate calls, and operator counters
  * computed with the engine's public functions. A metric a workload does
  * not exercise reads 0 and its reason is kept in `absent`. */
final class Layers(spark: SparkSession, w: Workload, table: DataFrame) {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val absent = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.LinkedHashMap.empty[String, Any]

  def put(k: String, v: Double): Unit = values(k) = v
  def skip(keys: Seq[String], why: String): Unit =
    keys.foreach { k => values(k) = 0.0; absent(k) = why }

  private var sink = 0L

  /** ns per call of `op` over `n` inputs: median of 5 timed passes after
    * one warm-up pass. */
  private def nsPerOp(n: Int)(op: Int => Long): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0; var acc = 0L
      while (i < n) { acc += op(i); i += 1 }
      sink += acc
      (System.nanoTime() - t0).toDouble / n
    }
    pass()
    Stats.median(Seq.fill(5)(pass()))
  }

  private def usPerCall[T](xs: Seq[T])(op: T => Any): Double =
    nsPerOp(xs.size)(i => op(xs(i)).hashCode.toLong) / 1e3

  private val sample: Array[(Double, Double)] =
    table.select(col("lat").cast("double"), col("lng").cast("double")).limit(Layers.SampleDocs)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
  private val points: Array[V3] = sample.map { case (la, ln) => V3.fromLatLngDegrees(la, ln) }
  private val cells: Array[Long] = points.map(p => S2CellId.fromPoint(p.x, p.y, p.z))
  private val indexer = new S2TermIndexer()

  private def bench(name: String): Seq[(Int, S2Region)] = name match {
    case RegionTile.name => Bench.benchRegions
    case TermJoinSkew.name => Seq(1 -> S2TextFormat.parsePolygon(TermJoinSkew.polyText))
    case _ => Nil
  }

  def core(knnCaps: Seq[S2Region]): Unit = {
    val n = sample.length
    put("core.latlng_to_point_ns", nsPerOp(n) { i =>
      val (la, ln) = sample(i); java.lang.Double.doubleToRawLongBits(V3.fromLatLngDegrees(la, ln).x) })
    put("core.cellid_from_point_ns", nsPerOp(n) { i =>
      val p = points(i); S2CellId.fromPoint(p.x, p.y, p.z) })
    put("core.cellid_to_point_ns", nsPerOp(n) { i =>
      java.lang.Double.doubleToRawLongBits(S2CellId.toPoint(cells(i))(0)) })
    put("core.term_index_ns", nsPerOp(n) { i =>
      val p = points(i); indexer.indexTermsForPoint(p.x, p.y, p.z).length.toLong })
    val regions = bench(w.name).map(_._2)
    if (regions.isEmpty) skip(Seq("core.region_contains_ns"), "the knn job tests no region containment")
    else {
      val rs = regions.toArray
      put("core.region_contains_ns", nsPerOp(n * rs.length) { i =>
        if (rs(i % rs.length).contains(points(i / rs.length))) 1L else 0L })
    }
    // the query regions and coverer this workload's job actually uses
    val (queries, coverer) =
      if (w.name == Knn.name) (knnCaps, new S2RegionCoverer(8, 0, 30))
      else if (w.name == TermJoinSkew.name)
        (regions, new S2RegionCoverer(indexer.maxCells, indexer.minLevel, indexer.maxLevel))
      else (regions, new S2RegionCoverer(64, 0, 30))
    put("core.query_terms_us", usPerCall(queries)(r => indexer.queryTerms(r).length))
    put("core.covering_us", usPerCall(queries)(r => coverer.getCovering(r).length))
    put("core.covering_cells", queries.map(r => coverer.getCovering(r).length).sum.toDouble / queries.size)
  }

  def functions(): Unit = {
    val texts = bench(w.name).collect { case (_, p: S2Polygon) => S2TextFormat.polygonToString(p) }
    if (texts.isEmpty) skip(Seq("functions.poly_parse_us"), "the knn job parses no polygon text")
    // PolyCache.get on a miss is this parse; the cache itself is global
    else put("functions.poly_parse_us", usPerCall(texts)(S2TextFormat.parsePolygon))
  }

  /** Median of 3 timed runs after one warm-up. */
  private def seconds(body: => Any): Double = {
    body
    Stats.median(Seq.fill(3)(Workloads.timed(body)._2))
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  val ladderKeys = Seq("operators.ladder.scan_s", "operators.ladder.cellid_s",
    "operators.ladder.stab_refine_s", "operators.ladder.tile_s", "operators.ladder.fused_s")
  val stabKeys = Seq("operators.index_build_ms", "operators.index_segments", "operators.stab_ns",
    "operators.candidates_per_doc", "operators.interior_share", "operators.refine_match_ratio",
    "operators.match_rate")
  val termKeys = Seq("operators.terms_per_doc", "operators.query_terms", "operators.term_candidates",
    "operators.term_refine_match_ratio", "operators.skew_detect_s", "operators.hot_terms",
    "operators.salted")

  /** region_tile: the flagship pass built up one operator at a time, each
    * a separate call, then the fused pass; plus the stab-index counters. */
  def regionTileOperators(): Unit = {
    val regions = Bench.benchRegions
    val tiles = Bench.benchTiles
    val latLng = table.select("lat", "lng")
    val withCells = S2Joins.withCellId(latLng, col("lat"), col("lng"))
    val stabbed = S2Joins.broadcastContainsJoin(withCells, regions)
    put("operators.ladder.scan_s", seconds(noop(latLng)))
    put("operators.ladder.cellid_s", seconds(noop(withCells)))
    put("operators.ladder.stab_refine_s", seconds(noop(stabbed)))
    put("operators.ladder.tile_s", seconds(
      S2Joins.tileAssign(stabbed, tiles).groupBy("qid", "tile_id").count().collect()))
    put("operators.ladder.fused_s", seconds(S2Joins.regionTileCounts(table, regions, tiles).collect()))

    put("operators.index_build_ms",
      Stats.median(Seq.fill(5)(Workloads.timed(CellIntervalIndex.fromRegions(regions, 64))._2)) * 1e3)
    val idx = CellIntervalIndex.fromRegions(regions, 64)
    put("operators.index_segments", idx.size.toDouble)
    val ords = cells.map(S2CellId.orderKey)
    put("operators.stab_ns", nsPerOp(ords.length)(i => idx.segmentOf(ords(i)).toLong))
    val byLabel = regions.toMap
    var cand = 0L; var interior = 0L; var refines = 0L; var refineHits = 0L; var matches = 0L
    ords.indices.foreach { i =>
      val seg = idx.segmentOf(ords(i))
      if (seg >= 0) {
        var e = idx.entryBegin(seg)
        while (e < idx.entryEnd(seg)) {
          cand += 1
          if (idx.interiorAt(e)) { interior += 1; matches += 1 }
          else {
            refines += 1
            if (byLabel(idx.labelAt(e)).contains(points(i))) { refineHits += 1; matches += 1 }
          }
          e += 1
        }
      }
    }
    put("operators.candidates_per_doc", cand.toDouble / ords.length)
    put("operators.interior_share", if (cand == 0) 0.0 else interior.toDouble / cand)
    if (refines == 0) skip(Seq("operators.refine_match_ratio"), "no exact refine in the sample")
    else put("operators.refine_match_ratio", refineHits.toDouble / refines)
    put("operators.match_rate", matches.toDouble / ords.length)
  }

  /** term_join_skew: the term-join counters, with the engine's own term
    * functions and its default skew-detection parameters. `matches` is the
    * checked result size of one job. */
  def termOperators(matches: Long): Unit = {
    import spark.implicits._
    val poly = S2TextFormat.parsePolygon(TermJoinSkew.polyText)
    val slim = table.select(col("doc_id"), col("lat").cast("double").as("lat"),
      col("lng").cast("double").as("lng"))
    val docTerms = S2Joins.docIndexTerms(slim, indexer)
    put("operators.terms_per_doc",
      points.map(p => indexer.indexTermsForPoint(p.x, p.y, p.z).length).sum.toDouble / points.length)
    val q = indexer.queryTerms(poly)
    put("operators.query_terms", q.length.toDouble)
    val candidates = docTerms.join(q.toSeq.toDF("term"), "term").count()
    put("operators.term_candidates", candidates.toDouble)
    put("operators.term_refine_match_ratio", if (candidates == 0) 0.0 else matches.toDouble / candidates)
    // termPolygonJoin defaults: saltThreshold 2M, sample fraction 0.001, 64 MB gate
    val fraction = 0.001
    def detect() = Skew.hotTerms(
      S2Joins.docIndexTerms(slim.sample(withReplacement = false, fraction, seed = 42L), indexer)
        .select("term"), "term", threshold = math.max(1L, (2000000L * fraction).toLong))
    put("operators.skew_detect_s", seconds(detect()))
    val hot = detect()
    put("operators.hot_terms", hot.size.toDouble)
    val estimate = slim.queryExecution.optimizedPlan.stats.sizeInBytes
    notes("skew_gate_size_estimate_bytes") = estimate.toLong
    put("operators.salted", if (estimate >= BigInt(64L << 20) && hot.nonEmpty) 1.0 else 0.0)
  }
}

object Layers {
  val SampleDocs = 50000
  val coreKeys = Seq("core.latlng_to_point_ns", "core.cellid_from_point_ns",
    "core.cellid_to_point_ns", "core.region_contains_ns", "core.term_index_ns",
    "core.query_terms_us", "core.covering_us", "core.covering_cells")
  val knnKeys = Seq("operators.knn_broadcast_s", "operators.knn_ladder_s",
    "operators.knn_dist_evals_per_doc", "operators.knn_ladder_jobs")
  val planKeys = Seq("plans.planning_ms", "plans.exchanges", "plans.broadcast_exchanges",
    "plans.nested_loop_joins")
  val execKeys = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.busy_share", "exec.cpu_s",
    "exec.gc_s", "exec.input_bytes", "exec.input_rows", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_fetch_wait_s", "exec.spill_disk_bytes",
    "exec.task_skew", "exec.task_failures")
}
