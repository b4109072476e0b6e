package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, WholeStageCodegenExec}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import graft.core._
import graft.functions.{S2, S2SpatialKernels}

/** Distributed spatial joins over S2 cell keys — the engine's flagship
  * operators (SURVEY.md §2.10). Two physical strategies for region joins,
  * chosen by the caller:
  *
  *  1. broadcast  — regions side fits in memory: a [[RegionStab]] over
  *     all region coverings ships with the plan and is stabbed with each
  *     doc's leaf cell. Zero shuffle over the big side; exact refine runs
  *     only on candidates whose covering cell was not an interior cell.
  *     This is the 100 TB plan whenever the dimension side is ≤ ~1M
  *     covering cells (the common case: country/tile/geofence tables).
  *
  *  2. terms      — both sides large: S2RegionTermIndexer semantics
  *     (/root/reference/src/s2/s2region_term_indexer.cc:27-72): docs emit
  *     ancestor terms for their leaf cell, regions emit covering +
  *     ancestor-covering terms; two regions intersect iff they share ≥1
  *     term, so the spatial join becomes a plain equi-join Catalyst can
  *     hash/sort-merge and AQE can skew-split (the one skew mechanism:
  *     no join rewrites its keys), followed by the exact refine.
  *
  * The same two shapes carry tile assignment ([[tileAssign]], by a
  * [[TileStab]]; fused with the broadcast join in [[regionTileCounts]],
  * which runs the same two per-row kernels) and the kNN joins
  * ([[knnJoin]] ships the targets to every task, [[knnJoinLarge]] runs
  * a radius ladder of term joins).
  *
  * Dimension-side indexes ride the serialized plan or task closure (the
  * plan ships the stab of [[regionHits]] and the query-term set of
  * [[termPolygonJoin]]; the closures ship the stabs of
  * [[regionTileCounts]] and [[knnJoin]]'s targets and pruning indexes),
  * so no call leaves a broadcast behind. The fused pass also rejects
  * docs outside every region's rect bound on a 1° [[LatLngGrid]] before
  * any trig.
  *
  * All joins carry every payload column (notably `spans`) untouched —
  * the span-sequence invariant is preserved structurally because spans are
  * never exploded or rebuilt.
  */
object S2Joins {

  /** Ingest: add derived geometry columns from lat/lng degrees —
    * unit-vector point, leaf cell id, and the order-preserving Hilbert
    * sort key (id ^ Long.MinValue; see SURVEY.md §7.4 on signed order). */
  def withCellId(df: DataFrame, latDeg: Column, lngDeg: Column): DataFrame =
    df.withColumn("cell_id", S2.cellId(latDeg, lngDeg))
      .withColumn("cell_ord", S2.orderKey(col("cell_id")))

  /** Hilbert-range repartition: co-locates spatially-near rows, making
    * parquet min/max stats on `cell_ord` prune like an S2CellUnion binary
    * search (SURVEY.md §4.2). Use before writing any large spatial table. */
  def hilbertRepartition(df: DataFrame, numPartitions: Int): DataFrame =
    df.repartitionByRange(numPartitions, col("cell_ord"))

  // =======================================================================
  // 1. broadcast contains/intersects join
  // =======================================================================

  /** docs ⋈ regions with `region.contains(point)` semantics.
    *
    * @param docs     must carry `cell_id` (see withCellId) + point source
    *                 columns latCol/lngCol for the exact refine
    * @param regions  labeled regions, shipped with the plan as covering
    *                 intervals; labels must be distinct (a repeated label
    *                 throws IllegalArgumentException)
    * @return docs rows × matching region label (column `qid`), all doc
    *         columns preserved.
    */
  def broadcastContainsJoin(docs: DataFrame, regions: Seq[(Int, S2Region)],
                            latCol: String = "lat", lngCol: String = "lng",
                            maxCellsPerRegion: Int = 64): DataFrame = {
    // No size()>0 pre-filter — explode of an empty array emits no rows,
    // and a filter would be pushed into the scan and evaluate the kernel
    // twice.
    docs.withColumn("qid", explode(regionHits(regions, latCol, lngCol, maxCellsPerRegion)))
  }

  /** The labels of the regions containing each row's point (null for a
    * row with a null `cell_ord`, lat or lng): one native stab-and-refine
    * expression per row (codegen, no arg boxing) over the rows'
    * `cell_ord`; interior covering cells skip the exact test. Labels must
    * be distinct. The [[RegionStab]] rides the serialized plan (small:
    * dimension-side coverings). */
  private[graft] def regionHits(regions: Seq[(Int, S2Region)], latCol: String,
                                lngCol: String, maxCellsPerRegion: Int = 64): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.S2StabMatch(
      toExpr(col("cell_ord")), toExpr(col(latCol).cast("double")),
      toExpr(col(lngCol).cast("double")), new RegionStab(regions, maxCellsPerRegion)))
  }

  // =======================================================================
  // 2. term equi-join (large × large)
  // =======================================================================

  /** Explode docs into index terms for their point — the point scheme
    * (ancestor terms at levels minLevel..trueMaxLevel only, ~13 terms with
    * reference defaults; s2region_term_indexer.cc:155-175). */
  def docIndexTerms(docs: DataFrame, indexer: S2TermIndexer,
                    latCol: String = "lat", lngCol: String = "lng"): DataFrame =
    docs.withColumn("term", explode(pointTerms(col(latCol), col(lngCol), indexer, None)))

  /** A point's index terms, restricted to the cells of `keep` (sorted ids)
    * when given. */
  private def pointTerms(lat: Column, lng: Column, indexer: S2TermIndexer,
                         keep: Option[Array[Long]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.S2PointIndexTermsExpr(
      toExpr(lat.cast("double")), toExpr(lng.cast("double")), indexer, keep))
  }

  /** The most plain query terms (counted per polygon) [[termPolygonJoin]]
    * prunes the doc terms to. The set rides the task binary of every
    * doc-term task as sorted cell ids: 32768 × 8 B = 256 KiB, a quarter
    * of the 1000 KiB task binary above which Spark's DAGScheduler warns.
    * A larger query side keeps every doc term. */
  private val TermPruneBound = 1 << 15

  /** Full term-join pipeline for polygon regions given as text: emits
    * (doc columns…, qid) after exact PIP refine. Both sides may be
    * arbitrarily large; the candidate step is a plain term equi-join.
    *
    * Contract: `doc_id` must be UNIQUE in `docs` (same contract as
    * [[Similarity.annTopK]]). The exactly-one-shared-term invariant makes
    * each (doc_id, qid) candidate arrive once PER DOC ROW — with
    * duplicate ids the final id-keyed payload re-join multiplies rows
    * (n matches × n payload rows); pre-dedupe upstream
    * (`dropDuplicates("doc_id")`) if ids can repeat.
    *
    * Shuffle discipline (the 100 TB shape): candidate generation runs
    * over an (doc_id, lat, lng) projection — each doc's ~13 exploded
    * ancestor terms carry three scalars through the exchange, never the
    * document payload (`spans` would otherwise ride the shuffle 13×).
    * Refined (doc_id, qid) matches re-join the full rows once, id-keyed
    * (AQE broadcasts the match side when selectivity allows).
    *
    * Skew: a continent-sized region's coarse ancestor term can match a
    * whole clustered doc population (s2density_tree.h:45-50). AQE's skew
    * join splits that term's partition when it is larger than
    * `spark.sql.adaptive.skewJoin.skewedPartitionFactor` × the median
    * partition and larger than `skewedPartitionThresholdInBytes` (Spark
    * defaults 5 and 256 MB); a split changes task sizes, never rows.
    *
    * Data-induced prune: when called, it runs ONE small job that collects
    * the plain (unmarked) query terms of `polys`, at most
    * [[TermPruneBound]] + 1 of them. Within the bound, each doc emits
    * only the terms in that set before the term shuffle: a doc term no
    * query shares cannot join, so the rows are the same. Above the bound
    * the doc side emits every term, as without the prune.
    *
    * A row with a null `doc_id` never matches (the id re-join drops it). */
  def termPolygonJoin(docs: DataFrame, polys: DataFrame,
                      polyTextCol: String = "poly", qidCol: String = "qid"): DataFrame =
    termPolygonJoinBounded(docs, polys, polyTextCol, qidCol, TermPruneBound)

  /** [[termPolygonJoin]] with its prune bound as a parameter. */
  private[graft] def termPolygonJoinBounded(docs: DataFrame, polys: DataFrame,
                                            polyTextCol: String, qidCol: String,
                                            pruneBound: Int): DataFrame = {
    val ix = S2SpatialKernels.indexer
    val q = polys.select(col(qidCol), col(polyTextCol),
      explode(S2.polygonQueryTerms(col(polyTextCol))).as("term"))
    // no distinct: it would add an exchange and a job; polygons sharing
    // terms only reach the bound sooner
    val plain = q.select("term").where(!col("term").startsWith(ix.marker))
      .limit(pruneBound + 1).collect()
    val keep =
      if (plain.length > pruneBound) None
      else Some(plain.map(r => S2CellId.fromToken(r.getString(0))).distinct.sorted)
    val slim = docs.select(col("doc_id"),
      col("lat").cast("double").as("lat"), col("lng").cast("double").as("lng"))
    val d = slim.withColumn("term", explode(pointTerms(col("lat"), col("lng"), ix, keep)))
    val matches = d.join(q, "term")
      // no (doc, qid) dedup: a point doc's plain ancestor tokens meet a
      // region query's plain tokens (its DISJOINT covering cells) at most
      // once, so each candidate pair arrives exactly once — the invariant
      // S2SpatialJoinRule proves and SpatialSqlJoinSpec fuzz-tests. Dropping
      // the dedup removes a full shuffle of the candidate set.
      .where(S2.contains(col(polyTextCol), col("lat"), col("lng")))
      .select(col("doc_id"), col(qidCol))
    docs.join(matches, "doc_id")
  }

  /** `WHERE EXISTS` over a spatial predicate, re-expressed soundly.
    *
    * [[graft.plans.S2SpatialJoinRule]] consciously does NOT rewrite
    * LeftSemi joins: the point side explodes ~13 ancestor index terms, so
    * a semi join over the exploded child would admit a matching row up to
    * 13 times, and collapsing the copies back needs a per-row identity a
    * logical rule cannot invent (its scaladoc documents the scoping).
    * This helper is the documented safe path for the EXISTS shape: an
    * INNER join on `condition` — which the rule plans as the term
    * equi-join + exact refine, never BroadcastNestedLoopJoin — projected
    * back to the left side and collapsed over `idCols`.
    *
    * Contract: `idCols` must uniquely identify `left` rows (the same
    * requirement [[graft.operators.RegionJoins.intersectsJoin]] states
    * for its id columns); duplicate ids would collapse distinct rows.
    * Cost at scale: one term equi-join plus one dedup shuffle keyed on
    * the id columns of the MATCHED subset only — no second pass over
    * `left`. */
  def existsJoin(left: DataFrame, idCols: Seq[String], right: DataFrame,
                 condition: Column): DataFrame = {
    require(idCols.nonEmpty,
      "existsJoin needs id columns that uniquely identify left rows")
    left.join(right, condition, "inner")
      .select(left.columns.toIndexedSeq.map(left(_)): _*)
      .dropDuplicates(idCols)
  }

  /** `WHERE NOT EXISTS` counterpart of [[existsJoin]]: the matched id set
    * (term equi-join + id-only dedup) is anti-joined back onto `left`.
    * Two joins are unavoidable — a non-matching row never appears in the
    * candidate join at all — but the second join's build side is ids
    * only (broadcastable whenever the match set is small). */
  def notExistsJoin(left: DataFrame, idCols: Seq[String], right: DataFrame,
                    condition: Column): DataFrame = {
    require(idCols.nonEmpty,
      "notExistsJoin needs id columns that uniquely identify left rows")
    val matched = left.join(right, condition, "inner")
      .select(idCols.map(left(_)): _*).dropDuplicates(idCols)
    left.join(matched, idCols, "left_anti")
  }

  // =======================================================================
  // 3. tile assignment (S2RegionSharder semantics)
  // =======================================================================

  /** Assign each doc to the tile whose cell union contains its leaf cell
    * (most-intersecting on ties — S2RegionSharder
    * GetMostIntersectingShard, /root/reference/src/s2/s2region_sharder.cc:32-153).
    * The [[TileStab]] rides the serialized plan; narrow map over docs;
    * `default` for docs outside all tiles. */
  def tileAssign(docs: DataFrame, tiles: Seq[(Int, Array[Long])],
                 default: Int = -1): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    docs.withColumn("tile_id",
      toCol(graft.functions.S2TileAssign(toExpr(col("cell_id")), new TileStab(tiles), default)))
  }

  /** Fused covering+PIP join → tile assignment → per-(region, tile)
    * counts: ONE imperative pass per partition over the scanned (lat,lng)
    * columns with zero intermediate row materialization, followed by a
    * driver-side merge of |regions|×|tiles| count matrices (bounded,
    * dimension-sized — the distributed analogue is treeReduce).
    *
    * Produces exactly the rows of
    * `tileAssign(broadcastContainsJoin(docs, regions), tiles)
    *    .groupBy("qid", "tile_id").count()` (differential-tested), but
    * without the Generate/UnsafeRow churn between the stab and the agg —
    * that materialization was measured to inflate per-task CPU ~1.7x at
    * 32 threads (allocation pressure), capping the flagship's scaling.
    * This is the "genuine per-partition imperative logic" case: the whole
    * query is an aggregation whose groups are statically known.
    *
    * Before its trig and cell id, a row is tested against a [[LatLngGrid]]
    * of the regions' widened rect bounds, one O(1) bitmap probe whatever
    * the region count: most docs of a large table fall in no region and
    * stop there. Rows with NaN or out-of-range coordinates skip the probe.
    *
    * Each row then takes the same two kernels as the compositional plan:
    * [[RegionStab.hits]] for the regions containing it and
    * [[TileStab.slotOf]] for its tile. Each call builds the stab, the tile
    * stab and the grid from its regions and tiles as they are then, and
    * plans its `(lat, lng)` scan afresh, so it reads the input's current
    * files; nothing is kept between calls. Both stabs ride the task
    * closure to the executors, as [[regionHits]]' stab rides its plan. A
    * bare columnar scan of two double columns (a parquet table) is read
    * batch by batch; any other plan row by row.
    *
    * Region labels must be distinct; labels and tile ids may be negative
    * or sparse, and a repeated tile id's cells are merged.
    *
    * Executes EAGERLY (runs a job) and returns a small local DataFrame. */
  def regionTileCounts(docs: DataFrame, regions: Seq[(Int, S2Region)],
                       tiles: Seq[(Int, Array[Long])],
                       latCol: String = "lat", lngCol: String = "lng",
                       maxCellsPerRegion: Int = 64): DataFrame = {
    val stab = new RegionStab(regions, maxCellsPerRegion)
    val tileStab = new TileStab(tiles)
    val grid = LatLngGrid.of(regions.map(_._2.rectBound))
    val nT = tileStab.size

    // null lat/lng rows are dropped — matching the compositional plan,
    // whose null-intolerant native expressions never emit them
    val merged = (latLngScan(docs, latCol, lngCol) match {
      case Left(batches) => batches.mapPartitions { it =>
        val c = new FusedCounts(stab, tileStab, grid)
        while (it.hasNext) {
          val b = it.next(); val la = b.column(0); val ln = b.column(1)
          var i = 0
          while (i < b.numRows) {
            if (!la.isNullAt(i) && !ln.isNullAt(i)) c.add(la.getDouble(i), ln.getDouble(i))
            i += 1
          }
        }
        Iterator.single(c.counts)
      }
      case Right(rows) => rows.mapPartitions { it =>
        val c = new FusedCounts(stab, tileStab, grid)
        while (it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(0) && !r.isNullAt(1)) c.add(r.getDouble(0), r.getDouble(1))
        }
        Iterator.single(c.counts)
      }
    }).reduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }

    val rows = new java.util.ArrayList[Row]()
    for (ri <- 0 until stab.size; ti <- 0 to nT; c = merged(ri * (nT + 1) + ti) if c > 0)
      rows.add(Row(stab.labels(ri), if (ti < nT) tileStab.ids(ti) else -1, c))
    docs.sparkSession.createDataFrame(rows, RegionTileCountsSchema)
  }

  /** One partition's |regions|×(|tiles|+1) count matrix of the fused
    * pass; slot layout region-slot * (nT + 1) + tile-slot, the last column
    * is the outside-all-tiles default. */
  private final class FusedCounts(stab: RegionStab, tiles: TileStab, grid: LatLngGrid) {
    private val nT = tiles.size
    private val slots = new Array[Int](stab.size)
    val counts = new Array[Long](stab.size * (nT + 1))

    def add(lat: Double, lng: Double): Unit = if (grid.mayContain(lat, lng)) {
      val cellId = S2CellId.fromLatLngDegrees(lat, lng)
      val n = stab.hits(S2CellId.orderKey(cellId), lat, lng, slots)
      if (n > 0) {
        val t = tiles.slotOf(cellId)
        val col = if (t >= 0) t else nT
        var i = 0
        while (i < n) { counts(slots(i) * (nT + 1) + col) += 1L; i += 1 }
      }
    }
  }

  /** The docs' (lat, lng) in degrees: the scan's column batches when the
    * plan is a bare columnar scan of two double columns (no row
    * conversion, and no per-row buffering in a codegen iterator),
    * otherwise the rows of the projection cast to double. */
  private def latLngScan(docs: DataFrame, latCol: String, lngCol: String)
      : Either[RDD[ColumnarBatch], RDD[InternalRow]] = {
    val plan = docs.select(col(latCol), col(lngCol)).queryExecution.executedPlan
    plan match {
      case WholeStageCodegenExec(ColumnarToRowExec(scan))
          if scan.output == plan.output && plan.output.forall(_.dataType == DoubleType) =>
        Left(scan.executeColumnar())
      case _ =>
        Right(docs.select(col(latCol).cast("double"), col(lngCol).cast("double"))
          .queryExecution.toRdd)
    }
  }

  private val RegionTileCountsSchema = StructType(Seq(
    StructField("qid", IntegerType, nullable = false),
    StructField("tile_id", IntegerType, nullable = false),
    StructField("count", LongType, nullable = false)))

  // =======================================================================
  // 4. kNN join (S2ClosestPointQuery semantics)
  // =======================================================================

  /** For each target, the k nearest docs (chord-angle metric, exact).
    *
    * Physical plan: targets ride the task closure → each partition
    * computes its local top-k per target with a bounded insertion heap
    * (map-side partial top-k, the aggregation analogue of the reference's
    * best-first prune, s2closest_point_query_base.h:259-327) → one small
    * shuffle of ≤ partitions×targets×k rows → global top-k via window.
    * Distance ties break by doc_id ascending (deterministic).
    *
    * For target sets ≥ `prefilterFrom`, the per-doc O(targets) scan is
    * replaced by spatially-pruned candidate stabs (the index-pruned
    * best-first search, s2closest_point_query_base.h:259-327, re-expressed
    * for the per-TARGET top-k direction). Because correctness is per
    * target ("its k globally nearest docs"), a doc may only be skipped for
    * target t when its distance provably exceeds t's k-th distance — which
    * requires a bound on that k-th distance first. Two passes:
    *
    *  1. certify: one counting pass over docs through a fixed geometric
    *     ladder of per-target cap coverings (`LadderRadii`, the default
    *     ladder of [[knnJoinLarge]]); each doc exact-distance-buckets
    *     itself into the smallest ring that contains it, giving per-target
    *     ring histograms. The smallest ring r_t holding ≥ k docs certifies
    *     kth(t) ≤ chord(r_t).
    *  2. collect: stab one interval index of cap(t, r_t) coverings; a doc
    *     updates target t's heap only when d ≤ chord(r_t) — every true
    *     top-k member qualifies, so results are exact.
    *
    * Targets the ladder cannot certify (< k docs within the largest ring)
    * are scanned against every doc in pass 2 — by construction they live
    * in near-empty space, and that scan is never worse than the unpruned
    * path. Docs with a null coordinate are skipped.
    * Per-doc work scales with local target density, not target count
    * (asserted sublinear by the 10⁴-target differential in S2JoinsSpec via
    * `distEvals`).
    *
    * Contract: `docs` must be DETERMINISTIC across jobs — the two pruned
    * passes scan it independently, so a non-reproducible input (sample(),
    * limit() off an unordered shuffle, rand()) could make pass-2 rows
    * inconsistent with the bounds pass-1 certified and silently drop true
    * neighbors. Cache/checkpoint such inputs first (any parquet/table
    * scan plus deterministic transforms is fine as-is).
    *
    * Returns (qid, doc_id, dist2, rank). */
  def knnJoin(docs: DataFrame, targets: Seq[(Int, V3)], k: Int,
              idCol: String = "doc_id",
              latCol: String = "lat", lngCol: String = "lng",
              prefilterFrom: Int = 64,
              distEvals: org.apache.spark.util.LongAccumulator = null): DataFrame = {
    val ts = targets.toArray
    if (ts.length < prefilterFrom)
      knnFinish(knnPartialScan(docs, ts, (0 until ts.length).toArray, k,
        idCol, latCol, lngCol, null, distEvals), k)
    else
      knnJoinPruned(docs, ts, k, idCol, latCol, lngCol, distEvals)
  }

  /** The radius ladder (radians) of both kNN joins: [[knnJoin]]'s
    * certification rings and [[knnJoinLarge]]'s default rounds. */
  private val LadderRadii = Seq(0.005, 0.02, 0.08, 0.32)

  /** Shared heap ordering: keep the k smallest by (dist2, id asc); the
    * max-heap orders lexicographically so the worst kept element sits on
    * top. */
  private val knnHeapOrd = new Ordering[(Double, Any)] {
    def compare(a: (Double, Any), b: (Double, Any)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c
      else a._2.asInstanceOf[Comparable[Any]].compareTo(b._2)
    }
  }

  /** Map-side partial top-k: each partition keeps a bounded heap per
    * target slot listed in `slots`. When `pruner` is non-null it is
    * (capIndex, perSlotChordBound, tailSlots): docs stab the index and
    * test only candidate + tail slots, skipping any candidate whose exact
    * distance exceeds its slot's certified bound. Emits
    * ≤ partitions×|slots|×k rows (qid, doc_id, dist2). */
  private def knnPartialScan(docs: DataFrame, ts: Array[(Int, V3)],
                             slots: Array[Int], k: Int,
                             idCol: String, latCol: String, lngCol: String,
                             pruner: (CellIntervalIndex, Array[Double], Array[Int]),
                             distEvals: org.apache.spark.util.LongAccumulator): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val in = docs.select(col(idCol), col(latCol).cast("double"), col(lngCol).cast("double"))
    val outSchema = StructType(Seq(
      StructField("qid", IntegerType, nullable = false),
      in.schema.fields(0).copy(name = "doc_id"),
      StructField("dist2", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val slotsArr = slots
    val ord = knnHeapOrd

    in.mapPartitions { it =>
      // heap per GLOBAL slot (sparse map avoided: slot count is bounded)
      val heaps = new Array[scala.collection.mutable.PriorityQueue[(Double, Any)]](ts.length)
      slotsArr.foreach { s =>
        heaps(s) = new scala.collection.mutable.PriorityQueue[(Double, Any)]()(ord) }
      var evals = 0L
      @inline def push(slot: Int, d: Double, id: Any): Unit = {
        val h = heaps(slot)
        if (h.size < k) h.enqueue((d, id))
        else if (ord.compare((d, id), h.head) < 0) { h.dequeue(); h.enqueue((d, id)); () }
      }
      it.foreach { r =>
        if (!r.isNullAt(1) && !r.isNullAt(2)) {
          val id = r.get(0)
          val p = V3.fromLatLngDegrees(r.getDouble(1), r.getDouble(2))
          if (pruner == null) {
            var i = 0
            while (i < slotsArr.length) {
              val s = slotsArr(i)
              evals += 1
              push(s, (p - ts(s)._2).norm2, id)
              i += 1
            }
          } else {
            val (idx, bound, tail) = pruner
            val ordKey = S2CellId.orderKey(S2CellId.fromPoint(p.x, p.y, p.z))
            val cand = idx.labelsContaining(ordKey)
            var i = 0
            while (i < cand.length) {
              val s = cand(i)
              evals += 1
              val d = (p - ts(s)._2).norm2
              if (d <= bound(s)) push(s, d, id)
              i += 1
            }
            i = 0
            while (i < tail.length) {
              val s = tail(i)
              evals += 1
              push(s, (p - ts(s)._2).norm2, id)
              i += 1
            }
          }
        }
      }
      if (distEvals != null) distEvals.add(evals)
      slotsArr.iterator.flatMap { s =>
        heaps(s).iterator.map { case (d, id) => Row(ts(s)._1, id, d) }
      }
    }(enc)
  }

  /** Global top-k finish: ranks each target's rows by (dist2, doc id
    * ascending) — the one tie order of both kNN joins — and keeps ranks
    * ≤ k. Over [[knnPartialScan]]'s output this is one small shuffle of
    * ≤ partitions×targets×k scalar rows + a window over that tiny set. */
  private def knnFinish(partial: DataFrame, k: Int,
                        qidCol: String = "qid", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(qidCol).orderBy(col("dist2"), col(idCol))
    partial.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Ring-certified pruned kNN (see [[knnJoin]] scaladoc for the scheme). */
  private def knnJoinPruned(docs: DataFrame, ts: Array[(Int, V3)], k: Int,
                            idCol: String, latCol: String, lngCol: String,
                            distEvals: org.apache.spark.util.LongAccumulator): DataFrame = {
    val nT = ts.length
    val nRings = LadderRadii.length
    val radii = LadderRadii.toArray
    val ringChord2 = radii.map(S1ChordAngle.fromRadians)
    // ring indexes are independent: build them on driver threads (the
    // coverer is per-thread — it is cheap, not thread-shared state)
    val rings: Array[CellIntervalIndex] = {
      val out = new Array[CellIntervalIndex](nRings)
      val threads = radii.indices.map { ri =>
        new Thread(() => {
          val cov = new S2RegionCoverer(8, 0, 30)
          out(ri) = CellIntervalIndex.build((0 until nT).map { i =>
            (i, cov.getCovering(S2Cap.fromCenterAngle(ts(i)._2, radii(ri))),
              Array.empty[Long])
          })
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      out
    }
    val tPts = ts.map(_._2)

    // ---- pass 1: per-target ring histograms (exact distances) ----
    val counts = docs
      .select(col(latCol).cast("double"), col(lngCol).cast("double"))
      .queryExecution.toRdd.mapPartitions { it =>
        val histo = new Array[Long](nT * nRings)
        val dStamp = new Array[Int](nT)
        val dVal = new Array[Double](nT)
        val counted = new Array[Int](nT)
        var docNo = 0
        var evals = 0L
        while (it.hasNext) {
          val row = it.next()
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            docNo += 1
            val p = V3.fromLatLngDegrees(row.getDouble(0), row.getDouble(1))
            val ordKey = S2CellId.orderKey(S2CellId.fromPoint(p.x, p.y, p.z))
            var ri = 0
            while (ri < nRings) {
              val cand = rings(ri).labelsContaining(ordKey)
              var ci = 0
              while (ci < cand.length) {
                val t = cand(ci)
                if (counted(t) != docNo) {
                  val d =
                    if (dStamp(t) == docNo) dVal(t)
                    else {
                      evals += 1
                      val dd = (p - tPts(t)).norm2
                      dStamp(t) = docNo; dVal(t) = dd; dd
                    }
                  if (d <= ringChord2(ri)) { histo(t * nRings + ri) += 1; counted(t) = docNo }
                }
                ci += 1
              }
              ri += 1
            }
          }
        }
        if (distEvals != null) distEvals.add(evals)
        Iterator.single(histo)
      }.reduce { (a, b) =>
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }

    // certified radius slot per target: smallest ring holding >= k docs
    val ringOf = Array.fill(nT)(-1)
    var t = 0
    while (t < nT) {
      var cum = 0L; var ri = 0
      while (ri < nRings && ringOf(t) < 0) {
        cum += counts(t * nRings + ri)
        if (cum >= k) ringOf(t) = ri
        ri += 1
      }
      t += 1
    }
    val certified = (0 until nT).filter(ringOf(_) >= 0).toArray
    val tail = (0 until nT).filter(ringOf(_) < 0).toArray

    // ---- pass 2: stab cap(t, r_t), heap only certified candidates + tail ----
    val cov2 = new S2RegionCoverer(8, 0, 30)
    val capIdx = CellIntervalIndex.build(certified.toSeq.map { s =>
      (s, cov2.getCovering(S2Cap.fromCenterAngle(tPts(s), radii(ringOf(s)))),
        Array.empty[Long])
    })
    val bound = new Array[Double](nT)
    certified.foreach(s => bound(s) = ringChord2(ringOf(s)))
    val partial = knnPartialScan(docs, ts, (0 until nT).toArray, k,
      idCol, latCol, lngCol, (capIdx, bound, tail), distEvals)
    knnFinish(partial, k)
  }

  /** kNN join with BOTH sides large (targets NOT broadcastable): for each
    * target row, the k nearest docs. Iterative radius escalation — each
    * round, still-unsatisfied targets emit cap(r) covering query terms and
    * equi-join the docs' (precomputed) index terms; a target is certified
    * once its k-th candidate distance provably lies inside the searched
    * radius (candidates at radius r include every doc within r). Each
    * round is one term equi-join + per-target top-k — the large×large
    * analogue of [[knnJoin]]'s broadcast path. The ladder always finishes
    * with a whole-sphere round whose candidates are every doc with
    * coordinates, so that round certifies every target it returns rows
    * for: the k nearest docs, or all of them when fewer than k exist.
    * Targets with a null coordinate get no rows.
    *
    * Contract: `idCol` must be UNIQUE in `docs` — the per-round candidate
    * stream relies on the exactly-one-shared-term invariant instead of a
    * (qid, doc) dedup shuffle, so a duplicated doc id would occupy
    * multiple top-k rank slots and displace a true neighbor; pre-dedupe
    * upstream if ids can repeat.
    *
    * Returns (qid, doc_id, dist2, rank) like [[knnJoin]]. */
  def knnJoinLarge(docs: DataFrame, targets: DataFrame, k: Int,
                   qidCol: String = "qid",
                   tLatCol: String = "t_lat", tLngCol: String = "t_lng",
                   idCol: String = "doc_id",
                   latCol: String = "lat", lngCol: String = "lng",
                   radii: Seq[Double] = LadderRadii): DataFrame = {
    val docTerms = docIndexTerms(
      docs.select(col(idCol), col(latCol).cast("double").as(latCol),
        col(lngCol).cast("double").as(lngCol)),
      S2SpatialKernels.indexer, latCol, lngCol)
      .select(col(idCol), col(latCol), col(lngCol), col("term"))
    // the same double arithmetic as knnJoin's (p - t).norm2, so both
    // joins see bit-equal distances and break ties identically
    val dist2 = udf { (tLat: Double, tLng: Double, lat: Double, lng: Double) =>
      (V3.fromLatLngDegrees(tLat, tLng) - V3.fromLatLngDegrees(lat, lng)).norm2
    }

    var unsatisfied = targets.select(col(qidCol),
      col(tLatCol).cast("double").as(tLatCol), col(tLngCol).cast("double").as(tLngCol))
      .where(col(tLatCol).isNotNull && col(tLngCol).isNotNull)
    var results: DataFrame = null
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the ladder always ends at pi: that cap's covering is denormalized to
    // all 1,536 level-4 cells and every doc's index terms include its
    // level-4 ancestor, so the last round sees every doc with coordinates
    // and needs no certification check
    val fullRadii = if (radii.lastOption.contains(math.Pi)) radii else radii :+ math.Pi
    // per earlier round: ONE action (the eager count of still-unsatisfied
    // targets, which also materializes its cache); candidates are cached
    // because both the certification aggregate and the result join read them
    var unsatCount = -1L
    for ((r, round) <- fullRadii.zipWithIndex if unsatCount != 0) {
      val q = unsatisfied.withColumn("term",
        explode(S2.capQueryTerms(col(tLatCol), col(tLngCol), lit(r))))
      // No (qid, doc) dedup needed: a point doc's index terms are plain
      // ancestor tokens, and the only plain tokens a cap query emits are
      // its covering cells — a normalized DISJOINT union, of which at
      // most one lies on the doc's ancestor chain, so each (target, doc)
      // candidate pair arrives exactly once (same invariant
      // S2SpatialJoinRule relies on; fuzz-tested in SpatialSqlJoinSpec).
      // Skipping the dedup also lets Spark's WindowGroupLimit rewrite
      // run the rank filter map-side: each input task forwards at most k
      // rows per target into the window exchange, so the shuffled volume
      // is O(tasks × targets × k), independent of candidate count.
      val cands = knnFinish(docTerms.join(q, "term").drop("term")
        .withColumn("dist2", dist2(col(tLatCol), col(tLngCol), col(latCol), col(lngCol))),
        k, qidCol, idCol)
      val roundResult =
        if (round == fullRadii.length - 1) cands.select(qidCol, idCol, "dist2", "rank")
        else {
          cands.cache()
          cached += cands
          // certified iff k candidates exist and the k-th is inside radius r
          val perTarget = cands.groupBy(qidCol)
            .agg(count(lit(1)).as("n"), max("dist2").as("kth"))
            .where(col("n") >= k && col("kth") <= S1ChordAngle.fromRadians(r))
          unsatisfied = unsatisfied.join(perTarget.select(qidCol), Seq(qidCol),
            "left_anti").cache()
          cached += unsatisfied
          val certified = cands.join(perTarget.select(qidCol), qidCol)
            .select(qidCol, idCol, "dist2", "rank").cache()
          cached += certified
          unsatCount = unsatisfied.count()
          certified
        }
      results = if (results == null) roundResult
        else results.unionByName(roundResult)
    }
    // materialize before releasing the per-round caches the plan reads
    val rows = results.cache()
    rows.count()
    cached.foreach(df => { df.unpersist(blocking = false); () })
    rows
  }

  /** Distance join: docs within `radiusRad` of any target cap center.
    * Broadcast caps as an interval index of their coverings; refine with
    * the exact chord test. */
  def withinDistanceJoin(docs: DataFrame, targets: Seq[(Int, V3)],
                         radiusRad: Double): DataFrame = {
    val regions = targets.map { case (id, c) =>
      (id, S2Cap.fromCenterAngle(c, radiusRad): S2Region) }
    broadcastContainsJoin(docs, regions)
  }
}
