package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.S2

/** Spatial density and hot-term statistics — the distributed
  * re-expression of S2DensityTree (/root/reference/src/s2/s2density_tree.h:45-243):
  * a cell→weight histogram whose rollup drives equal-weight sharding and
  * the hot-term counts. In the reference this is a driver-side tree; here the
  * histogram is a groupBy aggregate (map-side combined) and only the
  * ≤ 4^level compact rollup ever reaches the driver.
  */
object Density {

  /** Cell→weight histogram at `level` (one shuffle, partial-agg'd). */
  def cellDensity(docs: DataFrame, level: Int,
                  weight: Column = lit(1L)): DataFrame =
    docs.groupBy(S2.parent(col("cell_id"), level).as("cell"))
      .agg(sum(weight).as("weight"))

  /** Multi-level rollup: densities at levels `minLevel..maxLevel` in one
    * pass over the finest level (each coarser level aggregates the next
    * finer one — driver never sees row data). */
  def densityTree(docs: DataFrame, minLevel: Int, maxLevel: Int): DataFrame = {
    var cur = cellDensity(docs, maxLevel)
      .withColumn("level", lit(maxLevel))
    var out = cur
    var l = maxLevel - 1
    while (l >= minLevel) {
      cur = cur.groupBy(S2.parent(col("cell"), l).as("cell"))
        .agg(sum("weight").as("weight"))
        .withColumn("level", lit(l))
      out = out.unionByName(cur)
      l -= 1
    }
    out
  }

  /** Equal-weight shard boundaries on the Hilbert order via *adaptive*
    * histogram refinement (S2DensityTree::GetPartitioning semantics,
    * /root/reference/src/s2/s2density_tree.h:137-243): start from a coarse
    * level-k histogram, re-aggregate only the overweight cells at finer
    * levels (each pass is one filtered groupBy over docs — driver memory
    * stays O(shards + hot cells), never O(rows), so this works at any
    * scale), then cut the cell-ordered walk every `targetWeight`. */
  def equalWeightBoundaries(docs: DataFrame, level: Int, numShards: Int,
                            maxRefineLevel: Int = 16): Array[Long] = {
    // the histogram is collected to the driver: a full-table histogram
    // past level 12 (up to 6*4^12 ≈ 10^8 cells) is a driver OOM on dense
    // worldwide data — the adaptive refinement below reaches finer levels
    // only on already-hot SUBSETS, so cap the coarse entry level instead
    require(level <= 12, s"equalWeightBoundaries entry level $level would " +
      "collect up to 6*4^level cells to the driver; start at <= 12 and let " +
      "the adaptive refinement descend on hot cells")
    val totalAll = docs.count()
    if (totalAll == 0 || numShards <= 1) return Array.empty
    val targetW = math.max(1L, totalAll / numShards)

    def histAt(df: DataFrame, l: Int): Array[(Long, Long, Int)] =
      cellDensity(df, l)
        .select(S2.orderKey(col("cell")).as("ord"), col("weight"))
        .collect().map(r => (r.getLong(0), r.getLong(1), l))

    // airtight driver guard: the level cap alone still admits ~6*4^12 ≈
    // 1e8 occupied cells on uniformly dense worldwide data. Bound the
    // ACTUAL occupied-cell count with one cheap map-side HLL pass
    // (approx_count_distinct, ~2% error) and descend to a coarser entry
    // level until the coarse histogram provably fits on the driver — the
    // adaptive refinement below still reaches fine levels, but only on
    // already-hot subsets.
    val maxDriverCells = 2L * 1000 * 1000
    var entryLevel = level
    while (entryLevel > 2 && docs.agg(
        approx_count_distinct(S2.parent(col("cell_id"), entryLevel)))
        .head().getLong(0) > maxDriverCells)
      entryLevel -= 2

    var entries = histAt(docs, entryLevel)
    var curLevel = entryLevel
    while (curLevel < maxRefineLevel &&
           entries.exists { case (_, w, l) => w > targetW && l == curLevel }) {
      val next = curLevel + 4
      val hot = entries.filter { case (_, w, l) => w > targetW && l == curLevel }
        .map { case (ord, _, _) => S2CellId.fromOrderKey(ord) }
      val hotSet = hot.toSet
      val refined = histAt(
        docs.where(S2.parent(col("cell_id"), curLevel)
          .isin(hot.toIndexedSeq: _*)), math.min(next, maxRefineLevel))
      entries = entries.filterNot { case (ord, _, l) =>
        l == curLevel && hotSet.contains(S2CellId.fromOrderKey(ord)) } ++ refined
      curLevel = next
    }
    val hist = entries.sortBy(_._1).map { case (o, w, _) => (o, w) }
    // cut AFTER a cell's full leaf range so no cell's docs straddle a shard
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var acc = 0L
    for ((ord, w) <- hist if cuts.length < numShards - 1) {
      acc += w
      if (acc >= targetW) {
        val cell = S2CellId.fromOrderKey(ord)
        cuts += S2CellId.orderKey(S2CellId.rangeMax(cell)) + 1
        acc = 0L
      }
    }
    cuts.toArray
  }

  /** Shard id from precomputed boundaries (binary search; a deterministic
    * content-addressed partition key usable for bucketing AND resume). */
  def shardId(boundaries: Array[Long])(ord: Long): Int = {
    var l = 0; var r = boundaries.length
    while (l < r) { val m = (l + r) >>> 1; if (boundaries(m) <= ord) l = m + 1 else r = m }
    l
  }

  /** Density-balanced repartition: docs → numShards equal-weight spatial
    * shards (two jobs: tiny histogram collect + one shuffle). Preserves
    * Hilbert locality within each shard — this is the scale path for
    * writing sorted spatial tables with balanced file sizes under heavy
    * cluster skew. */
  def equalWeightRepartition(docs: DataFrame, level: Int, numShards: Int): DataFrame = {
    val bounds = equalWeightBoundaries(docs, level, numShards)
    if (bounds.isEmpty) return docs.repartition(numShards)
    val b = docs.sparkSession.sparkContext.broadcast(bounds)
    val sid = udf { (ord: Long) => shardId(b.value)(ord) }
    // range-partition on the shard id: 1:1 shard->partition mapping (plain
    // hash repartition would collide shards into shared partitions and
    // leave others empty — balls-into-bins defeats the balancing)
    docs.withColumn("shard", sid(col("cell_ord")))
      .repartitionByRange(numShards, col("shard"), col("cell_ord"))
      .sortWithinPartitions("cell_ord")
  }
}

/** Hot-term statistics for skewed term joins (SURVEY.md §4.3 item 2): a
  * continent-sized region's coarse covering term matches a huge doc set,
  * and that term's join partition is the one AQE's skew join splits. */
object Skew {
  /** Heavy hitters: (term → count) for every term seen more than
    * `threshold` times. Callers that want a sampled estimate sample
    * upstream and scale `threshold` — at 100 TB a full groupBy-count is
    * itself a large job, and heavy hitters by definition survive
    * sampling. */
  def hotTerms(docTerms: DataFrame, termCol: String, threshold: Long): Map[String, Long] =
    docTerms.groupBy(col(termCol)).count()
      .where(col("count") > threshold)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
}
