package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.S2
import graft.operators.S2Joins
import graft.core._

/** Structured-Streaming surface of the engine: continuous spatial ingest
  * and maintenance of cell-keyed state. The reference's only
  * streaming-shaped machinery is MutableS2ShapeIndex's buffered
  * Add/Remove + lazy batched rebuild
  * (/root/reference/src/s2/mutable_s2shape_index.cc:501,580-643); its
  * Spark-native analogue is a watermark-bounded windowed aggregation per
  * cell plus mapGroupsWithState for custom per-cell state.
  */
object StreamOps {

  /** Continuous ingest: derive leaf cell + order key on a stream with the
    * batch path's [[S2Joins.withCellId]] (narrow, watermark-free). */
  def withCellId(stream: DataFrame, latCol: String, lngCol: String): DataFrame =
    S2Joins.withCellId(stream, col(latCol), col(lngCol))

  /** Streaming density: windowed counts per level-k cell with watermark
    * (late data beyond `lateness` dropped; output = append-able). The
    * streaming analogue of Density.cellDensity. */
  def streamingCellDensity(stream: DataFrame, level: Int,
                           tsCol: String, window: String,
                           lateness: String): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window),
        S2.parent(col("cell_id"), level).as("cell"))
      .agg(count(lit(1)).as("weight"))

  /** Streaming region hit-stream: tag each event with the region labels
    * that contain it (the [[graft.operators.RegionStab]] rides the
    * serialized plan — same zero-shuffle plan as the batch join, applied
    * continuously). Labels must be distinct. */
  def streamingContainsTag(stream: DataFrame, regions: Seq[(Int, S2Region)],
                           latCol: String = "lat", lngCol: String = "lng"): DataFrame =
    stream.withColumn("region_hits", S2Joins.regionHits(regions, latCol, lngCol))

  /** Per-cell running state via mapGroupsWithState: maintains (count,
    * last-seen timestamp) per level-k cell with processing-time timeout —
    * the MutableS2ShapeIndex Add/lazy-apply analogue for point streams. */
  case class CellState(count: Long, lastSeenMs: Long)
  case class CellUpdate(cell: Long, count: Long, lastSeenMs: Long)

  /** Streaming exact dedup: emit only the FIRST occurrence of each
    * normalized-text content hash across the whole stream (the
    * training-pipeline dedup applied at ingest time). State per content
    * hash is one boolean — flatMapGroupsWithState keyed by the 64-bit
    * content hash, so state size is O(distinct docs), never text. Output
    * = (doc_id, content_hash) of first-seen rows (join back to payload
    * downstream by id, same discipline as the batch path). */
  case class DedupEmit(doc_id: Long, content_hash: Long)

  def streamingExactDedup(stream: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(idCol).cast("long").as("doc_id"),
        xxhash64(graft.operators.Dedup.normText(col(textCol))).as("content_hash"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, DedupEmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (hash: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // hash already emitted
          else {
            state.update(true)
            // deterministic representative within the micro-batch: min id
            var minId = Long.MaxValue
            rows.foreach { r => if (r._1 < minId) minId = r._1 }
            Iterator.single(DedupEmit(minId, hash))
          }
      }.toDF()
  }

  /** One (doc, band-bucket) probe result from the bucket-reserving pass:
    * `owned` = this doc reserved the bucket (it was unseen, and the doc is
    * the batch's deterministic representative for it). */
  case class BandProbe(doc_id: Long, owned: Boolean)

  case class BandProbeTs(doc_id: Long, ts: java.sql.Timestamp, owned: Boolean)

  /** Streaming NEAR-duplicate filter (bucket-reserving MinHash-LSH): admit
    * a doc iff EVERY one of its `bands` packed LSH band keys (bit-identical
    * to the batch [[graft.operators.Dedup.minHashCandidates]] keys) is
    * previously unseen in the stream. A near-duplicate of any earlier doc
    * shares ≥ 1 band bucket with it and is suppressed — including
    * near-duplicates of docs that were themselves suppressed, whose buckets
    * were reserved too. This is stream-order greedy, NOT batch connected
    * components: a later "bridge" doc sharing buckets with two
    * already-admitted docs is suppressed, but the two admitted docs stay
    * emitted (a batch cluster pass would have merged all three under one
    * representative — a stream cannot retract). Within a micro-batch the
    * representative for a bucket is the min doc_id (deterministic).
    *
    * Contracts and costs: docs with fewer than `shingleN` words produce no
    * signature and are silently dropped (same as the batch LSH path —
    * route shorts through [[streamingExactDedup]] instead). Bucket state
    * is one boolean per DISTINCT band bucket ever seen — O(distinct
    * buckets), never text or signatures (the all-history tradeoff, same
    * as [[streamingExactDedup]]); unrelated docs are falsely suppressed
    * only on a band-key collision (~2^-31 per band pair). The downstream
    * per-doc all-bands conjunction is ALSO stateful: with `tsCol` set
    * (recommended for long-running streams) it runs as a watermarked
    * window aggregation whose per-doc state is evicted `lateness` past
    * the doc's event time. The watermark cuts BOTH ways: a doc whose
    * event time lags the stream's max event time by more than `lateness`
    * is dropped by the windowed conjunction (never admitted) even though
    * its probes already reserved buckets — standard late-data semantics,
    * so size `lateness` to the stream's real disorder bound, and don't
    * mix deep backfills into a live tsCol stream. Without `tsCol` no row
    * is ever late, but the conjunction keeps one row per doc_id forever
    * (fine for bounded backfills only). Two chained stateful operators — run the
    * sink in Update mode; each doc_id emits exactly once. Returns the
    * admitted doc ids (join payload back by id downstream, the usual
    * ids-only discipline). */
  def streamingNearDupFilter(stream: DataFrame, idCol: String,
                             textCol: String, shingleN: Int = 3,
                             numHashes: Int = 64, bands: Int = 16,
                             tsCol: Option[String] = None,
                             lateness: String = "10 minutes"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val keys = graft.operators.Dedup.bandKeysColumn(
      col(textCol), shingleN, numHashes, bands)
    tsCol match {
      case None =>
        val probes = stream
          .select(col(idCol).cast("long").as("doc_id"),
            explode(keys).as("band_key"))
          .as[(Long, Long)]
          .groupByKey(_._2)
          .flatMapGroupsWithState[Boolean, BandProbe](
            OutputMode.Append(), GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]) =>
              val ids = rows.map(_._1).toArray
              if (state.exists) ids.iterator.map(BandProbe(_, owned = false))
              else {
                state.update(true)
                val rep = ids.min
                ids.iterator.map(id => BandProbe(id, owned = id == rep))
              }
          }.toDF()
        probes.groupBy("doc_id")
          .agg(min(when(col("owned"), 1).otherwise(0)).as("owned_all"))
          .where(col("owned_all") === 1)
          .select("doc_id")
      case Some(ts) =>
        val probes = stream
          .select(col(idCol).cast("long").as("doc_id"),
            col(ts).cast("timestamp").as("ts"), explode(keys).as("band_key"))
          .as[(Long, java.sql.Timestamp, Long)]
          .groupByKey(_._3)
          .flatMapGroupsWithState[Boolean, BandProbeTs](
            OutputMode.Append(), GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
             state: GroupState[Boolean]) =>
              val xs = rows.toArray
              if (state.exists)
                xs.iterator.map(r => BandProbeTs(r._1, r._2, owned = false))
              else {
                state.update(true)
                val rep = xs.iterator.map(_._1).min
                xs.iterator.map(r => BandProbeTs(r._1, r._2, owned = r._1 == rep))
              }
          }.toDF()
        // windowed conjunction: the window key lets the state store evict
        // a doc's row once the watermark passes its window (+lateness) —
        // non-windowed grouped aggregates never evict
        probes.withWatermark("ts", lateness)
          .groupBy(window(col("ts"), lateness), col("doc_id"))
          .agg(min(when(col("owned"), 1).otherwise(0)).as("owned_all"))
          .where(col("owned_all") === 1)
          .select("doc_id")
    }
  }

  /** Bounded-state streaming dedup: suppress duplicate content hashes that
    * arrive within the watermark delay of each other via
    * `dropDuplicatesWithinWatermark`. The state for a hash becomes
    * evictable once the watermark passes its event time, so state size is
    * bounded by (ingest rate x lateness) instead of growing with all-time
    * distinct documents — the tradeoff [[streamingExactDedup]] makes in
    * the other direction. At sustained 100 TB/day ingest this is the
    * variant whose state survives; pair it with a periodic batch
    * Dedup.exactDuplicates sweep for all-time exactness. */
  def streamingDedupBounded(stream: DataFrame, idCol: String, textCol: String,
                            tsCol: String, lateness: String): DataFrame =
    stream
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
        xxhash64(graft.operators.Dedup.normText(col(textCol))).as("content_hash"))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** A closed spatial visit: `entity` stayed inside level-`level` cell
    * `cell` from `enter_ts` to `exit_ts` (epoch millis), pinging
    * `n_pings` times. */
  case class Visit(entity: Long, cell: Long, enter_ts: Long, exit_ts: Long,
                   n_pings: Long)
  case class VisitState(enterMs: Long, lastMs: Long, count: Long)

  /** Event-time spatial sessionization: group a ping stream by
    * (entity, level-k cell) and emit one row per completed VISIT — closed
    * when no ping for that (entity, cell) arrives within `gapSeconds` of the
    * last one, judged in EVENT time against the stream's watermark (so
    * out-of-order pings inside the lateness bound still extend the right
    * visit, and state for a quiet cell is dropped exactly once). This is
    * the trajectory-pipeline "stay detection" primitive; state per open
    * visit is three longs. */
  def visitSessions(stream: DataFrame, entityCol: String, tsCol: String,
                    level: Int, lateness: String, gapSeconds: Long): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val gapMillis = gapSeconds * 1000L
    stream
      .select(col(entityCol).cast("long").as("entity"),
        S2.parent(col("cell_id"), level).as("cell"),
        col(tsCol).cast("timestamp").as("ts"))
      // watermark AFTER the select: casting/aliasing mints a new attribute
      // and would strip the event-time tag from the projected column
      .withWatermark("ts", lateness)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[VisitState, Visit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[VisitState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Visit(key._1, key._2, s.enterMs, s.lastMs, s.count))
          } else {
            var lo = Long.MaxValue; var hi = Long.MinValue; var n = 0L
            rows.foreach { r =>
              val t = r._3.getTime
              if (t < lo) lo = t
              if (t > hi) hi = t
              n += 1
            }
            val prev = state.getOption
            // a gap inside the batch itself can't occur (watermark bounds
            // disorder below `gap` in practice); merge into the open visit
            val next = prev match {
              case Some(s) => VisitState(math.min(s.enterMs, lo),
                math.max(s.lastMs, hi), s.count + n)
              case None => VisitState(lo, hi, n)
            }
            state.update(next)
            // close the visit when the WATERMARK passes last-ping + gap
            state.setTimeoutTimestamp(next.lastMs + gapMillis)
            Iterator.empty
          }
      }.toDF()
  }

  /** Stream-stream spatial co-location join: emit (a, b) pairs whose rows
    * fell in the SAME level-`level` cell within `maxGapSeconds` of each
    * other in event time. Both sides are watermarked (`lateness`), so the
    * join state each side buffers is bounded by lateness + maxGap — the
    * standard Spark stream-stream interval-join discipline applied to the
    * cell key. Output columns carry a_ / b_ prefixes (id, ts, cell). */
  def coLocationJoin(a: DataFrame, b: DataFrame, level: Int,
                     idColA: String, idColB: String,
                     tsColA: String, tsColB: String,
                     lateness: String, maxGapSeconds: Int): DataFrame = {
    val left = a
      .select(col(idColA).cast("long").as("a_id"), col(tsColA).as("a_ts"),
        S2.parent(col("cell_id"), level).as("a_cell"))
      .withWatermark("a_ts", lateness)
    val right = b
      .select(col(idColB).cast("long").as("b_id"), col(tsColB).as("b_ts"),
        S2.parent(col("cell_id"), level).as("b_cell"))
      .withWatermark("b_ts", lateness)
    left.join(right,
      col("a_cell") === col("b_cell") &&
        col("b_ts") >= col("a_ts") - expr(s"INTERVAL $maxGapSeconds SECONDS") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $maxGapSeconds SECONDS"))
  }

  def runningCellCounts(stream: DataFrame, level: Int,
                        timeout: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    // ProcessingTimeTimeout needs a continuous trigger to ever fire; the
    // default (no timeout) suits micro-batch + processAllAvailable flows.
    val mode = if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
               else GroupStateTimeout.NoTimeout
    stream
      .select(S2.parent(col("cell_id"), level).as("cell"))
      .as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[CellState, CellUpdate](mode) {
        (cell: Long, rows: Iterator[Long], state: GroupState[CellState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            CellUpdate(cell, s.count, s.lastSeenMs)
          } else {
            val prev = state.getOption.getOrElse(CellState(0L, 0L))
            val now = System.currentTimeMillis()
            val next = CellState(prev.count + rows.size, now)
            state.update(next)
            timeout.foreach(state.setTimeoutDuration)
            CellUpdate(cell, next.count, next.lastSeenMs)
          }
      }.toDF()
  }
}
