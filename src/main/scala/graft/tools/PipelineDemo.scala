package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DocSource
import graft.runtime.StageRunner

/** End-to-end drive of the north-rule job on a synthetic docs table:
  * ingest (cell ids) → covering + PIP spatial join → tile assignment,
  * checkpoint-resumable, with the span-sequence invariant asserted at
  * every stage boundary. Run:
  *   sbt "runMain graft.tools.PipelineDemo [nDocs] [cores]"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 50000L
    val cores = if (args.length > 1) args(1).toInt else 8
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .appName("graft-pipeline-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ckpt = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val runner = new StageRunner(spark, ckpt, s"demo-$n")

    val t0 = System.nanoTime()

    // stage 1: ingest — derive leaf cell + Hilbert order key
    val docs = runner.stage("ingest") {
      S2Joins.withCellId(DocSource.docs(spark, n), col("lat"), col("lng"))
    }.cache()

    // stage 2: covering + PIP join against the flagship's 6
    // polygon/cap/rect regions
    val regions = graft.Bench.benchRegions
    val joined = runner.stage("pip_join") {
      S2Joins.broadcastContainsJoin(docs, regions)
    }

    // stage 3: tile assignment — all level-2 cells → 24 tiles
    val tiles = graft.Bench.benchTiles
    val tiled = runner.stage("tile_assign") {
      S2Joins.tileAssign(joined, tiles)
    }

    val byRegion = tiled.groupBy("qid").count().orderBy("qid").collect()
    // span-sequence invariant: recompute the order-sensitive fingerprint on
    // the final stage output and compare with the one stamped at ingest
    val fpViolations = spark.read.parquet(s"$ckpt/demo-$n/tile_assign/data")
      .where(DocSource.spansFingerprint(col("spans")) =!= col("spans_fp"))
      .count()
    val secs = (System.nanoTime() - t0) / 1e9

    println(s"== pipeline: $n docs, ${regions.size} regions, ${tiles.size} tiles ==")
    byRegion.foreach(r => println(s"  region ${r.getInt(0)}: ${r.getLong(1)} docs"))
    println(s"  tiles used: ${tiled.select("tile_id").distinct().count()}")
    runner.results.foreach(r =>
      println(s"  stage ${r.name}: rows=${r.rows} checksum=${r.checksum} " +
        s"partitions=${r.partitions.length} skipped=${r.skipped}"))
    require(fpViolations == 0, s"span invariant violated on $fpViolations rows")
    println(s"  span-fp invariant violations after join+tile: $fpViolations")
    println(f"  wall: $secs%.1f s  (${n / secs}%.0f docs/sec end-to-end)")

    // resume check: second runner skips all stages
    val runner2 = new StageRunner(spark, ckpt, s"demo-$n")
    runner2.stage("ingest")(sys.error("no rebuild"))
    runner2.stage("pip_join")(sys.error("no rebuild"))
    runner2.stage("tile_assign")(sys.error("no rebuild"))
    println(s"  resume: all ${runner2.results.count(_.skipped)}/3 stages skipped")

    // plan audit: the join must be a narrow map over docs (no shuffle)
    val plan = S2Joins.broadcastContainsJoin(docs, regions)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(plan).length
    println(s"  pip_join physical plan exchanges: $shuffles (expect 0)")
    spark.stop()
  }
}
