package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Bench
import graft.core._
import graft.operators.S2Joins
import graft.runtime.TableIO
import graft.sources.DocSource

/** The inputs of one workload inside one Spark session, ready to run jobs.
  * `job` is one complete job, returning its full result on the driver;
  * `oracle` computes the expected result by an independent plan. */
abstract class Inputs[R] {
  def job(): R
  def oracle(): R
  def check(got: R, want: R): Option[String]
  /** distance evaluations counted by the engine so far (kNN only) */
  def distEvals: Long = 0L
}

/** A workload: a generated input table plus the job run over it. The
  * engine receives only the generated inputs, never the seed. */
trait Workload {
  def name: String
  /** input docs per job */
  def docs: Long
  /** bump when the generator changes, so cached tables are not reused */
  def version: Int
  /** rough on-disk bytes per doc, for the free-space check */
  def bytesPerDoc: Long
  def sessionConf: Map[String, String] = Map.empty
  /** Writes the table to `dir`; returns extra metadata to record. */
  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Double]
  def open(spark: SparkSession, dir: String, seed: Long, tracer: Tracer): Inputs[_]
}

object Workloads {
  val all: Seq[Workload] = Seq(RegionTile, TermJoinSkew, Knn)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Result rows compared as sets; the message names a few differences. */
  def diff[T](got: Seq[T], want: Seq[T]): Option[String] = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    if (g == w) None
    else {
      val extra = g.keys.filterNot(w.contains).take(3)
      val missing = w.keys.filterNot(g.contains).take(3)
      Some(s"${got.size} rows vs ${want.size} expected; unexpected ${extra.mkString(", ")}; " +
        s"missing ${missing.mkString(", ")}")
    }
  }

  /** The first DocSource seed among `seed*1000, seed*1000+1, …` whose
    * cluster centres `accept` takes, judged on 2,000 clustered docs. */
  def docSourceSeed(spark: SparkSession, seed: Long, nClusters: Int)
                   (accept: Array[V3] => Boolean): Long =
    Iterator.from(0).map(i => seed * 1000L + i).find { c =>
      accept(DocSource.docs(spark, 2000, seed = c, nClusters = nClusters, clusterFrac = 1.0,
        parallelism = 1).select("lat", "lng").collect()
        .map(r => V3.fromLatLngDegrees(r.getDouble(0), r.getDouble(1))))
    }.get

  def share(pts: Array[V3])(p: V3 => Boolean): Double = pts.count(p).toDouble / pts.length

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** North-rule flagship: fused covering + PIP join + tile assignment over
  * a parquet docs table where 80% of docs sit in 20 small caps. Bound by
  * the kernels and the scan; no row shuffle. */
object RegionTile extends Workload {
  val name = "region_tile"
  val docs = 2000000L
  val version = 2
  val bytesPerDoc = 25L
  /** (qid, tile_id, count) rows, compared as a multiset */
  type Counts = Seq[(Int, Int, Long)]

  /** As for [[TermJoinSkew.docSourceSeed]]: the generator seed is the first
    * candidate for which about 2 of the 20 clusters lie inside the regions,
    * so the refine and tile work per job does not swing with the seed. */
  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Double] = {
    val regions = Bench.benchRegions.map(_._2)
    val dsSeed = Workloads.docSourceSeed(spark, seed, 20) { pts =>
      val f = Workloads.share(pts)(p => regions.exists(_.contains(p)))
      f > 0.075 && f < 0.125
    }
    DocSource.docs(spark, docs, seed = dsSeed, nClusters = 20, clusterFrac = 0.8,
      parallelism = 16).select("doc_id", "lat", "lng").write.parquet(dir)
    Map("docsource_seed" -> dsSeed.toDouble)
  }

  def open(spark: SparkSession, dir: String, seed: Long, tracer: Tracer): Inputs[Counts] = {
    val table = spark.read.parquet(dir)
    val regions = Bench.benchRegions
    val tiles = Bench.benchTiles
    def counts(df: DataFrame): Counts =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    new Inputs[Counts] {
      def job(): Counts = tracer.root("job") {
        val out = tracer.span("operators.S2Joins.regionTileCounts") {
          S2Joins.regionTileCounts(table, regions, tiles)
        }
        tracer.span("exec.collect")(counts(out))
      }
      def oracle(): Counts = {
        val withCells = S2Joins.withCellId(table, col("lat"), col("lng"))
        counts(S2Joins.tileAssign(S2Joins.broadcastContainsJoin(withCells, regions), tiles)
          .groupBy("qid", "tile_id").count())
      }
      def check(got: Counts, want: Counts): Option[String] = Workloads.diff(got, want)
    }
  }
}

/** Term equi-join against one continent-scale polygon over a Hilbert-sorted
  * spatial table where 90% of docs sit in 2 clusters. Broadcast joins are
  * off, so the candidate join shuffles: bound by the shuffle, the skewed
  * terms and the exact refine over the candidates. */
object TermJoinSkew extends Workload {
  val name = "term_join_skew"
  val docs = 50000L
  val version = 2
  val bytesPerDoc = 40L
  /** The continent-scale skew polygon of the engine's skew fixtures. */
  val polyText = "-20.005:-150.005, -20.005:10.005, 60.005:10.005, 60.005:-150.005"
  override val sessionConf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  /** (doc_id, qid, hash of the other columns) rows, compared as a multiset */
  type Pairs = Seq[(String, Int, Long)]

  /** DocSource places its 2 cluster centres from its own seed, and the
    * job's cost swings with how many of them share index terms with the
    * polygon (every candidate is refined exactly), so the generator seed is
    * the first candidate for which one cluster lies inside the polygon and
    * the other yields no candidates. */
  def docSourceSeed(spark: SparkSession, seed: Long): Long = {
    val poly = S2TextFormat.parsePolygon(polyText)
    val indexer = new S2TermIndexer()
    val query = indexer.queryTerms(poly).toSet
    Workloads.docSourceSeed(spark, seed, 2) { pts =>
      val inside = Workloads.share(pts)(poly.contains)
      val candidates = Workloads.share(pts)(p => indexer.indexTermsForPoint(p.x, p.y, p.z).exists(query))
      inside > 0.3 && inside < 0.7 && candidates < inside + 0.02
    }
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Double] = {
    val dsSeed = docSourceSeed(spark, seed)
    val geo = S2Joins.withCellId(
      DocSource.docs(spark, docs, seed = dsSeed, nClusters = 2, clusterFrac = 0.9,
        parallelism = 8).select("doc_id", "lat", "lng"),
      col("lat"), col("lng")).cache()
    geo.count()
    val (_, writeS) = Workloads.timed(TableIO.writeSpatial(geo, dir, partLevel = 1))
    geo.unpersist()
    val parts = new File(dir).listFiles().count(f => f.isDirectory && f.getName.startsWith("cell_part="))
    Map("docsource_seed" -> dsSeed.toDouble, "write_spatial_s" -> writeS,
      "partitions" -> parts.toDouble)
  }

  /** Every output column except the join keys, folded into one hash, so a
    * job computes all of them while shipping three columns to the driver. */
  private def keyed(df: DataFrame): Pairs = {
    val rest = df.columns.filterNot(Set("doc_id", "qid")).sorted.map(col).toIndexedSeq
    df.select(col("doc_id"), col("qid"), xxhash64(rest: _*)).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
  }

  def open(spark: SparkSession, dir: String, seed: Long, tracer: Tracer): Inputs[Pairs] = {
    import spark.implicits._
    val table = TableIO.readSpatial(spark, dir)
    val polys = Seq((1, polyText)).toDF("qid", "poly")
    new Inputs[Pairs] {
      def job(): Pairs = tracer.root("job") {
        val joined = tracer.span("operators.S2Joins.termPolygonJoin") {
          S2Joins.termPolygonJoin(table, polys)
        }
        tracer.span("exec.collect")(keyed(joined))
      }
      def oracle(): Pairs =
        keyed(S2Joins.broadcastContainsJoin(table, Seq(1 -> S2TextFormat.parsePolygon(polyText))))
      def check(got: Pairs, want: Pairs): Option[String] = Workloads.diff(got, want)
    }
  }
}

/** kNN over area-uniform docs. One job is two calls: the broadcast
  * `knnJoin` with 2k targets (ring-certified pruned path) and
  * `knnJoinLarge` with 500 targets derived from the docs (radius ladder
  * of term joins). Many small Spark jobs, cached candidates, window top-k. */
object Knn extends Workload {
  val name = "knn"
  val docs = 50000L
  val version = 1
  val bytesPerDoc = 40L
  val k = 5
  val broadcastTargets = 2000
  val ladderTargets = 500
  /** broadcast targets whose result is also checked against the unpruned scan */
  val sampledTargets = 200
  /** (qid, doc_id, dist2, rank) */
  type Rows = Seq[(Int, String, Double, Int)]
  type Result = (Rows, Rows)

  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Double] = {
    DocSource.docs(spark, docs, seed = seed, clusterFrac = 0.0, parallelism = 8)
      .select("doc_id", "lat", "lng").write.parquet(dir)
    Map.empty
  }

  private def targets(seed: Long): Seq[(Int, V3)] = {
    val rnd = new scala.util.Random(seed)
    (0 until broadcastTargets).map { i =>
      (i, V3.fromLatLngDegrees(rnd.nextDouble() * 170 - 85, rnd.nextDouble() * 360 - 180))
    }
  }

  /** The caps `knnJoinLarge` queries: its default ladder radii around the
    * first 8 broadcast targets. */
  def ladderCaps(seed: Long): Seq[S2Region] =
    for ((_, c) <- targets(seed).take(8); r <- Seq(0.005, 0.02, 0.08, 0.32))
      yield S2Cap.fromCenterAngle(c, r)

  private def rows(df: DataFrame): Rows =
    df.select("qid", "doc_id", "dist2", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSeq

  def open(spark: SparkSession, dir: String, seed: Long, tracer: Tracer): Inputs[Result] = {
    val table = spark.read.parquet(dir)
    val targets = Knn.targets(seed)
    val step = docs / ladderTargets
    val num = substring(col("doc_id"), 4, 9).cast("long")
    val ladderDf = table.where(num % step === 0)
      .select(num.cast("int").as("qid"), (col("lat") * 0.97).as("t_lat"),
        (col("lng") * 0.97).as("t_lng"))
    val evals = spark.sparkContext.longAccumulator("knn.distEvals")
    new Inputs[Result] {
      def job(): Result = tracer.root("job") {
        val broadcast = tracer.span("operators.S2Joins.knnJoin") {
          val out = S2Joins.knnJoin(table, targets, k, distEvals = evals)
          tracer.span("exec.collect")(rows(out))
        }
        val ladder = tracer.span("operators.S2Joins.knnJoinLarge") {
          val out = S2Joins.knnJoinLarge(table, ladderDf, k)
          try tracer.span("exec.collect")(rows(out))
          finally { out.unpersist(); () }
        }
        (broadcast, ladder)
      }
      def oracle(): Result = {
        val sampled = targets.take(sampledTargets)
        val scan = rows(S2Joins.knnJoin(table, sampled, k, prefilterFrom = Int.MaxValue))
        val lt = ladderDf.collect().map(r =>
          (r.getInt(0), V3.fromLatLngDegrees(r.getDouble(1), r.getDouble(2)))).toSeq
        (scan, rows(S2Joins.knnJoin(table, lt, k)))
      }
      override def distEvals: Long = evals.value
      def check(got: Result, want: Result): Option[String] = {
        val (broadcast, ladder) = got
        val perTarget = broadcast.groupBy(_._1)
        val badTarget = (0 until broadcastTargets).find(q =>
          perTarget.get(q).map(_.map(_._4).sorted) != Some(1 to k))
        badTarget.map(q => s"knnJoin target $q has ranks " +
            perTarget.get(q).map(_.map(_._4).sorted.mkString(",")).getOrElse("none"))
          .orElse(Workloads.diff(broadcast.filter(_._1 < sampledTargets), want._1)
            .map("knnJoin vs unpruned scan: " + _))
          .orElse(Workloads.diff(ladder, want._2).map("knnJoinLarge vs knnJoin: " + _))
      }
    }
  }
}
