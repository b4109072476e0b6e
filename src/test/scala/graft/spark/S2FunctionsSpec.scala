package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.S2
import graft.core.{S2CellId => CID, _}

class S2FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("native expressions match core kernels row by row") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pts = Seq.fill(2000)((rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
    val df = pts.toDF("lat", "lng")
      .withColumn("cell", S2.cellId($"lat", $"lng"))
      .withColumn("tok", S2.token($"cell"))
      .withColumn("p5", S2.parent($"cell", 5))
      .withColumn("lvl", S2.level($"cell"))
      .withColumn("rt", S2.fromToken($"tok"))
    val rows = df.collect()
    for ((r, (lat, lng)) <- rows.zip(pts)) {
      val expect = CID.fromLatLngDegrees(lat, lng)
      assert(r.getAs[Long]("cell") == expect)
      assert(r.getAs[String]("tok") == CID.toToken(expect))
      assert(r.getAs[Long]("p5") == CID.parent(expect, 5))
      assert(r.getAs[Int]("lvl") == 30)
      assert(r.getAs[Long]("rt") == expect)
    }
  }

  test("xyz cellid expression is scale invariant vs core") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, 3.0), (-0.5, 0.1, 0.2), (0.0, -1.0, 0.001))
      .toDF("x", "y", "z")
      .withColumn("cell", S2.cellIdXYZ($"x", $"y", $"z"))
    for (r <- df.collect()) {
      assert(r.getAs[Long]("cell") ==
        CID.fromPoint(r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[Double]("z")))
    }
  }

  test("sql registration works") {
    S2.registerAll(spark)
    val n = spark.sql(
      "SELECT s2_token(s2_parent(s2_cellid(47.37, 8.54), 12)) AS t").collect()(0).getString(0)
    assert(n == CID.toToken(CID.parent(CID.fromLatLngDegrees(47.37, 8.54), 12)))
  }

  test("covering and term udfs work end to end") {
    import spark.implicits._
    val df = Seq((47.37, 8.54, 0.01)).toDF("lat", "lng", "r")
      .withColumn("cov", S2.capCovering($"lat", $"lng", $"r"))
      .withColumn("terms", S2.capQueryTerms($"lat", $"lng", $"r"))
    val row = df.collect()(0)
    val cov = row.getSeq[Long](3).toList
    val expected = new S2RegionCoverer(8).getCovering(
      S2Cap.fromCenterAngle(V3.fromLatLngDegrees(47.37, 8.54), 0.01))
    assert(cov == expected.toList)
    assert(row.getSeq[String](4).nonEmpty)
  }

  test("polygon contains UDF: PIP join smoke") {
    import spark.implicits._
    val northHemiText = "0:-180, 0:-90, 0:0, 0:90"
    val pts = Seq((45.0, 10.0), (-45.0, 10.0), (10.0, -100.0), (-0.1, 0.0))
    val df = pts.toDF("lat", "lng")
      .withColumn("inside", S2.contains(lit(northHemiText), $"lat", $"lng"))
    val got = df.collect().map(_.getAs[Boolean]("inside")).toSeq
    assert(got == Seq(true, false, true, false))
  }

  test("whole-stage codegen keeps s2 expressions inline") {
    import spark.implicits._
    val df = spark.range(100)
      .withColumn("lat", $"id".cast("double") / 10 - 5)
      .withColumn("lng", $"id".cast("double") / 5 - 10)
      .withColumn("cell", S2.cellId($"lat", $"lng"))
      .filter($"cell" =!= 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expected codegen in plan:\n$plan")
  }
}
