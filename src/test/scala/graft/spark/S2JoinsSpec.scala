package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.operators._
import graft.sources.DocSource

/** Differential tests for the distributed spatial operators: every join
  * result is compared against the per-row brute-force kernel (the
  * reference's own test methodology — optimized vs use_brute_force,
  * /root/reference/src/s2/s2closest_edge_query_test.cc:748-877). */
class S2JoinsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docs = S2Joins.withCellId(
    DocSource.docs(spark, 5000L, seed = 42L), col("lat"), col("lng")).cache()

  def collectDocs(): Array[(String, Double, Double)] =
    docs.select("doc_id", "lat", "lng").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))

  test("DocSource is deterministic and spans are interleaved with increasing offsets") {
    val a = DocSource.docs(spark, 300L).select("doc_id", "spans_fp").collect()
    val b = DocSource.docs(spark, 300L).select("doc_id", "spans_fp").collect()
    assert(a.map(r => (r.getString(0), r.getLong(1))).toSeq ==
           b.map(r => (r.getString(0), r.getLong(1))).toSeq)
    val spans = DocSource.docs(spark, 50L)
      .select(explode(col("spans")).as("s"), col("doc_id"))
      .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset").collect()
    spans.foreach { r =>
      val kind = r.getString(1)
      assert(kind == "text" || kind == "media")
      if (kind == "text") { assert(r.getString(2) != null && r.getString(3) == null) }
      else { assert(r.getString(2) == null && r.getString(3) != null) }
    }
    // offsets strictly increasing per doc
    val byDoc = spans.groupBy(_.getString(0))
    byDoc.values.foreach { rs =>
      val offs = rs.map(_.getInt(4))
      assert(offs.sameElements(offs.sorted))
    }
  }

  test("broadcastContainsJoin matches brute-force region containment") {
    val regions: Seq[(Int, S2Region)] = Seq(
      1 -> S2Cap.fromCenterAngle(V3.fromLatLngDegrees(10, 20), 0.15),
      2 -> S2LatLngRect.fromDegrees(-25, 100, 5, 140),
      3 -> S2TextFormat.parsePolygon("0:0, 0:35, 30:35, 30:0"),
      4 -> S2Cap.fromCenterAngle(V3.fromLatLngDegrees(-80, 0), 0.3),
      // a negative and a large sparse label, each overlapping another region
      -7 -> S2LatLngRect.fromDegrees(5, 10, 25, 40),
      5000 -> S2Cap.fromCenterAngle(V3.fromLatLngDegrees(-15, 125), 0.2))
    val got = S2Joins.broadcastContainsJoin(docs, regions)
      .select("doc_id", "qid").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = (for {
      (id, lat, lng) <- collectDocs()
      (q, reg) <- regions
      if reg.contains(V3.fromLatLngDegrees(lat, lng))
    } yield (id, q)).toSet
    assert(got == want)
    assert(regions.forall { case (q, _) => want.exists(_._2 == q) })
    // one label, one region: a repeated label is refused, not refined
    // against only one of its regions
    intercept[IllegalArgumentException](S2Joins.broadcastContainsJoin(docs,
      regions :+ (1 -> S2LatLngRect.fromDegrees(-10, -10, 10, 10))))
  }

  test("composite regions (union/intersection) join like their pointwise combination") {
    val cap = S2Cap.fromCenterAngle(V3.fromLatLngDegrees(10, 20), 0.15)
    val rect = S2LatLngRect.fromDegrees(-25, 100, 5, 140)
    val poly = S2TextFormat.parsePolygon("0:0, 0:35, 30:35, 30:0")
    val regions: Seq[(Int, S2Region)] = Seq(
      1 -> S2RegionUnion(Seq(cap, poly)),
      2 -> S2RegionIntersection(Seq(cap, poly)),
      3 -> S2RegionUnion(Seq(rect, S2RegionIntersection(Seq(cap, poly)))))
    val got = S2Joins.broadcastContainsJoin(docs, regions)
      .select("doc_id", "qid").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val want = (for {
      (id, lat, lng) <- collectDocs()
      p = V3.fromLatLngDegrees(lat, lng)
      (q, reg) <- regions
      if reg.contains(p)
    } yield (id, q)).toSet
    assert(got == want)
    assert(want.exists(_._2 == 2)) // intersection non-trivial
  }

  test("broadcast join preserves the span-sequence invariant") {
    val regions: Seq[(Int, S2Region)] =
      Seq(1 -> S2LatLngRect.fromDegrees(-90, -180, 90, 180))
    val joined = S2Joins.broadcastContainsJoin(docs, regions)
    val bad = joined
      .withColumn("fp2", DocSource.spansFingerprint(col("spans")))
      .where(col("fp2") =!= col("spans_fp")).count()
    assert(bad == 0)
    assert(joined.count() == docs.count()) // full rect keeps every doc
  }

  test("termPolygonJoin matches broadcast join on polygons") {
    import spark.implicits._
    val polyTexts = Seq(
      (3, "0:0, 0:35, 30:35, 30:0"),
      (7, "-40:-80, -40:-30, -10:-30, -10:-80"))
    val polys = polyTexts.toDF("qid", "poly")
    val got = S2Joins.termPolygonJoin(docs, polys)
      .select("doc_id", "qid").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val regions = polyTexts.map { case (q, t) =>
      (q, S2TextFormat.parsePolygon(t): S2Region) }
    val want = (for {
      (id, lat, lng) <- collectDocs()
      (q, reg) <- regions
      if reg.contains(V3.fromLatLngDegrees(lat, lng))
    } yield (id, q)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  def idPairs(df: DataFrame): Seq[(String, Int)] =
    df.select("doc_id", "qid").collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted

  /** termPolygonJoin with prune bound `bound` against broadcastContainsJoin
    * on the same polygons, as sorted (doc_id, qid) pairs of the rows with
    * a doc id (a null id never passes the term join's id re-join). Checks
    * that the prune is on exactly when the polygons' distinct plain query
    * terms fit the bound, and returns both joins. */
  def termJoinVsBroadcast(in: DataFrame, polyTexts: Seq[(Int, String)],
                          bound: Int = 1 << 15): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ix = graft.functions.S2SpatialKernels.indexer
    val plain = polyTexts.flatMap { case (_, t) => ix.queryTerms(S2TextFormat.parsePolygon(t)) }
      .filterNot(_.startsWith(ix.marker)).distinct
    val got = S2Joins.termPolygonJoinBounded(in, polyTexts.toDF("qid", "poly"), "poly", "qid", bound)
    val want = S2Joins.broadcastContainsJoin(in,
      polyTexts.map { case (q, t) => (q, S2TextFormat.parsePolygon(t): S2Region) })
    val plan = got.queryExecution.executedPlan.toString
    if (plain.size <= bound) assert(plan.contains(s"keep=${plain.size}"), plan)
    else assert(!plan.contains("keep="), plan)
    assert(idPairs(got) == idPairs(want.where(col("doc_id").isNotNull)))
    (got, want)
  }

  test("termPolygonJoin prune: overlapping polygons sharing query terms") {
    val polyTexts = Seq((3, "0:0, 0:35, 30:35, 30:0"), (4, "-10:10, -10:40, 20:40, 20:10"))
    val ix = graft.functions.S2SpatialKernels.indexer
    val Seq(a, b) = polyTexts.map { case (_, t) =>
      ix.queryTerms(S2TextFormat.parsePolygon(t)).filterNot(_.startsWith(ix.marker)).toSet }
    assert((a & b).nonEmpty)
    val (got, _) = termJoinVsBroadcast(docs, polyTexts)
    // some doc lies in both polygons
    assert(idPairs(got).groupBy(_._1).values.exists(_.size == 2))
  }

  test("termPolygonJoin prune: a polygon no doc hits gives no rows, same schema") {
    val (got, want) = termJoinVsBroadcast(docs,
      Seq((9, "-60:-140, -60:-139.9, -59.9:-139.9, -59.9:-140")))
    assert(got.count() == 0 && want.count() == 0)
    assert(got.schema == want.schema)
  }

  test("termPolygonJoin prune: rows with a null lat, lng or doc_id") {
    val h = pmod(xxhash64(col("doc_id")), lit(10))
    val withNulls = docs
      .withColumn("lat", when(h === 1, lit(null).cast("double")).otherwise(col("lat")))
      .withColumn("lng", when(h === 2, lit(null).cast("double")).otherwise(col("lng")))
      .withColumn("doc_id", when(h === 3, lit(null).cast("string")).otherwise(col("doc_id")))
    val (got, want) = termJoinVsBroadcast(withNulls,
      Seq((3, "0:0, 0:35, 30:35, 30:0"), (7, "-40:-80, -40:-30, -10:-30, -10:-80")))
    assert(want.where(col("doc_id").isNull).count() > 0)
    assert(got.where(col("doc_id").isNull).count() == 0)
  }

  test("termPolygonJoin prune: a query side over the bound keeps every doc term") {
    val polyTexts = Seq((3, "0:0, 0:35, 30:35, 30:0"), (7, "-40:-80, -40:-30, -10:-30, -10:-80"))
    val ix = graft.functions.S2SpatialKernels.indexer
    val n = polyTexts.flatMap { case (_, t) => ix.queryTerms(S2TextFormat.parsePolygon(t)) }
      .filterNot(_.startsWith(ix.marker)).distinct.size
    val (atBound, _) = termJoinVsBroadcast(docs, polyTexts, bound = n)
    val (overBound, _) = termJoinVsBroadcast(docs, polyTexts, bound = n - 1)
    assert(idPairs(atBound).nonEmpty && idPairs(atBound) == idPairs(overBound))
  }

  test("docIndexTerms honours its indexer under whole-stage codegen") {
    import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
    // a range source (not a local relation, which the optimizer folds)
    // keeps the explode inside a codegen stage; lat/lng reach faces 4-5
    val pts = spark.range(60).select(col("id").cast("string").as("doc_id"),
      (col("id") * 2.9 - 85.0).as("lat"), (col("id") * 5.9 - 175.0).as("lng"))
    def termsPerDoc(indexer: S2TermIndexer): Set[Int] = {
      val terms = S2Joins.docIndexTerms(pts, indexer)
      val plan = terms.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists(_.isInstanceOf[GenerateExec])), plan)
      val rows = terms.select("doc_id").collect().map(_.getString(0))
      assert(rows.distinct.length == 60)
      rows.groupBy(identity).values.map(_.length).toSet
    }
    assert(termsPerDoc(new S2TermIndexer(minLevel = 8)) == Set(9))
    assert(termsPerDoc(graft.functions.S2SpatialKernels.indexer) == Set(13))
  }

  test("knnJoin matches brute-force k nearest") {
    val targets = Seq(
      1 -> V3.fromLatLngDegrees(10, 20),
      2 -> V3.fromLatLngDegrees(-45, 170),
      3 -> V3.fromLatLngDegrees(80, -60))
    val k = 7
    val got = S2Joins.knnJoin(docs, targets, k)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val all = collectDocs()
    val want = (for ((q, t) <- targets) yield {
      all.map { case (id, lat, lng) =>
        (id, (V3.fromLatLngDegrees(lat, lng) - t).norm2) }
        .sortBy { case (id, d) => (d, id) }
        .take(k).zipWithIndex
        .map { case ((id, _), i) => (q, id, i + 1) }
    }).flatten.toSet
    assert(got == want)
  }

  test("knnJoin pruned path = full scan at 10^4 targets, with sublinear per-row work") {
    val rnd = new scala.util.Random(7)
    // 10^4 targets: most near doc clusters, a band of spread-out ones, and
    // a few in empty ocean (exercising the uncertified-tail fallback)
    val sample = docs.select("lat", "lng").limit(200).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val targets = (0 until 10000).map { i =>
      if (i % 50 == 49) // spread: uniform on the sphere
        (i, V3.fromLatLngDegrees(rnd.nextDouble() * 170 - 85, rnd.nextDouble() * 360 - 180))
      else {
        val (la, ln) = sample(i % sample.length)
        (i, V3.fromLatLngDegrees(
          math.max(-89, math.min(89, la + rnd.nextDouble() * 4 - 2)),
          ln + rnd.nextDouble() * 4 - 2))
      }
    }
    val k = 3
    val acc = spark.sparkContext.longAccumulator("knn_dist_evals")
    val pruned = S2Joins.knnJoin(docs, targets, k, distEvals = acc)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val scan = S2Joins.knnJoin(docs, targets, k, prefilterFrom = Int.MaxValue)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(pruned == scan)
    assert(pruned.size == 10000 * k)
    // unpruned work would be 2 passes x docs x targets = 1e8 exact
    // distances; require >=10x pruning (in practice far better)
    val full = 2L * docs.count() * targets.size
    assert(acc.value < full / 10,
      s"dist evals ${acc.value} not sublinear vs full $full")
  }

  test("knnJoin breaks exact distance ties by ascending doc id") {
    import spark.implicits._
    // two docs bit-identically equidistant from the target (mirrored lng
    // around 0 -> same chord distance), plus a filler
    val tied = Seq(("docB", 10.0, 15.0), ("docA", 10.0, -15.0),
      ("docZ", 50.0, 50.0)).toDF("doc_id", "lat", "lng")
    val target = Seq(1 -> V3.fromLatLngDegrees(10.0, 0.0))
    val got = S2Joins.knnJoin(tied, target, k = 1)
      .select("doc_id").head().getString(0)
    assert(got == "docA") // ascending id wins the tie
  }

  test("nearDupClusters merges buckets bridged by a shared non-minimal member") {
    import spark.implicits._
    // three identical texts: every pair shares every LSH band; ids chosen
    // so transitivity matters (all must collapse to min id 1)
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((7L, t), (1L, t), (5L, t),
      (9L, "unrelated words that share nothing with the others at all ok"))
      .toDF("doc_id", "text")
    val labels = Dedup.nearDupClusters(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.get(5L).contains(1L))
    assert(labels.get(7L).contains(1L))
    assert(!labels.contains(1L)) // representative emits no row
    assert(!labels.contains(9L)) // singleton
  }

  test("knnJoinLarge (large x large, radius ladder) = broadcast knnJoin") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // targets biased toward doc clusters + one isolated (fallback path)
    val sample = docs.select("lat", "lng").limit(25).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val targets = sample.zipWithIndex.map { case ((la, ln), i) =>
      (i, la + rnd.nextDouble() * 2 - 1, ln + rnd.nextDouble() * 2 - 1) } :+
      (25, -89.0, 170.0) // isolated near the pole
    val tDf = targets.toSeq.toDF("qid", "t_lat", "t_lng")
    val large = S2Joins.knnJoinLarge(docs, tDf, k = 5)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val bcast = S2Joins.knnJoin(docs,
      targets.toSeq.map { case (q, la, ln) => (q, V3.fromLatLngDegrees(la, ln)) },
      k = 5)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(large == bcast)
    assert(large.size == 26 * 5)
  }

  test("knnJoinLarge: all-isolated targets certify in the pi round (no driver collect)") {
    import spark.implicits._
    // every target sits in doc-empty ocean — the old 'few by construction'
    // assumption is maximally violated; the pi round must certify them all
    // distributed
    val targets = (0 until 30).map(i => (i, -60.0 + i * 0.3, -120.0 + i * 0.5))
    val tDf = targets.toDF("qid", "t_lat", "t_lng")
    val large = S2Joins.knnJoinLarge(docs, tDf, k = 4)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    val bcast = S2Joins.knnJoin(docs,
      targets.map { case (q, la, ln) => (q, V3.fromLatLngDegrees(la, ln)) }, k = 4)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(large == bcast)
    assert(large.size == 30 * 4)
  }

  test("knnJoinLarge count-gates the degenerate fewer-than-k-docs fallback") {
    import spark.implicits._
    val tiny = S2Joins.withCellId(
      Seq(("a", 10.0, 10.0), ("b", 11.0, 11.0)).toDF("doc_id", "lat", "lng"),
      col("lat"), col("lng"))
    // k=5 > 2 docs: the pi round returns every doc; a target with a null
    // coordinate gets no rows
    val tDf = Seq((1, Option(10.0), 10.0), (2, Option(50.0), 50.0),
      (3, Option.empty[Double], 0.0)).toDF("qid", "t_lat", "t_lng")
    val got = S2Joins.knnJoinLarge(tiny, tDf, k = 5)
      .select("qid", "doc_id").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (1, "b"), (2, "a"), (2, "b")))
  }

  test("regionTileCounts (fused pass) = broadcastContainsJoin + tileAssign + groupBy") {
    val regions = graft.Bench.benchRegions
    val tiles = graft.Bench.benchTiles
    def fused(d: DataFrame, rs: Seq[(Int, S2Region)],
              ts: Seq[(Int, Array[Long])] = tiles) = S2Joins.regionTileCounts(d, rs, ts)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    def compositional(d: DataFrame, rs: Seq[(Int, S2Region)],
                      ts: Seq[(Int, Array[Long])] = tiles) = S2Joins.tileAssign(
        S2Joins.broadcastContainsJoin(d, rs), ts)
      .groupBy("qid", "tile_id").count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val plain = fused(docs, regions)
    assert(plain == compositional(docs, regions))
    assert(plain.nonEmpty)
    // negated region labels, tile ids -2..-25 (each given as two entries
    // of half its cells) plus one level-1 tile over region 1 that overlaps
    // them (a leaf in it ties, and the smallest id wins), and an empty
    // region list
    val negRegions = regions.map { case (l, r) => (-l, r) }
    val negTiles = tiles.flatMap { case (t, cs) =>
      cs.grouped((cs.length + 1) / 2).map(half => (-(t + 2), half)) } :+
      (-30 -> Array(S2CellId.parent(S2CellId.fromLatLngDegrees(15, 17), 1)))
    val neg = fused(docs, negRegions, negTiles)
    assert(neg == compositional(docs, negRegions, negTiles))
    assert(neg.exists(_._2 == -30) && neg.toSeq.map(_._3).sum == plain.toSeq.map(_._3).sum)
    assert(fused(docs, Nil).isEmpty && compositional(docs, Nil).isEmpty)
    // null-coordinate docs match no region, not even the full sphere, in
    // both plans
    import spark.implicits._
    val withNulls = S2Joins.withCellId(docs.select("doc_id", "lat", "lng").unionByName(
        Seq(("null-lat", Option.empty[Double], Option(1.0)),
          ("null-lng", Option(1.0), Option.empty[Double])).toDF("doc_id", "lat", "lng")),
      col("lat"), col("lng"))
    val sphere = regions :+ (99 -> (S2Cap.fromCenterAngle(V3(1, 0, 0), math.Pi): S2Region))
    val got = fused(withNulls, sphere)
    assert(got == compositional(withNulls, sphere))
    assert(got.filter(_._1 == 99).toSeq.map(_._3).sum == docs.count())

    // edge inputs of the lat/lng grid reject: docs at the poles and the
    // antimeridian, at and a few ulps or margins around every rect-bound
    // edge, and out-of-range or NaN coordinates, against regions that cross
    // the antimeridian, touch it, or cover a pole
    val edgeRegions: Seq[(Int, S2Region)] = Seq(
      1 -> S2LatLngRect.fromDegrees(-25, 100, 5, 140),
      2 -> S2LatLngRect.fromDegrees(10, 170, 30, -170),
      3 -> S2TextFormat.parsePolygon("-10:175, -10:-175, 10:-175, 10:175"),
      4 -> S2Cap.fromCenterAngle(V3(0, 0, 1), 0.1),
      5 -> S2LatLngRect.fromDegrees(-60, -180, -40, -150),
      6 -> S2TextFormat.parsePolygon("-40.3:-79.7, -40.3:-30.2, -9.9:-30.2, -9.9:-79.7"))
    def near(x: Double): Seq[Double] =
      (1 to 3).flatMap(k => Seq(Iterator.iterate(x)(Math.nextUp).drop(k).next(),
        Iterator.iterate(x)(Math.nextDown).drop(k).next())) ++
      Seq(x, x - 1e-9, x + 1e-9, x - 1e-7, x + 1e-7, x - 1e-5, x + 1e-5)
    val onEdges = edgeRegions.map(_._2.rectBound).flatMap { b =>
      val lats = Seq(b.latLo, b.latHi, b.lat.center).map(math.toDegrees)
      val lngs = Seq(b.lngLo, b.lngHi, b.lng.center).map(math.toDegrees)
      for (la <- lats; ln <- lngs; (x, y) <- near(la).map((_, ln)) ++ near(ln).map((la, _)))
        yield (x, y)
    }
    val special = Seq(-90.0, 90.0).flatMap(la => Seq(-180.0, -90, -37, 0, 37, 180).map((la, _))) ++
      Seq(-180.0, 180.0).flatMap(ln => Seq(-50.0, -45, -10, 0, 10, 20, 45).map((_, ln))) ++
      Seq((20.0, 190.0), (20.0, -540.0), (0.0, 540.0), (Double.NaN, 0.0), (0.0, Double.NaN),
        (95.0, 10.0), (-90.5, 0.0))
    val edgeDocs = S2Joins.withCellId((onEdges ++ special).zipWithIndex
      .map { case ((la, ln), i) => (s"e$i", la, ln) }.toDF("doc_id", "lat", "lng"),
      col("lat"), col("lng"))
    val edgeGot = fused(edgeDocs, edgeRegions)
    assert(edgeGot == compositional(edgeDocs, edgeRegions))
    assert(edgeRegions.forall(r => edgeGot.exists(_._1 == r._1)))
    val withFullAndEmpty = edgeRegions ++
      Seq(7 -> (S2Cap.Full: S2Region), 8 -> (S2Cap.Empty: S2Region))
    val fullGot = fused(edgeDocs, withFullAndEmpty)
    assert(fullGot == compositional(edgeDocs, withFullAndEmpty))
    assert(fullGot.exists(_._1 == 7) && !fullGot.exists(_._1 == 8))
  }

  test("regionTileCounts follows its inputs across calls") {
    def counts(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    def compositional(d: DataFrame, ts: Seq[(Int, Array[Long])],
                      rs: Seq[(Int, S2Region)] = graft.Bench.benchRegions) = counts(
      S2Joins.tileAssign(S2Joins.broadcastContainsJoin(d, rs), ts)
        .groupBy("qid", "tile_id").count())
    def fusedNow(d: DataFrame, ts: Seq[(Int, Array[Long])] = graft.Bench.benchTiles,
                 rs: Seq[(Int, S2Region)] = graft.Bench.benchRegions) =
      counts(S2Joins.regionTileCounts(d, rs, ts))
    val first = fusedNow(docs)
    assert(first == compositional(docs, graft.Bench.benchTiles))

    // editing a tile array in place between calls: tile 0 now holds one of
    // tile 1's cells many times over, which it wins on the tie
    val tiles = graft.Bench.benchTiles
    assert(fusedNow(docs, tiles) == first)
    val (t0, t1) = (tiles.find(_._1 == 0).get._2, tiles.find(_._1 == 1).get._2)
    t0.indices.foreach(t0(_) = t1(0))
    val edited = fusedNow(docs, tiles)
    assert(edited != first && edited == compositional(docs, tiles))

    // editing a cell-union region's ids in place between calls
    val cells = new S2CellUnionRegion(graft.Bench.benchTiles.find(_._1 == 0).get._2)
    val cellRegions = Seq(5 -> (cells: S2Region))
    val before = fusedNow(docs, rs = cellRegions)
    assert(before.nonEmpty && before == compositional(docs, graft.Bench.benchTiles, cellRegions))
    cells.ids(0) = graft.Bench.benchTiles.find(_._1 == 1).get._2(0)
    val after = fusedNow(docs, rs = cellRegions)
    assert(after != before && after == compositional(docs, graft.Bench.benchTiles, cellRegions))

    // a second session over the same docs
    val other = spark.newSession()
    val rows = docs.select("doc_id", "lat", "lng")
    val otherDocs = other.createDataFrame(
      java.util.Arrays.asList(rows.collect(): _*), rows.schema)
    assert(fusedNow(otherDocs) == first)

    // a parquet table is read column batch by batch, null coordinates too
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fused_scan").resolve("t").toString
    rows.unionByName(Seq(("null-lat", Option.empty[Double], Option(1.0)),
        ("null-lng", Option(1.0), Option.empty[Double])).toDF("doc_id", "lat", "lng"))
      .write.parquet(dir)
    val table = spark.read.parquet(dir)
    assert(fusedNow(table) == first)
    assert(compositional(S2Joins.withCellId(table, col("lat"), col("lng")),
      graft.Bench.benchTiles) == first)

    // a catalog table appended to between two calls on one DataFrame
    // object: the second call reads the appended files
    spark.sql("DROP TABLE IF EXISTS fused_append")
    try {
      rows.limit(2000).write.saveAsTable("fused_append")
      val t = spark.table("fused_append")
      def total(c: Set[(Int, Int, Long)]) = c.toSeq.map(_._3).sum
      val small = fusedNow(t)
      rows.write.mode("append").insertInto("fused_append")
      val grown = fusedNow(t)
      assert(total(grown) > total(small))
      assert(grown == compositional(S2Joins.withCellId(t, col("lat"), col("lng")),
        graft.Bench.benchTiles))
    } finally spark.sql("DROP TABLE IF EXISTS fused_append")
  }

  test("tileAssign picks the containing tile; disjoint level-2 tiling partitions all docs") {
    // tiles = all level-2 cells grouped round-robin into 24 tiles: a
    // disjoint partition of the sphere, so every doc gets a tile.
    val level2 = Iterator.iterate(S2CellId.begin(2))(S2CellId.next)
      .takeWhile(_ != S2CellId.end(2)).toArray
    val tiles = level2.zipWithIndex.groupBy(_._2 % 24).toSeq
      .map { case (tid, cs) => (tid, cs.map(_._1)) }
    val assigned = S2Joins.tileAssign(docs, tiles)
    assert(assigned.where(col("tile_id") === -1).count() == 0)
    // per-doc check vs kernel: tile of parent(cell,2)
    val cellToTile = tiles.flatMap { case (tid, cs) => cs.map(_ -> tid) }.toMap
    val rows = assigned.select("cell_id", "tile_id").collect()
    rows.foreach { r =>
      assert(cellToTile(S2CellId.parent(r.getLong(0), 2)) == r.getInt(1))
    }
    // overlapping tiles: 99 over a level-1 cell, -5 over one of its
    // children, on top of the tiling. Every tile containing a leaf
    // overlaps it by weight 1, so the leaf goes to the smallest containing
    // id (the default only outside every tile, here never).
    val face = S2CellId.parent(S2CellId.fromLatLngDegrees(15, 17), 1)
    val overlapping = tiles ++ Seq(99 -> Array(face), -5 -> Array(S2CellId.child(face, 2)))
    val got = S2Joins.tileAssign(docs, overlapping).select("cell_id", "tile_id").collect()
    val want = got.map { r =>
      val ids = overlapping.collect {
        case (tid, cs) if cs.exists(S2CellId.contains(_, r.getLong(0))) => tid }
      if (ids.isEmpty) -1 else ids.min
    }
    assert(got.map(_.getInt(1)).toSeq == want.toSeq)
    assert(want.contains(-5) && got.exists(r =>
      S2CellId.contains(face, r.getLong(0)) && r.getInt(1) != -5))
  }

  test("density rollup sums to doc count; equal-weight repartition balances skew") {
    val total = docs.count()
    val d = Density.cellDensity(docs, 4)
    assert(d.agg(sum("weight")).head().getLong(0) == total)
    val tree = Density.densityTree(docs, 1, 4)
    // each level's weights sum to total
    val perLevel = tree.groupBy("level").agg(sum("weight")).collect()
    perLevel.foreach(r => assert(r.getLong(1) == total))
    // equal-weight shards: no shard > 3x ideal despite 80% clustering
    val sharded = Density.equalWeightRepartition(docs, 6, 16)
    val sizes = sharded.groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    assert(sizes.max <= total) // sanity
    assert(sizes.max < 3L * (total / 16 + 1),
      s"worst shard ${sizes.max} vs ideal ${total / 16}")
  }

  test("StageRunner resumes: second run skips completed stages") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stages").toString
    val r1 = new graft.runtime.StageRunner(spark, tmp, "job1")
    val out1 = r1.stage("ingest") { docs.select("doc_id", "cell_ord") }
    assert(out1.count() == docs.count())
    assert(!r1.results.head.skipped)
    val r2 = new graft.runtime.StageRunner(spark, tmp, "job1")
    val out2 = r2.stage("ingest") {
      throw new RuntimeException("must not rebuild a completed stage")
    }
    assert(out2.count() == docs.count())
    assert(r2.results.head.skipped)
  }

  test("hotTerms counts each term above the threshold") {
    import spark.implicits._
    val big = (0 until 5000).map(i => (s"d$i", if (i % 10 < 8) "HOT" else s"t${i % 50}"))
      .toDF("doc_id", "term")
    assert(Skew.hotTerms(big, "term", threshold = 1000) == Map("HOT" -> 4000L))
  }
}
