package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  /** documents ∪ planted near-/exact dups (deterministic). */
  lazy val withDups = {
    val exact = docs.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    val near = docs.where(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 200000)
      .withColumn("text", concat(col("text"), lit(" trailing extra")))
    docs.unionByName(exact).unionByName(near).cache()
  }

  test("mersMod == % for the kernel's full operand range") {
    val rnd = new scala.util.Random(3)
    val M = Dedup.HashM
    for (_ <- 0 until 200000) {
      val x = math.abs(rnd.nextLong()) % (1L << 62)
      assert(Dedup.mersMod(x) == x % M, s"x=$x")
    }
    // boundary cases
    for (x <- Seq(0L, 1L, M - 1, M, M + 1, 2 * M, (1L << 62) - 1))
      assert(Dedup.mersMod(x) == x % M, s"x=$x")
  }

  test("exact dedup finds planted exact duplicates and only those") {
    val nExact = docs.where(col("doc_id") % 7 === 0).count()
    val dups = Dedup.exactDuplicates(withDups, "doc_id", "text")
      .where(col("dup_count") > 1)
    assert(dups.count() == nExact)
    // every dup group keeps the original (smaller) id
    assert(dups.where(col("keep_id") >= 100000).count() == 0)
    val kept = Dedup.dropExactDuplicates(withDups, "doc_id", "text")
    assert(kept.count() == withDups.count() - nExact)
  }

  test("minhash LSH near-dup pipeline finds planted near duplicates") {
    val found = Dedup.nearDuplicates(withDups, "doc_id", "text",
      threshold = 0.5, shingleN = 3, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted: (id, id+200000) pairs have jaccard ≈ shingles-2/shingles+1
    val planted = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 200000)).toSet
    // exact pairs (id, id+100000) also near-dup at jaccard 1.0
    val exactPairs = docs.where(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000)).toSet
    assert((planted ++ exactPairs).subsetOf(found),
      s"missing=${(planted ++ exactPairs) -- found}")
    // each pair once, never a doc with itself
    assert(found.forall { case (a, b) => a < b }, found.filter { case (a, b) => a >= b })
  }

  test("nearDupClusters groups planted duplicates under the min id") {
    val labels = Dedup.nearDupClusters(withDups, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every planted exact dup (id+100000) must resolve to cluster rep = id
    docs.where(col("doc_id") % 7 === 0).select("doc_id").collect()
      .map(_.getLong(0)).foreach { id =>
        assert(labels.get(id + 100000).contains(labels.getOrElse(id, id)),
          s"dup of $id not clustered")
      }
    // reps are minimal: no label greater than its member
    labels.foreach { case (id, rep) => assert(rep < id) }
  }

  test("nearDupClusters runs ONE job per propagation round (folded convergence check)") {
    // the convergence check is folded into the label update (prev_label
    // carried through the join), so each round costs exactly one Spark
    // job: the isEmpty over the freshly-cached result. Count jobs across
    // the whole call: 1 (count) + R rounds + 1 (final collect); R for the
    // planted fixture is small, so anything past rounds+3 means the
    // separate per-round convergence join crept back in.
    // deterministic job accounting: AQE re-plans spawn sub-jobs and
    // broadcast builds add one job per join, so pin both off and
    // materialize the fixture before counting
    val fixture = withDups.cache()
    fixture.count()
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = Dedup.nearDupClusters(fixture, "doc_id", "text").count()
      assert(n > 0)
      org.apache.spark.sql.graftbridge.ListenerBridge
        .waitUntilListenersProcessed(spark.sparkContext)
      val total = jobs.get()
      // 1 (docs.count) + R propagation rounds at ONE job each (the
      // isEmpty over the freshly-cached update; the planted star fixture
      // converges in R <= 2) + 1 (final count) = 4; the old shape ran a
      // second convergence-join job per round (>= 6 here)
      assert(total <= 5, s"nearDupClusters ran $total jobs — " +
        "expected one job per propagation round plus count/collect")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      fixture.unpersist(); ()
    }
  }

  test("simhash pairs include all planted exact duplicates (hamming 0)") {
    val found = Dedup.simHashPairs(withDups, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exactPairs = docs.where(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000)).toSet
    val pairSet = found.map(t => (t._1, t._2)).toSet
    assert(exactPairs.subsetOf(pairSet))
    // each pair once, never a doc with itself
    assert(found.forall(t => t._1 < t._2), found.filter(t => t._1 >= t._2).toSeq)
    found.filter(t => exactPairs.contains((t._1, t._2)))
      .foreach(t => assert(t._3 == 0))
  }

  test("jaccard expression matches a scala reference implementation") {
    def ref(a: String, b: String, n: Int): Double = {
      def sh(t: String) = {
        val w = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
      }
      val (sa, sb) = (sh(a), sh(b))
      if ((sa ++ sb).isEmpty) 0.0 else (sa & sb).size.toDouble / (sa ++ sb).size
    }
    val rows = docs.limit(10).select("text").collect().map(_.getString(0))
    val pairs = rows.zip(rows.tail)
    // the kernel nearDuplicates verifies with must be bit-equal to the
    // expression the q_dedup_jaccard gate runs
    val got = pairs.toSeq.toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"), 3),
        Dedup.jaccardKernel(col("a"), col("b"), lit(3)))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    got.zip(pairs).foreach { case ((g, k), (a, b)) =>
      assert(math.abs(g - ref(a, b, 3)) < 1e-12)
      assert(k == g, s"kernel $k != expression $g")
    }
  }

  test("brute-force cosine topk matches a scala reference") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qs = all.filter(_._1 < 3)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na) / math.sqrt(nb)
    }
    val want = qs.flatMap { case (qid, qv) =>
      all.map { case (id, v) => (id, cos(v, qv)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(5).zipWithIndex.map { case ((id, _), i) => (qid, id, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("cosineNearDupPairs: candidate/dedup exchanges carry ids only, vectors ride 2 joins max") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // force shuffle joins + a non-adaptive plan so every exchange is visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.97)
      val exchanges = pairs.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      val vectorCarrying = exchanges.filter(
        _.output.exists(_.dataType.isInstanceOf[ArrayType]))
      // only the two id-keyed vector co-location joins may move embeddings;
      // the bucket self-join and the pair distinct stay scalar-only
      assert(vectorCarrying.size <= 2,
        s"${vectorCarrying.size} exchanges carry vectors:\n" +
          vectorCarrying.map(_.output.mkString(", ")).mkString("\n"))
      assert(exchanges.size - vectorCarrying.size >= 2)

      // correctness vs all-pairs brute force on a slice
      val small = emb.where(col("vec_id") < 120).cache()
      val got = Similarity.cosineNearDupPairs(small, "vec_id", "embedding", 0.8,
          nPlanes = 4, tables = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val all = small.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble; i += 1 }
        if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      val want = (for {
        (ia, va) <- all; (ib, vb) <- all if ia < ib
        if cos(va, vb) >= 0.8
      } yield (ia, ib)).toSet
      // LSH-candidate subset of the true pair set; recall is separately spec'd
      assert(got.subsetOf(want), s"false positives: ${got -- want}")
      if (want.nonEmpty)
        assert(got.size.toDouble / want.size >= 0.5, s"recall ${got.size}/${want.size}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("annTopK: candidate dedup shuffles carry ids only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val top = Similarity.annTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, nPlanes = 4, tables = 8)
      val exchanges = top.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      val vectorCarrying = exchanges.filter(
        _.output.exists(_.dataType.isInstanceOf[ArrayType]))
      // only the id-keyed data-vector join (and, with broadcast disabled,
      // the query-side join) may move embeddings — never the bucket join,
      // the candidate distinct, or the top-k window
      assert(vectorCarrying.size <= 2,
        vectorCarrying.map(_.output.map(_.name).mkString(",")).mkString("\n"))
      assert(exchanges.size - vectorCarrying.size >= 2)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("ANN SRP-LSH achieves decent recall vs brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10, nPlanes = 4, tables = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("text analysis columns are sane and deterministic") {
    val e = TextAnalysis.enrich(docs, "text").cache()
    val rows = e.select("text", "ws_tokens", "bpeish_tokens", "quality", "lang_pred")
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getInt(1) == t.trim.split("\\s+").count(_.nonEmpty))
      assert(r.getInt(2) >= r.getInt(1)) // subword ≥ word count
      val q = r.getDouble(3)
      assert(q >= 0.0 && q <= 1.0)
      assert(Set("en", "und").contains(r.getString(4))) // english word salad
    }
    // overwhelming majority must be identified as english
    val enFrac = rows.count(_.getString(4) == "en").toDouble / rows.length
    assert(enFrac > 0.7, s"en fraction $enFrac")
    // winnowing fingerprints: deterministic, non-empty, sorted
    val fps = e.select("fingerprint").collect().map(_.getSeq[Long](0))
    fps.foreach { fp =>
      assert(fp.nonEmpty)
      assert(fp == fp.sorted)
    }
    val fps2 = TextAnalysis.enrich(docs, "text")
      .select("fingerprint").collect().map(_.getSeq[Long](0))
    assert(fps.toSeq == fps2.toSeq)
  }

  test("multimodal: media table, feature extraction, frame sampling plumbing") {
    val d = graft.sources.DocSource.docs(spark, 500L)
    val media = Multimodal.mediaTable(d).cache()
    assert(media.count() > 0)
    assert(media.select("media_ref").distinct().count() == media.count())
    // one perceptual hash per media row, deterministic across runs
    val h1 = Multimodal.perceptualHashes(media, 8, 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(h1.size == media.count())
    val h2 = Multimodal.perceptualHashes(media, 8, 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(h1 == h2)
    val frames = Multimodal.sampleFrames(media, 4)
    assert(frames.count() == media.count() * 4)
  }

  test("multimodal: resize/aHash math") {
    // bilinear resize: constant image stays constant at any scale
    val const = Array.fill(16 * 16)(0.25f)
    assert(Multimodal.resizeBilinear(const, 16, 16, 8, 8).forall(_ == 0.25f))
    assert(Multimodal.resizeBilinear(const, 16, 16, 3, 5).forall(
      v => math.abs(v - 0.25f) < 1e-6))
    // known 2x2 -> 3x3: center is the 4-corner average
    val px = Array(0f, 1f, 1f, 0f)
    val up = Multimodal.resizeBilinear(px, 2, 2, 3, 3)
    assert(up(4) == 0.5f)
    assert(up(0) == 0f && up(2) == 1f && up(6) == 1f && up(8) == 0f)
    // identity resize
    val r8 = Multimodal.resizeBilinear(Multimodal.MediaCodec.decodeImage(
      Array[Byte](1, 2, 3), 8, 8), 8, 8, 8, 8)
    assert(r8.toSeq == Multimodal.MediaCodec.decodeImage(Array[Byte](1, 2, 3), 8, 8).toSeq)
    // aHash: deterministic, and exactly the >mean bit pattern on 8x8 input
    val img = Multimodal.MediaCodec.decodeImage(Array[Byte](9, 9), 8, 8)
    val h = Multimodal.aHash64(img, 8, 8)
    val mean = img.sum / 64
    (0 until 64).foreach { i =>
      assert((((h >>> (63 - i)) & 1L) == 1L) == (img(i) > mean))
    }
  }

  test("multimodal: perceptual-hash near-dup pairs find planted re-encodes") {
    val d = graft.sources.DocSource.docs(spark, 300L)
    val media = Multimodal.mediaTable(d).limit(40).cache()
    // plant exact-pixel duplicates under new refs (same bytes)
    val dups = media.limit(5)
      .withColumn("media_ref", concat(col("media_ref"), lit("_dup")))
    val all = media.unionByName(dups).cache()
    val pairs = Multimodal.mediaNearDupPairs(all, maxHamming = 3).collect()
    val planted = all.where(col("media_ref").endsWith("_dup"))
      .select(col("media_ref")).collect().map(_.getString(0)).toSet
    // every planted dup appears in a 0-hamming pair with its source
    planted.foreach { dref =>
      val src = dref.stripSuffix("_dup")
      assert(pairs.exists(r =>
        Set(r.getString(0), r.getString(1)) == Set(src, dref) && r.getInt(2) == 0),
        s"missing pair for $dref")
    }
    // differential vs brute force at this size
    val sigs = Multimodal.perceptualHashes(all).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // mediaTable bytes are not images: every hash comes from the
    // synthetic fallback decode at the hash size
    val codec = Multimodal.MediaCodec
    val bytesByRef = all.select("media_ref", "bytes").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toMap
    sigs.foreach { case (ref, sig) =>
      val b = bytesByRef(ref)
      assert(codec.decodeImageReal(b).isEmpty)
      assert(sig == Multimodal.aHash64(codec.decodeImage(b, 16, 16), 16, 16), ref)
    }
    val brute = (for {
      (ra, sa) <- sigs; (rb, sb) <- sigs if ra < rb
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ra, rb)).toSet
    assert(pairs.map(r => (r.getString(0), r.getString(1))).toSet == brute)
  }

  test("multimodal: REAL PNG codec roundtrips pixels and hashes exactly") {
    import Multimodal.MediaCodec
    // arbitrary gray image: encode -> decode is pixel-exact (PNG lossless)
    val px = Array.tabulate(16 * 16)(i => (i * 37 + 11) % 256)
    val bytes = MediaCodec.encodePng(px, 16, 16)
    val Some((back, w, h)) = MediaCodec.decodeImageReal(bytes)
    assert(w == 16 && h == 16)
    (0 until 256).foreach(i => assert(back(i) == px(i) / 255.0f))
    // garbage bytes: real decode refuses, pipeline falls back to synthetic
    assert(MediaCodec.decodeImageReal(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaCodec.decodeImageReal(null).isEmpty)

    // the q_media_real construction end-to-end: binary 8x8 images through
    // real encode/decode/aHash; hash must equal the integer formula and
    // planted 2-pixel variants must pair at hamming 2
    import spark.implicits._
    def ones(id: Long, variant: Boolean): Set[Int] =
      (1 until 64).filter(i => (id * 31 + i * 17) % 5 < 2 &&
        !(variant && (i == 9 || i == 18))).toSet
    val rows = (0L until 40L).map { id =>
      val p = Array.tabulate(64)(i => if (ones(id, variant = false)(i)) 255 else 0)
      ("m" + id, MediaCodec.encodePng(p, 8, 8))
    } ++ (0L until 40L by 5).map { id =>
      val p = Array.tabulate(64)(i => if (ones(id, variant = true)(i)) 255 else 0)
      ("v" + id, MediaCodec.encodePng(p, 8, 8))
    }
    val media = rows.toDF("media_ref", "bytes")
    val sigs = Multimodal.perceptualHashes(media, 8, 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    def expectedHash(id: Long, variant: Boolean): Long =
      ones(id, variant).foldLeft(0L)((acc, i) => acc | (1L << (63 - i)))
    (0L until 40L).foreach { id =>
      assert(sigs("m" + id) == expectedHash(id, variant = false), s"m$id") }
    (0L until 40L by 5).foreach { id =>
      assert(sigs("v" + id) == expectedHash(id, variant = true), s"v$id") }
    val pairs = Multimodal.mediaNearDupPairs(media, maxHamming = 3, 8, 8)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(2))).toMap
    (0L until 40L by 5).foreach { id =>
      val expected = (ones(id, variant = false) -- ones(id, variant = true)).size
      assert(pairs.get(("m" + id, "v" + id)).contains(expected), s"pair m$id/v$id")
    }
  }

  test("multimodal: REAL WAV codec roundtrips samples; Q30 energies exact") {
    import Multimodal.MediaCodec
    val pcm = Array.tabulate[Short](1200)(i => (((7L + i * 13) % 201) - 100).toShort)
    val wav = MediaCodec.encodeWavPcm16(pcm, 16000)
    val Some((back, rate)) = MediaCodec.decodePcmReal(wav)
    assert(rate == 16000 && back.length == 1200)
    (0 until 1200).foreach(i => assert(back(i) == pcm(i) / 32768.0f))
    assert(MediaCodec.decodePcmReal(Array[Byte](9, 9, 9)).isEmpty)

    import spark.implicits._
    val media = Seq(("a1", wav)).toDF("media_ref", "bytes")
    val wins = Multimodal.audioEnergyQ30(media, frameN = 400, hopN = 400)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(wins.keySet == Set(0, 1, 2))
    (0 until 3).foreach { w =>
      val expected = (0 until 400).map { i =>
        val v = ((7L + (w * 400 + i) * 13) % 201) - 100; v * v
      }.sum
      assert(wins(w) == expected, s"window $w")
    }
  }

  test("multimodal: REAL AVI container roundtrips frames losslessly") {
    val codec = Multimodal.MediaCodec
    val rnd = new scala.util.Random(11)
    val frames = Seq.fill(5)(Array.fill(12 * 7)(rnd.nextInt(256)))
    val avi = codec.encodeAviMpng(frames, 12, 7, fps = 10)
    // container sanity: real RIFF/AVI magic, parseable by the demuxer
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val Some((payloads, w, h, usec)) = codec.demuxAvi(avi)
    assert((payloads.length, w, h, usec) == (5, 12, 7, 100000L))
    // MPNG = PNG frames: decode returns the exact pixels, in order
    payloads.zip(frames).foreach { case (png, orig) =>
      val Some((px, pw, ph)) = codec.decodeImageReal(png)
      assert((pw, ph) == (12, 7))
      assert(px.toSeq == orig.map(_ / 255.0f).toSeq)
    }
    // frame selection by presentation time (100 ms per frame at 10 fps)
    val f2 = codec.decodeFrameReal(avi, 250, 12, 7).get
    assert(f2.toSeq == frames(2).map(_ / 255.0f).toSeq)
    // non-AVI and truncated bytes decode to None, never throw
    assert(codec.demuxAvi("not a container".getBytes).isEmpty)
    assert(codec.demuxAvi(avi.take(40)).isEmpty)
    assert(codec.demuxAvi(null).isEmpty)
    // adversarial robustness: random garbage, random truncations, and
    // single-byte mutations of a valid file must never throw (mutations
    // may still demux — a flipped byte inside a frame payload is the
    // PNG decoder's problem, which already returns Option)
    // crafted 0xFFFFFFF8 chunk size (sz.toInt = -8) must terminate, not
    // spin the chunk walk in place
    val crafted = "RIFF".getBytes ++ Array[Byte](100, 0, 0, 0) ++
      "AVI ".getBytes ++ "xxxx".getBytes ++
      Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte) ++
      Array.fill(80)(0.toByte)
    assert(codec.demuxAvi(crafted).isEmpty)
    val fuzz = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val garbage = Array.fill(fuzz.nextInt(300))(fuzz.nextInt(256).toByte)
      codec.demuxAvi(garbage) // must not throw
      codec.decodeFrameReal(garbage, 0, 4, 4)
    }
    (1 to 200).foreach { _ =>
      val cut = avi.take(fuzz.nextInt(avi.length))
      codec.demuxAvi(cut.toArray)
      val mut = avi.clone()
      mut(fuzz.nextInt(mut.length)) = fuzz.nextInt(256).toByte
      codec.demuxAvi(mut)
      codec.decodeFrameReal(mut, fuzz.nextLong(1000), 8, 8)
    }
  }

  test("multimodal: MJPG AVIs demux and decode through the same path (lossy-bounded)") {
    val codec = Multimodal.MediaCodec
    // flat fields at three gray levels: JPEG decode of a flat 8x8 block is
    // within a few gray levels of the input
    val levels = Seq(30, 128, 220)
    val frames = levels.map(v => Array.fill(8 * 8)(v))
    val avi = codec.encodeAviMjpg(frames, 8, 8, fps = 4)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    // the MJPG FourCC is what the container advertises
    assert(new String(avi).contains("MJPG") && !new String(avi).contains("MPNG"))
    val Some((payloads, w, h, usec)) = codec.demuxAvi(avi)
    assert((payloads.length, w, h, usec) == (3, 8, 8, 250000L))
    // JPEG magic on every payload; decode lands within 4 gray levels
    payloads.zip(levels).foreach { case (jpg, v) =>
      assert((jpg(0) & 0xFF) == 0xFF && (jpg(1) & 0xFF) == 0xD8, "JPEG SOI")
      val Some((px, pw, ph)) = codec.decodeImageReal(jpg)
      assert((pw, ph) == (8, 8))
      px.foreach(p => assert(math.abs(p - v / 255.0f) < 4.5f / 255,
        s"flat level $v decoded to $p"))
    }
    // frame selection by presentation time (250 ms per frame at 4 fps)
    val f1 = codec.decodeFrameReal(avi, 300, 8, 8).get
    f1.foreach(p => assert(math.abs(p - 128 / 255.0f) < 4.5f / 255))
  }

  test("multimodal: MP4 (ISO-BMFF) write + demux through the container-agnostic path") {
    val codec = Multimodal.MediaCodec
    val levels = Seq(30, 128, 220)
    val frames = levels.map(v => Array.fill(8 * 8)(v))
    val mp4 = codec.encodeMp4Mjpg(frames, 8, 8, fps = 4)
    // real ISO-BMFF shape: opens with an ftyp box, carries moov + mdat
    assert(new String(mp4, 4, 4, "US-ASCII") == "ftyp")
    val txt = new String(mp4, "ISO-8859-1")
    assert(txt.contains("moov") && txt.contains("mdat") &&
      txt.contains("stco") && txt.contains("jpeg"))
    val Some((payloads, w, h, usec)) = codec.demuxMp4(mp4)
    assert((payloads.length, w, h, usec) == (3, 8, 8, 250000L))
    // samples are whole JPEGs; decode lands within a few gray levels
    payloads.zip(levels).foreach { case (jpg, v) =>
      assert((jpg(0) & 0xFF) == 0xFF && (jpg(1) & 0xFF) == 0xD8, "JPEG SOI")
      val Some((px, pw, ph)) = codec.decodeImageReal(jpg)
      assert((pw, ph) == (8, 8))
      px.foreach(p => assert(math.abs(p - v / 255.0f) < 4.5f / 255))
    }
    // the MJPG-in-AVI encode of the SAME frames demuxes to byte-identical
    // JPEG samples: the two containers carry one codec path
    val Some((aviPayloads, _, _, _)) =
      codec.demuxAvi(codec.encodeAviMjpg(frames, 8, 8, fps = 4))
    payloads.zip(aviPayloads).foreach { case (mp, av) =>
      assert(java.util.Arrays.equals(mp, av)) }
    // container-agnostic dispatch: decodeFrameReal / demuxVideo accept
    // both containers and reject junk
    assert(codec.demuxVideo(mp4).isDefined)
    val f1 = codec.decodeFrameReal(mp4, 300, 8, 8).get
    f1.foreach(p => assert(math.abs(p - 128 / 255.0f) < 4.5f / 255))
    assert(codec.demuxMp4("not a container".getBytes).isEmpty)
    assert(codec.demuxMp4(null).isEmpty)
    assert(codec.demuxMp4(mp4.take(40)).isEmpty)
    // crafted hostile boxes: 64-bit largesize lying about its length,
    // size-0 trailing box, negative-ish sizes — must return None, not
    // throw or spin
    val ftypHdr = mp4.take(8)
    assert(codec.demuxMp4(ftypHdr ++ Array[Byte](0, 0, 0, 1) ++
      "moov".getBytes ++ Array.fill[Byte](8)(0x7F)).isEmpty)
    assert(codec.demuxMp4(ftypHdr ++ Array[Byte](0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0xF8.toByte) ++ "moov".getBytes).isEmpty)
    // box bomb: moov nested past the depth bound must terminate cleanly
    val bomb = (0 until 40).foldLeft(Array.emptyByteArray) { (inner, _) =>
      val body = "xxxx".getBytes ++ inner
      Array[Byte](0, 0, 0, (body.length + 8).toByte) ++ "moov".getBytes ++ body
    }
    assert(codec.demuxMp4(mp4.take(8) ++ bomb).isEmpty)
    // overlapping chunks: every stco offset points at the first sample and
    // a fixed stsz size runs each sample to end of file, so each sample is
    // in bounds but together they exceed the file
    val overlap = mp4.clone()
    def u32(p: Int): Long = (0 until 4).foldLeft(0L)((a, k) => (a << 8) | (mp4(p + k) & 0xFF))
    def putU32(p: Int, v: Long): Unit =
      (0 until 4).foreach(k => overlap(p + k) = (v >>> (24 - 8 * k)).toByte)
    val stco = txt.lastIndexOf("stco") + 4 // body: flags, count, offsets
    val stsz = txt.lastIndexOf("stsz") + 4 // body: flags, fixed size, count
    val first = u32(stco + 8)
    (0 until 3).foreach(k => putU32(stco + 8 + 4 * k, first))
    putU32(stsz + 4, mp4.length - first)
    assert(codec.demuxMp4(overlap).isEmpty)
    // fuzz: garbage, truncations, single-byte mutations never throw
    val fuzz = new scala.util.Random(13)
    (1 to 200).foreach { _ =>
      codec.demuxMp4(Array.fill(fuzz.nextInt(300))(fuzz.nextInt(256).toByte))
      codec.demuxMp4(mp4.take(fuzz.nextInt(mp4.length)).toArray)
      val mut = mp4.clone()
      mut(fuzz.nextInt(mut.length)) = fuzz.nextInt(256).toByte
      codec.demuxMp4(mut)
      codec.decodeFrameReal(mut, fuzz.nextLong(1000), 8, 8)
    }
  }

  test("multimodal: frameFeaturesReal is container-agnostic (MP4 rows next to AVI rows)") {
    import spark.implicits._
    val codec = Multimodal.MediaCodec
    val a = Array.tabulate(64)(i => if (i % 3 == 0) 255 else 0)
    val c = Array.tabulate(64)(i => if (i % 5 == 0) 255 else 0)
    val media = Seq(
      ("avi0", codec.encodeAviMpng(Seq(a, a, c), 8, 8, fps = 5)),
      ("mp40", codec.encodeMp4Mjpg(Seq(a, a, a), 8, 8, fps = 5)),
      ("junk", "neither container".getBytes)).toDF("media_ref", "bytes")
    val ff = Multimodal.frameFeatures(media, framesPerDoc = 3,
      targetW = 8, targetH = 8)
    val byRef = ff.collect().groupBy(_.getString(0))
    assert(!byRef.contains("junk") && byRef("avi0").length == 3 &&
      byRef("mp40").length == 3)
    // both containers yield the same 200 ms frame cadence at 5 fps
    assert(byRef("mp40").map(_.getLong(1)).sorted.toSeq == Seq(0L, 200L, 400L))
    // identical flat frames through MP4/JPEG -> zero scene cuts
    val cuts = Multimodal.sceneChanges(ff, threshold = 0.05)
      .where(col("media_ref") === "mp40").collect()
    assert(cuts.length == 2 && cuts.forall(!_.getBoolean(3)))
  }

  test("multimodal: frameFeaturesReal demuxes real AVIs; sceneChanges exact on binary frames") {
    import spark.implicits._
    val codec = Multimodal.MediaCodec
    // two planted videos: v0 = frames (A, A, B) -> one cut; v1 = (C, C, C)
    // -> no cuts. Binary pixels make dist = differing/64 exactly.
    val a = Array.tabulate(64)(i => if (i % 3 == 0) 255 else 0)
    val b = Array.tabulate(64)(i => if (i % 3 == 0 || i < 8) 255 else 0)
    val c = Array.tabulate(64)(i => if (i % 5 == 0) 255 else 0)
    val media = Seq(
      ("v0", codec.encodeAviMpng(Seq(a, a, b), 8, 8, fps = 5)),
      ("v1", codec.encodeAviMpng(Seq(c, c, c), 8, 8, fps = 5)),
      ("junk", "not an avi at all".getBytes)).toDF("media_ref", "bytes")
    val ff = Multimodal.frameFeatures(media, framesPerDoc = 3,
      targetW = 8, targetH = 8)
    assert(ff.count() == 6) // junk row contributes nothing
    val offs = ff.where(col("media_ref") === "v0")
      .select("frame_off").collect().map(_.getLong(0)).sorted.toSeq
    assert(offs == Seq(0L, 200L, 400L)) // 5 fps -> 200 ms per frame
    val cuts = Multimodal.sceneChanges(ff, threshold = 0.05).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    val kAB = a.zip(b).count { case (x, y) => x != y } // pixels i<8, i%3!=0
    assert(cuts(("v0", 200L)) == ((0.0, false)))
    assert(cuts(("v0", 400L)) == ((kAB / 64.0, true)))
    assert(cuts(("v1", 200L)) == ((0.0, false)))
    assert(cuts(("v1", 400L)) == ((0.0, false)))
  }
}
