package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and a
  * sign-random-projection (hyperplane LSH) bucketed variant as the scale
  * path.
  *
  * All arithmetic is double-precision with a fixed left-to-right summation
  * order — deterministic across runs and engines (the DuckDB oracle's
  * `list_sum(list_transform(...))` evaluates the identical IEEE sequence).
  * The kernels are Scala UDFs, not higher-order-function expression
  * chains: interpreted HOFs are the documented ~15-50x hot-path cliff
  * (same move as Dedup.bandKeysKernel).
  */
object Similarity {

  /** Deterministic fold dot product kernel of two float vectors (cast to
    * double element-wise, summed in index order). */
  private def dotKernel(a: Seq[Float], b: Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private val dotUdf = udf { (a: Seq[Float], b: Seq[Float]) => dotKernel(a, b) }
  private val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    val d = math.sqrt(dotKernel(a, a)) * math.sqrt(dotKernel(b, b))
    if (d == 0) 0.0 else dotKernel(a, b) / d
  }

  def dot(a: Column, b: Column): Column = dotUdf(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either norm is 0 (matches the oracle's
    * dot / (sqrt(naa) * sqrt(nbb)) expression order exactly). */
  def cosine(a: Column, b: Column): Column = cosineUdf(a, b)

  /** Exact brute-force top-k: for each query (small side, broadcast), the
    * k most-cosine-similar rows. Plan: broadcast nested loop over the big
    * table (narrow), then global top-k per query via window (the shuffled
    * set is already scored — ≤ rows×queries scalar rows, no vectors). Ties
    * break by id ascending. */
  private val normUdf = udf { (a: Seq[Float]) => math.sqrt(dotKernel(a, a)) }

  /** Cosine with pre-computed norms (identical doubles to [[cosine]] —
    * same kernel, same op order — but each row's self-norm is computed
    * once instead of once per pair; 3x fewer kernel dots on the
    * all-pairs hot path). */
  private def cosinePre(dotAb: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0, lit(0.0)).otherwise(dotAb / d)
  }

  def bruteForceTopK(data: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = data.select(col(idCol).as("id"), col(vecCol).as("v"),
        normUdf(col(vecCol)).as("nv"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"),
        normUdf(col(qvecCol)).as("nq"))))
      .withColumn("score", cosinePre(dotUdf(col("v"), col("qv")), col("nv"), col("nq")))
      .select("qid", "id", "score") // drop vectors before the shuffle
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "id", "score", "rank")
  }

  /** Deterministic pseudo-random hyperplane component: plane `p`,
    * dimension `i` → uniform in [-1, 1). splitmix64-style finalizer over
    * the packed (plane, dim) key — engine/run-independent. */
  private[graft] def planeComponent(plane: Int, i: Int): Double = {
    var z = (plane.toLong << 32) ^ (i.toLong & 0xFFFFFFFFL)
    z += -7046029254386353131L // splitmix64 gamma
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^= (z >>> 31)
    ((z >>> 11).toDouble / 4503599627370496.0) - 1.0 // 2^52
  }

  /** All `tables` SRP bucket ids of a vector in one pass: bucket(t) packs
    * `nPlanes` sign bits of projections onto planes seeded (t, p). */
  private val srpBucketsKernel = udf { (vec: Seq[Float], nPlanes: Int, tables: Int) =>
    val n = vec.length
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var p = 0
      while (p < nPlanes) {
        val seed = t * nPlanes + p
        var proj = 0.0
        var i = 0
        while (i < n) { proj += vec(i).toDouble * planeComponent(seed, i); i += 1 }
        if (proj >= 0) bits |= (1L << p)
        p += 1
      }
      out(t) = bits
      t += 1
    }
    out
  }

  /** Sign-random-projection bucket id for a single table (column form). */
  def srpBucket(vec: Column, nPlanes: Int): Column =
    srpBucketsKernel(vec, lit(nPlanes), lit(1)).getItem(0)

  /** (table, bucket) struct rows for a vector — explode for the LSH
    * equi-join. */
  private def tableBuckets(vec: Column, nPlanes: Int, tables: Int): Column =
    srpBucketsKernel(vec, lit(nPlanes), lit(tables))

  /** ANN top-k via SRP-LSH with multi-probe: queries match data in any of
    * `tables` independent hash tables; candidates then ranked by exact
    * cosine. Recall < 1 by construction (report as approximate): the
    * candidate join is equi on (table, bucket) — shuffle O(n·tables), not
    * O(n·queries).
    *
    * Contract: `idCol` must be unique in `data`. The slimmed pipeline
    * re-joins candidate ids to the data side by id, so duplicate ids
    * (even with identical vectors) would each claim a top-k rank slot —
    * pre-dedupe upstream (`dropDuplicates(idCol)`) if ids can repeat.
    *
    * Shuffle discipline: bucket rows and the candidate-pair dedup carry
    * (id, table, bucket) scalars only; data vectors ride exactly one
    * id-keyed join to co-locate them for scoring, the (small) query side
    * broadcasts, and the final top-k window shuffles scored scalars. */
  def annTopK(data: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nPlanes: Int = 12, tables: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dBase = data.select(col(idCol).as("id"), col(vecCol).as("v"),
      normUdf(col(vecCol)).as("nv"))
    val qBase = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"),
      normUdf(col(qvecCol)).as("nq"))
    val dBuckets = dBase.select(col("id"),
      posexplode(tableBuckets(col("v"), nPlanes, tables)).as(Seq("_t", "_b")))
    val qBuckets = qBase.select(col("qid"),
      posexplode(tableBuckets(col("qv"), nPlanes, tables)).as(Seq("_t", "_b")))
    val candIds = dBuckets.join(broadcast(qBuckets), Seq("_t", "_b"))
      .select("qid", "id").distinct()
    val scored = candIds
      .join(dBase, "id")
      .join(broadcast(qBase), "qid")
      .withColumn("score", cosinePre(dotUdf(col("v"), col("qv")), col("nv"), col("nq")))
      .select("qid", "id", "score")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "id", "score", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine ≥
    * threshold, candidates from SRP buckets (equi-join), exact verify.
    *
    * Shuffle discipline (the 100 TB shape): candidate generation and the
    * pair `distinct` run over an ids-only projection — the bucket
    * self-join and dedup exchanges carry (table, bucket, id) scalars,
    * never embeddings. Vectors ride exactly two id-keyed hash joins (once
    * per pair side) to co-locate them for the exact verify, and each pair
    * is scored once (dedup happens before the dot kernel). */
  def cosineNearDupPairs(data: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nPlanes: Int = 8,
                         tables: Int = 4): DataFrame = {
    val base = data.select(col(idCol).as("id"), col(vecCol).as("v"),
      normUdf(col(vecCol)).as("n"))
    val buckets = base.select(col("id"),
      posexplode(tableBuckets(col("v"), nPlanes, tables)).as(Seq("_t", "_b")))
    Dedup.bucketPairs(buckets, Seq("_t", "_b"))
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")), "id_b")
      .withColumn("cosine", cosinePre(dotUdf(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
