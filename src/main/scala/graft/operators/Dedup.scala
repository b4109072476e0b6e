package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, at 100 TB shapes:
  * exact (hash groupBy), MinHash+LSH banding, SimHash, and exact n-gram
  * Jaccard verification. Per-row hashing runs in Scala kernels; candidate
  * generation is always an equi-join on a band/bucket key — never a cross
  * join — so the shuffle volume is O(docs × bands), not O(docs²). That
  * join is [[bucketPairs]], the one candidate-pair search of every
  * near-dup detector (text MinHash and SimHash here, perceptual-hash
  * media pairs in [[Multimodal]], SRP embedding pairs in [[Similarity]]).
  */
object Dedup {

  /** Canonical text for dedup comparisons: lowercase, collapse whitespace. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  // =======================================================================
  // exact dedup
  // =======================================================================

  /** One row per distinct normalized text: representative = min(idCol),
    * plus duplicate count. Single shuffle on the 128-bit content hash
    * (never on the text itself — keys stay small at scale). */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normText(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Filter to one representative row per content hash. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDuplicates(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, idCol) // keep_id is unique → inner join keeps one row each
  }

  // =======================================================================
  // shingling + MinHash + LSH
  // =======================================================================

  /** Word n-gram shingles of normalized text (distinct). */
  def shingles(text: Column, n: Int): Column = {
    val words = split(normText(text), " ")
    array_distinct(filter(
      transform(words, (_, i) =>
        when(i + n <= size(words),
          array_join(slice(words, i + 1, lit(n)), " "))),
      x => x.isNotNull))
  }

  // =======================================================================
  // mod-Mersenne hash family — the canonical LSH family of the engine.
  // Every intermediate fits in 62 bits (multiplier < 2^31, operand < 2^31),
  // so the arithmetic needs NO wraparound and is replicable bit-for-bit by
  // engines without 64-bit overflow semantics (the DuckDB oracle mirrors
  // it with plain BIGINT expressions — the same move that made the
  // winnowing fingerprint oracle-exact).
  // =======================================================================
  private[graft] val HashM = 2147483647L // Mersenne prime 2^31 - 1
  private[graft] val HashB = 1000003L    // polynomial base (shingles, band keys)
  private[graft] val HashB2 = 1000033L   // second base (simhash high bits)
  /** Affine min-hash family (a_k·h + b_k mod M): multipliers/offsets from
    * two minstd LCG streams (48271 is a primitive root mod M, so values
    * are never 0) — both engines embed the identical constants. */
  private[graft] val FamilyA: Array[Long] = {
    var x = 1L; Array.fill(256) { x = x * 48271 % HashM; x }
  }
  private[graft] val FamilyB: Array[Long] = {
    var x = 7L; Array.fill(256) { x = x * 48271 % HashM; x }
  }
  /** Branchless-ish Mersenne reduction: for 0 ≤ x < 2^62, returns exactly
    * x % (2^31-1) without a hardware divide (x = q·2^31 + r ⇒
    * x ≡ q + r mod M; two folds bring x under 2M, one conditional
    * subtract finishes). Hot-path replacement for `%` in the dedup
    * kernels — bit-identical values, so oracle parity is unaffected. */
  @inline private[graft] def mersMod(x: Long): Long = {
    var r = (x & HashM) + (x >>> 31)
    r = (r & HashM) + (r >>> 31)
    if (r >= HashM) r - HashM else r
  }

  /** Horner polynomial hash of a string mod 2^31-1 (UTF-16 code units). */
  private[graft] def hornerHash(s: String, base: Long): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = mersMod(h * base + s.charAt(i).toLong); i += 1 }
    h
  }

  /** Distinct word n-grams of `text` (lowercased, whitespace-split): the
    * shingle set of both kernels, built inline (interpreted higher-order
    * SQL expressions are ~15x slower on this hot path). */
  private def shingleSet(text: String, n: Int): java.util.HashSet[String] = {
    val w = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    val out = new java.util.HashSet[String]()
    var i = 0
    while (i + n <= w.length) {
      val sb = new java.lang.StringBuilder(w(i))
      var j = 1
      while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
      out.add(sb.toString); i += 1
    }
    out
  }

  /** Kernel fast path for the hot loop: per shingle one Horner base hash,
    * then `numHashes` affine derivations — ~50x the throughput of the
    * interpreted higher-order-function expression chain, deterministic and
    * run-independent, and (mod-Mersenne) exactly DuckDB-expressible.
    * Emits the banded keys directly: packed (band << 32 | bandKey) longs,
    * where bandKey is the Horner combination of the band's minima. */
  private val bandKeysKernel = udf {
    (text: String, shingleN: Int, numHashes: Int, bands: Int) =>
      val sh =
        if (text == null) new java.util.HashSet[String]()
        else shingleSet(text, shingleN)
      if (sh.isEmpty) Array.empty[Long]
      else {
        val mins = Array.fill(numHashes)(Long.MaxValue)
        sh.forEach { s =>
          val h = hornerHash(s, HashB)
          var k = 0
          while (k < numHashes) {
            val v = mersMod(FamilyA(k) * h + FamilyB(k))
            if (v < mins(k)) mins(k) = v
            k += 1
          }
        }: Unit
        val rows = numHashes / bands
        val out = new Array[Long](bands)
        var b = 0
        while (b < bands) {
          var bh = 0L
          var r = 0
          while (r < rows) {
            bh = mersMod(bh * HashB + mins(b * rows + r))
            r += 1
          }
          out(b) = (b.toLong << 32) | bh
          b += 1
        }
        out
      }
  }

  /** Packed LSH band keys of a text column (kernel path) — exposed so the
    * streaming near-dup filter shares bit-identical keys with the batch
    * [[minHashCandidates]] pipeline. */
  private[graft] def bandKeysColumn(textCol: Column, shingleN: Int,
                                    numHashes: Int, bands: Int): Column =
    bandKeysKernel(textCol, lit(shingleN), lit(numHashes), lit(bands))

  /** (id, bk) rows, one per packed LSH band key of each doc: the bucket
    * frame of both [[minHashCandidates]] and [[nearDupClusters]]. */
  private def bandedRows(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    // the kernel derives rows = numHashes / bands; a remainder would
    // silently drop trailing min-hashes and weaken LSH precision
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    df.select(col(idCol).as("id"),
      explode(bandKeysColumn(col(textCol), shingleN, numHashes, bands)).as("bk"))
  }

  /** The candidate-pair search of every near-dup detector (MinHash bands,
    * SimHash and perceptual-hash chunks, SRP buckets). `keyed` holds an
    * `id` column, the bucket key columns `keys`, and any other columns,
    * which ride the self-join as `<name>_a` / `<name>_b`. Returns
    * (id_a, id_b, derived…) with id_a < id_b, distinct: `derived` is
    * computed from the suffixed columns before the dedup, so the dedup
    * exchange carries ids and what the caller derives, never the carried
    * columns. The join is an equi-join on the keys — broadcast/SMJ/AQE-skew
    * all apply, never a cross join. */
  private[operators] def bucketPairs(keyed: DataFrame, keys: Seq[String],
                                     derived: Column*): DataFrame = {
    val carried = keyed.columns.filterNot(c => c == "id" || keys.contains(c))
    def side(s: String): DataFrame = keyed.select(
      keys.map(col) ++ ("id" +: carried).map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a") +: col("id_b") +: derived: _*)
      .distinct()
  }

  /** Candidate near-duplicate pairs via MinHash LSH: docs sharing ≥1 band.
    * Returns (id_a, id_b) with id_a < id_b, distinct. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 64,
                        bands: Int = 16): DataFrame =
    bucketPairs(bandedRows(df, idCol, textCol, shingleN, numHashes, bands), Seq("bk"))

  /** Exact n-gram Jaccard similarity of two text columns (expression). */
  def jaccard(textA: Column, textB: Column, n: Int): Column = {
    val sa = shingles(textA, n); val sb = shingles(textB, n)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Exact Jaccard kernel (HashSet intersection) — same value as the
    * [[jaccard]] expression (integer/integer division) but ~100x faster on
    * the verification hot path, where corpora with high baseline
    * similarity can produce 10^5-10^6 accidental LSH candidates. */
  private[graft] val jaccardKernel = udf { (a: String, b: String, n: Int) =>
    val sa = shingleSet(a, n); val sb = shingleSet(b, n)
    if (sa.isEmpty && sb.isEmpty) 0.0
    else {
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  /** Full near-dup pipeline: LSH candidates verified with exact Jaccard ≥
    * threshold. `df` is joined back twice to fetch texts (by id — keeps
    * the candidate shuffle narrow); verification runs the Jaccard kernel. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double, shingleN: Int = 3,
                     numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val cands = minHashCandidates(df, idCol, textCol, shingleN, numHashes, bands)
    val txt = df.select(col(idCol), col(textCol))
    cands
      .join(txt.withColumnsRenamed(Map(idCol -> "id_a", textCol -> "text_a")), "id_a")
      .join(txt.withColumnsRenamed(Map(idCol -> "id_b", textCol -> "text_b")), "id_b")
      .withColumn("jaccard", jaccardKernel(col("text_a"), col("text_b"), lit(shingleN)))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Scalable near-dup clustering: instead of materializing all O(m²)
    * pairs inside a hot LSH bucket (a 10⁶-copy boilerplate page at 100 TB
    * would emit 10¹² pairs), link every bucket member to the bucket
    * *minimum* id — O(m) edges — then propagate minimum labels to a
    * fixpoint (connected components; ≤ log(diameter) joins, usually 2-3).
    * Returns (id, cluster_id) where cluster_id = min id of the cluster.
    * Candidates are approximate (LSH); downstream exact verification can
    * filter cluster members against their representative. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, maxIters: Int = 10): DataFrame = {
    val sig = bandedRows(df, idCol, textCol, shingleN, numHashes, bands)
    // O(m) star edges per bucket: member <-> bucket min (undirected, so
    // labels can flow THROUGH a shared member into another bucket's rep —
    // a one-directional member->rep scheme never merges two buckets that
    // share only a non-minimal member)
    val star = sig.groupBy("bk").agg(min("id").as("rep"), collect_set("id").as("ids"))
      .select(explode(col("ids")).as("id"), col("rep"))
      .where(col("id") =!= col("rep"))
    val edges = star.unionByName(
      star.select(col("rep").as("id"), col("id").as("rep"))).cache()
    // min-label propagation over the undirected star graph to a fixpoint
    // (connected components; converges in O(log diameter) rounds)
    var labels = edges.groupBy("id")
      .agg(least(min("rep"), first("id")).as("label")).cache()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(
        labels.select(col("id").as("rep"), col("label").as("nbr_label")), "rep")
        .groupBy("id").agg(min("nbr_label").as("nbr_label"))
      // carry the previous label through the update so convergence is ONE
      // scan of the freshly-cached result — not a separate join of next
      // against labels (which was a second full job per round)
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .cache()
      converged = next.where(col("label") =!= col("prev_label")).isEmpty
      labels.unpersist()
      labels = next.select("id", "label")
      it += 1
    }
    edges.unpersist()
    // contract: (id, rep) for every non-representative member
    labels.where(col("id") =!= col("label"))
      .select(col("id"), col("label").as("rep"))
  }

  // =======================================================================
  // SimHash
  // =======================================================================

  /** 62-bit SimHash over word tokens (deterministic kernel; one UDF call
    * per row — the per-token loop has no SQL-expression equivalent that
    * stays O(tokens)). Per-token bits come from TWO independent 31-bit
    * mod-Mersenne Horner hashes (bases [[HashB]]/[[HashB2]]): bits 0-30
    * from the first, 31-61 from the second — the same family the DuckDB
    * oracle replicates exactly. */
  private val simHashUdf = udf { (tokens: Seq[String]) =>
    val acc = new Array[Int](62)
    tokens.foreach { t =>
      val h1 = hornerHash(t, HashB)
      val h2 = hornerHash(t, HashB2)
      var b = 0
      while (b < 31) {
        if (((h1 >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      while (b < 62) {
        if (((h2 >>> (b - 31)) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 62) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simHash(text: Column): Column = simHashUdf(split(normText(text), " "))

  /** Hamming near-dup search over an (id, sig) table of 64-bit
    * signatures: signatures that agree on at least one of four 16-bit
    * chunks (pigeonhole: full recall for Hamming distance ≤ 3) become
    * candidates, verified by exact Hamming ≤ `maxHamming`. Returns
    * (id_a, id_b, hamming). SimHash text pairs and perceptual-hash media
    * pairs ([[Multimodal.mediaNearDupPairs]]) both run it. */
  private[operators] def hammingPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL)).as("val"))
      }.toIndexedSeq: _*)).as("ck"))
    bucketPairs(chunks, Seq("ck"),
      bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: [[hammingPairs]] over the 62-bit [[simHash]]
    * signatures. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol).as("id"), simHash(col(textCol)).as("sig")),
      maxHamming)
}
