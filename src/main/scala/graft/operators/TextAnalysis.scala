package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analytics for training-data curation: language ID (stopword n-gram
  * heuristic), quality scoring, token counting, and winnowing document
  * fingerprints. Quality/token metrics are pure SQL expressions (codegen,
  * oracle-reproducible); language ID and winnowing are deterministic Scala
  * kernels. */
object TextAnalysis {

  // =======================================================================
  // token counting
  // =======================================================================

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword token estimate: word-piece regex — runs of letters,
    * runs of digits, or single non-space symbols — a stable proxy for BPE
    * vocab tokenization without shipping a vocab. */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?<=[^\\p{L}\\p{N}])|(?=[^\\p{L}\\p{N}])"),
      t => length(t) > 0 && t =!= " "))

  // =======================================================================
  // quality scoring
  // =======================================================================

  /** Heuristic quality score in [0,1]: penalizes very short/very long
    * docs, high punctuation density, low alphabetic ratio, and repeated
    * chars. Pure arithmetic over length/replace counts. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()]", "")).cast("double")
    val spaces = length(text) - length(replace(text, lit(" "), lit("")))
    val words = spaces.cast("double") + 1.0
    val avgWordLen = when(words > 0, (len - spaces) / words).otherwise(lit(0.0))
    val alphaRatio = when(len > 0, alpha / len).otherwise(lit(0.0))
    val punctRatio = when(len > 0, punct / len).otherwise(lit(0.0))
    val lenScore = when(len < 20, len / 20.0)
      .when(len > 20000, lit(0.5)).otherwise(lit(1.0))
    val wordLenScore = when(avgWordLen >= 3 && avgWordLen <= 12, lit(1.0))
      .otherwise(lit(0.5))
    val s = lenScore * wordLenScore *
      greatest(lit(0.0), lit(1.0) - punctRatio * 4.0) *
      least(lit(1.0), alphaRatio * 1.4)
    round(greatest(lit(0.0), least(lit(1.0), s)), 6)
  }

  /** Stopword ratio against a given stopword list (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val words = split(Dedup.normText(text), " ")
    val swArr = array(stopwords.map(lit(_)).toIndexedSeq: _*)
    val hits = size(filter(words, w => array_contains(swArr, w)))
    when(size(words) > 0, hits.cast("double") / size(words).cast("double"))
      .otherwise(lit(0.0))
  }

  // =======================================================================
  // language identification (n-gram/stopword heuristic)
  // =======================================================================

  private val langMarkers: Map[String, Array[String]] = Map(
    "en" -> Array("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "this"),
    "de" -> Array("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von"),
    "fr" -> Array("le", "la", "les", "et", "est", "pas", "pour", "une", "dans", "que", "des", "du"),
    "es" -> Array("el", "la", "los", "las", "y", "es", "no", "por", "una", "en", "que", "del"),
    "it" -> Array("il", "che", "di", "e", "un", "una", "per", "non", "sono", "con", "del", "alla"),
    "pt" -> Array("os", "as", "e", "que", "do", "da", "em", "um", "uma", "para", "como", "mais"))

  /** Deterministic language-ID kernel: score = stopword hits per language
    * (weighted by marker rarity rank), ties → lexicographically smallest
    * code; no hits → "und" (undetermined). Scores are INTEGER (per-hit
    * weight 100 + (12 - rank), i.e. the old 1.0 + (12-rank)*0.01 scaled by
    * 100 — identical ordering) so the scoring is bit-exact across engines
    * and the DuckDB oracle can replicate it. */
  private[operators] def langIdKernel(text: String): String =
    if (text == null || text.isEmpty) "und"
    else {
      val words = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      if (words.isEmpty) "und"
      else {
        var best = "und"; var bestScore = 0L
        for ((lang, markers) <- langMarkers.toSeq.sortBy(_._1)) {
          val set = markers.zipWithIndex.toMap
          var score = 0L
          words.foreach { w =>
            set.get(w).foreach(rank => score += 100 + (12 - rank))
          }
          if (score > bestScore) { best = lang; bestScore = score }
        }
        best
      }
    }

  private val langIdUdf = udf { (text: String) => langIdKernel(text) }

  def langId(text: Column): Column = langIdUdf(text)

  /** DuckDB SQL: per-language integer score columns + the argmax CASE,
    * replicating [[langIdKernel]] exactly. Returns (scoreSelectList,
    * predExpr): embed the scores as columns of a subquery, then apply the
    * CASE over them. Integer arithmetic → engine-exact. */
  def langIdSqlParts(textExpr: String): (String, String) = {
    val words = s"list_filter(string_split_regex(lower($textExpr), '[^\\p{L}]+'), w -> w <> '')"
    def scoreOf(markers: Array[String]): String = {
      val cases = markers.zipWithIndex.map { case (m, r) =>
        s"WHEN '${m}' THEN ${100 + (12 - r)}" }.mkString(" ")
      s"coalesce(list_sum(list_transform($words, w -> CASE w $cases ELSE 0 END)), 0)"
    }
    val sorted = langMarkers.toSeq.sortBy(_._1)
    val selectList = sorted.map { case (lang, ms) =>
      s"${scoreOf(ms)} AS s_$lang" }.mkString(", ")
    val g = sorted.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    // langs in sorted order with first-match CASE: on score ties the
    // lexicographically smallest code wins — same as the kernel's
    // strict-> fold over sorted langs
    val arms = sorted.map { case (l, _) => s"WHEN s_$l = $g THEN '$l'" }.mkString(" ")
    (selectList, s"CASE WHEN $g <= 0 THEN 'und' $arms END")
  }

  // =======================================================================
  // document fingerprinting (winnowing)
  // =======================================================================

  /** Winnowing fingerprint (Schleimer et al. 2003, public algorithm):
    * rolling polynomial hash over character k-grams, minimum per window of
    * w hashes, distinct sorted. The standard local document fingerprint
    * for near-dup detection/plagiarism.
    *
    * The hash is polynomial mod the Mersenne prime 2^31-1 (base 1000003):
    * all intermediates fit in 52 bits, so the arithmetic is exactly
    * replicable by engines WITHOUT wraparound multiplication (the DuckDB
    * oracle mirrors it as a non-rolling Horner per k-gram — the same
    * value mod M). M and the base are [[Dedup.HashM]] / [[Dedup.HashB]]. */
  private val winnowUdf = udf { (text: String, k: Int, w: Int) =>
    if (text == null || text.length < k) Array.empty[Long]
    else {
      val s = text.toLowerCase
      val n = s.length - k + 1
      val hs = new Array[Long](n)
      val B = Dedup.HashB; val M = Dedup.HashM
      var pow = 1L
      var i = 1
      while (i < k) { pow = pow * B % M; i += 1 }
      var h = 0L
      i = 0
      while (i < k) { h = (h * B + s.charAt(i).toLong) % M; i += 1 }
      hs(0) = h
      i = 1
      while (i < n) {
        val t = (h + M - s.charAt(i - 1).toLong * pow % M) % M
        h = (t * B + s.charAt(i + k - 1).toLong) % M
        hs(i) = h
        i += 1
      }
      if (n <= w) Array(hs.min)
      else {
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var start = 0
        while (start + w <= n) {
          var minIdx = start
          var j = start + 1
          while (j < start + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
          out += hs(minIdx)
          start += 1
        }
        out.toArray.sorted
      }
    }
  }

  def fingerprint(text: Column, k: Int = 5, w: Int = 4): Column =
    winnowUdf(text, lit(k), lit(w))

  /** Convenience: all curation columns in one pass. */
  def enrich(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", wsTokenCount(col(textCol)))
      .withColumn("bpeish_tokens", bpeishTokenCount(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("lang_pred", langId(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))
}
