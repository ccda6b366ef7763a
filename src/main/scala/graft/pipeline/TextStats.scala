package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * narrow maps (no shuffle at all — each runs in one pass over the text
  * column and scales linearly with executors), with closed-form,
  * SQL-replicable semantics so the DuckDB oracles certify them exactly.
  */
object TextStats {

  /** Marker-token sets for the language-ID heuristic (stopword voting —
    * the classic trigram-profile approach reduced to its deterministic
    * core; ties broken by language code ascending, no-hit => "und"). */
  val Markers: Seq[(String, Set[String])] = Seq(
    "de" -> Set("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en" -> Set("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Set("el", "la", "que", "y", "los", "una", "por"),
    "fr" -> Set("le", "et", "les", "des", "une", "est", "dans"))

  def languageOf(text: String): String = {
    val (tf, _) = Analyzer.standard.termFreqCounts(text)
    var best = "und"
    var bestHits = 0L
    // iteration in Markers order = lang ascending => ">" implements the
    // (hits desc, lang asc) tiebreak
    Markers.foreach { case (lang, set) =>
      var hits = 0L
      val it = set.iterator
      while (it.hasNext) {
        val t = it.next()
        hits += tf.getOrDefault(t, 0).toLong
      }
      if (hits > bestHits) { best = lang; bestHits = hits }
    }
    best
  }

  /** (doc_id, lang_pred) for every doc. */
  def languageId(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, languageOf(t)) }
      .toDF("doc_id", "lang_pred")
  }

  /** Heuristic quality score in [0,1]:
    *   0.5 * min(1, tokens/50)        (length prior)
    * + 0.25 * stopwordHits/tokens     (natural-language prior)
    * + 0.25 * asciiAlnumChars/chars   (boilerplate/binary-noise prior)
    * Empty docs score 0. Exact double arithmetic in this op order.
    */
  def qualityOf(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val (tf, len) = Analyzer.standard.termFreqCounts(text)
    if (len == 0) return 0.0
    var stopHits = 0L
    val en = Markers.collectFirst { case ("en", s) => s }.get
    en.foreach(t => stopHits += tf.getOrDefault(t, 0).toLong)
    var alnum = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == ' ')
        alnum += 1
      i += 1
    }
    0.5 * math.min(1.0, len.toDouble / 50.0) +
      0.25 * (stopHits.toDouble / len.toDouble) +
      0.25 * (alnum.toDouble / text.length.toDouble)
  }

  def qualityScore(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, qualityOf(t)) }
      .toDF("doc_id", "q")
      .select(col("doc_id"), round(col("q"), 6).as("quality"))
  }

  private val SubTokenRe = java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")

  /** Whitespace token count + BPE-style pre-tokenizer count (letter runs,
    * digit runs, single punctuation — the GPT-2 pre-tokenizer's shape). */
  def tokenCounts(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .map { case (id, t0) =>
        val t = if (t0 == null) "" else t0
        val ws = Analyzer.standard.termFreqCounts(t)._2.toLong
        val m = SubTokenRe.matcher(t.toLowerCase)
        var sub = 0L
        while (m.find()) sub += 1
        (id, ws, sub)
      }
      .toDF("doc_id", "ws_tokens", "sub_tokens")
  }

  /** Bottom-k document fingerprint: the k lexicographically smallest
    * 16-hex-char shingle hashes, ':'-joined (a winnowing-style sketch;
    * equal fingerprints => near-identical shingle sets). Hex-string order
    * == unsigned hash order, so the sketch is system-agnostic. Docs with
    * no shingles fingerprint as the empty string.
    */
  def fingerprintOf(text: String, k: Int = 4, shingleK: Int = 3): String = {
    val hs = TextHash.shingles(text, shingleK).map { sh =>
      val d = graft.index.IndexBuilder.sha256Digest(sh)
      val sb = new java.lang.StringBuilder(16)
      var i = 0
      while (i < 8) {
        sb.append("0123456789abcdef".charAt((d(i) >> 4) & 0xF))
        sb.append("0123456789abcdef".charAt(d(i) & 0xF))
        i += 1
      }
      sb.toString
    }
    java.util.Arrays.sort(hs, implicitly[Ordering[String]])
    hs.take(k).mkString(":")
  }

  def fingerprints(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, fingerprintOf(t, k)) }
      .toDF("doc_id", "fp")
  }
}
