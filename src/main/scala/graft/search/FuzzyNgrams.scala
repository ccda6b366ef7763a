package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.BuiltIndex

/** Sub-linear fuzzy candidate generation: a trigram sidecar over the term
  * dictionary (the classic n-gram spell-checker index — the role Lucene's
  * FST/Levenshtein-automaton intersection plays in `FuzzyQuery`,
  * `core/search/multitermquery.go:70-103` rewrite machinery; the reference
  * itself ships no fuzzy implementation).
  *
  * Why: the scan-filter fuzzy path ([[FuzzyPred]]) pushes only the
  * code-point LENGTH window to parquet stats — sound, but a length window
  * keeps IO linear in dictionary size (most row groups span most lengths).
  * The sidecar inverts the dictionary by padded code-point trigram, sorted
  * by gram, so a query's grams become `In(gram, ...)` row-group seeks: IO
  * proportional to the query's gram postings, not the dictionary — the
  * same seek the engine's term dictionary gives `TermQ`.
  *
  * Candidate rule (SOUND — proved by `FuzzyNgramsSpec`'s mutation
  * property): with G(s) = the DISTINCT trigrams of s padded by n−1
  * sentinels each side, a single edit destroys at most n distinct grams of
  * G(s) (occurrences not overlapping the edit keep their content; a
  * shifted occurrence still witnesses set membership), so
  *
  *   lev(q, t) <= e  ⇒  |G(q) ∩ G(t)| >= |G(q)| − n·e.
  *
  * Terms passing the count threshold (plus the length window) are then
  * re-checked with the EXACT code-point levenshtein — the candidate stage
  * can only lose false positives, never a true match. When the threshold
  * is non-positive (short query terms: |G(q)| = cpLen + n − 1), the caller
  * falls back to the scan-filter path, which that slice is cheap for.
  *
  * Lifecycle: the sidecar is a DERIVED cache of the dictionary (like the
  * persisted IVF centroids), written under `indexDir/fuzzy_ngrams/` in a
  * directory named by (manifest generation, n, codec version) and gated on
  * `_SUCCESS`. Any append or merge bumps the generation, so a stale
  * sidecar can never serve candidates for a dictionary it has not seen —
  * [[buildOrLoad]] rebuilds, reaping only sidecars of DEAD generations
  * (at or below the manifest's generation and not in its liveGens): a
  * live older generation may still be serving a concurrent reader. Ghost terms
  * from tombstoned docs may remain in the sidecar: a candidate SUPERSET is
  * harmless (their postings are tombstone-filtered like any other query).
  */
final class FuzzyNgrams private (val dataDir: String, val generation: Long)
    extends Serializable {

  /** The (gram, term, termLen) sidecar frame, gram-sorted within files. */
  def df(spark: SparkSession): DataFrame = spark.read.parquet(dataDir)

  /** The pre-aggregation candidate frame — exposed for plan assertions:
    * the gram IN (...) disjunction and the termLen window must BOTH reach
    * the sidecar scan's PushedFilters. */
  private[graft] def candidateFrame(spark: SparkSession, term: String,
                                    maxEdits: Int): DataFrame = {
    val qGrams = FuzzyNgrams.grams(term)
    val cpLen = term.codePointCount(0, term.length)
    df(spark).where(col("gram").isin(qGrams.toSeq: _*) &&
      col("termLen").between(cpLen - maxEdits, cpLen + maxEdits))
  }

  /** Candidate terms within `maxEdits` of `term`, or None when the count
    * threshold cannot prune (short terms — caller falls back to the scan
    * path). The returned terms are EXACT matches of the levenshtein
    * window: count-filter then exact DP re-check, both on the candidate
    * slice only.
    */
  def candidates(spark: SparkSession, term: String, maxEdits: Int): Option[DataFrame] = {
    val qGrams = FuzzyNgrams.grams(term)
    val threshold = qGrams.length - FuzzyNgrams.N * maxEdits
    if (threshold <= 0) None
    else Some(
      candidateFrame(spark, term, maxEdits)
        .groupBy("term").agg(count(lit(1)).as("shared"))
        .where(col("shared") >= threshold)
        .where(levenshtein(col("term"), lit(term)) <= maxEdits)
        .select("term"))
  }
}

object FuzzyNgrams {
  /** Gram width. 3 balances selectivity (2-grams match too much) against
    * the prune floor (threshold > 0 needs cpLen > n·(maxEdits+1) − n + 1;
    * with n=3, e=2 terms of length >= 5 prune). */
  val N = 3

  // Sentinel pad code points (outside any analyzed token's alphabet in
  // practice; a collision only widens the candidate set, never narrows it
  // — both sides gram through the same function).
  private val PadL = 1.toChar
  private val PadR = 2.toChar

  /** DISTINCT padded code-point n-grams of `s`, the G(·) of the candidate
    * rule. Code points (not Java chars) so the gram algebra lives in the
    * same alphabet as the exact code-point levenshtein metric. */
  def grams(s: String): Array[String] = {
    val padded = new StringBuilder
    var i = 0
    while (i < N - 1) { padded.append(PadL); i += 1 }
    padded.append(s)
    i = 0
    while (i < N - 1) { padded.append(PadR); i += 1 }
    val cps = FuzzyPred.codePoints(padded.toString)
    if (cps.length < N) return Array.empty
    val out = new scala.collection.mutable.LinkedHashSet[String]
    var j = 0
    while (j + N <= cps.length) {
      out += new String(cps, j, N)
      j += 1
    }
    out.toArray
  }

  private def root(index: BuiltIndex): String = s"${index.indexDir}/fuzzy_ngrams"

  /** The exact sidecar dir name serving a given manifest: generation +
    * gram width + codec version. Exposed so CheckIndex classifies versions
    * by the SAME full key buildOrLoad matches on — a current-generation dir
    * with a different gram width/codec is never served and must read as
    * stale, not current. */
  def currentVersionName(m: graft.index.Manifest): String =
    s"v=${m.generation}_n${N}_c${m.codecVersion}"

  /** Parses the generation out of a sidecar dir name. */
  private[graft] val VersionRe = """v=(\d+)_.*""".r

  private def versionName(index: BuiltIndex): String =
    currentVersionName(index.manifest)

  /** Load the sidecar matching THIS index generation, building it (and
    * reaping superseded sidecar dirs) when absent. The build is one
    * distributed pass over the distinct dictionary: explode grams, range-
    * partition + sort by gram so parquet min/max stats serve `In(gram)`
    * row-group skipping.
    */
  def buildOrLoad(spark: SparkSession, index: BuiltIndex): FuzzyNgrams = {
    val dir = s"${root(index)}/${versionName(index)}"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (fs.exists(done)) return new FuzzyNgrams(dir, index.manifest.generation)

    import spark.implicits._
    val dict = index.postings(spark).select("term", "termLen").distinct()
      .as[(String, Int)]
    val rows = dict.flatMap { case (t, len) => grams(t).map(g => (g, t, len)) }
      .toDF("gram", "term", "termLen")
    rows.repartitionByRange(col("gram")).sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(dir)

    // reap sidecars of DEAD generations only (best effort, after the new
    // commit): a generation the manifest no longer lists has had its
    // posting dirs deleted, so no reader it could serve survives. A sidecar
    // of a LIVE older generation must stay — a concurrent reader holding
    // that generation's manifest (valid: its posting dirs are still on
    // disk after a plain append) would otherwise crash mid-query with
    // FileNotFoundException instead of this class's clean
    // generation-mismatch error. Live-but-superseded versions are reclaimed
    // once a merge retires their generation (next buildOrLoad), and
    // CheckIndex reports them in the meantime.
    val m = index.manifest
    val live = m.liveGens.toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(root(index))).foreach { st =>
      if (st.isDirectory && st.getPath.getName != versionName(index)) {
        val dead = st.getPath.getName match {
          case VersionRe(g) => g.toLong <= m.generation && !live(g.toLong)
          case _ => true // unparseable garbage (never a serveable version)
        }
        if (dead) fs.delete(st.getPath, true)
      }
    }
    new FuzzyNgrams(dir, index.manifest.generation)
  }
}
