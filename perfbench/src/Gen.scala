package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.search._

/** Seeded input generator. Everything the engine receives (documents,
  * queries, the lifecycle script) is a pure function of the seed, drawn from
  * one `SplittableRandom` per stream so that changing one stream's size never
  * shifts another stream's draws.
  *
  * Corpus shape: code-like tokens from a Zipf(s = 1.0) vocabulary of
  * [[Gen.VocabSize]] terms, log-normal document lengths (some empty, some
  * over 255 tokens so the mod-256 norm wraps), and one optional tag token
  * per document (`tag#NN`, never in the vocabulary) that the ingest script
  * deletes by.
  */
object Gen {
  val VocabSize = 50000
  val Tags = 64

  final case class Doc(id: Long, text: String, tag: Int)

  final case class Corpus(docs: Array[Doc]) {
    lazy val contentBytes: Long = docs.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
  }

  final case class QuerySpec(shape: String, query: Query, local: Boolean)

  sealed trait Step
  final case class Append(from: Int, until: Int) extends Step
  final case class DeleteTag(tag: Int) extends Step
  case object Merge extends Step

  def tagTerm(t: Int): String = f"tag#$t%02d"

  private val Syllables = Array(
    "ab", "ac", "ad", "al", "an", "ar", "as", "at", "ba", "be", "bo", "ca", "ce", "co", "da", "de",
    "di", "do", "el", "en", "er", "es", "et", "fa", "fi", "fo", "ga", "ge", "go", "ha", "he", "in",
    "io", "is", "it", "ka", "la", "le", "li", "lo", "ma", "me", "mi", "mo", "na", "ne", "no", "nu",
    "or", "pa", "pe", "po", "ra", "re", "ri", "ro", "sa", "se", "si", "so", "ta", "te", "ti", "to")
  private val Prefixes = Array("", "", "", "get", "set", "is", "_", "m_", "k", "on")
  private val Suffixes = Array("", "", "", "s", "()", "_t", "er", ".h", "2", "[]")

  /** The vocabulary in rank order: rank 0 is the most frequent term. The
    * rank→identifier assignment is a seeded shuffle, so each seed has its
    * own hot terms. */
  def vocabulary(seed: Long): Array[String] = {
    val rnd = new SplittableRandom(seed ^ 0x766f636162L)
    val seen = new java.util.HashSet[String]()
    val words = new Array[String](VocabSize)
    var i = 0
    while (i < VocabSize) {
      val core = new StringBuilder
      var v = i + 1
      while (v > 0) { core.append(Syllables(v & 63)); v >>>= 6 }
      var w = Prefixes(rnd.nextInt(Prefixes.length)) + core + Suffixes(rnd.nextInt(Suffixes.length))
      while (!seen.add(w)) w += "x"
      words(i) = w
      i += 1
    }
    var j = VocabSize - 1
    while (j > 0) {
      val k = rnd.nextInt(j + 1)
      val t = words(j); words(j) = words(k); words(k) = t
      j -= 1
    }
    words
  }

  /** Inverse-CDF sampler for Zipf(1.0) over ranks [0, n). */
  final class Zipf(n: Int) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
      r = 0
      while (r < n) { c(r) /= acc; r += 1 }
      c
    }
    def next(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `n` documents with ids starting at `firstId`; `stream` separates the
    * draws of independent corpora built from one seed. */
  def corpus(seed: Long, stream: Int, n: Int, firstId: Long = 0L): Corpus = {
    val vocab = vocabulary(seed)
    val zipf = new Zipf(VocabSize)
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    val docs = new Array[Doc](n)
    var d = 0
    while (d < n) {
      val len =
        if (rnd.nextInt(100) == 0) 0
        else math.min(4000, math.round(math.exp(math.log(60.0) + 0.9 * gaussian(rnd))).toInt)
      val tag = if (len > 0 && rnd.nextBoolean()) rnd.nextInt(Tags) else -1
      val tagAt = if (tag >= 0) rnd.nextInt(len) else -1
      val sb = new StringBuilder
      var t = 0
      while (t < len) {
        if (t > 0) sb.append(if (rnd.nextInt(12) == 0) '\n' else ' ')
        if (t == tagAt) { sb.append(tagTerm(tag)).append(' ') }
        val w = vocab(zipf.next(rnd))
        // capitalised spellings exercise the analyzer's lowercasing
        if (rnd.nextInt(8) == 0) sb.append(w.capitalize) else sb.append(w)
        t += 1
      }
      docs(d) = Doc(firstId + d, sb.toString, tag)
      d += 1
    }
    Corpus(docs)
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u1 = 1.0 - rnd.nextDouble()
    val u2 = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Interactive query log: Zipf-drawn terms in six shapes that repeat in a
    * fixed cycle, so every seed has the same shape mix. Each cycle goes to
    * `search(...).collect()` or `searchLocal` in turn, so both entry points
    * get every shape equally often. Phrases are consecutive tokens of a
    * corpus document, so they match. */
  def interactiveLog(seed: Long, corpus: Corpus, n: Int): Vector[QuerySpec] = {
    val vocab = vocabulary(seed)
    val zipf = new Zipf(VocabSize)
    val rnd = new SplittableRandom(seed * 7919L + 11)
    val shapes = Vector("term", "and", "or_msm", "mixed", "dismax", "phrase")
    Vector.tabulate(n) { i =>
      val shape = shapes(i % shapes.size)
      val q = if (shape == "phrase") phrase(rnd, corpus) else shaped(shape, rnd, TermQ(vocab(zipf.next(rnd))))
      QuerySpec(shape, q, local = (i / shapes.size) % 2 == 1)
    }
  }

  /** One boolean-shaped query over terms drawn by `term`. */
  private def shaped(shape: String, rnd: SplittableRandom, term: => Query): Query = shape match {
    case "term" => term
    case "and" => BoolQ(must = Seq(term, term))
    case "or_msm" => BoolQ(should = Seq.fill(3 + rnd.nextInt(2))(term), minShouldMatch = 2)
    case "mixed" => BoolQ(must = Seq(term), should = Seq(term, term), mustNot = Seq(term))
    case "dismax" => DisjMaxQ(Seq.fill(2 + rnd.nextInt(2))(term), 0.1)
  }

  private def phrase(rnd: SplittableRandom, corpus: Corpus): Query = {
    var toks: Array[String] = Array.empty
    while (toks.length < 3) {
      toks = corpus.docs(rnd.nextInt(corpus.docs.length)).text.toLowerCase
        .split("\\s+").filter(t => t.nonEmpty && !t.startsWith("tag#"))
    }
    val len = 2 + rnd.nextInt(2)
    val at = rnd.nextInt(toks.length - len + 1)
    PhraseQ(toks.slice(at, at + len).toSeq)
  }

  /** Zipf ranks the batch log's terms are drawn from, and how many. */
  val BatchRanks: Range = 16 until 112
  val BatchTerms = 32

  /** Selective batch log: the query-log norm of the production batch — the
    * same boolean shapes over a fixed sample of [[BatchTerms]] terms at
    * evenly spaced ranks of [[BatchRanks]], so that every seed's sample has
    * the same term frequencies (the seeded vocabulary shuffle still gives
    * each seed its own terms). On the `query` corpus the sample holds about
    * 6 % of the postings, and a sampled term's posting list spans at least
    * two blocks in each segment, so queries decode and score real posting
    * lists. `stream` selects an independent log. */
  def batchLog(seed: Long, n: Int, stream: Int = 0): Vector[(String, Query)] = {
    val vocab = vocabulary(seed)
    val rnd = new SplittableRandom(seed * 104729L + 5 + stream)
    val sample = Array.tabulate(BatchTerms)(i => vocab(BatchRanks(i * BatchRanks.size / BatchTerms)))
    val shapes = Vector("term", "or_msm", "and", "term", "or_msm", "mixed", "term", "or_msm", "and", "dismax")
    Vector.tabulate(n)(i => (s"q$i", shaped(shapes(i % shapes.size), rnd, TermQ(sample(rnd.nextInt(sample.length))))))
  }

  /** Lifecycle script over `appendDocs` new documents: micro-batch appends
    * of `batchDocs`, a delete of a seeded tag after every third append and
    * a tiered merge after every fourth. Each step is one commit. */
  def script(seed: Long, appendDocs: Int, batchDocs: Int): Vector[Step] = {
    val rnd = new SplittableRandom(seed * 15485863L + 3)
    val tags = new scala.util.Random(rnd.nextLong()).shuffle((0 until Tags).toVector)
    val out = Vector.newBuilder[Step]
    var appended = 0
    var nDel = 0
    var i = 0
    while (appended < appendDocs) {
      val n = math.min(batchDocs, appendDocs - appended)
      out += Append(appended, appended + n)
      appended += n
      i += 1
      if (i % 3 == 0) { out += DeleteTag(tags(nDel)); nDel += 1 }
      if (i % 4 == 0) out += Merge
    }
    out.result()
  }

  /** SHA-256 over every generated byte of a (corpus, query logs, script)
    * triple — the determinism self-test compares these. */
  def digest(c: Corpus, logs: Seq[Seq[Any]], steps: Seq[Step]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    c.docs.foreach { d => md.update(s"${d.id}\u0000${d.tag}\u0000".getBytes(UTF_8)); md.update(d.text.getBytes(UTF_8)) }
    logs.foreach(_.foreach(x => md.update(x.toString.getBytes(UTF_8))))
    steps.foreach(s => md.update(s.toString.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}
