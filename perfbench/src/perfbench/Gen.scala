package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded, Common-Crawl-like inputs. Every document is a pure function of
  * (seed, doc_id), so a corpus is generated as one Spark job over a
  * contiguous doc_id range and any slice of it can be regenerated alone.
  *
  *  - vocabulary: [[VocabSize]] terms ranked by a Zipf (s = 1) law;
  *  - document lengths: log-normal, clamped to [3, 400] tokens;
  *  - about 1 % of the terms past rank 100 carry a multibyte UTF-8
  *    letter (0.5 % of tokens), so some 15-20 % of the documents leave
  *    the tokenizer's ASCII fast path;
  *  - sentence-initial words are capitalised and sentences end in
  *    punctuation, so lowercasing and splitting do real work;
  *  - `lang` is the filter column, `source` feeds the page URL of
  *    [[graft.extra.Pages.fromDocuments]].
  *
  * perfbench/README.md says which shares follow published figures (the
  * `lang` shares, the query lengths, the out-of-vocabulary share) and
  * which are assumptions (document lengths, the multibyte share, the
  * other query kinds).
  */
object Gen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String)
  final case class QueryRow(query_id: Int, qtext: String, kind: String)

  val VocabSize = 30000
  val HeadRanks = 50
  val RareFrom = 3000
  /** Page languages in about the shares of Common Crawl's language
    * statistics (rounded): English 45 %, six large languages at 4.5-6 %
    * each, and many small ones, here `other`. */
  val Langs = Array("en", "ru", "de", "zh", "ja", "es", "fr", "other")
  private val LangCdf = Array(0.45, 0.51, 0.57, 0.62, 0.67, 0.72, 0.765, 1.0)
  /** Terms per query, 1 to 5: the non-empty AltaVista queries of
    * Silverstein et al. (SIGIR Forum, 1999) were 32 % one term, 33 % two,
    * 19 % three and 16 % more, here split 10 % four and 6 % five. */
  private val LengthCdf = Array(0.32, 0.65, 0.84, 0.94, 1.0)
  // no 'q' or 'z': the out-of-vocabulary marker "zzq" can never be a term
  private val Syllables = Array(
    "ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du", "fa", "fe",
    "fi", "fo", "ga", "ge", "gi", "go", "ha", "he", "hi", "ho", "ka", "ke",
    "ki", "ko", "la", "le", "li", "lo", "lu", "ma", "me", "mi", "mo", "mu",
    "na", "ne", "ni", "no", "nu", "pa", "pe", "pi", "po", "ra", "re", "ri",
    "ro", "ru", "sa", "se", "si", "so", "ta", "te", "ti", "to", "va", "ve",
    "vi", "vo", "ya", "yo")
  // each starts with a non-ASCII letter, so an ASCII stem plus one of
  // these can never equal another stem plus another
  private val Multibyte = Array("é", "ün", "ßa", "жи", "日本", "ño", "ça", "øy")
  val OovMarker = "zzq"

  /** splitmix64 finaliser: the per-(seed, key) stream seed. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def uniform(): Double = (next() >>> 11) * (1.0 / (1L << 53))
    def below(n: Int): Int = ((next() >>> 1) % n).toInt
    def gauss(): Double =
      math.sqrt(-2 * math.log(1 - uniform())) * math.cos(2 * math.Pi * uniform())
  }

  /** Zipf(s = 1) CDF over ranks 0 until VocabSize. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** Term of a rank: a bijective syllable spelling of the rank (rotated by
    * the seed, so seeds differ in spelling), plus a multibyte suffix on a
    * seeded 1 % of the ranks past the head. */
  def word(seed: Long, rank: Int): String = {
    val sb = new StringBuilder
    val rot = (mix(seed) >>> 1) % Syllables.length
    var r = rank
    do {
      sb.append(Syllables(((r % Syllables.length + rot) % Syllables.length).toInt))
      r = r / Syllables.length - 1
    } while (r >= 0)
    val h = mix(seed * 31 + rank)
    if (rank >= 100 && (h >>> 1) % 100 == 0)
      sb.append(Multibyte(((h >>> 8) % Multibyte.length).toInt))
    sb.toString
  }

  private val vocabs = new java.util.concurrent.ConcurrentHashMap[Long, Array[String]]()
  def vocab(seed: Long): Array[String] =
    vocabs.computeIfAbsent(seed, s => Array.tabulate(VocabSize)(word(s, _)))

  def doc(seed: Long, docId: Long): Doc = {
    val rng = new Rng(mix(seed) ^ mix(docId * 0x632BE59BD9B4E019L))
    val v = vocab(seed)
    val n = math.max(3, math.min(400, math.round(math.exp(3.4 + 0.9 * rng.gauss())).toInt))
    val sb = new StringBuilder(n * 7)
    var i = 0
    var sentenceLeft = 0
    while (i < n) {
      val w = v(zipfRank(rng.uniform()))
      if (sentenceLeft == 0) {
        if (i > 0) sb.append(". ")
        sentenceLeft = 5 + rng.below(11)
        sb.append(w.charAt(0).toUpper).append(w, 1, w.length)
      } else {
        sb.append(if (rng.below(12) == 0) ", " else " ").append(w)
      }
      sentenceLeft -= 1
      i += 1
    }
    sb.append('.')
    val u = rng.uniform()
    val lang = Langs(LangCdf.indexWhere(u < _))
    Doc(docId, sb.toString, lang, s"crawl-${rng.below(16)}")
  }

  /** Documents [lo, hi) as a Spark job (no driver-side materialisation). */
  def docs(spark: SparkSession, seed: Long, lo: Long, hi: Long, slices: Int): Dataset[Doc] = {
    import spark.implicits._
    spark.range(lo, hi, 1, slices).as[Long].mapPartitions(_.map(doc(seed, _)))
  }

  /** The query log: 1-5 terms each, in a fixed mix of kinds.
    *  - zipf (40 %): every term drawn from the corpus law (head-heavy in
    *    practice);
    *  - head (15 %): terms from the top [[HeadRanks]] ranks only;
    *  - rare (23 %): terms drawn uniformly from ranks past [[RareFrom]];
    *  - repeat (10 %): one term given twice (callers pass distinct terms,
    *    as `QuerySet.queryTerms` does);
    *  - oov (12 %): one term no document contains, plus corpus terms; the
    *    share of web queries with a misspelt term is 10-15 % (Cucerzan and
    *    Brill, EMNLP 2004). */
  def queries(seed: Long, n: Int): Seq[QueryRow] = {
    val rng = new Rng(mix(seed ^ 0x5DEECE66DL))
    val v = vocab(seed)
    def zipf() = v(zipfRank(rng.uniform()))
    def rare() = v(RareFrom + rng.below(VocabSize - RareFrom))
    (1 to n).map { qid =>
      val l = rng.uniform()
      val len = 1 + LengthCdf.indexWhere(l < _)
      val u = rng.uniform()
      val (kind, terms) =
        if (u < 0.40) ("zipf", Seq.fill(len)(zipf()))
        else if (u < 0.55) ("head", Seq.fill(len)(v(rng.below(HeadRanks))))
        else if (u < 0.78) ("rare", Seq.fill(math.min(len, 3))(rare()))
        else if (u < 0.88) { val t = zipf(); ("repeat", t +: t +: Seq.fill(len - 1)(zipf())) }
        else ("oov", s"$OovMarker${Syllables(rng.below(Syllables.length))}${rng.below(1000)}" +:
          Seq.fill(len - 1)(zipf()))
      QueryRow(qid, terms.mkString(" "), kind)
    }
  }
}
