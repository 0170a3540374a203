package perfbench

import graft.corpus.SyntheticCorpus
import graft.model.Page

/** Every input of a run, derived from `--seed` alone: where the run's slice
  * of the synthetic corpus starts, and the query streams. The program under
  * test only ever sees what these functions return.
  */
final class Inputs(val seed: Long) {

  /** First corpus row of this seed's pages. Rows stay below 10^8 so urls
    * keep their 8-digit zero-padded (url-sortable) form.
    */
  val offset: Long = (SyntheticCorpus.mix(seed ^ 0x5eedL) >>> 1) % 50000000L

  def docIndex(i: Long): Long = offset + i

  def page(i: Long): Page = SyntheticCorpus.page(docIndex(i))

  def isEn(i: Long): Boolean = SyntheticCorpus.lang(docIndex(i)) == "en"

  def url(i: Long): String = SyntheticCorpus.url(docIndex(i))

  /** Independent deterministic stream per purpose (warm-up, measure, …). */
  def rng(stream: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      SyntheticCorpus.mix(seed * 31L + stream.hashCode.toLong))

  /** A scattered ~`permille`‰ sample of rows in [0, n), at least one. */
  def scatteredRows(n: Long, permille: Int): Seq[Long] = {
    val picked = (0L until n).filter(i =>
      java.lang.Long.remainderUnsigned(
        SyntheticCorpus.mix(seed * 7919L + docIndex(i)), 1000L) < permille)
    if (picked.nonEmpty) picked else Seq(n / 2)
  }
}

object Inputs {
  private def w(r: Int): String = SyntheticCorpus.word(r)
  /** Words of the phrases SyntheticCorpus plants in its pages. */
  private val PlantedWords = Seq("obama", "family", "tree", "french", "lick", "resort")
  private lazy val Stopwords: IndexedSeq[String] =
    graft.analysis.Tokenizer.stopwords.toIndexedSeq.sorted

  /** The golden-ratio step of the mid-term sequence below. */
  private val Phi = 0.6180339887498949

  /** A search-bow query stream. Each bag has one head term (ranks 0–49)
    * plus 1–3 terms of ranks 50–3000; 1 bag in 10 adds a stopword and 1 in
    * 10 a planted-phrase word. The mix is stratified along the stream, so
    * that even a short run sees the same mix under every seed and two
    * seeds differ in their terms, not in how costly their queries are:
    * bag lengths cycle 2, 3, 4; the m-th bag of each length has head rank
    * ⌊frac(v + m·φ)·50⌋ and the k-th mid term of the stream rank
    * 50 + ⌊frac(u + k·φ)·2951⌋, for seeded v (one per length) and u
    * (golden-ratio sequences, even over any prefix); the planted words take
    * turns.
    */
  def bags(r: java.util.SplittableRandom, count: Int): IndexedSeq[Seq[String]] = {
    def frac(x: Double) = x - math.floor(x)
    val v = IndexedSeq.fill(3)(r.nextDouble())
    val u = r.nextDouble()
    val planted0 = r.nextInt(PlantedWords.length)
    var k = 0L
    def mid(): String = {
      val x = u + k * Phi
      k += 1
      w(50 + (frac(x) * 2951).toInt)
    }
    IndexedSeq.tabulate(count) { i =>
      val head = w((frac(v(i % 3) + (i / 3) * Phi) * 50).toInt)
      val base = head +: Seq.fill(1 + i % 3)(mid())
      val withStop =
        if (i % 10 == 4) base :+ Stopwords(r.nextInt(Stopwords.length)) else base
      if (i % 10 == 9)
        withStop :+ PlantedWords((planted0 + i / 10) % PlantedWords.length)
      else withStop
    }
  }
}
