package perfbench

import scala.collection.mutable

/** Seeded synthetic corpus: a Zipf (s = 1) vocabulary of terms that pass
  * `Text.keepToken`, lognormal document lengths around 120 tokens, and a
  * few percent of planted near-duplicates that copy a document of
  * another shard with one token replaced.
  *
  * Every document is a pure function of (seed, doc_id), so the checks
  * can regenerate any document's tokens on demand instead of holding
  * the corpus in memory.
  */
final class Corpus(val seed: Long, val vocabSize: Int = 20000,
                   val shardSize: Long = Long.MaxValue, val plantRate: Double = 0.0,
                   val plantLimit: Long = 0L) {
  import Corpus._

  /** Term strings, index = Zipf rank (0 = most frequent). */
  val vocab: Array[String] = {
    val rnd = new java.util.Random(mix(seed, -1L))
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize) {
      val n = 2 + rnd.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until n) {
        sb += Onsets(rnd.nextInt(Onsets.length))
        sb += Vowels(rnd.nextInt(Vowels.length))
        if (rnd.nextInt(3) == 0) sb += Codas(rnd.nextInt(Codas.length))
      }
      val t = sb.toString
      if (t.length >= 3 && !Stopwords.contains(t)) seen += t
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipf(rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, vocabSize - 1)
  }

  private def baseTokens(id: Long): Array[Int] = {
    val rnd = new java.util.Random(mix(seed, id))
    val len = math.max(MinLen, math.min(MaxLen,
      math.round(math.exp(LenMu + LenSigma * rnd.nextGaussian())).toInt))
    Array.fill(len)(zipf(rnd))
  }

  private def shardOf(id: Long): Long = if (shardSize == Long.MaxValue) 0L else id / shardSize

  /** Whether `id` is a planted near-duplicate (decided per id, never
    * chained: a source is never itself planted). */
  def planted(id: Long): Boolean =
    plantRate > 0 && id < plantLimit && plantLimit / shardSize > 1 &&
      new java.util.Random(mix(seed ^ 0x5bd1e995L, id)).nextDouble() < plantRate

  /** The planted document `id` copies, if any: a non-planted document
    * of another shard long enough that one replaced token keeps the
    * trigram Jaccard at or above 0.9. */
  val sourceOf: Long => Option[Long] = {
    val memo = mutable.LongMap.empty[Option[Long]]
    id => memo.getOrElseUpdate(id, {
      if (!planted(id)) None
      else {
        val rnd = new java.util.Random(mix(seed ^ 0x27d4eb2fL, id))
        val shards = plantLimit / shardSize
        val picks = Iterator.continually {
          val s = (shardOf(id) + 1 + rnd.nextInt((shards - 1).toInt)) % shards
          s * shardSize + (rnd.nextDouble() * shardSize).toLong
        }.take(20)
        picks.find(s => !planted(s) && baseTokens(s).length >= 60)
      }
    })
  }

  def tokens(id: Long): Array[Int] = sourceOf(id) match {
    case None => baseTokens(id)
    case Some(src) =>
      val t = baseTokens(src).clone()
      val rnd = new java.util.Random(mix(seed ^ 0x165667b1L, id))
      val pos = 3 + rnd.nextInt(t.length - 6)
      var r = zipf(rnd)
      while (r == t(pos)) r = zipf(rnd)
      t(pos) = r
      t
  }

  def text(id: Long): String = tokens(id).map(vocab).mkString(" ")

  /** Distinct word trigrams of a token array, as (a, b, c) packed into
    * one key (term indices are < 2^21). */
  def trigrams(t: Array[Int]): Set[Long] =
    if (t.length < 3) Set.empty
    else t.sliding(3).map(w => (w(0).toLong << 42) | (w(1).toLong << 21) | w(2)).toSet

  /** Queries of 2–4 distinct terms drawn from the corpus's own Zipf
    * distribution. */
  def queries(stream: Long, n: Int): IndexedSeq[Seq[Int]] = {
    val rnd = new java.util.Random(mix(seed ^ 0x3c6ef372L, stream))
    IndexedSeq.fill(n) {
      val k = 2 + rnd.nextInt(3)
      val qs = mutable.LinkedHashSet.empty[Int]
      while (qs.size < k) qs += zipf(rnd)
      qs.toSeq
    }
  }
}

object Corpus {
  val MinLen = 8
  val MaxLen = 800
  val LenSigma = 0.5
  val LenMu: Double = math.log(120.0) - LenSigma * LenSigma / 2
  /** A query term of Zipf rank below this is a head term. */
  val HeadRank = 100

  val Stopwords = Set("the", "and", "for", "with")
  private val Onsets = Array('b', 'd', 'f', 'g', 'k', 'l', 'm', 'n', 'p', 'r', 's', 't', 'v', 'z')
  private val Vowels = Array('a', 'e', 'i', 'o', 'u')
  private val Codas = Array('n', 'r', 's', 'l')

  def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
