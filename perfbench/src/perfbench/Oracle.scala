package perfbench

import scala.collection.mutable

/** Okapi BM25 computed apart from the program, from the generator's own
  * tokens: Robertson idf ln(1 + (N − df + 0.5)/(df + 0.5)), k1 = 1.2,
  * b = 0.75, scores rounded to 4 dp, ties broken by doc_id.
  *
  * It keeps only what scoring needs: the live documents' lengths and
  * the postings of a fixed set of query terms. Documents are added and
  * removed as the program reports ingests and deletes as successful.
  */
final class Okapi(queryTerms: Iterable[Int]) {
  import Okapi._

  // doc lengths by doc_id, a live set, and per tracked term its
  // postings packed as (doc_id << 20 | tf); removal only clears the
  // live bit, so df is counted over live entries at query time
  private var dl = new Array[Int](1024)
  private val live = new java.util.BitSet()
  private var n = 0
  private var sumDl = 0L
  private val postings: Map[Int, LongVec] =
    queryTerms.iterator.map(t => t -> new LongVec).toMap

  def add(id: Long, tokens: Array[Int]): Unit = {
    val i = id.toInt
    require(i >= dl.length || (dl(i) == 0 && !live.get(i)), s"doc $id added twice")
    if (i >= dl.length) dl = java.util.Arrays.copyOf(dl, math.max(dl.length * 2, i + 1))
    dl(i) = tokens.length
    live.set(i)
    n += 1
    sumDl += tokens.length
    val tf = mutable.HashMap.empty[Int, Int]
    tokens.foreach(t => if (postings.contains(t)) tf(t) = tf.getOrElse(t, 0) + 1)
    tf.foreach { case (t, c) => postings(t).add((id << 20) | c) }
  }

  def remove(id: Long): Unit = if (live.get(id.toInt)) {
    live.clear(id.toInt)
    n -= 1
    sumDl -= dl(id.toInt)
  }

  /** Unrounded score of every live document matching `q`. */
  def scores(q: Seq[Int]): Map[Long, Double] = {
    val nd = n.toDouble
    val avgdl = sumDl.toDouble / nd
    val acc = mutable.LongMap.empty[Double]
    q.distinct.foreach { t =>
      val p = postings.getOrElse(t, throw new IllegalArgumentException(s"term $t not tracked"))
      var df = 0
      p.foreach(e => if (live.get((e >>> 20).toInt)) df += 1)
      val idf = math.log(1.0 + (nd - df + 0.5) / (df + 0.5))
      p.foreach { e =>
        val id = (e >>> 20).toInt
        if (live.get(id)) {
          val tf = (e & 0xFFFFF).toDouble
          val c = idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl(id) / avgdl))
          acc(id.toLong) = acc.getOrElse(id.toLong, 0.0) + c
        }
      }
    }
    acc.toMap
  }

  /** Why `got` (doc_id, score) rows in rank order are not the top `k`
    * for `q`, or None when they are. Scores may differ from the exact
    * ones by the 4-dp rounding plus summation order; the set must be a
    * top-k under that tolerance and the order must follow score desc,
    * doc_id asc. */
  def check(q: Seq[Int], k: Int, got: Seq[(Long, Double)]): Option[String] =
    Okapi.checkTopK(scores(q), k, got)
}

/** A growable primitive long array. */
final class LongVec {
  private var a = new Array[Long](16)
  private var len = 0
  def add(x: Long): Unit = {
    if (len == a.length) a = java.util.Arrays.copyOf(a, len * 2)
    a(len) = x
    len += 1
  }
  def foreach(f: Long => Unit): Unit = { var i = 0; while (i < len) { f(a(i)); i += 1 } }
}

object Okapi {
  val K1 = 1.2
  val B = 0.75
  val Tol = 1.5e-4

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def checkTopK(exact: Map[Long, Double], k: Int,
                got: Seq[(Long, Double)]): Option[String] = {
    val want = math.min(k, exact.size)
    if (got.size != want) return Some(s"${got.size} rows, expected $want")
    val ids = got.map(_._1)
    if (ids.distinct.size != ids.size) return Some("duplicate doc_id in result")
    for ((id, s) <- got) exact.get(id) match {
      case None => return Some(s"doc $id does not match the query")
      case Some(e) if math.abs(e - s) > Tol => return Some(f"doc $id score $s%.4f, expected ${round4(e)}%.4f")
      case _ =>
    }
    got.sliding(2).foreach {
      case Seq((a, sa), (b, sb)) if sa < sb || (sa == sb && a > b) =>
        return Some(s"rows out of order at docs $a, $b")
      case _ =>
    }
    if (got.nonEmpty) {
      val kth = got.last._2
      val chosen = ids.toSet
      exact.find { case (id, e) => !chosen.contains(id) && e > kth + Tol }
        .foreach { case (id, e) => return Some(f"doc $id (score ${round4(e)}%.4f) belongs in the top $k") }
    }
    None
  }

  /** Spark-free self-test on a 3-doc corpus whose scores were worked
    * out by hand. Returns the failures. */
  def selfTest(): Seq[String] = {
    // docs: 1 = [x y], 2 = [x x z w], 3 = [z]; N = 3, avgdl = 7/3
    val (x, y, z, w) = (0, 1, 2, 3)
    val o = new Okapi(Seq(x, y, z))
    o.add(1L, Array(x, y)); o.add(2L, Array(x, x, z, w)); o.add(3L, Array(z))
    // idf(df=2) = ln(1 + 1.5/2.5) = ln 1.6 = 0.470004; idf(df=1) = ln(1 + 2.5/1.5) = ln(8/3) = 0.980829
    // doc1 x: tf 1, dl 2: 0.470004 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / (7/3))) = 0.470004 * 2.2 / 2.071429 = 0.499176
    // doc2 x: tf 2, dl 4: 0.470004 * 4.4 / (2 + 1.2 * (0.25 + 0.75 * 4 / (7/3))) = 0.470004 * 4.4 / 3.842857 = 0.538145
    // doc1 y: tf 1, dl 2: 0.980829 * 2.2 / 2.071429 = 1.041708
    // doc3 z: tf 1, dl 1: 0.470004 * 2.2 / (1 + 1.2 * (0.25 + 0.75 / (7/3))) = 0.470004 * 2.2 / 1.685714 = 0.613396
    // doc2 z: tf 1, dl 4: 0.470004 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 4 / (7/3))) = 0.470004 * 2.2 / 2.842857 = 0.363722
    val errs = mutable.ArrayBuffer.empty[String]
    def expect(q: Seq[Int], want: Seq[(Long, Double)]): Unit = {
      val s = o.scores(q)
      val got = s.toSeq.map { case (id, v) => (id, round4(v)) }.sortBy { case (id, v) => (-v, id) }
      if (got != want) errs += s"query $q scored $got, expected $want"
      checkTopK(s, 10, want).foreach(e => errs += s"checkTopK rejects the hand result for $q: $e")
    }
    expect(Seq(x, y), Seq(1L -> 1.5409, 2L -> 0.5381))
    expect(Seq(z), Seq(3L -> 0.6134, 2L -> 0.3637))
    expect(Seq(x, z), Seq(2L -> 0.9019, 3L -> 0.6134, 1L -> 0.4992))
    // the checker must reject a wrong order, a wrong score and a missing doc
    if (checkTopK(o.scores(Seq(x, y)), 10, Seq(2L -> 0.5381, 1L -> 1.5409)).isEmpty) errs += "accepted a wrong order"
    if (checkTopK(o.scores(Seq(x, y)), 10, Seq(1L -> 1.5419, 2L -> 0.5381)).isEmpty) errs += "accepted a wrong score"
    if (checkTopK(o.scores(Seq(x, z)), 2, Seq(2L -> 0.9019, 1L -> 0.4992)).isEmpty) errs += "accepted a missed doc"
    // removal re-derives every statistic: without doc 3, N = 2 and avgdl = 3
    o.remove(3L)
    // idf(df=1, N=2) = ln(1 + 1.5/1.5) = ln 2 = 0.693147; doc2 z: 0.693147 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 4/3)) = 1.524924 / 2.5 = 0.609970
    expect(Seq(z), Seq(2L -> 0.61))
    errs.toSeq
  }
}

/** Recomputes staged near-duplicate pair statistics from the
  * generator's token trigrams, and bounds planted-pair recall by the
  * LSH S-curve. */
object DedupCheck {
  /** Probability that MinHash LSH with `bands` bands of `rows` rows
    * makes a pair of Jaccard `j` a candidate. */
  def sCurve(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  def jaccard(a: Set[Long], b: Set[Long]): Double = {
    val i = a.intersect(b).size
    i.toDouble / (a.size + b.size - i)
  }

  /** Probability, if each planted pair were found with its S-curve
    * probability independently, of finding at most `found` of them
    * (the lower tail of a Poisson-binomial distribution). */
  def recallPValue(found: Int, planted: Seq[Double], bands: Int, rows: Int): Double = {
    var dist = Array(1.0) // dist(k) = P(k pairs found so far)
    planted.map(sCurve(_, bands, rows)).foreach { p =>
      val next = new Array[Double](dist.length + 1)
      for (k <- dist.indices) {
        next(k) += dist(k) * (1 - p)
        next(k + 1) += dist(k) * p
      }
      dist = next
    }
    dist.take(found + 1).sum
  }
}
