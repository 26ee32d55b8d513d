package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25Index, DedupStore, SemanticStore}
import graft.sources.DeltaStore

/** Generated operation histories against one store family per
  * protocol shape: [[Bm25Index]] (tombstone-only), [[DedupStore]] and
  * [[SemanticStore]] (tombstone + rekey). A history is a build
  * followed by 2–5 ops drawn from: ingest of fresh monotone ids,
  * delete of live ids (a random subset, a group's rep, a whole
  * group), compaction, and a replay of an earlier tag. After every
  * history the live view must equal a fresh build of the surviving
  * rows — relation by relation for the rep-group stores, `score` rows
  * for BM25 — and every replay must leave the live view unchanged. A
  * failure names the seed and the resolved history. One planted
  * history adds the rekey that flips a stored pair's order, which the
  * few generated cases are not sure to reach. */
class StoreHistorySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Op codes; picks resolve against the model state when run. */
  private sealed trait Op
  private case class Ingest(items: List[Int]) extends Op
  private case class Delete(kind: Int, pick: Int) extends Op // 0 subset, 1 rep, 2 group
  private case object Compact extends Op
  private case class Replay(pick: Int) extends Op

  private val genIngest: Gen[Op] =
    Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, Gen.choose(0, 1000))).map(Ingest(_))
  private val genOp: Gen[Op] = Gen.frequency(
    3 -> genIngest,
    3 -> Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1000)).map { case (k, p) => Delete(k, p) },
    2 -> Gen.const(Compact),
    2 -> Gen.choose(0, 1000).map(Replay(_)))
  private val genHistory: Gen[(List[Int], List[Op])] = for {
    n0 <- Gen.choose(8, 16)
    first <- Gen.listOfN(n0, Gen.choose(0, 1000))
    k <- Gen.choose(2, 5)
    ops <- Gen.listOfN(k, genOp)
  } yield (first, ops)

  /** One store family under test: a pool of row payloads (copies and
    * near-copies included; equal payloads form one group for group
    * deletes), plus its store operations and live-view snapshot. */
  private trait Family {
    def pool: IndexedSeq[Any]
    def frame(rows: Seq[(Long, Any)]): DataFrame
    def idCol: String
    def build(df: DataFrame, p: String): Unit
    def update(df: DataFrame, p: String, tag: String): Unit
    def delete(ids: DataFrame, p: String, tag: String): Unit
    def compact(p: String): Unit
    /** Named relations of the live view, each as a row multiset. */
    def snapshot(p: String): Map[String, Map[Seq[Any], Int]]
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      })
      .groupBy(identity).map { case (k, v) => k -> v.length }

  private val texts: IndexedSeq[Any] = {
    val a = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 12).map(i => s"beta$i").mkString(" ")
    val g = (1 to 10).map(i => s"gamma$i").mkString(" ")
    IndexedSeq(a, a, b, b, a + " alphax", b.replace("beta7", "betax"), g,
      "standalone words in this document", "short pair", "alpha1 beta1 gamma1 delta")
  }

  private val bm25 = new Family {
    val pool = texts
    val idCol = "doc_id"
    def frame(rows: Seq[(Long, Any)]) =
      rows.map { case (i, t) => (i, t.asInstanceOf[String]) }.toDF("doc_id", "text")
    def build(df: DataFrame, p: String) = Bm25Index.build(df, p)
    def update(df: DataFrame, p: String, tag: String) = Bm25Index.update(df, p, tag)
    def delete(ids: DataFrame, p: String, tag: String) = Bm25Index.delete(ids, p, tag)
    def compact(p: String) = Bm25Index.compactDeltas(spark, p)
    // scores are rounded to 4 places; compare them at 3 so a summation
    // order difference at a rounding edge cannot flip a case
    def snapshot(p: String) = Map("score" -> multiset(
      Bm25Index.score(spark, p, Seq("alpha1", "beta7", "gamma3", "alphax", "words"))
        .select(col("doc_id"), round(col("score"), 3).as("score"))))
  }

  private val dedup = new Family {
    val pool = texts
    val idCol = "doc_id"
    def frame(rows: Seq[(Long, Any)]) =
      rows.map { case (i, t) => (i, t.asInstanceOf[String]) }.toDF("doc_id", "text")
    def build(df: DataFrame, p: String) = DedupStore.build(df, p)
    def update(df: DataFrame, p: String, tag: String) = DedupStore.update(df, p, tag)
    def delete(ids: DataFrame, p: String, tag: String) = DedupStore.delete(ids, p, tag)
    def compact(p: String) = DedupStore.compactDeltas(spark, p)
    def snapshot(p: String) = DedupStore.Store.subs.map { case (sub, _) =>
      sub -> multiset(DedupStore.Store.read(spark, p, sub))
    }.toMap
  }

  private val semantic = new Family {
    val pool: IndexedSeq[Any] = IndexedSeq(
      Seq(1.0f, 0.0f, 0.2f, 0.0f), Seq(1.0f, 0.0f, 0.2f, 0.0f),
      Seq(0.9f, 0.1f, 0.2f, 0.0f), Seq(0.0f, 1.0f, 0.0f, 0.1f),
      Seq(0.0f, 1.0f, 0.0f, 0.1f), Seq(0.1f, 0.9f, 0.1f, 0.1f),
      Seq(0.0f, 0.0f, 1.0f, 0.0f), Seq(0.2f, 0.1f, 0.3f, 0.9f))
    val idCol = "vec_id"
    def frame(rows: Seq[(Long, Any)]) =
      rows.map { case (i, v) => (i, v.asInstanceOf[Seq[Float]]) }.toDF("vec_id", "embedding")
    def build(df: DataFrame, p: String) = SemanticStore.build(df, p)
    def update(df: DataFrame, p: String, tag: String) = SemanticStore.update(df, p, tag)
    def delete(ids: DataFrame, p: String, tag: String) = SemanticStore.delete(ids, p, tag)
    def compact(p: String) = SemanticStore.compactDeltas(spark, p)
    def snapshot(p: String) = SemanticStore.Store.subs.map { case (sub, _) =>
      sub -> multiset(SemanticStore.Store.read(spark, p, sub))
    }.toMap
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/s"

  /** Run the history (`first` builds the store, then `ops`) on `fam`;
    * returns a failure description naming `label`, or None. */
  private def runHistory(fam: Family, label: String, first: List[Int],
                         ops: List[Op]): Option[String] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Any]
    var nextId = 1L
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    // committed tags and how to replay them
    val tags = scala.collection.mutable.ArrayBuffer.empty[(String, () => Unit)]
    val p = tmp("hist")
    def rowsOf(items: List[Int]) = items.map { i =>
      val r = (nextId, fam.pool(i % fam.pool.size)); nextId += 1; r
    }
    def ids(xs: Seq[Long]) = xs.toDF(fam.idCol)
    val failure = try {
      val rows0 = rowsOf(first)
      val df0 = fam.frame(rows0)
      fam.build(df0, p)
      live ++= rows0
      tags += ("00000" -> (() => fam.update(df0, p, "00000")))
      log += s"build ids 1..${nextId - 1}"
      ops.zipWithIndex.foreach {
        case (Ingest(items), i) =>
          val rows = rowsOf(items)
          val df = fam.frame(rows)
          fam.update(df, p, s"u$i")
          live ++= rows
          tags += (s"u$i" -> (() => fam.update(df, p, s"u$i")))
          log += s"update u$i ids ${rows.head._1}..${rows.last._1}"
        case (Delete(kind, pick), i) if live.size > 2 =>
          val liveIds = live.keys.toVector
          val groups = liveIds.groupBy(live).values.toVector
            .sortBy(_.min)
          val victims: Seq[Long] = kind match {
            case 0 => // a random subset, at most half the live rows
              val n = 1 + pick % math.max(1, liveIds.size / 2)
              new scala.util.Random(pick).shuffle(liveIds).take(n)
            case 1 => // the rep (min live id) of a group with survivors,
              // the group whose re-elected rep jumps furthest (a rekey
              // past a pair partner flips that pair's order)
              val multi = groups.filter(_.size >= 2)
              if (multi.isEmpty) Seq(liveIds(pick % liveIds.size))
              else Seq(multi.maxBy(g => g.sorted.apply(1) - g.min).min)
            case _ => // a whole group, if others remain
              val g = groups(pick % groups.size)
              if (g.size < liveIds.size) g else Seq(g.min)
          }
          fam.delete(ids(victims), p, s"d$i")
          live --= victims
          val vs = victims.sorted
          tags += (s"d$i" -> (() => fam.delete(ids(vs), p, s"d$i")))
          log += s"delete d$i kind=$kind ids ${vs.mkString(",")}"
        case (Delete(_, _), _) =>
          log += "delete skipped (too few live rows)"
        case (Compact, _) =>
          fam.compact(p)
          log += "compact"
        case (Replay(pick), _) =>
          val (tag, replay) = tags(pick % tags.size)
          val before = fam.snapshot(p)
          val deltasBefore = DeltaStore.committedDeltas(spark, p).sorted
          replay()
          log += s"replay $tag"
          require(DeltaStore.committedDeltas(spark, p).sorted == deltasBefore,
            s"replay of $tag committed a delta")
          require(fam.snapshot(p) == before, s"replay of $tag changed the live view")
      }
      val fresh = tmp("histfresh")
      fam.build(fam.frame(live.toSeq.sortBy(_._1)), fresh)
      val (got, want) = (fam.snapshot(p), fam.snapshot(fresh))
      val bad = want.keys.toSeq.sorted.filter(k => got.get(k) != want.get(k))
      if (bad.isEmpty) None
      else Some(s"live view differs from a fresh build of the ${live.size} surviving " +
        s"rows on ${bad.mkString(", ")}: " + bad.map(k =>
          s"$k live-only ${(got(k).toSet -- want(k).toSet).take(5)}, " +
            s"rebuild-only ${(want(k).toSet -- got(k).toSet).take(5)}").mkString("; "))
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally DeltaStore.reset(spark, p)
    info(s"$label: ${log.mkString("; ")}")
    failure.map(why => s"$label, history:\n  ${log.mkString("\n  ")}\n$why")
  }

  private def check(fam: Family, seeds: Seq[Long],
                    planted: Seq[(List[Int], List[Op])] = Nil): Unit = {
    val generated = seeds.map { seed =>
      val (first, ops) = genHistory.pureApply(Gen.Parameters.default, Seed(seed))
      (s"seed $seed", first, ops)
    }
    val fixed = planted.zipWithIndex.map { case ((first, ops), i) => (s"planted $i", first, ops) }
    val failures = (generated ++ fixed).flatMap { case (label, first, ops) =>
      runHistory(fam, label, first, ops)
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  test("generated histories: Bm25Index live scores equal a fresh build (tombstone-only)") {
    check(bm25, Seq(11L, 12L, 13L))
  }

  test("generated histories: DedupStore live relations equal a fresh build (tombstone + rekey)") {
    // planted: ids 1 and 3 copy text 0, id 2 is its near-duplicate
    // (text 4, one more shingle); deleting rep 1 re-elects 3, so the
    // stored pair (1, 2) becomes (2, 3) and its na/nb must swap
    check(dedup, Seq(21L, 22L, 23L),
      planted = Seq((List(0, 4, 1, 2, 6, 3), List(Delete(1, 0), Ingest(List(0, 4)), Compact))))
  }

  test("generated histories: SemanticStore live relations equal a fresh build (tombstone + rekey)") {
    check(semantic, Seq(31L, 32L, 33L))
  }
}
