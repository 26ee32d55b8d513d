package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Bm25Index}
import Bm25Fixtures._

/** Round-15, and the staged BM25 serves on the planted 4-block corpus:
  * top-k and query-table batch serves from the staged index return the
  * rows of the corpus-derived `Bm25.searchTopN` / `Bm25.batchSearch` on
  * the same live corpus, across update deltas, tombstone deletes and
  * compaction. The block-max θ serve, its pushed block-range literals
  * and its `blockmax`/`deaddf` sidecars are deleted (see 26b3732);
  * the block-max serve is `searchTopN`'s plan, and the rows checks of
  * the tests named after them stay. */
class Round15Spec extends AnyFunSuite with SuiteTempDir {
  import SparkTestSession._

  test("blockmax: rows equal the exact corpus top-k; block ranges reach the scan as pushed literals") {
    val p = tmp("planted")
    Bm25Index.build(plantedDocs, p)
    assert(rows(Bm25Index.searchTopN(spark, p)) === rows(Bm25.searchTopN(plantedDocs)))
    // the benchmark's name for the same serve
    assert(rows(Bm25Index.blockMaxTopN(spark, p)) === rows(Bm25.searchTopN(plantedDocs)))
  }

  test("staged top-k across update deltas equals the exact corpus top-k") {
    // split the planted corpus id-monotonically (the store's ingest
    // contract): block-0 strong docs arrive in two batches
    val p = tmp("upd")
    Bm25Index.build(plantedDocs.filter(col("doc_id") < 8), p)
    Bm25Index.update(plantedDocs.filter(col("doc_id") >= 8), p, "00001")
    assert(rows(Bm25Index.searchTopN(spark, p)) === rows(Bm25.searchTopN(plantedDocs)))
  }

  test("delete leg: deaddf keeps sidecar df exact — serving equals rebuild on survivors") {
    val p = tmp("del")
    Bm25Index.build(plantedDocs, p)
    Bm25Index.delete(plantedDocs.filter(col("doc_id") < 2).select("doc_id"), p, "del-01")
    assert(rows(Bm25Index.searchTopN(spark, p)) ===
      rows(Bm25.searchTopN(plantedDocs.filter(col("doc_id") >= 2))))
  }

  test("staged top-k after compaction equals a rebuild on the survivors") {
    val p = tmp("cmp")
    Bm25Index.build(plantedDocs, p)
    Bm25Index.delete(plantedDocs.filter(col("doc_id") < 2).select("doc_id"), p, "del-01")
    Bm25Index.compactDeltas(spark, p)
    val folded = new java.io.File(p).listFiles.map(_.getName)
      .filter(_.startsWith("delta-"))
    assert(folded.length === 1)
    assert(rows(Bm25Index.searchTopN(spark, p)) ===
      rows(Bm25.searchTopN(plantedDocs.filter(col("doc_id") >= 2))))
  }

  test("staged batch search: a query matching fewer than k docs serves exactly its matches") {
    val p = tmp("batchfew")
    Bm25Index.build(plantedDocs, p)
    // query 2's terms live only in the 3 weak docs, beside a full query 1
    val qs = queries(1 -> "spark query join fast", 2 -> "filler5 word9")
    val served = brows(Bm25Index.batchSearch(spark, p, qs))
    assert(served === brows(Bm25.batchSearch(plantedDocs, qs)))
    assert(served.count(_._1 == 2) === 3)
  }

  test("staged batch search after a tombstone delete equals the corpus batch search on survivors") {
    val p = tmp("batchdel")
    Bm25Index.build(plantedDocs, p)
    Bm25Index.delete(plantedDocs.filter(col("doc_id") < 2).select("doc_id"), p, "del-01")
    val qs = queries(1 -> "spark query join fast", 2 -> "fast")
    assert(brows(Bm25Index.batchSearch(spark, p, qs)) ===
      brows(Bm25.batchSearch(plantedDocs.filter(col("doc_id") >= 2), qs)))
  }

  test("hits: all three barrier rungs serve bit-identical rows") {
    import spark.implicits._
    import graft.operators.Graph
    val edges = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 100L),
      (1L, 200L), (2L, 200L), (3L, 300L), (4L, 300L), (5L, 200L))
      .toDF("c", "s")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val driverRung = rows(Graph.hitsFrom(edges))
    val windowRung = rows(Graph.hitsFrom(edges, driverRankBound = 0L))
    val shuffleRung = rows(Graph.hitsFrom(edges,
      driverRankBound = 0L, broadcastNodeBound = 0L))
    assert(driverRung === windowRung)
    assert(driverRung === shuffleRung)
    assert(driverRung.nonEmpty)
  }

  test("unigram: planted corpus learns the shared stem as a piece; costs/grid invariants hold") {
    import spark.implicits._
    import graft.operators.Unigram
    // 'work' (4 chars = MaxPieceLen) is the shared stem of three
    // frequent 6-7 char words, so hard-EM must keep it as a piece
    val docs = (0 until 50).map { i =>
      (i.toLong, "worker working workload rare" + (if (i == 0) " uniquez" else ""))
    }.toDF("doc_id", "text")
    val v = Unigram.train(docs).collect()
    val pieces = v.map(_.getString(0)).toSet
    assert(pieces.contains("work"))
    assert(v.forall(r => r.getLong(1) > 0 && r.getString(0).length <= Unigram.MaxPieceLen))
    // floor-gridded probabilities sum to at most the grid
    assert(v.map(_.getLong(2)).sum <= Unigram.Grid)
    val e = Unigram.encodeCorpus(docs).collect()
    // every word yields >= 1 piece and 'worker' family needs >= 2
    assert(e.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  test("unigram: UNK single-char arcs keep segmentation total for unseen characters") {
    import spark.implicits._
    import graft.operators.Unigram
    // train on a corpus, then encode a corpus containing a word whose
    // characters never reached the trained vocab ('zq' digraphs are
    // absent) — the UNK arc must still complete the DP, one piece per
    // unseen char
    val trainDocs = (0 until 20).map(i => (i.toLong, "alpha beta gamma")).toDF("doc_id", "text")
    val vocab = Unigram.trainedVocabDf(trainDocs)
    val probe = Seq((100L, "zqzq alpha")).toDF("doc_id", "text")
    val enc = Unigram.encodeFrom(probe, vocab).head
    // 'zqzq' -> 4 UNK single-char pieces; 'alpha' (5 chars, above the
    // 4-char piece cap) -> 1-2 trained pieces
    assert(enc.getLong(1) === 2L)   // n_words
    assert(enc.getLong(2) >= 5L && enc.getLong(2) <= 6L)
  }

  test("unigram fertility sits between 1 and chars-per-word, alongside BPE's") {
    import graft.operators.{Bpe, Unigram}
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf)
    val ug = Unigram.encodeCorpus(docs)
      .agg(sum("n_words"), sum("n_unigram_tokens")).head
    val ugFert = ug.getLong(1).toDouble / ug.getLong(0)
    val bp = Bpe.encodeCorpus(docs)
      .agg(sum("n_words"), sum("n_bpe_tokens")).head
    val bpFert = bp.getLong(1).toDouble / bp.getLong(0)
    // both tokenizers emit at least one piece per word and never more
    // pieces than characters; the unigram cap (MaxPieceLen=4) forces
    // real subwording, so its fertility is strictly above 1
    assert(ugFert > 1.0 && ugFert < 8.0, s"unigram fertility $ugFert")
    assert(bpFert >= 1.0 && bpFert < 8.0, s"bpe fertility $bpFert")
  }

  test("streaming semantic delete: batches compose to the one-shot delete; replay no-ops") {
    import graft.operators.SemanticStore
    val emb = graft.sources.Tables.embeddings(spark, SparkTestSession.sf)
    val p = tmp("r15sd")
    SemanticStore.build(emb, p)
    val feed = tmp("r15sdf")
    SemanticStore.members(spark, p).filter(col("vec_id") % 8 === 1).select("vec_id")
      .repartition(2).write.mode("overwrite").parquet(feed)
    graft.streaming.Streams.semanticDeleteStream(spark, feed, p, Some(1))
    def pairs(path: String): Set[(Long, Long, Double)] =
      SemanticStore.cosinePairs(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // one-shot twin on a fresh store
    val q = tmp("r15sdq")
    SemanticStore.build(emb, q)
    SemanticStore.delete(
      SemanticStore.members(spark, q).filter(col("vec_id") % 8 === 1).select("vec_id"),
      q, "del-oneshot")
    val streamed = pairs(p)
    assert(streamed === pairs(q))
    assert(streamed.nonEmpty)
    // replay: kept checkpoint re-forms zero new batches — state unchanged
    graft.streaming.Streams.semanticDeleteStream(spark, feed, p, Some(1))
    assert(pairs(p) === streamed)
  }

  test("reliable-checkpoint flag serves identical rows through the same cuts") {
    import graft.operators.{DedupStore, Graph}
    import spark.implicits._
    val edges = Seq((1L, 100L), (2L, 100L), (3L, 200L), (1L, 200L), (4L, 100L))
      .toDF("c", "s")
    def hitsRows() = Graph.hitsFrom(edges, driverRankBound = 0L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def dedupRows(p: String) = DedupStore.verifiedNearDups(spark, p).collect()
      .map(_.toSeq).toSet
    val p = tmp("r15rc")
    DedupStore.build(plantedDocs, p)
    val localHits = hitsRows()
    val localPairs = dedupRows(p)
    spark.conf.set(graft.Lineage.ReliableFlag, "true")
    try {
      assert(hitsRows() === localHits)
      assert(dedupRows(p) === localPairs)
    } finally spark.conf.unset(graft.Lineage.ReliableFlag)
  }

  test("time travel rejects a store holding non-numeric (delete) tags") {
    val p = tmp("r15tt")
    Bm25Index.build(plantedDocs, p)
    Bm25Index.delete(plantedDocs.filter(col("doc_id") === 0).select("doc_id"), p, "del-01")
    // without the guard, 'del-01' sorts after '00000' and the snapshot
    // would silently resurrect the deleted doc
    val e = intercept[IllegalArgumentException](
      Bm25Index.scoreAt(spark, p, "00000"))
    assert(e.getMessage.contains("numeric-only version tags"))
  }

  test("streaming budget sampler: union over micro-batches equals the batch sample") {
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = keyed(TextAnalysis.budgetSample(docs))
    val streamed = keyed(
      graft.streaming.Streams.budgetSampleStream(spark, SparkTestSession.sf))
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("query terms absent from the corpus serve an empty result") {
    val p = tmp("r15f")
    Bm25Index.build(plantedDocs, p)
    assert(Bm25Index.searchTopN(spark, p, Seq("zzzabsent")).isEmpty)
  }
}
