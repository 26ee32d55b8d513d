package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25
import graft.sources.Tables

object SparkTestSession {
  lazy val spark: SparkSession = Session.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"
}

class Bm25Spec extends AnyFunSuite {
  import SparkTestSession._

  lazy val docs = Tables.documents(spark, sf)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("tokenize filters stopwords and short tokens") {
    val terms = Bm25.tokenize(docs).select("term").distinct().collect().map(_.getString(0))
    assert(terms.nonEmpty)
    assert(terms.forall(t => t.length >= 2 && !graft.functions.Text.Stopwords.contains(t)))
  }

  test("tf sums to tokenize count") {
    val nTok = Bm25.tokenize(docs).count()
    val sumTf = Bm25.tf(docs).agg(org.apache.spark.sql.functions.sum("tf")).collect()(0).getLong(0)
    assert(nTok == sumTf)
  }

  test("topK keeps at most K per doc") {
    val over = Bm25.topKTerms(docs, 5).groupBy("doc_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 5).count()
    assert(over == 0)
  }

  test("df never exceeds doc count; idf monotone decreasing in df") {
    val nDocs = docs.count()
    val dfMax = Bm25.df(docs).agg(org.apache.spark.sql.functions.max("df")).collect()(0).getLong(0)
    assert(dfMax <= nDocs)
  }

  test("bm25 search returns 10 ranked rows, scores descending") {
    val rows = Bm25.searchTopN(docs).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("sparse doc similarity ranks a near-duplicate of the query doc first") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val sim = Bm25.similarDocs(docs).collect()
    assert(sim.length == 10)
    val cosines = sim.map(_.getDouble(1))
    assert(cosines.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
    // doc 0's nearest sparse neighbor should overlap it heavily: its
    // cosine must clearly beat the list's tail
    assert(cosines.head > cosines.last)
  }

  test("every query in SparkEntry.queries runs and every oracle key exists") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
    }
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracleSql keys without queries: $unknown")
  }
}
