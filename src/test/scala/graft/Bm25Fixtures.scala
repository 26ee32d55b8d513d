package graft

import org.apache.spark.sql.DataFrame

/** Corpora and row readers shared by the staged BM25 serve specs
  * (`Round15Spec`, `Round16Spec`, `BlockMaxRouteSpec`). */
object Bm25Fixtures {
  import SparkTestSession.spark

  /** Planted corpus spanning 4 doc-id blocks of 1,024 ids: ids 0-11
    * are short, query-term-dense docs where the true top-k lives; ids
    * 1030/2050/3080 hold ONE weak query term in a long filler doc. */
  def plantedDocs: DataFrame = {
    import spark.implicits._
    val filler = (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val strong = (0 to 11).map { i =>
      (i.toLong,
        "spark spark spark spark query query query join join fast fast" +
          s" extra$i")
    }
    val weak = Seq(1030L, 2050L, 3080L).map(id => (id, s"fast $filler"))
    (strong ++ weak).toDF("doc_id", "text")
  }

  /** Query-term docs at the given ids, each a little different so
    * scores spread and ties stay rare. */
  def docsAt(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { id =>
      val n = (id % 5).toInt + 1
      (id, (Seq.fill(n)("spark") ++ Seq("query", "join") ++
        Seq.fill((id % 3).toInt + 1)("fast") ++ Seq(s"word$id", "filler")).mkString(" "))
    }.toDF("doc_id", "text")
  }

  val terms = Seq("spark", "query", "join", "fast")

  /** (doc_id, score) rows of a top-k serve, in served order. */
  def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** (query_id, doc_id, score, rank) rows of a batch serve. */
  def brows(df: DataFrame): Set[(Int, Long, Double, Int)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  def queries(qs: (Int, String)*): DataFrame = {
    import spark.implicits._
    qs.toDF("query_id", "qtext")
  }
}
