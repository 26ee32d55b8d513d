package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** The reference's whole surface — tokenize → filter → per-doc TF →
  * top-K terms → DF/IDF → TF-IDF → BM25 — re-expressed as single
  * distributed DataFrame plans.
  *
  * Reference semantics: BatchBM25PreMain.java:140-247 (tokenize,
  * filter, per-doc TF, top-30), util/TfIdfUtil.java:102-137 (IDF =
  * log(N/(df+1)), TF-IDF = tf*idf), backup/BMStream.java (same chain,
  * per-doc Flink job in a driver loop). The ref runs ONE Flink job per
  * document and folds IDF on the driver; here the whole corpus is one
  * plan: explode → two hash aggregations (doc_id,term) then (term) —
  * both high-cardinality keys, both with map-side partial aggregation,
  * so the design holds at 100 TB (SURVEY.md §5).
  */
object Bm25 {
  /** Okapi BM25 parameters (standard defaults). */
  val K1 = 1.2
  val B  = 0.75

  /** ref BatchBM25PreMain.MAX_WORD_COUNT = 30. */
  val MaxWordCount = 30

  /** Fixed demo query used by the scored-search entries. */
  val QueryTerms: Seq[String] = Seq("spark", "query", "join", "fast")

  /** Robertson idf: ln(1 + (N - df + 0.5)/(df + 0.5)). */
  def robertsonIdf(df: Column, nDocs: Column): Column =
    log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))

  /** Okapi tf-saturation term: tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)).
    * Used where the saturation is needed WITHOUT the idf factor
    * (BM25+'s per-term lower bound). */
  def tfSaturation(tf: Column, dl: Column, avgdl: Column): Column =
    (tf * lit(K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / avgdl))

  /** One matching term's Okapi BM25 contribution — THE scoring
    * formula, written once; every scoring route (corpus, MLlib,
    * staged-index, batch/stream serving, BM25F with field-weighted
    * inputs, PRF rescoring) composes this so a k1/b or formula change
    * has exactly one source. The association is deliberately
    * (idf·num)/denom — LEFT-associative, exactly the textual form of
    * every oracle's `idf * (tf*(k1+1)) / (...)` — because Catalyst
    * never re-associates FP ops and an ulp of divergence could flip a
    * round(·,4) boundary or a rounded-score tie. */
  def okapiTerm(tf: Column, df: Column, dl: Column, avgdl: Column, nDocs: Column): Column =
    robertsonIdf(df, nDocs) * (tf * lit(K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / avgdl))

  /** (doc_id, term): tokenized + stopword/length-filtered corpus. */
  def tokenize(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(Text.rawTokens(col("text"))).as("term"))
      .filter(Text.keepToken(col("term")))

  /** (doc_id, term, tag): [[tokenize]] with a part-of-speech tag from
    * the broadcast [[Text.PosLexicon]], filtered to `whitelist` — the
    * reference's ansj POS-whitelist tokenization (reference
    * BatchBM25PreMain.java:38-48,185-199 keeps nouns n/ns/nt/nz)
    * re-expressed as data: a term→tag dictionary join (broadcast — a
    * real lexicon is still tiny next to the corpus) and a predicate on
    * the tag column. Unknown terms tag 'x' so a whitelist can opt them
    * in or out explicitly rather than dropping them silently. */
  def tokenizePos(docs: DataFrame,
                  whitelist: Seq[String] = Text.PosWhitelist): DataFrame = {
    require(whitelist.nonEmpty, "POS whitelist must name at least one tag")
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = Text.PosLexicon.toDF("term", "tag")
    tokenize(docs)
      .join(broadcast(lex), Seq("term"), "left")
      .withColumn("tag", coalesce(col("tag"), lit("x")))
      .filter(col("tag").isin(whitelist: _*))
      .select("doc_id", "term", "tag")
  }

  /** (doc_id, term, tf): per-document term frequency. */
  def tf(docs: DataFrame): DataFrame =
    tokenize(docs).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (doc_id, profile): each document's term-frequency profile as the
    * reference's per-doc file body — one `(term,tf)` line per term,
    * ordered tf desc then term asc (backup/BMStream.java:30-35 emits
    * exactly this into output/{pid}.txt). One shuffle to the doc key;
    * the per-doc sort rides a bounded in-row array (vocab-per-doc),
    * never a window. Feed to [[graft.sources.Sinks.perDocFiles]] for
    * the literal file-per-doc layout. */
  def tfProfiles(docs: DataFrame): DataFrame =
    tf(docs).groupBy("doc_id")
      .agg(sort_array(collect_list(struct((-col("tf")).as("nt"),
        col("term").as("t")))).as("arr"))
      .select(col("doc_id"), array_join(
        transform(col("arr"), x =>
          concat(lit("("), x.getField("t"), lit(","),
            (-x.getField("nt")).cast("string"), lit(")"))),
        "\n").as("profile"))

  /** (doc_id, term, tf, rk): top-[[MaxWordCount]] terms per document,
    * ties broken by term so the result is a deterministic set. */
  def topKTerms(docs: DataFrame, k: Int = MaxWordCount): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("term").asc)
    tf(docs).withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** (term, df): document frequency. */
  def df(docs: DataFrame): DataFrame =
    tf(docs).groupBy("term").agg(count(lit(1)).as("df"))

  /** Single-row (n_docs, total_tokens, avgdl) corpus statistics over
    * documents that have at least one kept token. */
  def corpusStats(docs: DataFrame): DataFrame =
    docLengths(docs).agg(
      count(lit(1)).as("n_docs"),
      sum("dl").as("total_tokens"),
      round(avg("dl"), 6).as("avgdl"))

  /** (doc_id, dl): kept-token document length. */
  def docLengths(docs: DataFrame): DataFrame =
    tf(docs).groupBy("doc_id").agg(sum("tf").as("dl"))

  /** (term, df, idf): the reference's IDF, idf = ln(N/(df+1)) with
    * real-valued division (TfIdfUtil.java:120 intends this; see
    * SURVEY.md §1 on its int-division bug). */
  def idf(docs: DataFrame): DataFrame = {
    val n = docLengths(docs).agg(count(lit(1)).as("n_docs"))
    df(docs)
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"),
        round(log(col("n_docs").cast("double") / (col("df") + lit(1))), 6).as("idf"))
  }

  /** (doc_id, term, tf, tfidf): TF-IDF per document/term
    * (TfIdfUtil.java:126-137). df comes from a window over the tf
    * aggregation itself — one corpus pass for tf, one for the doc
    * count, instead of a third full tf+df pass joined back in. */
  def tfIdf(docs: DataFrame): DataFrame = {
    val n = docLengths(docs).agg(count(col("doc_id")).as("n_docs"))
    tf(docs)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      .withColumn("idf", round(log(col("n_docs").cast("double") / (col("df") + lit(1))), 6))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * col("idf"), 6).as("tfidf"))
  }

  /** (doc_id, cos): the k documents most similar to `queryDocId` by
    * SPARSE tf-idf cosine — the inverted-index similarity path that
    * complements the dense-embedding ANN family: only documents
    * SHARING a term with the query doc are ever touched (join through
    * the term relation), so cost tracks the query doc's posting lists,
    * never the corpus. Weights are milli-quantized to integers so
    * norms and dot products are order-independent exact sums; the
    * single double expression at the end is engine-deterministic
    * (SURVEY §6). At 100 TB the query side is a broadcast (one doc's
    * terms) and the term join shuffles nothing new — it rides the
    * existing (term)-keyed tfidf relation. */
  def similarDocs(docs: DataFrame, queryDocId: Long = 0L, k: Int = 10): DataFrame = {
    val v = tfIdf(docs)
      .select(col("doc_id"), col("term"),
        floor(col("tfidf") * lit(1000.0)).cast("long").as("v"))
    val norms = v.groupBy("doc_id").agg(sum(expr("v * v")).as("n2"))
    val q = v.filter(col("doc_id") === queryDocId).select(col("term"), col("v").as("qv"))
    val qn = norms.filter(col("doc_id") === queryDocId).select(col("n2").as("qn2"))
    v.filter(col("doc_id") =!= queryDocId)
      .join(broadcast(q), "term")
      .groupBy("doc_id").agg(sum(expr("v * qv")).as("dot"))
      .join(norms, "doc_id")
      .crossJoin(broadcast(qn))
      .select(col("doc_id"),
        round(expr("CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"), 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc)
      .limit(k)
  }

  /** (doc_id, score): Okapi BM25 of every matching document against
    * `queryTerms`.
    *
    * Plan shape (the 100 TB contract): TWO passes over the corpus
    * total — (a) query-term postings tfq (term filter applied before
    * the tf aggregation, so only matching tokens shuffle), (b) doc
    * lengths dl. Everything else is derived without re-reading:
    * per-term df comes from a window over the tiny tfq (not a third
    * corpus aggregation), corpus stats aggregate the SAME dl subtree
    * (count(doc_id), not count(1), so column pruning cannot diverge
    * the branches and Spark reuses the exchange), and (idf, avgdl)
    * ride one broadcast. Final groupBy(doc_id) lands on the join's
    * existing doc_id partitioning — no extra shuffle. */
  def bm25Score(docs: DataFrame, queryTerms: Seq[String] = QueryTerms): DataFrame = {
    val tfq = tf(docs).filter(col("term").isin(queryTerms: _*))
    // the explicit isNotNull matches the join's inferred constraint, so
    // both consumers of dl canonicalize to the SAME subtree and the
    // exchange is computed once (ReusedExchange), not twice
    val dl = docLengths(docs.filter(col("doc_id").isNotNull))
    // count(doc_id) keeps this branch's projection identical to the
    // join branch below → one dl computation, reused
    val stats = dl.agg(count(col("doc_id")).as("n_docs"),
      avg(col("dl")).cast("double").as("avgdl"))
    // Robertson idf: ln(1 + (N - df + 0.5)/(df + 0.5)); df via window
    // over query-term postings only — no extra corpus pass
    val scored = tfq
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        okapiTerm(col("tf"), col("df"), col("dl"), col("avgdl"), col("n_docs")).as("c"))
    scored.groupBy("doc_id").agg(round(sum("c"), 4).as("score"))
  }

  /** Top-N ranked search results, deterministic on rounded-score ties. */
  def searchTopN(docs: DataFrame, queryTerms: Seq[String] = QueryTerms, n: Int = 10): DataFrame =
    bm25Score(docs, queryTerms).orderBy(col("score").desc, col("doc_id").asc).limit(n)

  /** (doc_id, term, tf, df, dl, contrib, score): per-term score
    * DECOMPOSITION of the top-`n` results — the "explain" read every
    * search engine exposes beside its ranking (why did this doc win:
    * which query terms matched, how rare each is, how much the length
    * normalization took back). Rides [[bm25Score]]'s plan once: the
    * same pruned tfq → df window → dl join → stats broadcast
    * derivation feeds both the per-(doc, term) contributions and the
    * per-doc totals; the top-n cut then semi-joins the contribution
    * rows — query-terms × n output, never corpus-scaled. `contrib`
    * is one [[okapiTerm]] product chain (deterministic), `score` the
    * same rounded sum [[bm25Score]] serves. */
  def searchExplain(docs: DataFrame, queryTerms: Seq[String] = QueryTerms,
                    n: Int = 10): DataFrame = {
    val tfq = tf(docs).filter(col("term").isin(queryTerms: _*))
    val dl = docLengths(docs.filter(col("doc_id").isNotNull))
    val stats = dl.agg(count(col("doc_id")).as("n_docs"),
      avg(col("dl")).cast("double").as("avgdl"))
    val contrib = tfq
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
        okapiTerm(col("tf"), col("df"), col("dl"), col("avgdl"), col("n_docs")).as("c"))
    val top = contrib.groupBy("doc_id").agg(round(sum("c"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(n)
    contrib.join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
        round(col("c"), 4).as("contrib"), col("score"))
  }

  /** (doc_id, score): BM25+ — Lv & Zhai's lower-bounded variant: each
    * matching term contributes an extra idf·delta regardless of doc
    * length, fixing plain BM25's over-penalization of long documents
    * (a long doc containing the term can otherwise score below a short
    * doc NOT containing it). Same two-pass plan as [[bm25Score]]. */
  def bm25PlusScore(docs: DataFrame, queryTerms: Seq[String] = QueryTerms,
                    delta: Double = 1.0): DataFrame = {
    val tfq = tf(docs).filter(col("term").isin(queryTerms: _*))
    val dl = docLengths(docs.filter(col("doc_id").isNotNull))
    val stats = dl.agg(count(col("doc_id")).as("n_docs"),
      avg(col("dl")).cast("double").as("avgdl"))
    val scored = tfq
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (robertsonIdf(col("df"), col("n_docs")) *
          (tfSaturation(col("tf"), col("dl"), col("avgdl")) + lit(delta))).as("c"))
    scored.groupBy("doc_id").agg(round(sum("c"), 4).as("score"))
  }

  /** (bucket, n_docs): document-length histogram (kept-token lengths,
    * bucket = floor(dl/10)·10) — the first corpus-shape question of any
    * training-data run. */
  def lengthHistogram(docs: DataFrame, bucketSize: Int = 10): DataFrame =
    docLengths(docs)
      .groupBy((floor(col("dl") / bucketSize) * bucketSize).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))

  /** The demo query batch for [[batchSearch]] (ids stable, terms drawn
    * from the corpus vocabulary). */
  val DemoQueries: Seq[(Int, String)] = Seq(
    1 -> "spark query join fast",
    2 -> "data shuffle partition",
    3 -> "index scan filter")

  /** (query_id, doc_id, score, rk): BM25 top-k per query for a whole
    * TABLE of queries in ONE distributed plan — the batch form the
    * reference cannot express (it runs one Flink job per scoring
    * pass). Query terms are exploded/deduped (tiny) and BROADCAST into
    * the postings stream, so the corpus is still scanned exactly
    * twice regardless of how many queries ride the batch; per-query
    * ranking is a windowed top-k on (query_id). */
  def batchSearch(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val dl = docLengths(docs.filter(col("doc_id").isNotNull))
    batchScoreFrom(tf(docs), dl, queries, k)
  }

  /** (query_id, term): the distinct tokenized terms of a query table —
    * the one tokenization every batch-serving route shares. */
  private def queryTermsOf(queries: DataFrame): DataFrame =
    queries
      .select(col("query_id"), explode(Text.rawTokens(col("qtext"))).as("term"))
      .filter(Text.keepToken(col("term")))
      .distinct()

  /** The shared query-table scoring stage over ANY (doc_id, term, tf)
    * + (doc_id, dl) pair — the corpus-derived form above and the
    * staged-index form ([[Bm25Index.batchSearch]], streaming serving)
    * both end here, so the scoring contract lives in one place. */
  private[operators] def batchScoreFrom(tf: DataFrame, dl: DataFrame,
                                        queries: DataFrame, k: Int): DataFrame = {
    val qterms = queryTermsOf(queries)
    val allQTerms = qterms.select("term").distinct()
    val tfq = tf.join(broadcast(allQTerms), "term")
    val stats = dl.agg(count(col("doc_id")).as("n_docs"),
      avg(col("dl")).cast("double").as("avgdl"))
    val scored = tfq
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), "term")
      .select(col("query_id"), col("doc_id"),
        okapiTerm(col("tf"), col("df"), col("dl"), col("avgdl"), col("n_docs")).as("c"))
      .groupBy("query_id", "doc_id").agg(round(sum("c"), 4).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** (term, df, postings): inverted-index posting lists for rare terms
    * (df ≤ maxDf), doc ids ascending in a comma-joined string so the
    * oracle can reproduce it byte-for-byte. */
  def postings(docs: DataFrame, maxDf: Int = 100): DataFrame =
    tf(docs)
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(transform(sort_array(collect_list(col("doc_id"))), _.cast("string")), ",").as("postings"))
      .filter(col("df") <= maxDf)
}
