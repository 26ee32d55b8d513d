package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage._

/** Materialized inverted index: the product shape of the reference
  * pipeline, which precomputes TF per document and global IDF into
  * MongoDB collections (MongoTFSink.java, BatchBM25PreMain.java:
  * 106-122) and serves queries from the store. Here the store is
  * parquet, laid out as ATOMICALLY-COMMITTED delta directories:
  *
  *   <path>/delta-<tag>/postings  (term, doc_id, tf) — term-clustered
  *   <path>/delta-<tag>/doclen    (doc_id, dl)
  *
  * Every ingest (the initial build included) stages its postings +
  * doc lengths under `<path>/.staging-<tag>` and commits with ONE
  * directory rename — the only mutation the store ever sees. A crash
  * before the rename leaves an ignored staging dir; after it, the
  * batch is fully visible. Replaying a batch with the same tag is a
  * no-op (the delta exists), which is what makes streaming ingest
  * ([[graft.streaming.Streams.indexIngest]]) exactly-once without a
  * transaction log: source-side replay is idempotent by tag.
  *
  * Build cost: ONE pass over the batch (postings); doclen derives
  * from the postings just written, never from the corpus again.
  * Query cost: NO corpus pass — a pushed-down postings scan for the
  * query terms across the delta glob, one join against doclen, and
  * corpus stats aggregated from doclen (doc-cardinality) at query
  * time. Delta dirs accumulate per batch; [[compactDeltas]] folds
  * them back into one (single-writer maintenance window).
  *
  * Every serve is EXACT Okapi BM25 over the live view: [[searchTopN]]
  * (and its pinned form [[searchTopNAt]]) is one scoring plan plus
  * order + limit, [[batchSearch]] the shared query-table plan. A
  * block-max θ protocol (per-block bound sidecars, seed / θ /
  * survivor passes) lived here until it was measured to cost more
  * than it skipped on every workload; git history keeps it at
  * 26b3732 for a layout whose blocks can be pruned.
  */
object Bm25Index {

  import graft.sources.DeltaStore

  /** Full (re)build: reset the store and ingest the corpus as the
    * first delta. */
  def build(docs: DataFrame, path: String): Unit = {
    DeltaStore.reset(docs.sparkSession, path)
    update(docs, path, "00000")
  }

  /** Incrementally ingest a NEW document batch. Work scales with the
    * batch, not the store (the reference re-runs its whole pipeline
    * per corpus change; a per-doc Mongo upsert has the same
    * batch-scaled cost — this is its shared-nothing analogue).
    * Idempotent per `tag`: a committed tag is skipped, so replays
    * (streaming restarts) are exactly-once. Re-ingesting an existing
    * doc_id under a NEW tag is rejected — append-only maintenance
    * would double-count its postings; replace via rebuild or a keyed
    * upsert of the affected delta. The duplicate check range-prunes
    * via per-delta doc_id sidecars, so it stays batch-scaled (for
    * monotone-id ingest it touches O(1) deltas, not the store). */
  def update(newDocs: DataFrame, path: String,
             tag: String = java.util.UUID.randomUUID().toString): Unit = {
    val spark = newDocs.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    // batch id range (integral doc_id only): one batch-scaled agg,
    // reused for range-pruning the duplicate check AND this delta's
    // own sidecar. Non-integral or all-NULL ids get NO range (lo > hi)
    // → the check falls back to scanning every delta, never silently
    // skipped; an empty batch cannot contain a duplicate
    val br @ (_, batchLo, batchHi) = DeltaStore.batchRange(newDocs, "doc_id")
    // tombstone-only deltas carry no doclen; a DELETED id stays
    // rejected until compaction physically purges its rows
    DeltaStore.rejectDuplicateIds(spark, deltas, "doclen", "doc_id", newDocs, br, "postings")
    val range = if (batchLo <= batchHi) Some((batchLo, batchHi)) else None
    DeltaStore.commit(spark, path, tag, range) { staging =>
      Bm25.tf(newDocs)
        .repartition(col("term")).sortWithinPartitions("term", "doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/postings")
      // doclen derives from the postings just written — ONE corpus pass
      spark.read.parquet(s"$staging/postings")
        .groupBy("doc_id").agg(sum("tf").as("dl"))
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/doclen")
    }
  }

  /** TOMBSTONE DELETE — the maintenance leg between update and
    * compact that completes the quad (build / update / delete /
    * compact). A delete commits one delta holding only a `tombstones`
    * (doc_id) relation: O(batch) work and crash-atomic like every
    * other ingest, idempotent per `tag` (which is REQUIRED — a
    * caller-owned tag is what makes a retried delete a no-op).
    * Serving anti-joins live rows against the tombstone set and
    * re-derives every corpus stat (n_docs, avgdl, df) from the LIVE
    * rows, so scores shift exactly as a rebuild-without-the-docs
    * would, immediately — the physical purge is deferred to
    * [[compactDeltas]] (the LSM discipline: deletes are writes,
    * reclamation is maintenance). Every id must be LIVE (present, not
    * already tombstoned) — a typo'd delete fails loudly instead of
    * no-op'ing; a deleted id stays reserved against re-ingest until
    * compaction purges it. */
  def delete(docIds: DataFrame, path: String, tag: String): Unit = {
    val spark = docIds.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val ids = docIds.select(col("doc_id")).distinct().cutLineage()
    DeltaStore.requireLive(spark, deltas, ids, "doc_id", "doclen")
    DeltaStore.commit(spark, path, tag, None) { staging =>
      ids.write.mode(SaveMode.Overwrite).parquet(s"$staging/tombstones")
    }
  }

  /** Fold all committed deltas into ONE delta (small-files
    * maintenance: a long-running ingest accumulates a delta dir per
    * batch, and scan task scheduling degrades with file count) and
    * PHYSICALLY PURGE tombstoned rows — the fold anti-joins postings
    * and doclen against the accumulated tombstone set and drops the
    * tombstones themselves, so the compacted store is byte-equivalent
    * to one built without the deleted docs (replayed delete tags stay
    * no-ops through the cumulative tag history). The merged relations
    * are staged and committed with the same single-rename protocol;
    * the old deltas are then removed. Requires a single-writer
    * maintenance window (no concurrent update/score — the brief gap
    * between committing the merged delta and removing the old ones
    * would double-count for a concurrent reader). */
  def compactDeltas(spark: SparkSession, path: String): Unit =
    DeltaStore.compact(spark, path) { (deltas, staging) =>
      val (postings, doclen) =
        DeltaStore.livePair(spark, deltas, "doc_id", "postings", "doclen")
      // postings and doclen rewrites are independent — overlap them
      // (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () => postings
          .repartition(col("term")).sortWithinPartitions("term", "doc_id")
          .write.parquet(s"$staging/postings"),
        () => doclen.write.parquet(s"$staging/doclen")))
    }

  /** SHARD MERGE — fold two independently built stores over DISJOINT
    * doc_id spaces into ONE fresh store at `dest`, serving identically
    * to a rebuild on the union of the two LIVE corpora. This is the
    * maintenance leg a sharded 100 TB deployment actually runs: each
    * executor group indexes its own id range shared-nothing, then
    * per-shard stores fold pairwise into serving stores — no
    * single-writer ingest ever sees the whole corpus.
    *
    * Disjointness is a GATE, not an assumption: overlapping ids would
    * double-count postings (the [[update]] duplicate-rejection rule
    * across stores). The check is O(1) when both sides carry integral
    * id ranges that don't overlap (the shard layout by construction);
    * only on range overlap does it pay one doc-cardinality semi-join.
    *
    * Corpus stats (n_docs, avgdl, df) re-derive at query time like
    * every serve, so no stored stat needs reconciling. Requires a
    * single-writer window on `dest` (fresh store; the sources are
    * only read). */
  def mergeStores(spark: SparkSession, pathA: String, pathB: String,
                  dest: String): Unit = {
    val dA = DeltaStore.committedDeltas(spark, pathA)
    require(dA.nonEmpty, s"no committed deltas under $pathA")
    val dB = DeltaStore.committedDeltas(spark, pathB)
    require(dB.nonEmpty, s"no committed deltas under $pathB")
    val (pa, la) = DeltaStore.livePair(spark, dA, "doc_id", "postings", "doclen")
    val (pb, lb) = DeltaStore.livePair(spark, dB, "doc_id", "postings", "doclen")
    val range = DeltaStore.requireDisjoint(la, lb, "doc_id")
    // sub-relation listings resolve PER SIDE: the two source stores can
    // live on different filesystems
    val sides = Seq(dA, dB)
    val noTombstones = sides.forall(DeltaStore.havingSub(spark, _, "tombstones").isEmpty)
    val upd = sides.flatMap(DeltaStore.havingSub(spark, _, "postings"))
    DeltaStore.reset(spark, dest)
    DeltaStore.commit(spark, dest, "00000", range) { staging =>
      val writePostings = () => pa.union(pb)
        .repartition(col("term")).sortWithinPartitions("term", "doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/postings")
      // doclen COPY-THROUGH (guide §6, the DedupStore.mergeStores
      // discipline): with no tombstones anywhere, doclen is the plain
      // union of both shards' files, doc-keyed with disjoint ranges —
      // copied files keep exactly the clustering a rewrite would.
      // Postings ALWAYS re-cluster on term: the serving relation's
      // term runs interleave across shards and the re-cluster is what
      // term-pruned scans row-group-skip on — never copied.
      val writeDoclen = () =>
        if (noTombstones)
          DeltaStore.copySubFiles(spark, upd, "doclen", staging, "s")
        else la.union(lb).write.mode(SaveMode.Overwrite).parquet(s"$staging/doclen")
      // the two staged writes are independent — overlap them (guide §2.6)
      graft.Jobs.inParallel(Seq(writePostings, writeDoclen))
    }
  }

  /** (term, df_a, df_b, delta): SNAPSHOT DIFF between two pinned
    * versions of the store — the top-`k` terms by |df change| between
    * `tagA` and `tagB`, the audit read the time-travel family lacked
    * (scoreAt answers "what did version X serve"; this answers "WHAT
    * CHANGED between X and Y" — the vocabulary-shift fingerprint of
    * an ingest batch, read BEFORE promoting a new snapshot to
    * serving). Both sides resolve through `visibleAt` + the live
    * view, so tombstones and rekeys are respected exactly as the
    * serves respect them; dfs are exact row counts of the (doc,
    * term)-unique postings, the diff one full-outer join of two
    * term-cardinality rollups — postings are scanned once per side
    * and nothing doc-cardinality shuffles. Deterministic cut:
    * (|delta| desc, term asc). */
  def diffVersions(spark: SparkSession, path: String,
                   tagA: String, tagB: String, k: Int = 10): DataFrame = {
    def postingsAt(tag: String) = DeltaStore.livePair(spark,
      DeltaStore.visibleAt(spark, path, tag), "doc_id", "postings", "doclen")._1
    val (pa, pb) = (postingsAt(tagA), postingsAt(tagB))
    val dfa = pa.groupBy("term").agg(count(lit(1)).as("df_a"))
    val dfb = pb.groupBy("term").agg(count(lit(1)).as("df_b"))
    dfa.join(dfb, Seq("term"), "full_outer")
      .select(col("term"), coalesce(col("df_a"), lit(0L)).as("df_a"),
        coalesce(col("df_b"), lit(0L)).as("df_b"))
      .withColumn("delta", col("df_b") - col("df_a"))
      .filter(col("delta") =!= 0)
      .orderBy(abs(col("delta")).desc, col("term").asc)
      .limit(k)
  }

  /** Okapi BM25 over the staged index — matches Bm25.bm25Score on the
    * same corpus exactly (same formula, rounding, tie-breaks). */
  def score(spark: SparkSession, path: String,
            queryTerms: Seq[String] = Bm25.QueryTerms): DataFrame = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    scoreDeltas(spark, deltas, queryTerms)
  }

  /** TIME-TRAVEL scoring: the same per-doc BM25, but against the
    * store AS OF version `maxTag` — only deltas whose tag sorts
    * ≤ maxTag participate (the [[AnnIndex.searchTopKAt]] contract on
    * the TEXT index): a reader pins the exact snapshot a batch job
    * was validated against while ingest keeps committing; corpus
    * stats (df, n_docs, avgdl) re-derive from the visible deltas, so
    * the scores equal a rebuild on the snapshot corpus. Same
    * retention trade: [[compactDeltas]] collapses folded history, so
    * travel reaches only versions newer than the last compaction. */
  def scoreAt(spark: SparkSession, path: String, maxTag: String,
              queryTerms: Seq[String] = Bm25.QueryTerms): DataFrame = {
    // numeric-tag contract: DeltaStore.visibleAt fails loudly on a
    // store holding delete/compact tags (undefined lexicographic order)
    scoreDeltas(spark, DeltaStore.visibleAt(spark, path, maxTag), queryTerms)
  }

  private def scoreDeltas(spark: SparkSession, deltas: Seq[String],
                          queryTerms: Seq[String]): DataFrame = {
    val (postings, dl) = DeltaStore.livePair(spark, deltas, "doc_id", "postings", "doclen")
    val tfq = postings
      .filter(col("term").isin(queryTerms: _*)) // pushed to the scan
    // corpus stats aggregate doc-cardinality rows at query time — no
    // stored table to keep transactionally in step with the deltas
    val stats = dl.agg(count(col("doc_id")).as("n_docs"),
      avg(col("dl")).cast("double").as("avgdl"))
    val scored = tfq
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        Bm25.okapiTerm(col("tf"), col("df"), col("dl"), col("avgdl"), col("n_docs")).as("c"))
    scored.groupBy("doc_id").agg(round(sum("c"), 4).as("score"))
  }

  /** The exact top `n` of [[score]]: one scoring plan plus order +
    * limit. */
  def searchTopN(spark: SparkSession, path: String,
                 queryTerms: Seq[String] = Bm25.QueryTerms, n: Int = 10): DataFrame =
    topK(score(spark, path, queryTerms), n)

  /** The exact top `n` of [[scoreAt]]: the store pinned at version
    * `maxTag`, so rows equal a [[Bm25.searchTopN]] rebuild on the
    * pinned corpus. */
  def searchTopNAt(spark: SparkSession, path: String, maxTag: String,
                   queryTerms: Seq[String] = Bm25.QueryTerms, n: Int = 10): DataFrame =
    topK(scoreAt(spark, path, maxTag, queryTerms), n)

  /** [[searchTopN]] under its former block-max name, kept only because
    * the benchmark's `query` op (perfbench) calls it by this name. */
  def blockMaxTopN(spark: SparkSession, path: String,
                   queryTerms: Seq[String] = Bm25.QueryTerms, k: Int = 10): DataFrame =
    searchTopN(spark, path, queryTerms, k)

  /** The top `k` of (doc_id, score) rows: score desc, doc_id asc — the
    * tie-break every top-k serve shares. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)

  /** [[SearchExtras.maxScoreTopN]] served from the STAGED index —
    * upper-bound pruning where it belongs at 100 TB: ON the stored
    * postings. The postings scan is pruned to the query terms
    * (pushed-down predicate — no corpus pass, no tokenize), the
    * per-doc idf·(k1+1) bounds derive from that scan alone, and the
    * doclen relation joins only for the few candidates that can
    * still make the top-k — the difference between reading doclen
    * for every doc on a common term's posting list and for the
    * survivors of the θ cut. Rows equal [[searchTopN]] /
    * [[Bm25.searchTopN]] exactly (MaxScore is an exact prune; shared
    * oracle); stats re-derive from LIVE doclen rows, so the route is
    * tombstone-aware like every other staged serve. */
  def maxScoreTopN(spark: SparkSession, path: String,
                   queryTerms: Seq[String] = Bm25.QueryTerms,
                   k: Int = 10): DataFrame = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val (postings, dl) = DeltaStore.livePair(spark, deltas, "doc_id", "postings", "doclen")
    SearchExtras.maxScoreFrom(
      postings.filter(col("term").isin(queryTerms: _*)), dl, k)
  }

  /** (query_id, doc_id, score, rk): BM25 top-k for a TABLE of queries
    * served from the staged index — the reference's serving loop
    * (query in, Mongo TF/IDF lookups, score) as one plan with NO
    * corpus pass: the postings scan is pruned to the queries' terms,
    * doclen joins once, and the scoring stage is shared with the
    * corpus-derived [[Bm25.batchSearch]] so both routes return
    * identical rows. */
  def batchSearch(spark: SparkSession, path: String,
                  queries: DataFrame, k: Int = 10): DataFrame = {
    val (tf, dl) = liveServe(spark, path)
    Bm25.batchScoreFrom(tf, dl, queries, k)
  }

  /** Resolve the live (postings, doclen) pair ONCE for a serving
    * session — the static side of per-batch scoring. A streaming
    * serving loop ([[graft.streaming.Streams.searchStream]]) scores
    * every micro-batch against the SAME snapshot (single-writer
    * contract: the index is static during serving), so re-listing
    * committed deltas and re-opening the parquet relations inside
    * every micro-batch plan is pure per-batch overhead — at scale,
    * one store listing round-trip per batch against the object
    * store. Relations are lazy scans: term pruning/pushdown still
    * happens per consuming plan exactly as in [[batchSearch]]. */
  def liveServe(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    DeltaStore.livePair(spark, deltas, "doc_id", "postings", "doclen")
  }

  /** [[batchSearch]] against a pre-resolved static side — the
    * streaming serving loop's per-batch entry point. */
  def batchSearchFrom(tfDl: (DataFrame, DataFrame),
                      queries: DataFrame, k: Int = 10): DataFrame =
    Bm25.batchScoreFrom(tfDl._1, tfDl._2, queries, k)
}
