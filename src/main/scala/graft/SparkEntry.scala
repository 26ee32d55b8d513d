package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators._
import graft.sources.{Sinks, Tables}
import graft.sources.DeltaStore.{pathTag, stagedOnce}
import graft.Lineage._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every query key has a DuckDB-runnable oracle in [[oracleSql]]; the
  * column names/types and rounding are kept identical on both sides
  * (SURVEY.md §6).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Bm25.searchTopN(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Core BM25 / text-search surface (SURVEY §2 #1-12) ----
    "q_tokenize" -> ((s, dir) => Bm25.tokenize(Tables.documents(s, dir))),
    "q_tokenize_regex" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(Text.regexTokens(col("text"))).as("term"))
        .filter(Text.keepToken(col("term")))),
    "q_tokenize_pos" -> ((s, dir) => Bm25.tokenizePos(Tables.documents(s, dir))),
    "q_wordcount" -> ((s, dir) =>
      Bm25.tokenize(Tables.documents(s, dir)).groupBy("term").agg(count(lit(1)).as("n"))),
    "q_wordcount_salted" -> ((s, dir) => Skew.saltedWordCount(Tables.documents(s, dir))),
    "q_tf" -> ((s, dir) => Bm25.tf(Tables.documents(s, dir))),
    "q_topk_terms" -> ((s, dir) => Bm25.topKTerms(Tables.documents(s, dir))),
    "q_df" -> ((s, dir) => Bm25.df(Tables.documents(s, dir))),
    "q_idf" -> ((s, dir) => Bm25.idf(Tables.documents(s, dir))),
    "q_tfidf" -> ((s, dir) => Bm25.tfIdf(Tables.documents(s, dir))),
    "q_tfidf_ml" -> ((s, dir) => MlPipeline.tfIdf(Tables.documents(s, dir))),
    "q_doc_stats" -> ((s, dir) => Bm25.corpusStats(Tables.documents(s, dir))),
    "q_bm25_score" -> ((s, dir) => Bm25.bm25Score(Tables.documents(s, dir))),
    "q_bm25_ml" -> ((s, dir) => MlPipeline.bm25Score(Tables.documents(s, dir))),
    "q_bm25_plus" -> ((s, dir) => Bm25.bm25PlusScore(Tables.documents(s, dir))),
    "q_length_hist" -> ((s, dir) => Bm25.lengthHistogram(Tables.documents(s, dir))),
    "q_search_topn" -> ((s, dir) => Bm25.searchTopN(Tables.documents(s, dir))),
    // per-term score decomposition of the top-10 — the "explain why
    // this doc won" read beside the ranking; rides the scoring plan
    "q_search_explain" -> ((s, dir) => Bm25.searchExplain(Tables.documents(s, dir))),
    "q_search_batch" -> ((s, dir) => {
      import s.implicits._
      Bm25.batchSearch(Tables.documents(s, dir), Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    "q_hybrid_rrf" -> ((s, dir) =>
      Hybrid.rrfSearch(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    "q_doc_similar" -> ((s, dir) => Bm25.similarDocs(Tables.documents(s, dir))),
    "q_postings" -> ((s, dir) => Bm25.postings(Tables.documents(s, dir), maxDf = 1000)),
    // staged-index tombstone DELETE (the build/update/delete/compact
    // maintenance quad): tombstone the %10==3 slice (idempotent per
    // tag, O(batch)), serve immediately — IDF/avgdl re-derive from
    // live rows, so scores equal a rebuild without the docs; physical
    // purge deferred to compaction
    "q_index_delete" -> ((s, dir) => {
      val p = bm25DelStoreFor(s, dir)
      Bm25Index.delete(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 3).select("doc_id"),
        p, "del-01")
      Bm25Index.score(s, p)
    }),
    // the STREAMING twin of the tombstone delete — the GDPR/takedown
    // queue: the %10==3 slice arrives as delete micro-batches, each
    // committed exactly-once; after the drain, serving equals the
    // one-shot delete (shared corpus-minus-slice oracle). The BASE
    // index build is a prestaged layout (the prestage convention:
    // substrate construction is untimed, the DELETE ingest + serve is
    // the measurand); replayed batch tags make re-invocations no-ops
    "q_stream_delete" -> ((s, dir) => {
      val p = bm25StreamDelStoreFor(s, dir)
      // the delete feed is staged ONCE per JVM (cachedLayout): the
      // stream's checkpoint is kept across invocations (exactly-once
      // replay — see Streams.deleteStream), so re-minting part files
      // with fresh names each call would replay them as new batches
      val src = cachedLayout(s, "bm25_sdel_src", dir)(sp =>
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 3).select("doc_id")
          .repartition(2).write.mode("overwrite").parquet(sp))
      graft.streaming.Streams.deleteStream(s, src, p, maxFilesPerTrigger = Some(1))
      Bm25Index.score(s, p)
    }),
    "q_idf_upsert" -> ((s, dir) => Upsert.lastWins(Tables.events(s, dir))),
    // round-trip the corpus through the engine's own DataSourceV2
    // (text export -> graft-tsv scan); oracle = the documents table
    "q_source_dsv2" -> ((s, dir) => s.read.format("graft-tsv").load(tsvDocsFor(s, dir))),
    // round trip THROUGH the connector both ways: DSv2 truncate-write
    // then DSv2 read must reproduce the table (the ref's sink side is
    // a connector write, MongoTFSink.java:30-60, not a file dump)
    "q_sink_dsv2" -> ((s, dir) => {
      val p = sys.props("java.io.tmpdir") + "/graft_dsv2_sink_" + pathTag(dir)
      Tables.documents(s, dir).select("doc_id", "text")
        .write.format("graft-tsv").mode("overwrite").save(p)
      s.read.format("graft-tsv").load(p)
    }),
    // the ref's OTHER sink shape: one output/{pid}.txt per document
    // (backup/BMStream.java:30-35). Write per-doc tf-profile files for
    // a bounded subset, then read them BACK in the same plan — the
    // returned relation (doc_id, n_chars) proves the round trip and
    // the oracle recomputes the exact profile length relationally
    "q_perdoc_sink" -> ((s, dir) => {
      val out = sys.props("java.io.tmpdir") + "/graft_perdoc_" + pathTag(dir)
      // stale files from a prior corpus layout would pollute read-back
      val root = new org.apache.hadoop.fs.Path(out)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      Sinks.perDocFiles(Bm25.tfProfiles(docs), out, "doc_id", "profile")
      // pathGlobFilter, never a glob IN the load path: a glob path
      // expands to one root per matched file and the driver validates
      // each individually (probe: 9.4 s vs 0.2 s on 5,000 objects)
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(out)
        .select(regexp_extract(col("path"), "([0-9]+)\\.txt$", 1)
          .cast("long").as("doc_id"),
          length(col("content").cast("string")).cast("long").as("n_chars"))
    }),
    // the ref's BMStream IS a STREAMING per-doc writer: documents
    // arrive in micro-batches, each batch writes its own profile
    // files (doc-local, zero cross-batch state), and the read-back
    // relation shares q_perdoc_sink's oracle — streamed == batch
    "q_stream_perdoc" -> ((s, dir) => {
      // the doc slices are a staged-once read-only source (the
      // q_stream_delete feed convention); the timed region is the
      // per-batch profile-file sink + read-back
      val staged = cachedLayout(s, "sperdoc_src", dir)(sp =>
        Tables.documents(s, dir).filter(col("doc_id") < 200)
          .repartition(4).write.mode("overwrite").parquet(sp))
      val out = sys.props("java.io.tmpdir") + "/graft_sperdoc_out_" + pathTag(dir)
      graft.streaming.Streams.perDocStream(s, staged, out, maxFilesPerTrigger = Some(1))
      // pathGlobFilter, never a glob IN the load path: a glob path
      // expands to one root per matched file and the driver validates
      // each individually (probe: 9.4 s vs 0.2 s on 5,000 objects)
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(out)
        .select(regexp_extract(col("path"), "([0-9]+)\\.txt$", 1)
          .cast("long").as("doc_id"),
          length(col("content").cast("string")).cast("long").as("n_chars"))
    }),
    // stage on 80% of the corpus, incrementally ingest the rest, score
    // — must equal full-corpus BM25 (oracle shared with q_bm25_score).
    // The 80% BUILD is one-off substrate construction and comes from a
    // prestaged pristine template (file copy — see freshStoreFrom);
    // the INGEST + SERVE is the measurand and re-pays in full every
    // run on the fresh copy
    "q_index_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = freshStoreFrom(s, idxIncBaseFor(s, dir),
        sys.props("java.io.tmpdir") + "/graft_idx_inc_" + pathTag(dir))
      Bm25Index.update(docs.filter(col("doc_id") % 5 === 0), path)
      Bm25Index.score(s, path)
    }),

    // ---- Relational / OLAP surface (SURVEY §2 #13-25) ----
    "q_agg" -> ((s, dir) => Relational.pricingSummary(Tables.lineitem(s, dir))),
    "q_join_multi" -> ((s, dir) => Relational.revenueByNation(s, dir)),
    "q_shipping_priority" -> ((s, dir) => Relational.shippingPriority(s, dir)),
    "q_large_volume" -> ((s, dir) => Relational.largeVolumeOrders(s, dir)),
    "q_above_avg" -> ((s, dir) => Relational.aboveCustomerAverage(Tables.orders(s, dir))),
    "q_topn" -> ((s, dir) => Relational.topOrders(Tables.orders(s, dir))),
    "q_window" -> ((s, dir) => Relational.customerOrderWindows(Tables.orders(s, dir))),
    "q_distinct" -> ((s, dir) => Relational.eventTypeStats(Tables.events(s, dir))),
    "q_semijoin" -> ((s, dir) => Relational.customersWithBigOrders(s, dir)),
    "q_antijoin" -> ((s, dir) => Relational.emptyOrders(s, dir)),
    "q_union" -> ((s, dir) => Relational.activeUsers(Tables.events(s, dir))),
    "q_rollup" -> ((s, dir) => Relational.returnsRollup(Tables.lineitem(s, dir))),
    "q_pivot" -> ((s, dir) => Relational.statusPivot(Tables.lineitem(s, dir))),
    "q_json" -> ((s, dir) => Relational.propsK(Tables.events(s, dir))),
    "q_time_window" -> ((s, dir) => Relational.hourlyEventStats(Tables.events(s, dir))),
    "q_sessionize" -> ((s, dir) => Relational.sessionize(Tables.events(s, dir))),
    "q_stats_profile" -> ((s, dir) => Sketches.statsProfile(Tables.events(s, dir))),
    "q_table_profile" -> ((s, dir) => Sketches.tableProfile(Tables.events(s, dir))),
    "q_approx_distinct" -> ((s, dir) => Sketches.approxDistinct(Tables.events(s, dir))),
    "q_approx_quantiles" -> ((s, dir) => Sketches.approxQuantiles(Tables.events(s, dir))),
    "q_kmv_sample" -> ((s, dir) => Sketches.kmvSample(Tables.events(s, dir))),
    "q_asof" -> ((s, dir) => Relational.asOfJoin(Tables.events(s, dir))),
    "q_cube" -> ((s, dir) => Relational.returnsCube(Tables.lineitem(s, dir))),
    "q_grouping_sets" -> ((s, dir) => Relational.groupingSetsAgg(Tables.lineitem(s, dir))),
    "q_outer_join" -> ((s, dir) => Relational.dailyOrderShipBalance(s, dir)),
    "q_range_join" -> ((s, dir) => Relational.priceBandJoin(Tables.lineitem(s, dir))),
    "q_corr" -> ((s, dir) => Relational.quantityPriceCorr(Tables.lineitem(s, dir))),
    "q_ntile" -> ((s, dir) => Relational.orderQuartiles(Tables.orders(s, dir))),
    "q_outliers" -> ((s, dir) => Relational.valueOutliers(Tables.events(s, dir))),
    "q_scd2" -> ((s, dir) => Relational.typeIntervals(Tables.events(s, dir))),
    "q_percentiles" -> ((s, dir) => Relational.exactPercentiles(Tables.events(s, dir))),
    "q_nation_volume" -> ((s, dir) => Relational.nationVolume(s, dir)),
    "q_top_supplier" -> ((s, dir) => Relational.topSupplier(s, dir)),
    "q_part_supplier" -> ((s, dir) => Relational.partSupplierCounts(s, dir)),
    "q_intersect" -> ((s, dir) => Relational.convertedUsers(Tables.events(s, dir))),
    "q_except" -> ((s, dir) => Relational.windowShoppers(Tables.events(s, dir))),
    "q_bool_agg" -> ((s, dir) => Relational.orderBoolProfile(Tables.orders(s, dir))),
    "q_fuzzy" -> ((s, dir) => Relational.fuzzyParts(Tables.part(s, dir))),
    "q_funnel" -> ((s, dir) => Relational.funnel(Tables.events(s, dir))),
    "q_retention" -> ((s, dir) => Relational.retention(Tables.events(s, dir))),
    "q_gap_fill" -> ((s, dir) => Relational.gapFill(Tables.events(s, dir))),
    "q_moving_avg" -> ((s, dir) => Relational.movingRevenue(Tables.orders(s, dir))),

    // ---- LLM-training-data pipeline surface (SURVEY §2 #26-37) ----
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "q_dedup_drop" -> ((s, dir) =>
      DedupStore.dropDuplicates(Tables.documents(s, dir), dedupStoreFor(s, dir))
        .select("doc_id", "n_chars")),
    "q_dedup_ngram" -> ((s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir))),
    // substring-level exact dedup: duplicated w-token spans across
    // documents (windowed-hash suffix-array re-expression) and the
    // per-doc exposure/keep roll-up
    "q_dedup_spans" -> ((s, dir) => Dedup.dupSpans(Tables.documents(s, dir))),
    "q_span_flag" -> ((s, dir) => Dedup.spanFlags(Tables.documents(s, dir))),
    "q_span_scrub" -> ((s, dir) => Dedup.scrubSpans(Tables.documents(s, dir))),
    "q_dedup_minhash" -> ((s, dir) => Dedup.minhashCandidates(Tables.documents(s, dir))),
    "q_dedup_verified" -> ((s, dir) => DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir))),
    // stage the substrate on the first 80% of doc ids, incrementally
    // ingest the rest (append-only: new reps banded/shingled, new
    // candidates verified against the staged shingle index) — the
    // served pairs must equal the full-corpus result (oracle shared
    // with q_dedup_verified)
    "q_dedup_store_incremental" -> ((s, dir) =>
      DedupStore.verifiedNearDups(s, dedupIncStoreFor(s, dir))),
    // COMPACTION of the shared 80/20 pair substrate: fold the deltas
    // to one (pure unions — every relation is an append), serving
    // identical (oracle shared with the incremental twin, which
    // shares q_dedup_verified's). A second compaction is a no-op.
    "q_dedup_store_compact" -> ((s, dir) => {
      val path = dedupIncStoreFor(s, dir)
      DedupStore.compactDeltas(s, path)
      DedupStore.verifiedNearDups(s, path)
    }),
    // tombstone + re-elect DELETE on the pair substrate — the QUAD's
    // last missing leg: the %10==7 slice tombstones in one O(group)
    // delta (dead reps re-elect their min surviving copy — a pure
    // RENAME, copy symmetry keeps every staged intersection valid),
    // serving is immediately corpus-minus-slice (oracle = the minhash
    // pipeline over the surviving docs); physical purge deferred to
    // compaction
    "q_dedup_store_delete" -> ((s, dir) => {
      val p = dedupDelStoreFor(s, dir)
      DedupStore.delete(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 7).select("doc_id"),
        p, "del-01")
      DedupStore.verifiedNearDups(s, p)
    }),
    "q_dedup_clusters" -> ((s, dir) => DedupStore.nearDupClusters(s, dedupStoreFor(s, dir))),
    // cluster-size histogram of the near-dup graph (staged rollup)
    "q_cluster_sizes" -> ((s, dir) =>
      DedupStore.clusterSizeHistogram(s, dedupStoreFor(s, dir))),
    // per-cluster size + exact integer within-cluster sum of squares
    "q_kmeans_inertia" -> ((s, dir) =>
      Clustering.kmeansInertia(Tables.embeddings(s, dir))),
    // the keep decision: one representative per near-dup cluster,
    // loners keep themselves — the cleaned-corpus id set
    "q_dedup_keep_best" -> ((s, dir) =>
      DedupStore.keepBest(Tables.documents(s, dir), dedupStoreFor(s, dir))),
    "q_dedup_simhash" -> ((s, dir) => Dedup.simhash(Tables.documents(s, dir))),
    "q_dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir))),
    "q_dedup_minhash_ml" -> ((s, dir) => MlPipeline.minhashLshPairs(Tables.documents(s, dir))),
    // served from the staged SemanticStore pair substrate (value
    // collapse + bucketed-LSH + exact-verify staged once, shared with
    // the SemDeDup keys; the all-pairs crossJoin baseline stays
    // available as Ann.cosinePairs and the unstaged plan as
    // Ann.lshCosinePairs); the oracle below is STILL the all-pairs
    // SQL — staged candidate recall must close the gap exactly
    "q_dedup_embcos" -> ((s, dir) =>
      SemanticStore.cosinePairs(s, semanticStoreFor(s, dir))),
    // stage the semantic substrate on the first 80% of vec_ids, then
    // incrementally ingest the rest (append-only: new reps bucketed,
    // new candidates cosine-verified against the staged rep vectors)
    // — the served pairs must equal the full-corpus result (oracle
    // shared with q_dedup_embcos)
    "q_semantic_store_incremental" -> ((s, dir) =>
      SemanticStore.cosinePairs(s, semIncStoreFor(s, dir))),
    // the semantic substrate's compaction leg (same shared contract)
    "q_semantic_store_compact" -> ((s, dir) => {
      val path = semIncStoreFor(s, dir)
      SemanticStore.compactDeltas(s, path)
      SemanticStore.cosinePairs(s, path)
    }),
    // tombstone + re-elect DELETE on the semantic substrate (the
    // embedding-side twin): the %8==1 stored slice tombstones in one
    // O(group) delta, dead value-group reps re-elect (value identity
    // makes it a rename), serving equals the all-pairs relation over
    // the surviving vectors immediately
    "q_semantic_store_delete" -> ((s, dir) => {
      val p = semDelStoreFor(s, dir)
      SemanticStore.delete(
        SemanticStore.members(s, p).filter(col("vec_id") % 8 === 1).select("vec_id"),
        p, "del-01")
      SemanticStore.cosinePairs(s, p)
    }),
    // the STREAMING twin of the semantic delete — the embedding-side
    // takedown queue: the %8==1 slice arrives as delete micro-batches
    // (one file each), each committed exactly-once as a tombstone+
    // re-elect delta; deletes compose, so after the drain the served
    // all-pairs relation equals the one-shot delete (shared oracle).
    // The base substrate is prestaged; the delete ingest + full pair
    // serve is the measurand (the q_stream_delete conventions: kept
    // checkpoint, feed staged once per JVM)
    "q_stream_semantic_delete" -> ((s, dir) => {
      val p = semStreamDelStoreFor(s, dir)
      // feed = STORED members of the slice (a zero-norm/null vector is
      // never ingested, so an embeddings-table feed would trip the
      // liveness require — the q_semantic_store_delete convention)
      val src = cachedLayout(s, "sem_sdel_src", dir)(sp =>
        SemanticStore.members(s, p).filter(col("vec_id") % 8 === 1).select("vec_id")
          .repartition(2).write.mode("overwrite").parquet(sp))
      graft.streaming.Streams.semanticDeleteStream(s, src, p, maxFilesPerTrigger = Some(1))
      SemanticStore.cosinePairs(s, p)
    }),
    "q_ann_bruteforce" -> ((s, dir) => Ann.bruteForceTopK(Tables.embeddings(s, dir))),
    // the SAME search expressed in pure SQL over registered views and
    // the SQL-visible native graft_dot (oracle shared with bruteforce)
    "q_sql_api" -> ((s, dir) => {
      Api.registerTables(s, dir)
      s.sql(
        """WITH e AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |           FROM embeddings),
          |vn AS (SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM e),
          |q AS (SELECT v AS qv, nrm AS qn FROM vn WHERE vec_id = 0)
          |SELECT b.vec_id, round(graft_dot(qv, b.v) / (qn * b.nrm), 4) AS cos
          |FROM vn b, q WHERE b.vec_id != 0
          |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin)
    }),
    "q_ann_lsh" -> ((s, dir) => Ann.lshTopK(Tables.embeddings(s, dir))),
    // multiprobe LSH: half the tables, Hamming-1 bucket probes on the
    // query side — the index-size/recall trade in the serving ladder
    "q_ann_multiprobe" -> ((s, dir) =>
      Ann.lshMultiprobeTopK(Tables.embeddings(s, dir))),
    // the same multiprobe serve from the STAGED 4-table store: probe
    // width derives from the store's own lsh.params, candidates read
    // through the pushed-down (t, bucket) join — at 100 TB the halved
    // bucket relation IS the index-size saving, and the stored serve
    // is the shape that realizes it (shared oracle: deterministic
    // hashes make staged == corpus-side)
    "q_ann_multiprobe_staged" -> ((s, dir) =>
      AnnIndex.searchMultiprobeTopK(s, annMpStoreFor(s, dir))),
    // flat IVF served from the staged store (coarse training is the
    // offline build — the whole trained-ANN family now stages)
    "q_ann_ivf" -> ((s, dir) => PqIndex.searchIvfFlat(s, ivfIndexFor(s, dir))),
    // PQ/ADC served from the staged PqIndex (training is an offline
    // build, cached per sf dir — the benched path is SERVING); the
    // deterministic integer-Lloyd's trainer makes the whole pipeline
    // — training included — hash-checked via the pqCtes replay
    "q_ann_pq" -> ((s, dir) => PqIndex.searchTopK(s, pqIndexFor(s, dir))),
    // PQ-store tombstone DELETE under FROZEN codebooks (the quad's
    // delete leg on the trained store: deletes never retrain, exactly
    // as updates never do); oracle = full-corpus training replay with
    // the deleted slice filtered at serve time
    "q_pq_delete" -> ((s, dir) => {
      val p = pqDelStoreFor(s, dir)
      PqIndex.delete(
        Tables.embeddings(s, dir).filter(col("vec_id") % 8 === 5).select("vec_id"),
        p, "del-01")
      PqIndex.searchTopK(s, p)
    }),
    // IVF+PQ composed (residual-encoded, per-probe ADC tables), same
    // staged-serving split, same end-to-end replay
    "q_ann_ivfpq" -> ((s, dir) => PqIndex.searchIvfTopK(s, ivfPqIndexFor(s, dir))),
    // stage the PQ index on the first 80% of vec_ids, incrementally
    // ingest the rest ENCODED UNDER THE FROZEN CODEBOOKS (the
    // add-to-trained-index contract — retraining is a rebuild), serve
    // — the oracle replays training on the build cut and encoding of
    // the full corpus
    "q_pq_store_incremental" -> ((s, dir) =>
      PqIndex.searchTopK(s, pqIncStoreFor(s, dir))),
    // PINNED snapshot read on the PQ store — the time-travel leg on
    // the one store family that lacked it, with the trained-state
    // subtlety the family's other asof keys don't have: codebooks,
    // codes and vectors all resolve from the SAME visibleAt subset
    // (a pin below the build version fails loudly — serving other
    // codebooks against pinned codes silently corrupts distances).
    // Serves from a DEDICATED read-only two-version substrate (same
    // 4/5|1/5 content as the incremental store, so the oracle replays
    // training AND serving on the build cut) — NEVER the shared
    // incremental store, which q_pq_compact COMPACTS: time travel is
    // defined only on update-only stores, so sharing it fails the
    // numeric-tag guard the moment the compact key runs (the same
    // never-share-with-maintenance rule every other family's asof
    // substrate already records)
    "q_pq_asof" -> ((s, dir) =>
      PqIndex.searchTopKAt(s, pqAsofStoreFor(s, dir), maxTag = "00000")),
    // snapshot DIFF on the PQ store: per-subspace CODE-OCCUPANCY
    // shift between the pinned build and ingest versions — the
    // retrain signal (frozen codebooks pile an out-of-distribution
    // batch into few cells); both sides pin codebooks+codes together,
    // rollup is m × ksub metadata
    "q_pq_diff" -> ((s, dir) =>
      PqIndex.diffVersions(s, pqAsofStoreFor(s, dir), "00000", "00001")),
    // the STREAMING twin of the incremental PQ ingest: the tail
    // micro-batches through Structured Streaming, each batch encoded
    // under the frozen codebooks as one exactly-once delta — after the
    // drain, serving equals the batch build-then-update result (shared
    // frozen-codebook oracle)
    "q_stream_pq" -> ((s, dir) => {
      // 80% build (codebook training) = prestaged template, tail
      // slices = staged-once read-only source; the timed region is the
      // STREAMING INGEST under frozen codebooks + the serve — each run
      // streams into a fresh template copy with a fresh checkpoint
      val path = freshStoreFrom(s, pqStreamBaseFor(s, dir),
        sys.props("java.io.tmpdir") + "/graft_pq_stream_" + pathTag(dir))
      val src = pqStreamSrcFor(s, dir)
      graft.streaming.Streams.pqIngestStream(s, src, path, maxFilesPerTrigger = Some(1))
      PqIndex.searchTopK(s, path)
    }),
    // per-list occupancy of the staged flat-IVF store (quantizer
    // health / probed-scan cost model)
    "q_ivf_balance" -> ((s, dir) => PqIndex.listBalance(s, ivfIndexFor(s, dir))),
    // per-subspace exact-integer quantization distortion of the
    // staged PQ codebooks
    "q_pq_distortion" -> ((s, dir) => PqIndex.distortion(s, pqIndexFor(s, dir))),
    // deterministic md5-ordered QA sample of the verified near-dup
    // pairs (the human review slice), served from the staged store
    "q_review_queue" -> ((s, dir) => DedupStore.reviewQueue(s, dedupStoreFor(s, dir))),
    // jaccard histogram over every staged candidate pair (threshold
    // headroom: is mass piling just under the cutoff?)
    "q_jaccard_hist" -> ((s, dir) =>
      DedupStore.jaccardHistogram(s, dedupStoreFor(s, dir))),
    // MOSS-style winnowing-fingerprint overlap pairs (df-capped)
    "q_winnowing_pairs" -> ((s, dir) =>
      TextAnalysis.winnowingPairs(Tables.documents(s, dir))),
    // customer-cohort LTV matrix (first-order month × months-since)
    "q_cohort_revenue" -> ((s, dir) => Relational.cohortRevenue(Tables.orders(s, dir))),
    // join-key fanout histogram (the pre-shuffle skew diagnostic)
    "q_join_fanout_hist" -> ((s, dir) =>
      Relational.fanoutHistogram(Tables.lineitem(s, dir))),
    // integer-exact recency-decayed engagement score per user
    "q_decay_score" -> ((s, dir) => Relational.decayScore(Tables.events(s, dir))),
    // recall@k across the nProbe grid from the staged flat-IVF store
    "q_ivf_tune" -> ((s, dir) => PqIndex.ivfTune(s, ivfIndexFor(s, dir))),
    // per-source dedup ROI (docs/chars removed by the drop decision)
    "q_dedup_savings" -> ((s, dir) =>
      DedupStore.dedupSavings(Tables.documents(s, dir), dedupStoreFor(s, dir))),
    // per-source modality mix (metadata-only; payloads never move)
    "q_modality_mix" -> ((s, dir) =>
      Multimodal.modalityMix(s, Tables.documents(s, dir))),
    // per-source length profile (portable p50 midpoint + extremes)
    "q_source_length_profile" -> ((s, dir) =>
      TextAnalysis.sourceLengthProfile(Tables.documents(s, dir))),
    // bounded-sample pairwise-cosine histogram (embedding geometry)
    "q_pair_cos_hist" -> ((s, dir) =>
      Ann.pairCosHistogram(Tables.embeddings(s, dir))),
    // COMPACTION of the shared PQ substrate (the maintenance triad's
    // third leg): fold the deltas to one, trained state carried
    // verbatim — serving identical (shared frozen-codebook oracle)
    "q_pq_compact" -> ((s, dir) => {
      val path = pqIncStoreFor(s, dir)
      PqIndex.compactDeltas(s, path)
      PqIndex.searchTopK(s, path)
    }),
    // gaps-and-islands: distinct active days + longest consecutive run
    "q_activity_streaks" -> ((s, dir) =>
      Relational.activityStreaks(Tables.events(s, dir))),
    // top terms per k-means cluster (the "what IS cluster 3" table)
    "q_cluster_labels" -> ((s, dir) =>
      Clustering.clusterLabels(Tables.embeddings(s, dir), Tables.documents(s, dir))),
    "q_multimodal_meta" -> ((s, dir) => Multimodal.mediaMeta(s, Tables.documents(s, dir))),
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(s, Tables.documents(s, dir))
        .withColumn("frame_len", col("frame_len").cast("long"))),
    "q_multimodal_resize" -> ((s, dir) => Multimodal.resize(Tables.documents(s, dir))),
    "q_multimodal_hist" -> ((s, dir) =>
      Multimodal.byteHistogram(s, Multimodal.asBlobs(Tables.documents(s, dir)))
        .select(col("doc_id"), posexplode(col("histogram")).as(Seq("bin", "ratio")))),
    "q_contamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.contamination(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("probe_id"), col("text")))
    }),
    // PROBE-side contamination rate: per eval doc, the fraction of its
    // n-grams present anywhere in the training corpus (the published-LM-report-style
    // per-probe dirtiness used to EXCLUDE eval items; q_contamination
    // flags the TRAINING docs instead)
    "q_contamination_rate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.contaminationRate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("probe_id"), col("text")))
    }),
    // Mann-Whitney U per source vs rest: the nonparametric
    // length-shift significance test beside q_ks_drift's CDF gap
    "q_mann_whitney" -> ((s, dir) =>
      TextAnalysis.mannWhitneyLength(Tables.documents(s, dir))),
    // Welch's t per source vs rest: the PARAMETRIC significance
    // column beside the U test — rank and t disagree exactly when a
    // source's lengths are skewed/heavy-tailed, the reading a mixture
    // audit wants; exact BIGINT sufficient statistics, rest side by
    // subtraction, one shared formula text in both engines
    "q_welch_ttest" -> ((s, dir) =>
      TextAnalysis.welchTTestLength(Tables.documents(s, dir))),
    // Hodges–Lehmann shift per source vs rest: the MAGNITUDE member
    // beside the U test's significance and Cliff's consistency — by
    // how many characters does this source run long; exact weighted
    // median on the value-grid difference multiset
    "q_hl_shift" -> ((s, dir) =>
      TextAnalysis.hlShiftLength(Tables.documents(s, dir))),
    // Wald–Wolfowitz runs test over each source's ingest-order length
    // sequence: the batchy-ingest detector (host-by-host dumps give
    // few long runs, large negative z) beside the location/spread
    // suite; exact runs/median core, shared z formula text
    "q_runs_test" -> ((s, dir) =>
      TextAnalysis.runsTestLength(Tables.documents(s, dir))),
    // the k-group omnibus gate before the per-source pairwise tests:
    // Kruskal-Wallis H on the same doubled-midrank integer grid
    "q_kruskal_wallis" -> ((s, dir) =>
      TextAnalysis.kruskalWallisLength(Tables.documents(s, dir))),
    // Cliff's delta: the EFFECT SIZE beside the U test's significance
    // (does the shift matter, not just is it detectable)
    "q_cliffs_delta" -> ((s, dir) =>
      TextAnalysis.cliffsDeltaLength(Tables.documents(s, dir))),
    // 10%-trimmed mean per source beside the plain mean: robust
    // typical length via exact integer order-stat clipping
    "q_trimmed_mean" -> ((s, dir) =>
      TextAnalysis.trimmedMeanLength(Tables.documents(s, dir))),
    // Q-Q deciles per source vs rest: WHERE the distribution shifts,
    // between q_ks_drift's one scalar and the full CDF (exact order
    // stats from value-group prefix sums)
    "q_qq_deciles" -> ((s, dir) =>
      TextAnalysis.qqDecilesLength(Tables.documents(s, dir))),
    // Brown-Forsythe: variance-homogeneity omnibus across sources —
    // the SPREAD test beside Kruskal-Wallis's location test
    "q_levene" -> ((s, dir) =>
      TextAnalysis.leveneLength(Tables.documents(s, dir))),
    // Cohen's kappa between the two keep/drop gates (heuristic
    // quality vs Gopher rules): chance-corrected rater agreement
    "q_quality_kappa" -> ((s, dir) =>
      TextAnalysis.qualityKappa(Tables.documents(s, dir))),
    // rank-biased overlap of the lexical vs dense top-k runs (the
    // top-weighted list similarity beside q_run_correlation's rho)
    "q_rbo" -> ((s, dir) =>
      Hybrid.rbo(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // Kendall tau between the same two runs: the exact count of doc
    // pairs the two systems order differently (integer C/D core)
    "q_kendall_tau" -> ((s, dir) =>
      Hybrid.kendallTau(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // Theil-Sen robust monthly-revenue trend (median pairwise slope
    // on the exact micros grid; outlier months cannot move it)
    "q_theil_sen" -> ((s, dir) => Relational.theilSen(s, dir)),
    // FUZZY decontamination: near-dup (not just verbatim-overlap)
    // matches of corpus docs against the probe set, candidates from a
    // cross-relation MinHash band join (8 bands x 2 rows)
    "q_contamination_fuzzy" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.fuzzyContamination(
        d.filter(col("doc_id") % 5 =!= 0),
        d.filter(col("doc_id") % 5 === 0).select(col("doc_id").as("probe_id"), col("text")))
    }),
    "q_lang_id" -> ((s, dir) => TextAnalysis.langId(Tables.documents(s, dir))),
    "q_quality" -> ((s, dir) => TextAnalysis.quality(Tables.documents(s, dir))),
    "q_quality_ml" -> ((s, dir) => MlPipeline.qualityClassifier(Tables.documents(s, dir))),
    "q_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))),
    "q_normalize" -> ((s, dir) => TextAnalysis.normalize(Tables.documents(s, dir))),
    "q_redact" -> ((s, dir) => TextAnalysis.redact(Tables.documents(s, dir))),
    "q_quality_by_source" -> ((s, dir) => TextAnalysis.qualityBySource(Tables.documents(s, dir))),
    "q_bigrams" -> ((s, dir) => TextAnalysis.topBigrams(Tables.documents(s, dir))),
    "q_sample_mix" -> ((s, dir) => TextAnalysis.mixtureSample(Tables.documents(s, dir))),
    "q_pmi" -> ((s, dir) => TextAnalysis.bigramPmi(Tables.documents(s, dir))),
    "q_zipf" -> ((s, dir) => TextAnalysis.zipfProfile(Tables.documents(s, dir))),
    "q_char_trigrams" -> ((s, dir) => TextAnalysis.charTrigrams(Tables.documents(s, dir))),
    "q_stem" -> ((s, dir) => TextAnalysis.stemmedVocab(Tables.documents(s, dir))),
    // dictionary segmentation round trip (ansj plug point) — the
    // greedy longest-match loop replays as a DuckDB recursive CTE
    // (hash-checked); round-trip rate also asserted in TextAnalysisSpec
    "q_segment" -> ((s, dir) => TextAnalysis.segmentRoundTrip(Tables.documents(s, dir))),

    // ---- Structured Streaming surface (SURVEY §2 #38-39): real
    // streaming queries drained to a sink, checked vs batch oracles ----
    "q_stream_wordcount" -> ((s, dir) => graft.streaming.Streams.windowedWordCount(s, dir)),
    "q_stream_running_idf" -> ((s, dir) => graft.streaming.Streams.runningIdf(s, dir)),
    "q_stream_sessionize" -> ((s, dir) => graft.streaming.Streams.sessionWindows(s, dir)),
    "q_stream_dedup" -> ((s, dir) => graft.streaming.Streams.streamDedup(s, dir)),
    "q_stream_join" -> ((s, dir) => graft.streaming.Streams.streamStreamJoin(s, dir)),
    "q_stream_anomaly" -> ((s, dir) => graft.streaming.Streams.anomalyAlerts(s, dir)),
    // per-day PSI of the event-type mix vs the corpus reference mix
    "q_stream_psi" -> ((s, dir) => graft.streaming.Streams.psiDriftStream(s, dir)),
    // stateful streaming CEP; equals the batch matcher (shared oracle)
    "q_stream_cep" -> ((s, dir) => graft.streaming.Streams.cepStream(s, dir)),

    // ---- Round-4 additions: positional search, PRF, index serving,
    // more TPC-H shapes, pipeline filters, vector analytics ----
    "q_positions" -> ((s, dir) => Positional.positionalPostings(Tables.documents(s, dir))),
    "q_phrase" -> ((s, dir) => Positional.phraseSearch(Tables.documents(s, dir))),
    "q_bm25f" -> ((s, dir) => Positional.bm25fScore(Tables.documents(s, dir))),
    "q_prf_search" -> ((s, dir) => Positional.expandedSearch(Tables.documents(s, dir))),
    // query TABLE served from the staged index: one exact plan over
    // the term-pruned postings — same rows as the corpus-derived
    // q_search_batch (shared oracle)
    "q_index_batch_search" -> ((s, dir) => {
      import s.implicits._
      Bm25Index.batchSearch(s, indexFor(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // query STREAM served from the staged index (the reference's
    // BMStream serving loop) — same rows again (shared oracle)
    "q_stream_search" -> ((s, dir) => {
      import s.implicits._
      val qdir = sys.props("java.io.tmpdir") + "/graft_stream_q_" + pathTag(dir)
      Bm25.DemoQueries.toDF("query_id", "qtext")
        .write.mode("overwrite").parquet(qdir)
      graft.streaming.Streams.searchStream(s, qdir, indexFor(s, dir))
    }),
    "q_local_supplier" -> ((s, dir) => Relational.localSupplierVolume(s, dir)),
    "q_order_priority" -> ((s, dir) => Relational.orderPriority(s, dir)),
    "q_returned_items" -> ((s, dir) => Relational.returnedItemReporting(s, dir)),
    "q_promo_share" -> ((s, dir) => Relational.promoShare(s, dir)),
    "q_argmax" -> ((s, dir) => Relational.richestCustomerPerNation(Tables.customer(s, dir))),
    "q_window_distinct" -> ((s, dir) => Relational.runningDistinctKinds(Tables.events(s, dir))),
    "q_gopher" -> ((s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir))),
    "q_gopher_rep" -> ((s, dir) => TextAnalysis.gopherRepetition(Tables.documents(s, dir))),
    "q_bloom_join" -> ((s, dir) => {
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0)
        .select("o_orderkey")
      Skew.bloomSemiJoin(Tables.lineitem(s, dir), big, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * lit(1000000.0)).cast("long")).as("price_micros"))
    }),
    // md5-derived CMS → deterministic counters, hash-checked against a
    // DuckDB rebuild of the identical sketch; bounds also in Round4Spec
    "q_heavy_hitters" -> ((s, dir) => Sketches.heavyHitters(Tables.documents(s, dir))),
    "q_kmv_distinct" -> ((s, dir) => Sketches.kmvDistinct(Tables.events(s, dir))),
    "q_emb_outliers" -> ((s, dir) => Vectors.centroidOutliers(Tables.embeddings(s, dir))),
    // IVF-composed (probed inverted lists, not the N×M cross join);
    // oracle unchanged — probes must cover the true neighbor sets
    "q_knn_classify" -> ((s, dir) => Vectors.knnClassifyIvf(Tables.embeddings(s, dir))),
    "q_stream_topk" -> ((s, dir) => graft.streaming.Streams.windowedTopK(s, dir)),
    // corpus re-laid-out partitioned by lang: the lang predicate prunes
    // whole directories (PartitionFilters), not just row groups
    "q_partitioned_scan" -> ((s, dir) => {
      s.read.parquet(partitionedDocsFor(s, dir))
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    }),
    "q_train_split" -> ((s, dir) => TextAnalysis.trainSplit(Tables.documents(s, dir))),
    // near-dup-aware split: train docs sharing a verified pair with
    // any held-out doc QUARANTINE (the leakage guard applied at split
    // time, pre-emptively — not forensically after the eval)
    "q_leakage_safe_split" -> ((s, dir) =>
      TextAnalysis.leakageSafeSplit(Tables.documents(s, dir),
        DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // domain balancing: per-source quota over the corpus
    "q_source_cap" -> ((s, dir) => TextAnalysis.sourceCap(Tables.documents(s, dir))),
    // reproducible hash-derived training-order shuffle into shards
    "q_shuffle_order" -> ((s, dir) => TextAnalysis.shuffleOrder(Tables.documents(s, dir))),
    // integer PageRank on the REP graph via copy symmetry (identical
    // neighborhoods → identical rank; doc-level walk stays as
    // Graph.pagerankFrom, staged==live spec-gated)
    "q_pagerank" -> ((s, dir) =>
      DedupStore.pagerankRanks(s, dedupStoreFor(s, dir))),
    // lineitem re-laid-out along a (price, quantity) Morton curve: a
    // selective two-column range probe now touches few files/row
    // groups via parquet min/max stats instead of the whole table
    "q_zorder_scan" -> ((s, dir) => {
      s.read.parquet(zorderedLineitemFor(s, dir))
        .filter(col("l_extendedprice").between(30000.0, 31000.0) &&
          col("l_quantity").between(20.0, 30.0))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * lit(1000000.0)).cast("long")).as("price_micros"))
    }),

    // ---- Round-5 additions: the remaining TPC-H shapes (Q2 Q6 Q8 Q9
    // Q11 Q12 Q13 Q17 Q19 Q20 Q21 Q22), re-keyed where the testdata
    // lacks a column (see TpcH scaladoc) ----
    "q_revenue_forecast" -> ((s, dir) => TpcH.revenueForecast(s, dir)),
    "q_min_cost_supplier" -> ((s, dir) => TpcH.minCostSupplier(s, dir)),
    "q_market_share" -> ((s, dir) => TpcH.marketShare(s, dir)),
    "q_product_profit" -> ((s, dir) => TpcH.productProfit(s, dir)),
    "q_revenue_concentration" -> ((s, dir) => TpcH.revenueConcentration(s, dir)),
    "q_late_split" -> ((s, dir) => TpcH.latePrioritySplit(s, dir)),
    "q_order_distribution" -> ((s, dir) => TpcH.orderDistribution(s, dir)),
    "q_small_qty_revenue" -> ((s, dir) => TpcH.smallQtyRevenue(s, dir)),
    "q_disjunctive_pred" -> ((s, dir) => TpcH.disjunctiveRevenue(s, dir)),
    "q_promo_suppliers" -> ((s, dir) => TpcH.promoSuppliers(s, dir)),
    "q_waiting_orders" -> ((s, dir) => TpcH.waitingOrders(s, dir)),
    "q_idle_customers" -> ((s, dir) => TpcH.idleRichCustomers(s, dir)),

    // ---- Round-5 additions: pipeline/text ops, quantization, more
    // sources/sinks, bucketed co-located join, streaming upsert ----
    "q_keywords" -> ((s, dir) => TextAnalysis.keywords(Tables.documents(s, dir))),
    "q_bigram_lm" -> ((s, dir) => TextAnalysis.bigramLm(Tables.documents(s, dir))),
    "q_kn_bigram" -> ((s, dir) => TextAnalysis.knBigram(Tables.documents(s, dir))),
    "q_log_odds" -> ((s, dir) => TextAnalysis.logOdds(Tables.documents(s, dir))),
    // per-source KS doc-length drift vs the rest of the corpus
    "q_ks_drift" -> ((s, dir) => TextAnalysis.ksDrift(Tables.documents(s, dir))),
    // Heaps'-law vocab growth over nested md5-uniform subsamples
    "q_heaps_law" -> ((s, dir) => TextAnalysis.heapsLaw(Tables.documents(s, dir))),
    // MinHash estimator quality: signature agreement vs exact Jaccard
    "q_minhash_est" -> ((s, dir) => Dedup.minhashEstimate(Tables.documents(s, dir))),
    // BPE fertility per language (tokenizer-equity metric)
    "q_bpe_fertility" -> ((s, dir) => Bpe.fertility(Tables.documents(s, dir))),
    // Coleman-Liau reading level per source (exact regexp counts)
    "q_readability" -> ((s, dir) => TextAnalysis.readability(Tables.documents(s, dir))),
    "q_entropy" -> ((s, dir) => TextAnalysis.tokenEntropy(Tables.documents(s, dir))),
    "q_emb_quantize" -> ((s, dir) => Vectors.quantizeInt8(Tables.embeddings(s, dir))),
    // diagonal whitening on the exact millis grid: one dim-sized
    // stats agg -> literal arrays -> pure map stage (the preprocessing
    // that stops a dominant-variance dimension owning every distance)
    "q_emb_whiten" -> ((s, dir) => Vectors.whiten(Tables.embeddings(s, dir))),
    // the STREAMING whitening leg: stats fixed pre-drain (the budget
    // sampler's corpus-global-plan precedent), each micro-batch a
    // stateless literal-stats map — union over batches == the batch
    // whitening (theorem; shared oracle)
    "q_stream_whiten" -> ((s, dir) =>
      graft.streaming.Streams.whitenStream(s, dir)),
    "q_stream_upsert" -> ((s, dir) => graft.streaming.Streams.upsertStream(s, dir)),
    // both fact tables pre-bucketed on the join key: the join runs
    // with NO exchange on either side (asserted in PlanSpec)
    "q_bucketed_join" -> ((s, dir) => {
      val (liName, oName) = bucketedFor(s, dir)
      graft.sources.Bucketed.table(s, liName).hint("merge")
        .join(graft.sources.Bucketed.table(s, oName),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * lit(1000000.0)).cast("long")).as("revenue_micros"))
    }),
    // corpus round-tripped through header CSV — schema'd read back.
    // multiLine: the writer QUOTES embedded newlines rather than
    // escaping them, so the reader must parse across physical lines
    // (multiLine reads are per-file, not split-per-block — the
    // SPLITTABLE newline-bearing path is the escaping graft-tsv
    // connector, q_source_dsv2)
    "q_source_csv" -> ((s, dir) => {
      // text_bytes + newline-doc count gate the TEXT round-trip, not
      // just row counts: a quoting/escaping regression that drops or
      // mangles embedded newlines changes both (octet_length = UTF-8
      // bytes — identical in Spark and DuckDB, unlike code-point
      // length vs grapheme subtleties)
      s.read.option("header", "true").option("multiLine", "true")
        .schema(Tables.documents(s, dir).schema)
        .csv(csvDocsFor(s, dir))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          sum(octet_length(col("text"))).as("text_bytes"),
          sum(when(col("text").contains("\n"), 1L).otherwise(0L)).as("n_multiline"))
    }),
    // corpus round-tripped through JSON-lines
    "q_source_jsonl" -> ((s, dir) => {
      s.read.schema(Tables.documents(s, dir).schema)
        .json(jsonlDocsFor(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          sum(octet_length(col("text"))).as("text_bytes"))
    }),
    // a 48-file fragmented copy compacted back to size-targeted files
    // (file-count collapse asserted in IoSpec); content must survive
    "q_compacted_scan" -> ((s, dir) => {
      s.read.parquet(compactedDocsFor(s, dir))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
    }),
    "q_hopping_window" -> ((s, dir) => Relational.hoppingEventStats(Tables.events(s, dir))),
    "q_skipgrams" -> ((s, dir) => TextAnalysis.skipgrams(Tables.documents(s, dir))),
    "q_emb_norm" -> ((s, dir) => Vectors.l2Normalize(Tables.embeddings(s, dir))),
    // corpus round-tripped through ORC (Spark's second builtin
    // columnar format; same pushdown/pruning surface as parquet)
    "q_source_orc" -> ((s, dir) => {
      s.read.orc(orcDocsFor(s, dir))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    }),
    // one-object-per-file binary ingest via the builtin binaryFile
    // source — how media corpora land; id parsed from the file name,
    // payload fingerprinted for the join with the metadata tables
    "q_source_binary" -> ((s, dir) => {
      // pathGlobFilter, never a glob IN the load path (see q_perdoc_sink)
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(binaryDocsFor(s, dir))
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
    }),
    // the landing zone COMPOSED with compaction: the per-object cost
    // q_source_binary measures is paid once at build; the downstream
    // metadata join scans the compacted columnar store instead of
    // 5,000 tiny objects — the wired cure for the ingest pathology
    "q_binary_compacted" -> ((s, dir) => {
      s.read.parquet(compactedBinaryFor(s, dir))
        .join(Tables.documents(s, dir).select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("total_bytes"),
          countDistinct(col("payload_md5")).as("n_distinct_payloads"))
    }),

    // ---- Round-6 additions: serving features past ranked retrieval
    // — LM-Dirichlet scoring, snippets, autocomplete, NDCG eval ----
    "q_lm_dirichlet" -> ((s, dir) => SearchExtras.lmDirichletScore(Tables.documents(s, dir))),
    // MaxScore-pruned top-k: EXACT same rows as q_search_topn (shared
    // oracle) — the pruning is admissible, not approximate
    "q_search_maxscore" -> ((s, dir) => SearchExtras.maxScoreTopN(Tables.documents(s, dir))),
    // the SAME MaxScore prune served from the STAGED index: bounds
    // derive from the term-pruned postings scan (no corpus pass —
    // impact-ordered serving at 100 TB gates on stored postings),
    // doclen joins only the θ-cut survivors; rows equal q_search_topn
    "q_index_maxscore" -> ((s, dir) =>
      Bm25Index.maxScoreTopN(s, indexFor(s, dir))),
    // the staged index's exact top-k: one scoring plan plus order +
    // limit, rows equal q_search_topn exactly (the key keeps its
    // block-max name so its oracle and bench history stay keyed)
    "q_index_blockmax" -> ((s, dir) =>
      Bm25Index.searchTopN(s, indexFor(s, dir))),
    "q_snippets" -> ((s, dir) => SearchExtras.snippets(Tables.documents(s, dir))),
    "q_autocomplete" -> ((s, dir) => SearchExtras.autocomplete(Tables.documents(s, dir))),
    "q_search_ndcg" -> ((s, dir) => SearchExtras.searchNdcg(Tables.documents(s, dir))),
    // ---- Round-6 batch 2: boolean/spell/proximity/facets serving,
    // binary-quantized + batched + streamed ANN, training chunking ----
    "q_boolean_search" -> ((s, dir) => SearchExtras.booleanSearch(Tables.documents(s, dir))),
    "q_spell_correct" -> ((s, dir) => SearchExtras.spellCorrect(Tables.documents(s, dir))),
    "q_proximity" -> ((s, dir) => SearchExtras.proximityTopN(Tables.documents(s, dir))),
    "q_facets" -> ((s, dir) => SearchExtras.facets(Tables.documents(s, dir))),
    "q_ann_hamming" -> ((s, dir) => Ann.hammingTopK(Tables.embeddings(s, dir))),
    "q_ann_batch" -> ((s, dir) => Ann.batchTopK(Tables.embeddings(s, dir))),
    // query-vector STREAM served per micro-batch against the static
    // store — same rows as q_ann_batch (shared oracle)
    "q_stream_ann" -> ((s, dir) => graft.streaming.Streams.annStream(s, dir)),
    "q_stream_kmeans" -> ((s, dir) => graft.streaming.Streams.kmeansStream(s, dir)),
    "q_stream_dedup_minhash" -> ((s, dir) =>
      graft.streaming.Streams.minhashDedupStream(s, dir)),
    // streaming ingest gate: arriving docs screened against the
    // static benchmark shingle index (union == batch contamination)
    "q_stream_contamination" -> ((s, dir) =>
      graft.streaming.Streams.contaminationStream(s, dir)),
    // UNBOUNDED rate source through the serving skeleton (the ref's
    // live socket feed) — wall-clock-dependent counts → rows-only
    // gate, shape pinned by StreamsSpec
    "q_stream_rate" -> ((s, dir) => graft.streaming.Streams.rateSmoke(s)),
    "q_seq_chunks" -> ((s, dir) => TextAnalysis.seqChunks(Tables.documents(s, dir))),
    "q_seq_pack" -> ((s, dir) => TextAnalysis.packSequences(Tables.documents(s, dir))),
    // the packing CAP SWEEP: bins/overflow/utilization across a
    // context-length grid — the decide-max_len reading (padding waste
    // vs overflow trade), one independent greedy pack per cap
    "q_pack_efficiency" -> ((s, dir) =>
      TextAnalysis.packEfficiency(Tables.documents(s, dir))),
    // hot-key salted equi-join: large side salted in [0,8), small side
    // replicated per salt — identical rows to the plain inner join
    // (shared oracle shape), no reducer ever owns a whole hot key
    "q_salted_join" -> ((s, dir) => graft.operators.Skew.saltedJoin(
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      Tables.customer(s, dir).select("c_custkey", "c_name"),
      "o_custkey", "c_custkey", salts = 8)
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"))),
    // staged ANN store maintained incrementally (build 4/5 + ingest
    // 1/5, same DeltaStore protocol as q_index_incremental); search
    // equals the live LSH over the union (AnnSpec proves staged ==
    // live exactly), so the key hash-checks against the same LSH
    // replay oracle as q_ann_lsh
    "q_ann_index_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // 80% build = prestaged template (file copy); the INGEST + SERVE
      // re-pays in full on the fresh copy every run
      val path = freshStoreFrom(s, annIncBaseFor(s, dir),
        sys.props("java.io.tmpdir") + "/graft_annidx_inc_" + pathTag(dir))
      AnnIndex.update(emb.filter(col("vec_id") % 5 === 0), path, "00001")
      AnnIndex.searchTopK(s, path)
    }),
    // vector-store tombstone DELETE (the maintenance-quad leg on the
    // LSH index): tombstone the %9==4 slice, serve immediately — the
    // deleted vectors stop surfacing as candidates; oracle replays
    // the live LSH over the surviving corpus. Dedicated cached store
    // (the key mutates it; idempotent per tag)
    "q_ann_delete" -> ((s, dir) => {
      val p = annDelStoreFor(s, dir)
      AnnIndex.delete(
        Tables.embeddings(s, dir).filter(col("vec_id") % 9 === 4).select("vec_id"),
        p, "del-01")
      AnnIndex.searchTopK(s, p, queryId = 2L)
    }),

    // ---- Round-7 additions: embedding-side curation (deterministic
    // k-means, SemDeDup semantic clusters / keep-one-per-cluster) ----
    "q_emb_project" -> ((s, dir) => Vectors.projectSigns(Tables.embeddings(s, dir))),
    "q_kmeans" -> ((s, dir) => Clustering.kmeans(Tables.embeddings(s, dir))),
    // greedy k-center (farthest-point) diversity sample on the exact
    // millis grid — k maximally-spread real exemplars, the coreset
    // pick beside q_kmeans's averaged centroids; replayable argmax
    "q_kcenter_sample" -> ((s, dir) =>
      Clustering.kcenterSample(Tables.embeddings(s, dir))),
    "q_cluster_sample" -> ((s, dir) => Clustering.clusterSample(Tables.embeddings(s, dir))),
    "q_semantic_clusters" -> ((s, dir) =>
      SemanticStore.semanticClusters(s, semanticStoreFor(s, dir))),
    "q_semantic_drop" -> ((s, dir) =>
      SemanticStore.semanticDrop(Tables.embeddings(s, dir), semanticStoreFor(s, dir))),

    // ---- Round-9 additions: CDC apply, corpus-statistics sampling,
    // held-out-LM perplexity, DSIR importance weights, length-bucketed
    // batching, chunk-level boilerplate profiling ----
    "q_cdc_apply" -> ((s, dir) => Relational.cdcApply(Tables.events(s, dir))),
    "q_temperature_mix" -> ((s, dir) => TextAnalysis.temperatureMix(Tables.documents(s, dir))),
    "q_doc_perplexity" -> ((s, dir) => TextAnalysis.docPerplexity(Tables.documents(s, dir))),
    "q_importance_weights" -> ((s, dir) =>
      TextAnalysis.importanceWeights(Tables.documents(s, dir))),
    "q_length_buckets" -> ((s, dir) => TextAnalysis.lengthBuckets(Tables.documents(s, dir))),
    "q_dedup_chunks" -> ((s, dir) => Dedup.chunkDups(Tables.documents(s, dir))),
    // BPE training: the greedy merge loop replays as a RECURSIVE-CTE
    // oracle (single-row list state; the delimiter-wrapped replace()
    // IS BPE's left-to-right non-overlapping rewrite) → hash-checked,
    // invariants additionally spec-gated in Round9Spec
    "q_bpe_pairs" -> ((s, dir) => Bpe.pairCounts(Tables.documents(s, dir))),
    "q_bpe_train" -> ((s, dir) => Bpe.trainMerges(Tables.documents(s, dir))),
    // WordPiece training: same dictionary walk, LIKELIHOOD-scored
    // merges (count(pair)/(count(l)·count(r))) — the trainer family's
    // third member beside count-max BPE and the unigram-LM pruner
    "q_wordpiece_train" -> ((s, dir) =>
      Bpe.trainWordpiece(Tables.documents(s, dir))),
    // per-language fertility under the WordPiece vocab — the third
    // column of the trainer-equity comparison (BPE / unigram / WP)
    "q_wordpiece_fertility" -> ((s, dir) =>
      Bpe.wordpieceFertility(Tables.documents(s, dir))),
    // WordPiece ENCODE serving — closes the trainer family's symmetry
    // (BPE and unigram expose train/encode/fertility; r16 left this
    // slot empty): per-doc word and subword counts under the
    // likelihood-scored merges, encode once per DISTINCT word on the
    // capped driver vocab, broadcast back (the q_bpe_encode plan)
    "q_wordpiece_encode" -> ((s, dir) =>
      Bpe.wordpieceEncodeCorpus(Tables.documents(s, dir))),
    // unigram-LM tokenizer training (Kudo 2018, hard-EM on the integer
    // surrogate-cost grid — every Viterbi/M-step quantity BIGINT, so
    // the unrolled-EM recurrence replays bit-exactly in the oracle's
    // recursive CTEs); completes the tokenizer ladder after BPE
    "q_unigram_train" -> ((s, dir) => Unigram.train(Tables.documents(s, dir))),
    // encode serves from the PRESTAGED trained vocab (the trained-ANN
    // convention: training is the one-off offline build, the corpus
    // encode is the measurand); the oracle still replays train+encode
    "q_unigram_encode" -> ((s, dir) =>
      Unigram.encodeFrom(Tables.documents(s, dir),
        s.read.parquet(unigramVocabFor(s, dir)))),
    // the fertility equity metric under the unigram vocab — rides the
    // same prestaged artifact; directly comparable to q_bpe_fertility
    "q_unigram_fertility" -> ((s, dir) =>
      Unigram.fertilityFrom(Tables.documents(s, dir),
        s.read.parquet(unigramVocabFor(s, dir)))),

    // ---- Round-9 batch 2: unpivot/listagg export shapes, attribution
    // + concurrency over events, stratified/k-fold sampling, markup
    // strip, higher-order array stats, containment dedup, ANN range ----
    "q_unpivot" -> ((s, dir) => Relational.returnFlagUnpivot(Tables.lineitem(s, dir))),
    "q_string_agg" -> ((s, dir) => Relational.docListBySource(Tables.documents(s, dir))),
    "q_first_touch" -> ((s, dir) => Relational.firstTouch(Tables.events(s, dir))),
    "q_active_intervals" -> ((s, dir) => Relational.activeIntervals(Tables.events(s, dir))),
    // binned interval-overlap join: equi-join on the time bin, never
    // the O(N·M) nested-loop the raw overlap predicate would force
    "q_interval_join" -> ((s, dir) => Relational.intervalJoin(Tables.events(s, dir))),
    "q_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, dir))),
    "q_crossval_folds" -> ((s, dir) => TextAnalysis.crossvalFolds(Tables.documents(s, dir))),
    "q_html_strip" -> ((s, dir) => TextAnalysis.stripMarkup(Tables.documents(s, dir))),
    "q_array_stats" -> ((s, dir) => TextAnalysis.tokenLengthStats(Tables.documents(s, dir))),
    "q_dedup_containment" -> ((s, dir) => DedupStore.containmentPairs(s, dedupStoreFor(s, dir))),
    // the KEEP decision over containment: contained sub-documents
    // (quotes/excerpts) drop, the longest source stays
    "q_dedup_contained_drop" -> ((s, dir) => DedupStore.dropContained(s, dedupStoreFor(s, dir))),
    "q_ann_range" -> ((s, dir) => Ann.rangeSearch(Tables.embeddings(s, dir))),
    // streaming CDC apply — incremental max_by state, same rows as
    // q_cdc_apply (shared oracle: arrival order cannot change winners)
    "q_stream_cdc" -> ((s, dir) => graft.streaming.Streams.cdcStream(s, dir)),
    // corpus tokenized under the learned BPE merges — the training
    // rewrite applied to the dictionary IS the encode of every word,
    // so the recursive oracle's FINAL vocab state replays this too
    "q_bpe_encode" -> ((s, dir) => Bpe.encodeCorpus(Tables.documents(s, dir))),
    // ---- Round-9 batch 3: value-range window frames, relative
    // standing, Markov transitions, index time-travel ----
    "q_range_frame" -> ((s, dir) => Relational.slidingHourStats(Tables.events(s, dir))),
    "q_percent_rank" -> ((s, dir) => Relational.priceStanding(Tables.orders(s, dir))),
    "q_event_transitions" -> ((s, dir) =>
      Relational.eventTransitions(Tables.events(s, dir))),
    // stationary distribution of the session chain: 8 power
    // iterations from uniform, matrix is state²-bounded metadata
    // expected remaining session length per state (truncated Neumann
    // expectation on the sub-stochastic chain — the stationary key's
    // leaked mass made the absorption probability)
    "q_absorbing_time" -> ((s, dir) =>
      Relational.absorbingTime(Tables.events(s, dir))),
    "q_markov_stationary" -> ((s, dir) =>
      Relational.markovStationary(Tables.events(s, dir))),
    // staged-index snapshot read: version 00000 (4/5 build) pinned
    // while 00001 (1/5 ingest) is committed — the search equals the
    // live LSH over the version-00000 corpus (oracle replays it).
    // The two-version store PRESTAGES like every read-only serve
    // store (the build/ingest is setup; the pinned READ is the
    // measurand — the q_index_asof convention applied here too)
    "q_index_timetravel" -> ((s, dir) =>
      AnnIndex.searchTopKAt(s, annTtStoreFor(s, dir), maxTag = "00000", queryId = 1L)),
    // snapshot DIFF on the vector store (q_index_diff's reading for
    // the ANN promotion decision): per LSH table, bucket-occupancy
    // shift between the pinned 00000 and 00001 versions + live vector
    // counts per side — both sides resolve through visibleAt, the
    // rollup is bucket-cardinality metadata, one row per table
    "q_ann_diff" -> ((s, dir) =>
      AnnIndex.diffVersions(s, annTtStoreFor(s, dir), "00000", "00001")),
    // bipartite user↔item connected components (communities) — labels
    // propagate through the bipartite edges, never the quadratic
    // user-user projection
    "q_graph_cc" -> ((s, dir) => Graph.userCommunities(Tables.events(s, dir))),
    // streaming Markov transitions: O(1) state/user carries the last
    // event across batch boundaries — same rows as q_event_transitions
    "q_stream_transitions" -> ((s, dir) =>
      graft.streaming.Streams.transitionsStream(s, dir)),
    // robust location: discrete-percentile clip over a histogram CDF
    // (value-cardinality windows — no per-type full-row sort)
    "q_winsorized" -> ((s, dir) => Relational.winsorizedMean(Tables.events(s, dir))),
    // vocabulary coverage curve: one corpus pass, TakeOrdered per k
    "q_vocab_coverage" -> ((s, dir) => TextAnalysis.vocabCoverage(Tables.documents(s, dir))),
    // RFM segmentation: broadcast quartile boundaries, never a global
    // ntile window
    "q_rfm" -> ((s, dir) => Relational.rfmSegments(Tables.orders(s, dir))),
    // year-over-year growth: lag window over the (nation, year)-sized
    // aggregate, not the fact table
    "q_yoy" -> ((s, dir) => Relational.yoyGrowth(s, dir)),
    "q_order_gaps" -> ((s, dir) => Relational.orderGaps(Tables.orders(s, dir))),
    // relative per-source quality gate (top 20% by diversity)
    "q_quality_percentile" -> ((s, dir) =>
      TextAnalysis.qualityPercentile(Tables.documents(s, dir))),
    // exact-dedup corpus-health rollup incl. cross-source canonical
    // ownership
    "q_dup_rate_by_source" -> ((s, dir) => Dedup.dupRateBySource(Tables.documents(s, dir))),
    // blob-side exact dedup: digests shuffle, payloads never move
    "q_multimodal_dedup" -> ((s, dir) => Multimodal.dedupBlobs(Tables.documents(s, dir))),
    // streaming per-source quality dashboard (Complete-mode keyed agg)
    "q_stream_quality" -> ((s, dir) =>
      graft.streaming.Streams.streamQualityBySource(s, dir)),
    // contrastive hard-negative mining: near-dup cutoff before rank
    "q_hard_negatives" -> ((s, dir) => Ann.hardNegatives(Tables.embeddings(s, dir))),
    // MMR diverse rerank: distributed candidates, bounded greedy
    "q_mmr" -> ((s, dir) => Ann.mmrTopK(Tables.embeddings(s, dir))),
    // per-source signature terms (BERTopic c-TF-IDF)
    "q_class_tfidf" -> ((s, dir) => TextAnalysis.classTfIdf(Tables.documents(s, dir))),
    // snapshot diff audit over deterministic derived versions
    "q_corpus_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val v1 = d.filter(col("doc_id") % 7 =!= 3)
      val v2 = d.filter(col("doc_id") % 11 =!= 5)
        .withColumn("text", when(col("doc_id") % 13 === 2,
          concat(col("text"), lit(" vmark"))).otherwise(col("text")))
      Relational.corpusDiff(v1, v2)
    }),
    // k-anonymity release gate on the event log
    "q_k_anonymize" -> ((s, dir) => Relational.kAnonymize(Tables.events(s, dir))),
    // k-anonymity + l-diversity combined release gate
    "q_l_diversity" -> ((s, dir) => Relational.lDiversity(Tables.events(s, dir))),
    // per-source n-gram type-token ratio (diversity collapse metric)
    "q_source_diversity" -> ((s, dir) =>
      TextAnalysis.sourceDiversity(Tables.documents(s, dir))),
    // deterministic-Laplace DP count release (noisy sibling of the gate)
    "q_dp_counts" -> ((s, dir) => Relational.dpCounts(Tables.events(s, dir))),
    // CEP sequence matching: signup->click->purchase within 24h
    "q_cep_match" -> ((s, dir) => Relational.cepMatch(Tables.events(s, dir))),
    // interval-union coverage sweep per user (true active time)
    "q_interval_union" -> ((s, dir) => Relational.intervalUnion(Tables.events(s, dir))),
    // per-node triangle counts over the verified near-dup graph
    // per-node triangle counts served by copy-symmetry arithmetic on
    // the rep graph (doc-level enumeration stays as Graph.trianglesFrom)
    "q_triangles" -> ((s, dir) =>
      DedupStore.triangleCounts(s, dedupStoreFor(s, dir))),
    // common-neighbor link prediction: the dedup review queue
    "q_common_neighbors" -> ((s, dir) =>
      Graph.commonNeighborsFromCandidates(DedupStore.candidates(s, dedupStoreFor(s, dir)))),
    // Benford first-digit screen on order totals
    "q_benford" -> ((s, dir) => Relational.benford(Tables.orders(s, dir))),
    // 2-D skyline (Pareto frontier) of parts: min price, max size
    "q_skyline" -> ((s, dir) => Relational.skyline(Tables.part(s, dir))),
    // exact weighted percentiles of price weighted by quantity
    "q_weighted_percentiles" -> ((s, dir) =>
      Relational.weightedPercentiles(Tables.lineitem(s, dir))),
    // DAU/MAU stickiness per calendar month
    "q_stickiness" -> ((s, dir) => Relational.stickiness(Tables.events(s, dir))),
    // pairwise event-type audience overlap (user-set Jaccard)
    "q_audience_overlap" -> ((s, dir) => Relational.audienceOverlap(Tables.events(s, dir))),
    // winnowing (MOSS) positional fingerprints, k=3 w=4
    "q_winnowing" -> ((s, dir) => TextAnalysis.winnowing(Tables.documents(s, dir))),
    // CCNet head/middle/tail perplexity tertiles per language
    "q_ccnet_buckets" -> ((s, dir) => TextAnalysis.ccnetBuckets(Tables.documents(s, dir))),
    // quality-score bands vs exact-duplication incidence (lift)
    "q_quality_calibration" -> ((s, dir) =>
      TextAnalysis.qualityCalibration(Tables.documents(s, dir))),
    // dedup aggressiveness curve across a Jaccard-threshold grid,
    // answered from the staged pair substrate by arithmetic alone
    "q_dedup_threshold_curve" -> ((s, dir) =>
      DedupStore.thresholdCurve(s, dedupStoreFor(s, dir))),
    // CombSUM/CombMNZ score fusion of the lexical + dense runs
    "q_fusion_combsum" -> ((s, dir) =>
      Hybrid.combSearch(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // Borda-count fusion: linear rank points (depth+1−rank, absent =
    // 0) — the positional-voting member beside RRF's harmonic decay
    // and CombSUM's normalized scores; exact BIGINT points
    "q_fusion_borda" -> ((s, dir) =>
      Hybrid.bordaSearch(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // Jelinek-Mercer query likelihood (fixed-interpolation LM)
    "q_lm_jm" -> ((s, dir) => SearchExtras.lmJmScore(Tables.documents(s, dir))),
    // market-basket top pairs with lift, served from the staged pair
    // substrate (live self-join plan stays as Relational.basketPairs)
    "q_basket_pairs" -> ((s, dir) =>
      Relational.basketPairsFromStore(s, basketStoreFor(s, dir))),
    // Gini coefficient of per-customer revenue (no global sort)
    "q_gini" -> ((s, dir) => Relational.gini(Tables.orders(s, dir))),
    // per-label embedding centroid drift vs the corpus centroid
    "q_emb_drift" -> ((s, dir) => Vectors.embDrift(Tables.embeddings(s, dir))),
    // cross-source near-dup matrix from the staged pair substrate
    "q_dedup_cross_source" -> ((s, dir) =>
      DedupStore.crossSourceMatrix(Tables.documents(s, dir), dedupStoreFor(s, dir))),
    // Adamic-Adar link prediction over the staged candidate graph
    "q_adamic_adar" -> ((s, dir) =>
      Graph.adamicAdarFromCandidates(DedupStore.candidates(s, dedupStoreFor(s, dir)))),
    // degree distribution of the verified near-dup graph (deg-0 incl.)
    "q_degree_dist" -> ((s, dir) =>
      Graph.degreeDistribution(DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)),
        Tables.documents(s, dir))),
    // Spearman agreement between the lexical and dense runs
    "q_run_correlation" -> ((s, dir) =>
      Hybrid.runCorrelation(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // near-dup media by frame-hash overlap (shot-level video dedup):
    // content-bounded frame_md5 join, hot frames capped out first
    "q_multimodal_neardup" -> ((s, dir) =>
      Multimodal.frameNearDups(s, Tables.documents(s, dir))),
    // degree assortativity of the verified near-dup graph
    "q_assortativity" -> ((s, dir) =>
      Graph.assortativity(DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // deterministic synchronous label-propagation communities, served
    // on the rep SUBCLASS graph (rep copy vs co-copies) by copy
    // symmetry; doc-level loop stays as Graph.labelPropagation
    "q_label_propagation" -> ((s, dir) =>
      DedupStore.lpCommunities(s, dedupStoreFor(s, dir))),
    // blocked fuzzy record linkage via the native Jaro-Winkler expr
    "q_record_linkage" -> ((s, dir) => Relational.recordLinkage(Tables.part(s, dir))),
    // linear multi-touch attribution in exact credit-micros
    "q_attribution" -> ((s, dir) => Relational.linearAttribution(Tables.events(s, dir))),
    // dow x hour event heat map from pure integer epoch arithmetic
    "q_seasonality" -> ((s, dir) => Relational.seasonality(Tables.events(s, dir))),
    // cross-source KMV-sketch jaccard matrix (md5-replayable)
    "q_kmv_jaccard" -> ((s, dir) => Sketches.kmvJaccard(Tables.documents(s, dir))),
    // union-cardinality from merged KMV sketches (the mergeability
    // property: per-source sketches built once answer any pair)
    "q_kmv_union" -> ((s, dir) => Sketches.kmvUnion(Tables.documents(s, dir))),
    // domain-level dedup ownership convention per source (owned /
    // absorbed / ceded over multi-copy exact-text groups)
    "q_source_ownership" -> ((s, dir) =>
      Dedup.sourceOwnership(Tables.documents(s, dir))),
    // Jaccard-coefficient link prediction over the candidate graph
    "q_graph_jaccard" -> ((s, dir) =>
      Graph.jaccardLinkPred(DedupStore.candidates(s, dedupStoreFor(s, dir)))),
    // multi-source BFS hop distance from the %7 audited seed set
    "q_bfs_hops" -> ((s, dir) =>
      Graph.bfsHops(DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // harmonic centrality of the 4 lowest-id nodes: Σ 1/d over one
    // multi-source BFS, denominators cleared through lcm(1..6) = 60
    "q_harmonic_centrality" -> ((s, dir) =>
      Graph.harmonicCentrality(
        DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // directed association rules served from the staged basket
    // substrate (live plan stays as Relational.assocRules)
    "q_assoc_rules" -> ((s, dir) =>
      Relational.assocRulesFromStore(s, basketStoreFor(s, dir))),
    // exact trailing-7-row median of daily revenue
    "q_rolling_median" -> ((s, dir) => Relational.rollingMedian(Tables.orders(s, dir))),
    // autocorrelation of daily revenue at lags 1..7 (calendar-exact)
    "q_acf" -> ((s, dir) => Relational.acf(Tables.orders(s, dir))),
    // chi-square independence of document lang x source + Cramer's V
    "q_chi2" -> ((s, dir) => Relational.chi2LangSource(Tables.documents(s, dir))),
    // time-weighted average event value per user (metering semantics)
    "q_time_weighted_avg" -> ((s, dir) =>
      Relational.timeWeightedAvg(Tables.events(s, dir))),
    // per-source type-token ratio and hapax-legomena rate
    "q_lexical_richness" -> ((s, dir) =>
      TextAnalysis.lexicalRichness(Tables.documents(s, dir))),
    // ROUGE-1 F1 over the verified near-dup pairs (pair-driven join)
    "q_rouge_pairs" -> ((s, dir) =>
      TextAnalysis.rouge1Pairs(Tables.documents(s, dir),
        DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // BLEU-2 with brevity penalty over the same pairs: the
    // precision-side twin (clipped n-gram matches, exact BIGINT core)
    "q_bleu_pairs" -> ((s, dir) =>
      TextAnalysis.bleuPairs(Tables.documents(s, dir),
        DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // chrF over the same verified pairs: the character-level third
    // member of the MT-metric trio (survives morphology/spelling
    // variants whole-word ROUGE/BLEU miss — the near-miss signal on
    // a dedup review queue); n=1..6 clipped char-gram counts, β=2
    "q_chrf_pairs" -> ((s, dir) =>
      TextAnalysis.chrfPairs(Tables.documents(s, dir),
        DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)))),
    // PSI drift of the distinct-token-ratio across corpus halves
    "q_psi" -> ((s, dir) => TextAnalysis.psiDistinctRatio(Tables.documents(s, dir))),
    // per-cluster majority-label purity of the k-means assignment
    "q_cluster_purity" -> ((s, dir) =>
      Clustering.clusterPurity(Tables.embeddings(s, dir))),
    // normalized mutual information of clusters vs ground-truth labels
    "q_cluster_nmi" -> ((s, dir) => Clustering.clusterNmi(Tables.embeddings(s, dir))),
    // exact per-hour distinct users via streaming dedup state
    "q_stream_distinct" -> ((s, dir) =>
      graft.streaming.Streams.streamDistinctUsers(s, dir)),
    // personalized pagerank: damped walk restarting to the %7 seeds,
    // served rep-level with seed/non-seed subclass ranks (copy
    // symmetry refined one notch by the teleport gate)
    "q_ppr" -> ((s, dir) =>
      DedupStore.pprRanks(s, dedupStoreFor(s, dir))),
    // pairwise Jensen-Shannon divergence between source unigram mixes
    "q_js_divergence" -> ((s, dir) =>
      TextAnalysis.jsDivergence(Tables.documents(s, dir))),
    // Church-Gale term burstiness (Fano factor over containing docs)
    "q_burstiness" -> ((s, dir) => TextAnalysis.burstiness(Tables.documents(s, dir))),
    // EWMA event rate: one streaming window agg + drained-sink rollup
    "q_stream_ema" -> ((s, dir) => graft.streaming.Streams.emaRate(s, dir)),
    // Newman modularity decomposition of the LP communities — Q terms
    // computed by multiplicity arithmetic over the rep-level LP labels
    "q_modularity" -> ((s, dir) =>
      DedupStore.modularityDecomp(s, dedupStoreFor(s, dir))),
    // median/avg latency between consecutive funnel conversions
    "q_funnel_latency" -> ((s, dir) => Relational.funnelLatency(Tables.events(s, dir))),
    // mergeSchema scan across a pre/post-migration parquet layout:
    // the missing pre-migration column surfaces as NULL, partition
    // col v distinguishes generations
    "q_schema_evolution" -> ((s, dir) => {
      s.read.option("mergeSchema", "true").parquet(evolvedDocsFor(s, dir))
        .groupBy(col("v").cast("long").as("v"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    // stream-static broadcast enrichment: per-hour per-nation rates
    "q_stream_enrich" -> ((s, dir) =>
      graft.streaming.Streams.enrichedNationRate(s, dir)),
    // length-distribution moments per source (population convention)
    "q_length_moments" -> ((s, dir) =>
      TextAnalysis.lengthMoments(Tables.documents(s, dir))),
    // filtered vector search: metadata predicate prunes BEFORE scoring
    "q_ann_filtered" -> ((s, dir) => Ann.filteredTopK(Tables.embeddings(s, dir))),
    // lambda handoff: batch history + streaming tail, seam-free union
    "q_stream_backfill" -> ((s, dir) =>
      graft.streaming.Streams.backfillHandoff(s, dir)),
    // lexical vs semantic near-dup detector agreement (both staged)
    "q_semantic_vs_lexical" -> ((s, dir) => Hybrid.modalityAgreement(
      DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)),
      SemanticStore.cosinePairs(s, semanticStoreFor(s, dir)))),
    // retrieve-then-rehydrate: ranked ids joined back to payloads
    "q_ann_rehydrate" -> ((s, dir) =>
      Hybrid.rehydratedSearch(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // Pearson r between shingle jaccard and embedding cosine per pair
    "q_modality_corr" -> ((s, dir) => Hybrid.modalityCorr(
      DedupStore.verifiedNearDups(s, dedupStoreFor(s, dir)),
      Tables.embeddings(s, dir))),
    // per-label P/R/F1 of the k-NN predictions (confusion margins)
    "q_knn_metrics" -> ((s, dir) =>
      Vectors.knnMetrics(Vectors.knnClassifyIvf(Tables.embeddings(s, dir)))),
    // rolling 7-day distinct actives by day (WAU series)
    "q_rolling_actives" -> ((s, dir) =>
      Relational.rollingActives(Tables.events(s, dir))),
    // t-closeness release audit (third leg after k-anon / l-div)
    "q_t_closeness" -> ((s, dir) => Relational.tCloseness(Tables.events(s, dir))),
    // balanced interleave of the lexical and dense runs (online eval)
    "q_interleave" -> ((s, dir) =>
      Hybrid.interleave(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // support-0 (bridge-class) edges of the verified near-dup graph,
    // served at edge-class level by copy symmetry (intra bridges are
    // closed-form, cross bridges a rep-graph wedge join; the doc-level
    // wedge enumeration stays as Graph.bridgeEdges, staged==live
    // spec-gated)
    "q_graph_bridges" -> ((s, dir) =>
      DedupStore.bridgeEdges(s, dedupStoreFor(s, dir))),
    // per-cluster diameter: blob (clique, d=1) vs drift chain (d>>1),
    // BFS on the rep graph + closed-form copy expansion (doc-level
    // all-sources BFS stays as Graph.clusterDiameters, staged==live
    // spec-gated)
    "q_cluster_diameter" -> ((s, dir) =>
      DedupStore.clusterDiameters(s, dedupStoreFor(s, dir))),
    // 1-hop and 2-hop ego-network sizes per graph node, served by
    // copy-symmetry arithmetic on the rep graph (doc-level wedge
    // enumeration stays as Graph.egoSizes; staged==live spec-gated)
    "q_ego_sizes" -> ((s, dir) =>
      DedupStore.egoProfiles(s, dedupStoreFor(s, dir))),
    // top-k session journeys (clickstream path analysis)
    "q_session_paths" -> ((s, dir) => Relational.sessionPaths(Tables.events(s, dir))),
    // language-ID confusion matrix vs the ground-truth lang column
    "q_langid_confusion" -> ((s, dir) => TextAnalysis.langConfusion(Tables.documents(s, dir))),
    // synonym-expanded batch search (query rewriting as a broadcast join)
    "q_synonym_search" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.synonymSearch(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // passage-granularity BM25: chunks are the retrieval unit (RAG)
    "q_passage_search" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.passageSearch(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // exact maximum-inner-product top-k (recommender retrieval)
    "q_mips" -> ((s, dir) => Ann.mipsTopK(Tables.embeddings(s, dir))),
    // LSH banding sweep: candidate volume per (bands, rows) config
    "q_lsh_tune" -> ((s, dir) => Dedup.lshTune(Tables.documents(s, dir))),
    // binary-segmentation change point on daily event volume
    "q_changepoint" -> ((s, dir) => Relational.changepoint(Tables.events(s, dir))),
    // two-proportion A/B (A/A) z-test on a parity cohort split
    "q_ab_test" -> ((s, dir) => Relational.abTest(Tables.events(s, dir))),
    // robust modified-z outliers (MAD), integer-exact flag rule
    "q_mad_outliers" -> ((s, dir) => Relational.madOutliers(Tables.events(s, dir))),
    // the composed clean→dedup→quality funnel as ONE plan
    "q_pipeline_funnel" -> ((s, dir) =>
      TextAnalysis.pipelineFunnel(Tables.documents(s, dir))),
    // index-quality monitoring: recall@10 of LSH vs brute force
    "q_ann_recall" -> ((s, dir) => Ann.recallAtK(Tables.embeddings(s, dir))),
    // the recall CURVE at k = 1/5/10/20: where it flattens decides
    // more-candidates vs more-tables — one search, four readings
    "q_ann_recall_curve" -> ((s, dir) =>
      Ann.recallCurve(Tables.embeddings(s, dir))),
    // DSIR selection step: deterministic Gumbel-top-k over the
    // importance weights
    "q_dsir_resample" -> ((s, dir) => TextAnalysis.dsirResample(Tables.documents(s, dir))),

    // ---- Round-11 additions ----
    // BM25 (k1 × b) parameter sweep: one corpus derivation, top-3 per
    // grid config ranked on the rounded score
    "q_bm25_tune" -> ((s, dir) => SearchExtras.bm25Tune(Tables.documents(s, dir))),
    // MRR ranking eval of the batch run vs derived binary relevance
    "q_search_mrr" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.searchMrr(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // eval-slice n-gram novelty vs the training corpus (memorization)
    "q_ngram_novelty" -> ((s, dir) => TextAnalysis.ngramNovelty(Tables.documents(s, dir))),
    // per-source PII density release gate (emails + long digit runs)
    "q_pii_audit" -> ((s, dir) => TextAnalysis.piiAudit(Tables.documents(s, dir))),
    // shared-prefix duplication report (titles/licence boilerplate)
    "q_dedup_prefix" -> ((s, dir) => Dedup.prefixDups(Tables.documents(s, dir))),
    // 2-core of the verified near-dup graph (entangled-cluster
    // signal), peeled at REP level with multiplicity-weighted degrees
    // (exact by copy symmetry; oracle replays the doc-level peel)
    "q_kcore" -> ((s, dir) => DedupStore.kcoreDegrees(s, dedupStoreFor(s, dir))),
    // local clustering coefficient per node of the near-dup graph,
    // served by the same copy-symmetry arithmetic
    "q_clustering_coef" -> ((s, dir) =>
      DedupStore.clusteringCoefs(s, dedupStoreFor(s, dir))),
    // 3-truss of the near-dup graph (edge-level robustness peel),
    // peeled at edge-class level with closed-form weighted supports
    // (exact by copy symmetry; oracle replays the doc-level peel)
    "q_ktruss" -> ((s, dir) => DedupStore.ktrussEdges(s, dedupStoreFor(s, dir))),
    // C4-style blocklist screen rolled up per source
    "q_blocklist_screen" -> ((s, dir) =>
      TextAnalysis.blocklistScreen(Tables.documents(s, dir))),
    // source-pair shingle-vocabulary Jaccard overlap matrix
    "q_source_jaccard" -> ((s, dir) =>
      TextAnalysis.sourceJaccard(Tables.documents(s, dir))),
    // average precision @ 10 of the batch BM25 run (eval family leg 3)
    "q_search_map" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.searchMap(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // OOV-rate curve across a vocabulary-size grid (tokenizer budget)
    "q_oov_curve" -> ((s, dir) => TextAnalysis.oovCurve(Tables.documents(s, dir))),
    // learning-to-rank feature export for the batch run's top-10
    "q_ltr_features" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.ltrFeatures(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // cross-encoder-shaped second-stage rerank of the batch top-10
    // (deterministic feature-linear scorer in the model slot; cost
    // scales with queries x k, never the corpus)
    "q_rerank" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.rerank(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // footrule rank-displacement monitor of the rerank pass
    "q_rerank_delta" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.rerankDelta(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),
    // per-query scored-postings cost profile (deterministic latency
    // proxy of the batch run — what MaxScore/WAND planning budgets)
    "q_search_cost" -> ((s, dir) => {
      import s.implicits._
      SearchExtras.searchCost(Tables.documents(s, dir),
        Bm25.DemoQueries.toDF("query_id", "qtext"))
    }),

    // ---- Round-14 batch 2: the SQ8 quantization rung, semantic
    // (embedding-space) eval-set decontamination, bipartite HITS ----
    // int8 scalar-quantized cosine top-k: the ladder rung between
    // full-precision flat and PQ (4x less scan bandwidth, pure-int64
    // serve math — per-vector scales cancel for cosine)
    "q_ann_sq" -> ((s, dir) => Ann.sqTopK(Tables.embeddings(s, dir))),
    // SQ8 distortion dashboard: quantized-vs-exact cosine error on an
    // integer 1e-5 grid (the q_pq_distortion twin for the SQ rung)
    "q_sq_distortion" -> ((s, dir) => Ann.sqDistortion(Tables.embeddings(s, dir))),
    // embedding-space decontamination: corpus vectors colliding with
    // the held-out probe slice (vec_id % 5 == 0) at cosine >= 0.45 —
    // cross-relation LSH candidates + exact verify (the semantic leg
    // of the contamination family: exact -> fuzzy -> semantic)
    "q_contamination_semantic" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.semanticContamination(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("probe_id"), col("embedding")))
    }),
    // the STREAMING ingest gate of the semantic screen: corpus
    // vectors arrive as micro-batches, each screened against the
    // static probe relation — union over batches == the batch result
    // (no cross-batch state; shared all-pairs oracle)
    "q_stream_semantic" -> ((s, dir) =>
      graft.streaming.Streams.semanticContaminationStream(s, dir)),
    // HITS hubs/authorities over the customer->supplier purchase
    // bipartite graph (exact-integer recurrence on the TotalMass
    // grid). The edge relation is a PRESTAGED layout (the pagerank
    // convention — q_pagerank serves from the prestaged pair
    // substrate, never paying its graph derivation in-query; the
    // lineitem⋈orders+distinct extraction is the same one-off ETL):
    // the ITERATION is the measurand
    "q_hits" -> ((s, dir) =>
      Graph.hitsFrom(s.read.parquet(hitsEdgesFor(s, dir)))),
    // two-stage SQ8 serve: int8 scan ranks, exact cosine reranks the
    // top-50 survivors only (the production cascade of the SQ rung)
    "q_sq_rerank" -> ((s, dir) => Ann.sqRerank(Tables.embeddings(s, dir))),
    // snapshot read on the TEXT index: delta 00000 (4/5 build) pinned
    // while 00001 (1/5 ingest) is committed — scores equal a rebuild
    // on the snapshot corpus (time-travel parity with the vector
    // store's q_index_timetravel)
    "q_index_asof" -> ((s, dir) =>
      Bm25Index.scoreAt(s, asofIndexFor(s, dir), maxTag = "00000")),
    // the top-k rung of the time-travel contract: the exact top-k of
    // the PINNED delta subset — rows equal a rebuild on the pinned
    // corpus (the same staged two-version store)
    "q_index_asof_blockmax" -> ((s, dir) =>
      Bm25Index.searchTopNAt(s, asofIndexFor(s, dir), maxTag = "00000")),
    // snapshot DIFF between the two pinned versions: the top terms by
    // df shift — what the 00001 ingest changed, read before promotion
    "q_index_diff" -> ((s, dir) =>
      Bm25Index.diffVersions(s, asofIndexFor(s, dir), "00000", "00001")),
    // data-constrained mixture planning: per-source token counts ->
    // temperature weights -> planned tokens and implied epochs under
    // a fixed token budget (metadata-sized; epochs > 1 = repetition)
    "q_token_budget" -> ((s, dir) =>
      TextAnalysis.tokenBudget(Tables.documents(s, dir))),
    // snapshot reads on BOTH pair substrates (time-travel now covers
    // every store family): delta 00000 pinned while 00001 is
    // committed — served pairs equal a fresh build on the snapshot
    // corpus (the incremental contract applied to a delta prefix)
    "q_dedup_asof" -> ((s, dir) =>
      DedupStore.verifiedNearDupsAt(s, dedupAsofStoreFor(s, dir), maxTag = "00000")),
    "q_semantic_asof" -> ((s, dir) =>
      SemanticStore.cosinePairsAt(s, semAsofStoreFor(s, dir), maxTag = "00000")),
    // snapshot DIFFs on BOTH pair substrates — the diff verb now
    // covers every store family (text r16, ANN/PQ r17, these two):
    // which verified/cosine pairs the pinned ingest ADDED (dropped
    // legs exercise via delete stores in the spec); pair-scaled
    // anti-joins, delta-scaled output between adjacent versions
    "q_dedup_diff" -> ((s, dir) =>
      DedupStore.diffVersions(s, dedupAsofStoreFor(s, dir), "00000", "00001")),
    "q_semantic_diff" -> ((s, dir) =>
      SemanticStore.diffVersions(s, semAsofStoreFor(s, dir), "00000", "00001")),
    // one epoch of the token-budget plan materialized: per-source
    // rate = min(1, epochs), membership by the deterministic md5
    // uniform — a broadcast plan + one map-side pass
    "q_budget_sample" -> ((s, dir) =>
      TextAnalysis.budgetSample(Tables.documents(s, dir))),
    // the STREAMING budget sampler: the corpus-global plan is fixed
    // before the drain, arriving docs sample statelessly per
    // micro-batch — union over batches == the batch sample (theorem;
    // shared oracle)
    "q_stream_budget" -> ((s, dir) =>
      graft.streaming.Streams.budgetSampleStream(s, dir)),
    // COMPACTION-then-serve on the text index: fold the build delta
    // and the %10==6 tombstone delta into ONE (the LSM reclamation
    // leg — deleted rows physically purge, stats re-derive), serving
    // identical to corpus-minus-slice; a replayed compaction no-ops
    "q_index_compact" -> ((s, dir) => {
      val p = bm25CmpStoreFor(s, dir)
      Bm25Index.compactDeltas(s, p)
      Bm25Index.score(s, p)
    }),
    // the vector-store twin (LSH buckets fold, tombstoned ids purge)
    "q_ann_compact" -> ((s, dir) => {
      val p = annCmpStoreFor(s, dir)
      AnnIndex.compactDeltas(s, p)
      AnnIndex.searchTopK(s, p, queryId = 1L)
    }),
    // SHARD MERGE on the text index: two half-corpus stores (id-prefix
    // shards, built shared-nothing) fold into one fresh store — doclen
    // files copy through, postings re-cluster on term — then the
    // merged store serves the exact full-corpus top-10 (merge is the
    // measurand, rerun from scratch)
    "q_index_merge" -> ((s, dir) => {
      val shards = bm25ShardsFor(s, dir)
      val dest = sys.props("java.io.tmpdir") + "/graft_idx_merged_" + pathTag(dir)
      Bm25Index.mergeStores(s, s"$shards/a", s"$shards/b", dest)
      Bm25Index.searchTopN(s, dest)
    }),
    // the semantic-substrate merge: cross-shard cosine pairs from
    // staged rep vectors (no re-embedding-scan), value-key
    // unification + rep-scaled cross bucket join
    "q_semantic_merge" -> ((s, dir) => {
      val shards = semShardsFor(s, dir)
      val dest = sys.props("java.io.tmpdir") + "/graft_sem_merged_" + pathTag(dir)
      SemanticStore.mergeStores(s, s"$shards/a", s"$shards/b", dest)
      SemanticStore.cosinePairs(s, dest)
    }),
    // the pair-substrate merge: cross-shard near-dup pairs discovered
    // from STAGED state (no re-shingling) — exact unification + a
    // rep-scaled cross band join + pair-driven verify of new pairs
    "q_dedup_merge" -> ((s, dir) => {
      val shards = dedupShardsFor(s, dir)
      val dest = sys.props("java.io.tmpdir") + "/graft_dedup_merged_" + pathTag(dir)
      DedupStore.mergeStores(s, s"$shards/a", s"$shards/b", dest)
      DedupStore.verifiedNearDups(s, dest)
    }),
    // the vector-store merge twin: LSH buckets union VERBATIM across
    // shards (deterministic per-vector hashes, gated same-params), so
    // the merged store serves the exact full-corpus LSH top-k
    "q_ann_merge" -> ((s, dir) => {
      val shards = annShardsFor(s, dir)
      val dest = sys.props("java.io.tmpdir") + "/graft_ann_merged_" + pathTag(dir)
      AnnIndex.mergeStores(s, s"$shards/a", s"$shards/b", dest)
      AnnIndex.searchTopK(s, dest, queryId = 0L)
    }),
    // per-source contamination dashboard: which domains leak eval
    // content, through the exact leg and through the fuzzy leg
    "q_contamination_report" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val exact = TextAnalysis.contamination(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0)
            .select(col("doc_id").as("probe_id"), col("text")))
        .select("doc_id").distinct()
      val fuzzy = Dedup.fuzzyContamination(
          d.filter(col("doc_id") % 5 =!= 0),
          d.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("probe_id"), col("text")))
        .select("doc_id").distinct()
      TextAnalysis.contaminationReport(d, exact, fuzzy)
    }),
  )

  /** One graft-tsv export of the corpus per sf dir per JVM (the
    * engine's own DataSourceV2 round-trip input). */
  private def tsvDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_tsv", dir)(p =>
      graft.sources.Sinks.textExport(
        Tables.documents(s, dir).select("doc_id", "text"), p))

  /** Force-build every one-time derived layout for `dir` (serve
    * index, z-ordered / lang-partitioned / bucketed copies, format
    * round-trip exports). Bench calls this from its UNTIMED warmup so
    * the timed queries measure query latency, not one-time ETL — at
    * scale these layouts are written once and served many times,
    * which is the cost model the per-query numbers should reflect.
    *
    * DECLARED MEASURANDS of the four keys whose timed region was
    * re-scoped in r17 (the template-copy / staged-once boundary
    * change; see tools/bench_allowlist.json `_rescoped_r17`):
    * q_index_incremental and q_ann_index_incremental time COPY of the
    * pristine 80% template + INGEST of the remaining 20% + SERVE (the
    * 80% build itself is one-off substrate construction, prestaged);
    * q_stream_pq times the same copy + the streamed ingest under
    * frozen codebooks + serve (codebook training is the one-off fit);
    * q_stream_budget times the drain + budget windowing over
    * staged-once source slices. Before r17 these keys also re-ran the
    * one-off build/fit inside the timed region — numbers across that
    * boundary are not comparable. */
  def prestage(s: SparkSession, dir: String): Unit = {
    indexFor(s, dir); zorderedLineitemFor(s, dir); partitionedDocsFor(s, dir)
    dedupStoreFor(s, dir); semanticStoreFor(s, dir)
    csvDocsFor(s, dir); jsonlDocsFor(s, dir); orcDocsFor(s, dir)
    compactedDocsFor(s, dir); tsvDocsFor(s, dir); bucketedFor(s, dir)
    binaryDocsFor(s, dir); evolvedDocsFor(s, dir); basketStoreFor(s, dir)
    dedupIncStoreFor(s, dir); semIncStoreFor(s, dir); pqIncStoreFor(s, dir)
    pqAsofStoreFor(s, dir)
    // pristine pre-ingest templates (freshStoreFrom copies per run) +
    // the PQ stream's staged-once tail slices
    idxIncBaseFor(s, dir); annIncBaseFor(s, dir)
    pqStreamBaseFor(s, dir); pqStreamSrcFor(s, dir)
    bm25DelStoreFor(s, dir); annDelStoreFor(s, dir); pqDelStoreFor(s, dir)
    bm25StreamDelStoreFor(s, dir); dedupDelStoreFor(s, dir); semDelStoreFor(s, dir)
    semStreamDelStoreFor(s, dir)
    // the trained-ANN serve stores: integer-Lloyd's training is the
    // one-off offline build, searching is the measurand — these were
    // the only read-only serve stores whose builds could land in a
    // timed pass (r13 driver run measured exactly that: 3.6-4.4× on
    // the trio while their prestaged twin served the same path flat)
    ivfIndexFor(s, dir); pqIndexFor(s, dir); ivfPqIndexFor(s, dir)
    asofIndexFor(s, dir); dedupAsofStoreFor(s, dir); semAsofStoreFor(s, dir)
    bm25CmpStoreFor(s, dir); annCmpStoreFor(s, dir); annTtStoreFor(s, dir)
    annMpStoreFor(s, dir)
    unigramVocabFor(s, dir); hitsEdgesFor(s, dir)
    // the r16 merge keys' SHARD substrates: read-only inputs built
    // shared-nothing offline — the MERGE is the measurand, the shard
    // builds are the one-off ETL the per-query number must not carry
    bm25ShardsFor(s, dir); annShardsFor(s, dir)
    dedupShardsFor(s, dir); semShardsFor(s, dir)
    ()
  }

  /** The id-PREFIX split of a substrate's input table (documents on
    * doc_id, embeddings on vec_id) at `num/den` of its max id: the
    * substrates require monotone ingest, so every two-part substrate
    * cuts on an id prefix. */
  private def idSplit(s: SparkSession, dir: String, table: String, num: Long, den: Long,
                      substrate: String): (DataFrame, DataFrame) = {
    val id = if (table == "documents") "doc_id" else "vec_id"
    val df = Tables.load(s, dir, table)
    val maxRow = df.agg(max(col(id))).collect()(0)
    require(!maxRow.isNullAt(0), s"$substrate: $table table is empty — no ids to split on")
    val cut = maxRow.getLong(0) * num / den
    (df.filter(col(id) <= cut), df.filter(col(id) > cut))
  }

  /** Two shard stores `a`/`b` under one layout dir, split at half the
    * max id — contiguous id ranges per shard, the layout a sharded
    * ingest produces (and the merge's monotone id contract). */
  private def shardsFor(s: SparkSession, dir: String, prefix: String, table: String,
                        substrate: String)(build: (DataFrame, String) => Unit): String =
    cachedLayout(s, prefix, dir) { p =>
      val (lo, hi) = idSplit(s, dir, table, 1, 2, substrate)
      build(lo, s"$p/a")
      build(hi, s"$p/b")
    }

  /** Two-version store: delta 00000 = the ids up to `num/den` of the
    * max, delta 00001 = the rest, ingested by `update`. */
  private def twoVersionFor(s: SparkSession, dir: String, prefix: String, table: String,
                            num: Long, den: Long, substrate: String)(
      build: (DataFrame, String) => Unit,
      update: (DataFrame, String, String) => Unit): String =
    cachedLayout(s, prefix, dir) { p =>
      val (lo, hi) = idSplit(s, dir, table, num, den, substrate)
      build(lo, p)
      update(hi, p, "00001")
    }

  /** Two-version staged text index for the snapshot-read key: delta
    * 00000 = the 4/5 build, delta 00001 = the 1/5 ingest. Read-only
    * at serve time (q_index_asof pins 00000), so it prestages like
    * every other read-only serve store. */
  private def asofIndexFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "idx_asof", dir) { p =>
      val docs = Tables.documents(s, dir)
      Bm25Index.build(docs.filter(col("doc_id") % 5 =!= 0), p)
      Bm25Index.update(docs.filter(col("doc_id") % 5 === 0), p, "00001")
    }

  /** Two-version pair substrate for the dedup snapshot-read key
    * (never shared with the compaction/delete keys, whose mutations
    * would collapse or extend the history this key pins). The split
    * is an id-PREFIX cut at 3/4 of max — the substrates require
    * monotone ingest — distinct from the incremental store's 4/5 cut
    * so the two keys pin different snapshots. */
  private def dedupAsofStoreFor(s: SparkSession, dir: String): String =
    twoVersionFor(s, dir, "dedup_asof", "documents", 3, 4, "dedup as-of substrate")(
      DedupStore.build(_, _), DedupStore.update(_, _, _))

  /** Two half-corpus SHARD stores for the merge key (id-prefix cut at
    * max/2 — contiguous doc ranges per shard, the layout a sharded
    * ingest produces), prestaged read-only under one layout dir; the
    * MERGE itself is the measurand and runs inside the query into a
    * fresh (non-cached) dest. */
  private def bm25ShardsFor(s: SparkSession, dir: String): String =
    shardsFor(s, dir, "idx_shards", "documents", "shard substrate")(Bm25Index.build(_, _))

  /** The semantic-substrate twin of [[dedupShardsFor]] (id-prefix cut
    * at max/2 over the embeddings). */
  private def semShardsFor(s: SparkSession, dir: String): String =
    shardsFor(s, dir, "sem_shards", "embeddings", "semantic shard substrate")(
      SemanticStore.build(_, _))

  /** The pair-substrate twin of [[bm25ShardsFor]] (id-prefix cut at
    * max/2 — the shard layout satisfies the merge's monotone id
    * contract by construction). */
  private def dedupShardsFor(s: SparkSession, dir: String): String =
    shardsFor(s, dir, "dedup_shards", "documents", "dedup shard substrate")(
      DedupStore.build(_, _))

  /** The vector-store twin of [[bm25ShardsFor]] (id-prefix cut at
    * max/2 over the embeddings; same LSH params both sides). */
  private def annShardsFor(s: SparkSession, dir: String): String =
    shardsFor(s, dir, "ann_shards", "embeddings", "ann shard substrate")(AnnIndex.build(_, _))

  /** Dedicated build+tombstone store for the text-index COMPACTION
    * key (compaction is the measurand, so it runs inside the query;
    * the store must never be shared with q_index_delete, whose pass-2
    * replay pins its own delta history). */
  private def bm25CmpStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "idx_cmp", dir) { p =>
      Bm25Index.build(Tables.documents(s, dir), p)
      Bm25Index.delete(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 6).select("doc_id"),
        p, "del-01")
    }

  /** Two-version vector store for the snapshot-read key (4/5 build
    * pinned as 00000, 1/5 ingest as 00001) — read-only at serve time,
    * so it prestages. */
  private def annTtStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "annidx_tt", dir) { p =>
      val emb = Tables.embeddings(s, dir)
      AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0), p)
      AnnIndex.update(emb.filter(col("vec_id") % 5 === 0), p, "00001")
    }

  /** Staged 4-table LSH store for the MULTIPROBE serve key — half
    * [[AnnIndex.build]]'s default table count; the Hamming-1 probe
    * expansion at serve time buys back the recall. Read-only, so it
    * prestages like every serve store. */
  private def annMpStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "annidx_mp", dir)(p =>
      AnnIndex.build(Tables.embeddings(s, dir), p,
        numTables = 4, bitsPerTable = 4))

  /** The vector-store twin of [[bm25CmpStoreFor]]. */
  private def annCmpStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "annidx_cmp", dir) { p =>
      AnnIndex.build(Tables.embeddings(s, dir), p)
      AnnIndex.delete(
        Tables.embeddings(s, dir).filter(col("vec_id") % 9 === 2).select("vec_id"),
        p, "del-01")
    }

  /** Two-version semantic substrate for its snapshot-read key. */
  private def semAsofStoreFor(s: SparkSession, dir: String): String =
    twoVersionFor(s, dir, "sem_asof", "embeddings", 3, 4, "semantic as-of substrate")(
      SemanticStore.build(_, _), SemanticStore.update(_, _, _))

  /** One file-per-document binary staging per sf dir per JVM — the
    * ingest-boundary fixture for the `binaryFile` source (media
    * corpora arrive as one object per file). Written partition-wise on
    * the executors; on a cluster the target must be shared storage,
    * exactly like any ingest landing zone. */
  private def binaryDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_bin", dir) { p =>
      new java.io.File(p).mkdirs()
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .repartition(8)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(p, r.getLong(0).toString + ".bin"),
              r.getAs[Array[Byte]]("payload"))
          }
        }
    }

  /** The binary landing zone folded into size-targeted parquet — the
    * cure for the per-object ingest cost q_source_binary measures:
    * the one-object-per-doc read happens ONCE at build (it is the
    * landing read — unavoidable), then every downstream scan serves
    * from the compacted columnar store ([[graft.sources.Sinks
    * .compact]] machinery, like the docs_compact layout). */
  private def compactedBinaryFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "bin_compact", dir) { p =>
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(binaryDocsFor(s, dir))
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"),
          col("content"))
        .write.mode("overwrite").parquet(p)
      graft.sources.Sinks.compact(s, p)
    }

  /** One z-ordered copy of lineitem per sf dir per JVM. */
  private def zorderedLineitemFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "li_zorder", dir)(p =>
      graft.sources.Zorder.writeZordered(Tables.lineitem(s, dir), p,
        Seq("l_extendedprice", "l_quantity")))

  /** One lang-partitioned copy of the corpus per sf dir per JVM. */
  private def partitionedDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_bylang", dir)(p =>
      graft.sources.Sinks.writePartitioned(Tables.documents(s, dir), p, "lang"))

  /** Build-once-per-(prefix, sf-dir)-per-JVM derived layouts (staging
    * index, partitioned/z-ordered copies, store templates) under
    * `<tmpdir>/graft_<prefix>_<pathTag(dir)>`, through the one staging
    * memo ([[graft.sources.DeltaStore.stagedOnce]]). */
  private def cachedLayout(s: SparkSession, prefix: String, dir: String)
                          (build: String => Unit): String =
    stagedOnce(s, sys.props("java.io.tmpdir") + s"/graft_${prefix}_" + pathTag(dir))(build)

  /** Fresh MUTABLE store at `runPath`, copied file-for-file from a
    * prestaged PRISTINE template. The maintenance keys that ingest
    * into / stream into a store must mutate a FRESH copy every run
    * (re-runnability: a second timed pass must re-pay the ingest, not
    * no-op on a replayed tag) — but the pre-ingest BUILD is one-off
    * substrate construction, exactly what the prestage convention
    * keeps untimed (the r13 trained-ANN and r16 shard-substrate
    * precedents). A parquet directory copy preserves bytes, so the
    * copied store serves identically to a rebuild; in production the
    * store simply EXISTS and ingest appends to it — the copy is the
    * bench's delete-and-rebuild device, not a production step. */
  private def freshStoreFrom(s: SparkSession, template: String,
                             runPath: String): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(template)
    val dst = new org.apache.hadoop.fs.Path(runPath)
    // through the store protocol's reset, so the last run's memoized
    // relations under `runPath` go with its files
    graft.sources.DeltaStore.reset(s, runPath)
    if (!org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
        dst.getFileSystem(conf), dst, false, conf))
      throw new java.io.IOException(s"template copy $template -> $runPath failed")
    runPath
  }

  /** One staged index per sf dir per JVM: q_index_batch_search and
    * q_stream_search serve from the same store; the first caller
    * builds it. (q_index_incremental keeps its own store — its
    * build/update split IS the thing it tests.) */
  private def indexFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "idx_serve", dir)(p => Bm25Index.build(Tables.documents(s, dir), p))

  /** A separate staged index for the tombstone-delete key: q_index_delete
    * MUTATES its store (a delete delta), so it must never share
    * `indexFor`'s serve index with the read-only keys. */
  private def bm25DelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "idx_del", dir)(p => Bm25Index.build(Tables.documents(s, dir), p))

  /** Dedicated ANN store for the tombstone-delete key (same
    * never-share-a-mutated-store rule as [[bm25DelStoreFor]]). */
  private def annDelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "annidx_del", dir)(p => AnnIndex.build(Tables.embeddings(s, dir), p))

  /** Dedicated PQ store for the tombstone-delete key. */
  private def pqDelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "pqidx_del", dir)(p => PqIndex.build(Tables.embeddings(s, dir), p))

  /** Dedicated BASE index for the streaming-delete key (the stream
    * mutates it; its tombstone batch tags are deterministic, so
    * re-invocations replay as no-ops on the cached store). */
  private def bm25StreamDelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "idx_sdel", dir)(p => Bm25Index.build(Tables.documents(s, dir), p))

  /** Dedicated pair substrate for the dedup delete key (it mutates —
    * never share a mutated store with the read-only keys). */
  private def dedupDelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "dedup_del", dir)(p => DedupStore.build(Tables.documents(s, dir), p))

  /** Dedicated semantic substrate for its delete key. */
  private def semDelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "sem_del", dir)(p => SemanticStore.build(Tables.embeddings(s, dir), p))

  /** The customer→supplier purchase edge relation staged once per
    * JVM — q_hits' graph-extraction ETL (lineitem⋈orders + distinct),
    * prestaged for the same reason q_pagerank's pair substrate is:
    * the mutual-reinforcement ITERATION is the measurand, the
    * derived-layout build is one-off. */
  private def hitsEdgesFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "hits_edges", dir) { p =>
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey").as("s"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey").as("c"))
      li.join(o, col("l_orderkey") === col("o_orderkey")).select("c", "s")
        .distinct().coalesce(4).write.mode("overwrite").parquet(p)
    }

  /** The trained unigram vocabulary (piece, cnt, cost) staged once
    * per JVM — the offline training artifact `q_unigram_encode`
    * serves from ([[ivfIndexFor]]'s prestage rationale: training is
    * the one-off build, encoding is the measurand; `q_unigram_train`
    * keeps timing the training itself). */
  private def unigramVocabFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "ug_vocab", dir)(p =>
      Unigram.trainedVocabDf(Tables.documents(s, dir))
        .write.mode("overwrite").parquet(p))

  /** Dedicated semantic substrate for the STREAMING-delete key (the
    * stream mutates it; deterministic batch tags make re-invocations
    * replay as no-ops on the cached store — the
    * [[bm25StreamDelStoreFor]] convention). */
  private def semStreamDelStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "sem_sdel", dir)(p => SemanticStore.build(Tables.embeddings(s, dir), p))

  /** One staged near-dup pair substrate per sf dir per JVM: the six
    * dedup-decision keys (verified/clusters/keep/drop/containment/
    * contained-drop) all serve from it — a production dedup pipeline
    * derives signatures + candidates + verify intersections once. */
  private def dedupStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "dedup_store", dir)(p => DedupStore.build(Tables.documents(s, dir), p))

  /** One staged semantic (embedding) pair substrate per sf dir per JVM:
    * the SemDeDup decision keys serve from it. */
  private def semanticStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "sem_store", dir)(p => SemanticStore.build(Tables.embeddings(s, dir), p))

  /** Shared 80/20 incremental-construction substrates: the
    * build-on-80%-then-ingest-20% store each maintenance key exercises
    * is CONSTRUCTED ONCE per sf dir per JVM and shared by the
    * incremental-serve and compaction keys (the same
    * build-once/serve-many discipline as every other substrate —
    * re-paying an identical two-pass construction per key would
    * measure redundancy, not the maintenance ops). Contracts stay
    * individually hash-verified: the incremental key pins staged ==
    * full-corpus oracle, the compact key pins compaction changing no
    * served row; the ingest mechanics are additionally spec-gated
    * (Round10Spec / Round12Spec). Fixed update tags keep replays
    * no-ops. */
  private def dedupIncStoreFor(s: SparkSession, dir: String): String =
    twoVersionFor(s, dir, "dedup_inc_shared", "documents", 4, 5,
        "dedup incremental substrate")(DedupStore.build(_, _), DedupStore.update(_, _, _))
  private def semIncStoreFor(s: SparkSession, dir: String): String =
    twoVersionFor(s, dir, "sem_inc_shared", "embeddings", 4, 5,
        "semantic incremental substrate")(SemanticStore.build(_, _), SemanticStore.update(_, _, _))
  private def pqIncStoreFor(s: SparkSession, dir: String): String =
    twoVersionFor(s, dir, "pq_inc_shared", "embeddings", 4, 5,
        "PQ incremental substrate")(PqIndex.build(_, _), PqIndex.update(_, _, _))

  /** PRISTINE pre-ingest templates for the maintenance keys that
    * mutate a store inside the timed run (copied fresh per run via
    * [[freshStoreFrom]]): the 80% builds of the incremental text /
    * LSH stores and the 80% PQ build (codebook training) feeding the
    * streaming ingest, plus that stream's staged-once tail slices. */
  private def idxIncBaseFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "idx_inc_base", dir) { p =>
      Bm25Index.build(Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0), p)
    }
  private def annIncBaseFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "annidx_inc_base", dir) { p =>
      AnnIndex.build(Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0), p)
    }
  private def pqStreamBaseFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "pq_stream_base", dir)(p =>
      PqIndex.build(idSplit(s, dir, "embeddings", 4, 5, "q_stream_pq")._1, p))
  private def pqStreamSrcFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "pq_stream_src", dir)(p =>
      idSplit(s, dir, "embeddings", 4, 5, "q_stream_pq")._2
        .repartition(2).write.mode("overwrite").parquet(p))

  /** Two-version READ-ONLY PQ substrate for the snapshot keys
    * (q_pq_asof / q_pq_diff). Same 4/5|1/5 content as
    * [[pqIncStoreFor]], but never shared with it: q_pq_compact folds
    * the incremental store's deltas, and time travel is defined only
    * on update-only stores — the same never-share-with-maintenance
    * rule as [[dedupAsofStoreFor]] / [[semAsofStoreFor]] /
    * [[asofIndexFor]] / [[annTtStoreFor]]. */
  private def pqAsofStoreFor(s: SparkSession, dir: String): String =
    twoVersionFor(s, dir, "pq_asof", "embeddings", 4, 5, "PQ as-of substrate")(
      PqIndex.build(_, _), PqIndex.update(_, _, _))

  /** Staged PQ / IVF+PQ stores (codebook training is the offline
    * build; q_ann_pq / q_ann_ivfpq bench the serving path). */
  private def pqIndexFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "pq_idx", dir)(p => PqIndex.build(Tables.embeddings(s, dir), p))
  private def ivfPqIndexFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "ivfpq_idx", dir)(p => PqIndex.buildIvf(Tables.embeddings(s, dir), p))
  private def ivfIndexFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "ivf_idx", dir)(p => PqIndex.buildIvfFlat(Tables.embeddings(s, dir), p))

  /** Lineitem+orders bucketed on the join key (8 buckets, sorted,
    * one file per bucket via the pre-repartition) — the co-located
    * join layout. Returns (lineitemTable, ordersTable) names.
    * NOT cachedLayout: bucket metadata lives in the SESSION's catalog,
    * so a JVM-wide cache would skip the build for a second session
    * whose catalog never saw the tables — probe the catalog instead.
    * The probe-and-build runs under a lock (concurrent queries would
    * otherwise race the DROP/recreate inside writeBucketed) and only
    * trusts a catalog entry whose warehouse files still exist on disk
    * — a location removed out-of-band triggers a rebuild instead of a
    * scan-time failure. */
  private val bucketedLock = new Object
  private def bucketedTableReady(s: SparkSession, name: String): Boolean =
    s.catalog.tableExists(name) && {
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(name)).location)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).exists(loc)
    }
  private def bucketedFor(s: SparkSession, dir: String): (String, String) =
    bucketedLock.synchronized {
      val tag = pathTag(dir)
      val (liName, oName) = (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
      if (!bucketedTableReady(s, liName) || !bucketedTableReady(s, oName)) {
        graft.sources.Bucketed.writeBucketed(
          Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice").repartition(8, col("l_orderkey")),
          liName, "l_orderkey", 8)
        graft.sources.Bucketed.writeBucketed(
          Tables.orders(s, dir).select("o_orderkey", "o_orderstatus").repartition(8, col("o_orderkey")),
          oName, "o_orderkey", 8)
      }
      (liName, oName)
    }

  /** One header-CSV copy of the corpus per sf dir per JVM. */
  private def csvDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_csv", dir)(p =>
      Tables.documents(s, dir).write.option("header", "true").mode("overwrite").csv(p))

  /** One JSON-lines copy of the corpus per sf dir per JVM. */
  private def jsonlDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_jsonl", dir)(p =>
      Tables.documents(s, dir).write.mode("overwrite").json(p))

  /** One ORC copy of the corpus per sf dir per JVM. */
  private def orcDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_orc", dir)(p =>
      Tables.documents(s, dir).write.mode("overwrite").orc(p))

  /** Staged market-basket substrate: the distinct (order, part) pair
    * co-occurrence counts, per-part supports and the order count —
    * materialized ONCE per sf dir per JVM so every basket consumer
    * (pair mining, association rules) is arithmetic over stored exact
    * counts instead of re-running the order-keyed self-join. */
  private def basketStoreFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "basket_sub", dir) { p =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct().cutLineage()
      items.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$p/supp")
      items.select("l_orderkey").distinct().agg(count(lit(1)).as("n_orders"))
        .write.mode("overwrite").parquet(s"$p/norders")
      items.as("a").join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("n_both"))
        .write.mode("overwrite").parquet(s"$p/pairs")
    }

  /** A two-generation parquet layout: v=1 holds the even-id half in
    * the PRE-migration schema (no `lang` column), v=2 the odd-id half
    * post-migration — the schema-drift fixture every long-lived lake
    * accumulates (columns added mid-crawl). */
  private def evolvedDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_evolved", dir) { p =>
      val d = Tables.documents(s, dir)
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$p/v=1")
      d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$p/v=2")
    }

  /** A deliberately fragmented (48-file) copy of the corpus, compacted
    * back through [[graft.sources.Sinks.compact]]. */
  private def compactedDocsFor(s: SparkSession, dir: String): String =
    cachedLayout(s, "docs_compact", dir) { p =>
      Tables.documents(s, dir).repartition(48).write.mode("overwrite").parquet(p)
      graft.sources.Sinks.compact(s, p)
    }

  // ---------------------------------------------------------------
  // Oracle SQL (DuckDB dialect; tables registered by the driver with
  // their plain names). The token/tf CTE prefix mirrors
  // Bm25.tokenize/tf exactly.
  // ---------------------------------------------------------------
  private val stop = Text.stopwordsSqlList

  private val tfCte =
    s"""tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
       |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY doc_id, term)""".stripMargin

  private val dlCte =
    s"""$tfCte,
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM dl)""".stripMargin

  private val queryTermsSql = Bm25.QueryTerms.map(t => s"'$t'").mkString(", ")

  /** BM25 per-doc scores over `documents WHERE whereSql` — every stat
    * (df, n_docs, avgdl) re-derived from the restricted corpus: the
    * rebuild-on-a-slice contract shared by the delete paths
    * (corpus minus tombstones) and the snapshot read (corpus as of
    * the pinned version). */
  private def bm25RestrictedOracle(whereSql: String) =
    s"""WITH src AS (SELECT * FROM documents WHERE $whereSql),
       |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM src),
       |tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
       |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
       |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |         FROM dft, nd WHERE term IN ($queryTermsSql)),
       |scored AS (
       |  SELECT tf.doc_id,
       |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
       |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
       |  FROM tf
       |  JOIN idfq ON tf.term = idfq.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN avgd
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, score FROM scored""".stripMargin

  /** Shared by q_index_delete / q_stream_delete: BM25 over the corpus
    * MINUS the tombstoned %10==3 slice — every stat (df, n_docs,
    * avgdl) re-derived from the surviving docs, the
    * rebuild-without-them contract both delete paths serve. */
  private lazy val bm25MinusSliceOracle =
    bm25RestrictedOracle("doc_id % 10 <> 3")

  /** Shared by q_ltr_features / q_rerank / q_rerank_delta: the batch
    * BM25 scoring chain + per-(query, doc) feature aggregates, ending
    * in the `ltr` relation (query_id, doc_id, rk, score, n_match,
    * sum_tf, max_tf, dl, overlap). */
  private lazy val ltrCte = {
    val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""$dlCte,
       |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
       |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
       |qt AS (SELECT DISTINCT query_id, t AS term
       |       FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
       |       WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
       |qsz AS (SELECT query_id, count(*)::BIGINT AS n_qterms FROM qt GROUP BY 1),
       |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |         FROM dft, nd WHERE term IN (SELECT term FROM qt)),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
       |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
       |       FROM tf
       |       JOIN idfq ON tf.term = idfq.term
       |       JOIN qt ON qt.term = tf.term
       |       JOIN dl ON tf.doc_id = dl.doc_id
       |       CROSS JOIN avgd
       |       GROUP BY qt.query_id, tf.doc_id),
       |rkd AS (SELECT query_id, doc_id, score,
       |          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk
       |        FROM sc),
       |run AS (SELECT query_id, doc_id, score, rk FROM rkd WHERE rk <= 10),
       |feat AS (SELECT qt.query_id, tf.doc_id,
       |           count(DISTINCT tf.term)::BIGINT AS n_match,
       |           sum(tf.tf)::BIGINT AS sum_tf, max(tf.tf)::BIGINT AS max_tf
       |         FROM tf JOIN qt ON tf.term = qt.term
       |         GROUP BY qt.query_id, tf.doc_id),
       |ltr AS (SELECT run.query_id, run.doc_id, run.rk::BIGINT AS rk, run.score,
       |          feat.n_match, feat.sum_tf, feat.max_tf, dl.dl,
       |          round(feat.n_match::DOUBLE / qsz.n_qterms, 6) AS overlap
       |        FROM run
       |        JOIN feat ON run.query_id = feat.query_id AND run.doc_id = feat.doc_id
       |        JOIN dl ON run.doc_id = dl.doc_id
       |        JOIN qsz ON run.query_id = qsz.query_id)""".stripMargin
  }

  /** Word-3-gram shingle CTE mirroring Dedup.shingles (distinct shingles
    * per doc, 1-based windows over the space-split word list). */
  private def shingleCteFor(rel: String) =
    s"""tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM $rel),
       |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
       |       FROM tokw, unnest(generate_series(1, len(words)-2)) AS t(i)
       |       WHERE len(words) >= 3)""".stripMargin
  private val shingleCte = shingleCteFor("documents")

  /** Sliding w-token window hashes mirroring Dedup.spanHashes: one row
    * per window OCCURRENCE (no distinct — the span operators count
    * occurrences), md5 over the space-joined window, with the 1-based
    * start position (the scrub oracle consumes it; the others ignore
    * it). */
  private def spanCte(w: Int) =
    s"""tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
       |sp AS (SELECT doc_id, i AS pos,
       |              md5(array_to_string(words[i:i+${w - 1}], ' ')) AS span_md5
       |       FROM tokw, unnest(generate_series(1, len(words) - ${w - 1})) AS t(i)
       |       WHERE len(words) >= $w)""".stripMargin

  /** MinHash banding CTEs mirroring Dedup.minhashCandidates: shingle →
    * 32-bit md5 key → 16 affine permutations (constants inlined from
    * the same Scala arrays the plan uses) → 4 bands of 4 → candidate
    * pairs; plus the exact-Jaccard verification over candidates. */
  private def minhashCandCteFor(rel: String) = {
    val (a, b) = Dedup.minhashParams(16)
    val aList = a.mkString("[", ", ", "]")
    val bList = b.mkString("[", ", ", "]")
    s"""${shingleCteFor(rel)},
       |xk AS (SELECT doc_id,
       |         list_sum(list_transform(range(1, 9),
       |           j -> (strpos('0123456789abcdef', substr(md5(shingle), j, 1)) - 1)::BIGINT
       |                << ((8 - j) * 4))) AS x
       |       FROM sh),
       |sig AS (SELECT doc_id, p,
       |          min(($aList[p + 1] * x + $bList[p + 1]) % ${Dedup.MinhashMod}) AS sig
       |        FROM xk, unnest(generate_series(0, 15)) AS t(p)
       |        GROUP BY doc_id, p),
       |bands AS (SELECT doc_id, p // 4 AS band, string_agg(sig::VARCHAR, '|' ORDER BY p) AS bkey
       |          FROM sig GROUP BY doc_id, p // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |csizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
       |cinter AS (SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
       |           FROM cand c
       |           JOIN sh sa ON sa.doc_id = c.doc_a
       |           JOIN sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
       |           GROUP BY c.doc_a, c.doc_b),
       |ver AS (SELECT i.doc_a, i.doc_b,
       |               i.inter::DOUBLE / (na.n_sh + nb.n_sh - i.inter) AS j_exact
       |        FROM cinter i
       |        JOIN csizes na ON i.doc_a = na.doc_id
       |        JOIN csizes nb ON i.doc_b = nb.doc_id
       |        WHERE i.inter::DOUBLE / (na.n_sh + nb.n_sh - i.inter) >= 0.8)""".stripMargin
  }
  private val minhashCandCte = minhashCandCteFor("documents")

  /** Verbatim-overlap contamination screen (train docs vs the %97
    * probe slice); shared by the batch key and its streaming-gate
    * sibling (union of micro-batches == batch, row-for-row). */
  private val contaminationSql =
    s"""WITH $shingleCte,
       |pr AS (SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
       |SELECT tr.doc_id, count(DISTINCT pr.probe_id)::BIGINT AS n_probes,
       |       count(DISTINCT tr.shingle)::BIGINT AS n_shingles
       |FROM tr JOIN pr ON tr.shingle = pr.shingle
       |GROUP BY tr.doc_id""".stripMargin

  /** Add-one-smoothed bigram-LM per-doc perplexity CTE mirroring
    * TextAnalysis.docPerplexity (LM trained on even doc_ids); shared
    * by q_doc_perplexity and the CCNet bucketing oracle. */
  private val pplCte =
    """tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
      |bg AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
      |       FROM tokw, unnest(generate_series(1, len(words)-1)) AS t(i)
      |       WHERE len(words) >= 2),
      |lm AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
      |c12 AS (SELECT w1, w2, count(*)::BIGINT AS n12 FROM lm GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*)::BIGINT AS n1 FROM lm GROUP BY 1),
      |v AS (SELECT count(DISTINCT w2)::BIGINT AS vocab FROM lm),
      |s AS (SELECT bg.doc_id,
      |             ln((coalesce(n12, 0) + 1)::DOUBLE / (coalesce(n1, 0) + vocab)::DOUBLE) AS lp
      |      FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v),
      |a AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |             round(avg(lp), 4) AS avg_logprob FROM s GROUP BY 1),
      |ppl AS (SELECT doc_id, n_bigrams, avg_logprob,
      |               round(exp(-avg_logprob), 4) AS ppl FROM a)""".stripMargin

  /** One representative doc per distinct text — the exact-collapse
    * subset the estimator monitor and link predictor band over. */
  private val canonDocsRel =
    """(SELECT d.* FROM documents d
      | JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) cn
      | USING (doc_id))""".stripMargin
  private val minhashCanonCte = minhashCandCteFor(canonDocsRel)

  /** Brute 5-NN majority-vote prediction replay (test = %10 ids,
    * exact integer-millis distances, min-label vote tiebreak) ending
    * at pred(vec_id, true_label, predicted_label, n_votes) — shared
    * by the classifier key and its per-label metrics rollup. */
  private val knnPredCte =
    """e AS (SELECT vec_id, label,
      |                 list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000)::DOUBLE) AS mv
      |          FROM embeddings),
      |en AS (SELECT vec_id, label, mv,
      |              list_sum(list_transform(mv, x -> x * x))::DOUBLE AS n2 FROM e),
      |t AS (SELECT vec_id, label AS true_label, mv, n2 FROM en WHERE vec_id % 10 = 0),
      |tr AS (SELECT vec_id AS nb_id, label AS nb_label, mv AS mv2, n2 AS n22
      |       FROM en WHERE vec_id % 10 <> 0),
      |pr AS (SELECT t.vec_id, t.true_label, tr.nb_id, tr.nb_label,
      |         (t.n2 + tr.n22 - 2.0 * list_sum(list_transform(generate_series(1, len(t.mv)),
      |           i -> t.mv[i] * tr.mv2[i]))::DOUBLE)::BIGINT AS d2
      |       FROM t, tr WHERE t.vec_id <> tr.nb_id),
      |nb AS (SELECT vec_id, true_label, nb_label,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, nb_id ASC) AS rk
      |       FROM pr),
      |v AS (SELECT vec_id, true_label, nb_label, count(*)::BIGINT AS n_votes
      |      FROM nb WHERE rk <= 5 GROUP BY vec_id, true_label, nb_label),
      |w AS (SELECT vec_id, true_label, nb_label, n_votes,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY n_votes DESC, nb_label ASC) AS vr
      |      FROM v),
      |pred AS (SELECT vec_id, true_label::BIGINT AS true_label,
      |                nb_label::BIGINT AS predicted_label, n_votes
      |         FROM w WHERE vr = 1)""".stripMargin

  /** 3-round synchronous min-tiebreak label propagation over the
    * verified dup graph (expects `ver` in scope; graph nodes only),
    * ending at relation l3(node, label) — shared by the LP key and
    * the modularity decomposition that grades its partition. */
  private val lpCte =
    """e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),
      |nb AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      |l0 AS (SELECT DISTINCT a AS node, a AS label FROM nb),
      |v1 AS (SELECT nb.a, l.label, count(*)::BIGINT AS votes
      |       FROM nb JOIN l0 l ON nb.b = l.node GROUP BY 1, 2),
      |l1 AS (SELECT a AS node, label FROM (
      |         SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY votes DESC, label ASC) AS rn
      |         FROM v1) WHERE rn = 1),
      |v2 AS (SELECT nb.a, l.label, count(*)::BIGINT AS votes
      |       FROM nb JOIN l1 l ON nb.b = l.node GROUP BY 1, 2),
      |l2 AS (SELECT a AS node, label FROM (
      |         SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY votes DESC, label ASC) AS rn
      |         FROM v2) WHERE rn = 1),
      |v3 AS (SELECT nb.a, l.label, count(*)::BIGINT AS votes
      |       FROM nb JOIN l2 l ON nb.b = l.node GROUP BY 1, 2),
      |l3 AS (SELECT a AS node, label FROM (
      |         SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY votes DESC, label ASC) AS rn
      |         FROM v3) WHERE rn = 1)""".stripMargin

  /** Shared by q_cep_match (batch) and q_stream_cep (streaming):
    * the streaming detector equals the batch matcher row-for-row. */
  private val cepMatchSql =
    """WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup', 'click', 'purchase')),
        |w AS (SELECT user_id, event_id, ts, event_type,
        |        min(CASE WHEN event_type = 'click'
        |                 THEN struct_pack(ts := ts, event_id := event_id) END)
        |          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb,
        |        min(CASE WHEN event_type = 'purchase'
        |                 THEN struct_pack(ts := ts, event_id := event_id) END)
        |          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
        |      FROM e),
        |an AS (SELECT user_id, event_id AS a_id, ts AS a_ts,
        |              (nb).event_id AS b_id, (nb).ts AS b_ts
        |       FROM w WHERE event_type = 'signup' AND nb IS NOT NULL),
        |ab AS (SELECT user_id, event_id AS b_id, (nc).event_id AS c_id, (nc).ts AS c_ts
        |       FROM w WHERE event_type = 'click' AND nc IS NOT NULL)
        |SELECT an.user_id, a_id AS a_event_id, epoch_ns(a_ts) // 1000000 AS a_ts_ms,
        |       an.b_id AS b_event_id, epoch_ns(b_ts) // 1000000 AS b_ts_ms,
        |       c_id AS c_event_id, epoch_ns(c_ts) // 1000000 AS c_ts_ms,
        |       (epoch_ns(c_ts) - epoch_ns(a_ts)) // 1000000 AS span_ms
        |FROM an JOIN ab ON an.user_id = ab.user_id AND an.b_id = ab.b_id
        |WHERE epoch_ns(c_ts) - epoch_ns(a_ts) <= 86400000000000""".stripMargin

  /** Banding-sweep replay (Dedup.lshTune): one shared 16-perm `sig`
    * relation, one bands/cand CTE pair per rowsPerBand config, counts
    * unioned with the SAME midpoint literals the plan bakes in. */
  private val lshTuneSql = {
    val (a, b) = Dedup.minhashParams(16)
    val aList = a.mkString("[", ", ", "]")
    val bList = b.mkString("[", ", ", "]")
    val per = Dedup.TuneConfigs.map { case (bands, r, _) =>
      s"""bands$r AS (SELECT doc_id, p // $r AS band,
         |            string_agg(sig::VARCHAR, '|' ORDER BY p) AS bkey
         |          FROM sig GROUP BY doc_id, p // $r),
         |cand$r AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands$r a JOIN bands$r b
         |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
        .stripMargin
    }.mkString(",\n")
    val sel = Dedup.TuneConfigs.map { case (bands, r, mid) =>
      s"""SELECT ${bands}::BIGINT AS bands, ${r}::BIGINT AS rows_per_band,
         |       $mid::DOUBLE AS midpoint,
         |       (SELECT count(*) FROM cand$r)::BIGINT AS n_candidates"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $shingleCte,
       |xk AS (SELECT doc_id,
       |         list_sum(list_transform(range(1, 9),
       |           j -> (strpos('0123456789abcdef', substr(md5(shingle), j, 1)) - 1)::BIGINT
       |                << ((8 - j) * 4))) AS x
       |       FROM sh),
       |sig AS (SELECT doc_id, p,
       |          min(($aList[p + 1] * x + $bList[p + 1]) % ${Dedup.MinhashMod}) AS sig
       |        FROM xk, unnest(generate_series(0, 15)) AS t(p)
       |        GROUP BY doc_id, p),
       |$per
       |$sel""".stripMargin
  }

  /** Cross-relation fuzzy-contamination replay mirroring
    * Dedup.fuzzyContamination at its 8-bands-of-2 default: same
    * shingle → md5-affine signature pipeline as [[minhashCandCteFor]],
    * but bands of 2 rows and a train × probe (doc_id % 5) band join in
    * place of the self-join; exact Jaccard >= 0.5 over candidates. */
  private val fuzzyContamCte = {
    val (a, b) = Dedup.minhashParams(16)
    val aList = a.mkString("[", ", ", "]")
    val bList = b.mkString("[", ", ", "]")
    s"""$shingleCte,
       |xk AS (SELECT doc_id,
       |         list_sum(list_transform(range(1, 9),
       |           j -> (strpos('0123456789abcdef', substr(md5(shingle), j, 1)) - 1)::BIGINT
       |                << ((8 - j) * 4))) AS x
       |       FROM sh),
       |sig AS (SELECT doc_id, p,
       |          min(($aList[p + 1] * x + $bList[p + 1]) % ${Dedup.MinhashMod}) AS sig
       |        FROM xk, unnest(generate_series(0, 15)) AS t(p)
       |        GROUP BY doc_id, p),
       |fbands AS (SELECT doc_id, p // 2 AS band, string_agg(sig::VARCHAR, '|' ORDER BY p) AS bkey
       |           FROM sig GROUP BY doc_id, p // 2),
       |fcand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS probe_id
       |          FROM fbands a JOIN fbands b
       |            ON a.band = b.band AND a.bkey = b.bkey
       |            AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
       |csz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
       |fint AS (SELECT c.doc_id, c.probe_id, count(*)::BIGINT AS inter
       |         FROM fcand c
       |         JOIN sh sa ON sa.doc_id = c.doc_id
       |         JOIN sh sb ON sb.doc_id = c.probe_id AND sa.shingle = sb.shingle
       |         GROUP BY c.doc_id, c.probe_id)""".stripMargin
  }

  /** The exact-deduplicated (canonical) corpus — near-dup verification
    * in q_dedup_drop runs over THIS, mirroring Dedup.dropDuplicates'
    * exact-first order. */
  private val canonRel =
    """(SELECT d.* FROM documents d
      | JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) cc
      | USING (doc_id))""".stripMargin.replace("\n", "")

  /** SimHash fingerprint CTE mirroring Dedup.simhash (60-bit
    * tf-weighted fingerprint over the tf CTE, 15-hex-digit keys). */
  private val simhashCte =
    s"""$tfCte,
       |th AS (SELECT doc_id, tf,
       |  list_sum(list_transform(range(1, 16),
       |    j -> (strpos('0123456789abcdef', substr(md5(term), j, 1)) - 1)::BIGINT << ((15 - j) * 4)
       |  )) AS hv FROM tf),
       |bs AS (SELECT doc_id, b, sum(tf * (2 * ((hv >> b) & 1) - 1)) AS s
       |       FROM th, unnest(generate_series(0, 59)) AS t(b)
       |       GROUP BY doc_id, b),
       |fps AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
       |        FROM bs GROUP BY doc_id)""".stripMargin

  /** Double-cast vector + L2 norm CTE mirroring Ann.withNorm. */
  private val vecCte =
    """e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)""".stripMargin

  /** SQ8 quantization replay (Ann.sqVecs semantics) continuing from a
    * CTE `e` of (vec_id, v array<double>): clamp(floor(x·127/maxabs))
    * per coordinate plus the integer squared norm. */
  private val sqCteTail =
    """m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
      |q8 AS (SELECT vec_id, list_transform(v, x -> CASE WHEN maxabs = 0 THEN 0::BIGINT
      |         ELSE greatest(-127::BIGINT, least(127::BIGINT,
      |                       floor(x * 127.0 / maxabs)::BIGINT)) END) AS qv
      |       FROM m),
      |sqn AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS qn2 FROM q8)""".stripMargin

  private val sqCte =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |$sqCteTail""".stripMargin

  /** LSH top-10 replay (Ann.lshTopK / AnnIndex.searchTopK semantics)
    * over `embeddings WHERE whereSql`, querying `qid`: the md5-derived
    * hyperplanes are driver-computed literal doubles (GraftHashing
    * .planeWeights — the same literals the native expression bakes
    * into the plan), so bucketing + candidates + exact rerank replay
    * relationally for ANY corpus restriction — which is what makes
    * the staged index's time-travel snapshots oracle-checkable too. */
  private def lshTopKOracleSql(whereSql: String, qid: Long,
                               k: Int = 10): String = {
    val planes = graft.functions.GraftHashing.planeWeights(32) // 8 tables × 4 bits
    val rows = planes.zipWithIndex
      .map { case (wp, p) => s"($p, [${wp.mkString(",")}])" }
      .mkString(",\n       |  ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings WHERE $whereSql),
       |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |w(p, wv) AS (VALUES
       |  $rows),
       |sgn AS (SELECT vn.vec_id, w.p,
       |          CASE WHEN list_sum(list_transform(range(1, len(vn.v) + 1),
       |                 i -> vn.v[i] * w.wv[i])) > 0 THEN '1' ELSE '0' END AS bit
       |        FROM vn, w),
       |bkt AS (SELECT vec_id, p // 4 AS t, string_agg(bit, '' ORDER BY p) AS bucket
       |        FROM sgn GROUP BY vec_id, p // 4),
       |qb AS (SELECT t, bucket FROM bkt WHERE vec_id = $qid),
       |cand AS (SELECT DISTINCT b.vec_id FROM bkt b
       |         JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
       |         WHERE b.vec_id != $qid),
       |q AS (SELECT v, nrm FROM vn WHERE vec_id = $qid)
       |SELECT b.vec_id,
       |       round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
       |             / (q.nrm * b.nrm), 4) AS cos
       |FROM vn b JOIN cand ON b.vec_id = cand.vec_id, q
       |ORDER BY cos DESC, b.vec_id ASC LIMIT $k""".stripMargin
  }

  /** Packing-efficiency replay: the q_seq_pack recursive greedy chain
    * instantiated once per cap (distinct CTE names per cap — a WITH
    * RECURSIVE may hold several independent recursions), each rolled
    * up to (cap, n_bins, n_overflow_bins, total_tokens,
    * utilization). */
  private def packEfficiencyOracle(caps: Seq[Long]): String = {
    val chains = caps.map { c =>
      s"""t$c AS (
         |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |r$c AS (
         |  SELECT doc_id, source, n_tokens, rn, 0::BIGINT AS bin_id, n_tokens AS fill
         |  FROM t$c WHERE rn = 1
         |  UNION ALL
         |  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
         |         CASE WHEN r.fill + t.n_tokens <= $c THEN r.bin_id ELSE r.bin_id + 1 END,
         |         CASE WHEN r.fill + t.n_tokens <= $c THEN r.fill + t.n_tokens ELSE t.n_tokens END
         |  FROM r$c r JOIN t$c t ON t.source = r.source AND t.rn = r.rn + 1),
         |b$c AS (SELECT source, bin_id, sum(n_tokens)::BIGINT AS btok FROM r$c GROUP BY 1, 2),
         |s$c AS (SELECT $c::BIGINT AS cap, count(*)::BIGINT AS n_bins,
         |          sum(CASE WHEN btok > $c THEN 1 ELSE 0 END)::BIGINT AS n_overflow_bins,
         |          sum(btok)::BIGINT AS total_tokens,
         |          round(sum(btok)::DOUBLE / (count(*) * $c), 6) AS utilization
         |        FROM b$c)""".stripMargin
    }
    s"WITH RECURSIVE\n${chains.mkString(",\n")}\n" +
      caps.map(c => s"SELECT * FROM s$c").mkString(" UNION ALL ")
  }

  /** Diagonal-whitening replay (Vectors.whiten / the streaming leg):
    * per-dim BIGINT sufficient statistics on the millis grid, mean
    * and variance with the driver's exact op order, zero-variance
    * dims to 0.0 — shared by the batch and streaming keys. */
  private val embWhitenOracle =
    """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
      |           FROM embeddings WHERE embedding IS NOT NULL),
      |px AS (SELECT vec_id, (i - 1)::BIGINT AS dim_idx, qv[i] AS x
      |       FROM q, unnest(generate_series(1, len(qv))) AS t(i)),
      |st AS (SELECT dim_idx, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
      |         sum(x * x)::BIGINT AS q2
      |       FROM px GROUP BY 1),
      |sv AS (SELECT dim_idx, CAST(s AS DOUBLE) / n AS mean,
      |         (CAST(q2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n AS vr
      |       FROM st)
      |SELECT px.vec_id, px.dim_idx,
      |       CASE WHEN sv.vr <= 0.0 THEN 0.0
      |            ELSE round((px.x - sv.mean) / sqrt(sv.vr), 4) END AS w
      |FROM px JOIN sv USING (dim_idx)""".stripMargin

  /** Snapshot-diff replay on the vector store ([[AnnIndex
    * .diffVersions]] semantics over the two-version time-travel
    * store): re-derive every vector's 8×4 bucket string from the
    * literal hyperplanes, count per (t, bucket) occupancy on each
    * side (A = the `sideAWhere` build subset, B = everything), roll
    * up per table. Both rollups are bucket-cardinality metadata —
    * the corpus appears only in the shared bkt derivation. */
  private def annDiffOracleSql(sideAWhere: String): String = {
    val planes = graft.functions.GraftHashing.planeWeights(32) // 8 tables × 4 bits
    val rows = planes.zipWithIndex
      .map { case (wp, p) => s"($p, [${wp.mkString(",")}])" }
      .mkString(",\n       |  ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |w(p, wv) AS (VALUES
       |  $rows),
       |sgn AS (SELECT e.vec_id, w.p,
       |          CASE WHEN list_sum(list_transform(range(1, len(e.v) + 1),
       |                 i -> e.v[i] * w.wv[i])) > 0 THEN '1' ELSE '0' END AS bit
       |        FROM e, w),
       |bkt AS (SELECT vec_id, p // 4 AS t, string_agg(bit, '' ORDER BY p) AS bucket
       |        FROM sgn GROUP BY vec_id, p // 4),
       |cnts AS (SELECT t, bucket,
       |           sum(CASE WHEN $sideAWhere THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
       |           count(*)::BIGINT AS cnt_b
       |         FROM bkt GROUP BY 1, 2),
       |na AS (SELECT count(*)::BIGINT AS n_vecs_a FROM embeddings WHERE $sideAWhere),
       |nb AS (SELECT count(*)::BIGINT AS n_vecs_b FROM embeddings)
       |SELECT t,
       |       sum(CASE WHEN cnt_a > 0 THEN 1 ELSE 0 END)::BIGINT AS n_buckets_a,
       |       sum(CASE WHEN cnt_b > 0 THEN 1 ELSE 0 END)::BIGINT AS n_buckets_b,
       |       sum(CASE WHEN cnt_a <> cnt_b THEN 1 ELSE 0 END)::BIGINT AS changed_buckets,
       |       sum(greatest(cnt_b - cnt_a, 0))::BIGINT AS added_mass,
       |       sum(greatest(cnt_a - cnt_b, 0))::BIGINT AS removed_mass,
       |       na.n_vecs_a, nb.n_vecs_b
       |FROM cnts, na, nb
       |GROUP BY t, na.n_vecs_a, nb.n_vecs_b
       |ORDER BY t""".stripMargin
  }

  /** Unrolled truncated-Neumann absorption expectation on the
    * sub-stochastic session chain (Relational.absorbingTime):
    * p_cont(i) = n_out/n_occ, per round
    * t_k(i) = p_cont(i) + Σ_j (n_ij/n_occ_i)·t_{k-1}(j) with every
    * fold in ascending to-state order (ordered-fold contract);
    * single-reference CTE chain, no recursion. */
  private def absorbingTimeOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH tr0 AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |occ AS (SELECT from_type AS s, count(*)::BIGINT AS n_occ,
        |          sum(CASE WHEN to_type IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_out
        |        FROM tr0 GROUP BY 1),
        |m AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |      FROM tr0 WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t0 AS (SELECT s AS state, 0.0 AS t FROM occ)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |d$k AS (SELECT m.from_type AS state,
        |          list_sum(list((m.n::DOUBLE / occ.n_occ) * p.t
        |                        ORDER BY m.to_type)) AS acc
        |        FROM m JOIN t${k - 1} p ON p.state = m.to_type
        |               JOIN occ ON occ.s = m.from_type
        |        GROUP BY m.from_type),
        |t$k AS (SELECT o.s AS state,
        |          (o.n_out::DOUBLE / o.n_occ) + coalesce(d$k.acc, 0.0) AS t
        |        FROM occ o LEFT JOIN d$k ON d$k.state = o.s)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT f.state, round(o.n_out::DOUBLE / o.n_occ, 6) AS p_continue,
         |       round(f.t, 6) AS t_expected
         |FROM t$iters f JOIN occ o ON o.s = f.state""".stripMargin)
    sb.toString
  }

  /** Unrolled power iteration on the event chain: π'_j left-joins
    * back onto the full state list (zero-incoming states keep an
    * explicit 0), each level's fold is from-state ORDERED (the
    * ordered-fold contract), single-reference CTE chain — no
    * recursion, no correlated subqueries. */
  private def markovStationaryOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH tr0 AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |      FROM tr0 WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type AS ft, sum(n)::BIGINT AS n_from FROM m GROUP BY 1),
        |sts AS (SELECT DISTINCT s FROM (SELECT from_type AS s FROM m
        |                                UNION SELECT to_type FROM m)),
        |kk AS (SELECT count(*)::BIGINT AS k FROM sts),
        |pi0 AS (SELECT s AS state, 1.0 / k AS pi FROM sts, kk)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(s""",
        |d$t AS (SELECT m.to_type AS state,
        |          list_sum(list(p.pi * (m.n::DOUBLE / tot.n_from)
        |                        ORDER BY m.from_type)) AS pi
        |        FROM m JOIN pi${t - 1} p ON p.state = m.from_type
        |               JOIN tot ON tot.ft = m.from_type
        |        GROUP BY m.to_type),
        |pi$t AS (SELECT st.s AS state, coalesce(d$t.pi, 0.0) AS pi
        |         FROM sts st LEFT JOIN d$t ON d$t.state = st.s)""".stripMargin)
    }
    sb.append(s"\nSELECT state, round(pi, 6) AS pi FROM pi$iters")
    sb.toString
  }

  /** The multiprobe variant of [[lshTopKOracleSql]]: 4 tables × 4
    * bits (the first 16 planes of the same family — HyperplaneBuckets
    * derives from planeWeights(T·b)), and the query side expands to
    * its own bucket plus every one-character flip of the bit-string
    * bucket — Hamming-1 on the string equals Hamming-1 on the Spark
    * side's integer code, so the candidate sets correspond
    * bijectively. */
  private def lshMultiprobeOracleSql(qid: Long): String = {
    val planes = graft.functions.GraftHashing.planeWeights(16) // 4 tables × 4 bits
    val rows = planes.zipWithIndex
      .map { case (wp, p) => s"($p, [${wp.mkString(",")}])" }
      .mkString(",\n       |  ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings),
       |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |w(p, wv) AS (VALUES
       |  $rows),
       |sgn AS (SELECT vn.vec_id, w.p,
       |          CASE WHEN list_sum(list_transform(range(1, len(vn.v) + 1),
       |                 i -> vn.v[i] * w.wv[i])) > 0 THEN '1' ELSE '0' END AS bit
       |        FROM vn, w),
       |bkt AS (SELECT vec_id, p // 4 AS t, string_agg(bit, '' ORDER BY p) AS bucket
       |        FROM sgn GROUP BY vec_id, p // 4),
       |qb AS (SELECT t, bucket FROM bkt WHERE vec_id = $qid),
       |probes AS (SELECT t, bucket FROM qb
       |           UNION
       |           SELECT qb.t,
       |                  substr(qb.bucket, 1, g.i - 1) ||
       |                  (CASE WHEN substr(qb.bucket, g.i, 1) = '1' THEN '0' ELSE '1' END) ||
       |                  substr(qb.bucket, g.i + 1) AS bucket
       |           FROM qb, unnest(generate_series(1, 4)) AS g(i)),
       |cand AS (SELECT DISTINCT b.vec_id FROM bkt b
       |         JOIN probes ON b.t = probes.t AND b.bucket = probes.bucket
       |         WHERE b.vec_id != $qid),
       |q AS (SELECT v, nrm FROM vn WHERE vec_id = $qid)
       |SELECT b.vec_id,
       |       round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
       |             / (q.nrm * b.nrm), 4) AS cos
       |FROM vn b JOIN cand ON b.vec_id = cand.vec_id, q
       |ORDER BY cos DESC, b.vec_id ASC LIMIT 10""".stripMargin
  }

  /** Unrolled Lloyd's on the exact millis grid, mirroring
    * Clustering.kmeans: `iters` assign+update rounds from the k
    * lowest-vec_id seeds, then the final assignment. Every distance is
    * an integer sum of squared millis differences; every updated
    * centroid coordinate is floor over the IEEE quotient of two exact
    * integers — the same two operations the Spark plan runs, so the
    * assignment is engine-identical at every iteration. */
  /** The unrolled exact-integer Lloyd's CTE chain (q, c0, d/a/s/c per
    * iteration, fd = final distances) — shared by the kmeans-family
    * oracles and the deterministic-IVF replay (which appends probe
    * selection + rescore CTEs of its own). No leading WITH, no final
    * SELECT, no trailing comma. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
         |           FROM embeddings WHERE embedding IS NOT NULL),
         |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, qv AS cv
         |       FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),""".stripMargin)
    for (it <- 1 to iters) {
      val cp = s"c${it - 1}"
      sb.append(
        s"""
           |d$it AS (SELECT q.vec_id, q.qv, $cp.cid,
           |         list_sum(list_transform(range(1, len(q.qv) + 1),
           |                  i -> (q.qv[i] - $cp.cv[i]) * (q.qv[i] - $cp.cv[i]))) AS d2
           |         FROM q, $cp),
           |a$it AS (SELECT vec_id, qv, cid FROM (
           |           SELECT vec_id, qv, cid,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           |           FROM d$it) WHERE rn = 1),
           |s$it AS (SELECT cid, i, CAST(floor(sum(qv[i])::DOUBLE / count(*)) AS BIGINT) AS cm
           |         FROM a$it, unnest(generate_series(1, len(qv))) AS t(i) GROUP BY cid, i),
           |c$it AS (SELECT $cp.cid, coalesce(u.cv, $cp.cv) AS cv
           |         FROM $cp LEFT JOIN (SELECT cid, list(cm ORDER BY i) AS cv
           |                             FROM s$it GROUP BY cid) u ON $cp.cid = u.cid),""".stripMargin)
    }
    sb.append(
      s"""
         |fd AS (SELECT q.vec_id, c$iters.cid,
         |       list_sum(list_transform(range(1, len(q.qv) + 1),
         |                i -> (q.qv[i] - c$iters.cv[i]) * (q.qv[i] - c$iters.cv[i]))) AS d2
         |       FROM q, c$iters)""".stripMargin)
    sb.toString
  }

  /** Unrolled greedy k-center replay: seed = lowest vec_id, then k−1
    * steps of (min squared-millis distance to the selected set,
    * argmax with vec_id tie-break). Every selected-set CTE is
    * MATERIALIZED — each level references its predecessor three times
    * (distance cross, exclusion subquery, union), which re-expands
    * exponentially otherwise (the unigram-chain lesson, SURVEY §6). */
  private def kcenterCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
         |     FROM embeddings WHERE embedding IS NOT NULL),
         |s1 AS MATERIALIZED (SELECT vec_id, qv, 1::BIGINT AS rk, CAST(NULL AS BIGINT) AS gain
         |      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1))""".stripMargin)
    for (j <- 2 to k) {
      val sp = s"s${j - 1}"
      sb.append(
        s""",
           |p$j AS (SELECT q.vec_id, q.qv,
           |         min(list_sum(list_transform(range(1, len(q.qv) + 1),
           |             i -> (q.qv[i] - s.qv[i]) * (q.qv[i] - s.qv[i]))))::BIGINT AS md
           |        FROM q, $sp s
           |        WHERE q.vec_id NOT IN (SELECT vec_id FROM $sp)
           |        GROUP BY q.vec_id, q.qv),
           |s$j AS MATERIALIZED (SELECT vec_id, qv, rk, gain FROM $sp
           |      UNION ALL
           |      SELECT vec_id, qv, ${j}::BIGINT AS rk, md AS gain
           |      FROM (SELECT vec_id, qv, md FROM p$j ORDER BY md DESC, vec_id ASC LIMIT 1))""".stripMargin)
    }
    sb.toString
  }

  private def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters)}
       |SELECT vec_id, cid::BIGINT AS cluster_id, d2::BIGINT AS d2 FROM (
       |  SELECT vec_id, cid, d2,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM fd) WHERE rn = 1""".stripMargin

  /** Deterministic flat-IVF replay: the SAME unrolled Lloyd's chain
    * re-derives the coarse centers (exact BIGINT — training included),
    * then list assignment (argmin, ties low), probe selection for the
    * query under the identical metric, and the exact-cosine rescore
    * over probed lists only — the staged [[graft.operators.PqIndex]]
    * serve replayed end-to-end, training and all. */
  private def ivfExactOracleSql(nLists: Int, iters: Int,
                                nProbe: Int, k: Int): String =
    s"""WITH $vecCte,
       |${kmeansCtes(nLists, iters)},
       |asg AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |          FROM fd) WHERE rn = 1),
       |qd AS (SELECT c.cid,
       |              list_sum(list_transform(range(1, len(q0.qv) + 1),
       |                       i -> (q0.qv[i] - c.cv[i]) * (q0.qv[i] - c.cv[i]))) AS d2
       |       FROM c$iters c, (SELECT qv FROM q WHERE vec_id = 0) q0),
       |pr AS (SELECT cid FROM qd ORDER BY d2, cid LIMIT $nProbe),
       |qrow AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
       |SELECT b.vec_id,
       |       round(list_sum(list_transform(range(1, len(qrow.v) + 1),
       |             i -> qrow.v[i] * b.v[i])) / (qrow.nrm * b.nrm), 4) AS cos
       |FROM vn b
       |JOIN asg ON b.vec_id = asg.vec_id
       |JOIN pr ON asg.cid = pr.cid, qrow
       |WHERE b.vec_id != 0
       |ORDER BY cos DESC, b.vec_id ASC LIMIT $k""".stripMargin

  /** Unrolled per-subspace exact-integer Lloyd's — the PQ trainer
    * replay (Ann.pqFitCodebooksExact): all m subspaces train together
    * keyed by j, seeds are the ksub lowest TRAIN vec_ids' subvectors,
    * assignments are exact-BIGINT argmins (ties to the lower code),
    * updates floor(Σ/n). `srcRel` must provide (vec_id[, list_id],
    * `vcol` array<bigint> of length m·sub); `trainWhere` restricts the
    * TRAINING rows (the incremental key trains on the build cut only)
    * while encoding covers every row. Emits pv (slices), pc{iters}
    * (final codebooks) and pcode (vec_id[, list_id], j, code). No
    * leading WITH, no trailing comma. */
  private def pqCtes(m: Int, sub: Int, ksub: Int, iters: Int,
                     srcRel: String, vcol: String,
                     trainWhere: String = "TRUE",
                     carryListId: Boolean = false): String = {
    val carry = if (carryListId) "list_id, " else ""
    val sb = new StringBuilder
    sb.append(
      s"""pv AS (SELECT vec_id, ${carry}j, list_slice($vcol, j * $sub + 1, (j + 1) * $sub) AS sv
         |       FROM $srcRel, unnest(generate_series(0, ${m - 1})) AS gj(j)),
         |ptr AS (SELECT vec_id, j, sv FROM pv WHERE $trainWhere),
         |sd AS (SELECT vec_id FROM $srcRel WHERE $trainWhere ORDER BY vec_id LIMIT $ksub),
         |pc0 AS (SELECT j, (row_number() OVER (PARTITION BY j ORDER BY vec_id)) - 1 AS cid, sv AS cv
         |        FROM ptr JOIN sd USING (vec_id)),""".stripMargin)
    for (it <- 1 to iters) {
      val cp = s"pc${it - 1}"
      sb.append(
        s"""
           |pd$it AS (SELECT ptr.vec_id, ptr.j, ptr.sv, c.cid,
           |          list_sum(list_transform(range(1, $sub + 1),
           |                   i -> (ptr.sv[i] - c.cv[i]) * (ptr.sv[i] - c.cv[i]))) AS d2
           |          FROM ptr JOIN $cp c ON ptr.j = c.j),
           |pa$it AS (SELECT j, sv, cid FROM (
           |            SELECT j, sv, cid,
           |                   row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
           |            FROM pd$it) WHERE rn = 1),
           |ps$it AS (SELECT j, cid, i, CAST(floor(sum(sv[i])::DOUBLE / count(*)) AS BIGINT) AS cm
           |          FROM pa$it, unnest(generate_series(1, $sub)) AS t(i) GROUP BY j, cid, i),
           |pc$it AS (SELECT p.j, p.cid, coalesce(u.cv, p.cv) AS cv
           |          FROM $cp p LEFT JOIN (SELECT j, cid, list(cm ORDER BY i) AS cv
           |                                FROM ps$it GROUP BY j, cid) u
           |          ON p.j = u.j AND p.cid = u.cid),""".stripMargin)
    }
    sb.append(
      s"""
         |pdf AS (SELECT pv.vec_id, ${carry}pv.j, c.cid,
         |        list_sum(list_transform(range(1, $sub + 1),
         |                 i -> (pv.sv[i] - c.cv[i]) * (pv.sv[i] - c.cv[i]))) AS d2
         |        FROM pv JOIN pc$iters c ON pv.j = c.j),
         |pcode AS (SELECT vec_id, ${carry}j, cid AS code FROM (
         |            SELECT vec_id, ${carry}j, cid,
         |                   row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
         |            FROM pdf) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** Full PQ replay (Ann.pqTopK / PqIndex.searchTopK): millis grid →
    * per-subspace integer Lloyd's (training included) → codes → the
    * query's exact-integer ADC table → nCandidates TakeOrdered →
    * exact-cosine rerank. `trainWhere` parameterizes the incremental
    * key (codebooks frozen at the build cut, everything encoded). */
  private def pqOracleSql(m: Int, sub: Int, ksub: Int, iters: Int,
                          nCandidates: Int, k: Int,
                          trainWhere: String = "TRUE",
                          serveWhere: String = "TRUE"): String =
    s"""WITH $vecCte,
       |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
       |      FROM embeddings WHERE embedding IS NOT NULL),
       |mx AS (SELECT max(vec_id) AS mxid FROM embeddings),
       |${pqCtes(m, sub, ksub, iters, "q", "qv", trainWhere)},
       |qsv AS (SELECT j, sv FROM pv WHERE vec_id = 0),
       |adct AS (SELECT c.j, c.cid,
       |         list_sum(list_transform(range(1, $sub + 1),
       |                  i -> (qsv.sv[i] - c.cv[i]) * (qsv.sv[i] - c.cv[i]))) AS ad
       |         FROM pc$iters c JOIN qsv ON c.j = qsv.j),
       |adcs AS (SELECT pcode.vec_id, sum(ad)::BIGINT AS adc
       |         FROM pcode JOIN adct ON pcode.j = adct.j AND pcode.code = adct.cid
       |         WHERE pcode.vec_id != 0 AND (${serveWhere.replace("vec_id", "pcode.vec_id")}) GROUP BY 1),
       |cand AS (SELECT vec_id, adc FROM adcs ORDER BY adc ASC, vec_id ASC LIMIT $nCandidates),
       |qrow AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
       |SELECT b.vec_id, cand.adc,
       |       round(list_sum(list_transform(range(1, len(qrow.v) + 1),
       |             i -> qrow.v[i] * b.v[i])) / (qrow.nrm * b.nrm), 4) AS cos
       |FROM vn b JOIN cand ON b.vec_id = cand.vec_id, qrow
       |ORDER BY cos DESC, b.vec_id ASC LIMIT $k""".stripMargin

  /** Full IVF+PQ replay (Ann.ivfPqTopK / PqIndex.searchIvfTopK): the
    * unrolled coarse Lloyd's (kmeansCtes) re-derives centers and list
    * assignments, residuals are exact BIGINT differences, the residual
    * codebooks train via pqCtes, probes come from the quantizer's own
    * exact metric, and each probed list scores against the table of
    * the query's PER-LIST residual. Non-probed lists never join an
    * ADC table — the probed-lists-only scan falls out of the join. */
  private def ivfPqOracleSql(nLists: Int, iters: Int, nProbe: Int,
                             m: Int, sub: Int, ksub: Int,
                             nCandidates: Int, k: Int): String =
    s"""WITH $vecCte,
       |${kmeansCtes(nLists, iters)},
       |asg AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |          FROM fd) WHERE rn = 1),
       |res AS (SELECT q.vec_id, asg.cid AS list_id,
       |               list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] - c.cv[i]) AS rv
       |        FROM q JOIN asg ON q.vec_id = asg.vec_id JOIN c$iters c ON asg.cid = c.cid),
       |${pqCtes(m, sub, ksub, iters, "res", "rv", "TRUE", carryListId = true)},
       |qd AS (SELECT c.cid,
       |              list_sum(list_transform(range(1, len(q0.qv) + 1),
       |                       i -> (q0.qv[i] - c.cv[i]) * (q0.qv[i] - c.cv[i]))) AS d2
       |       FROM c$iters c, (SELECT qv FROM q WHERE vec_id = 0) q0),
       |pr AS (SELECT cid FROM qd ORDER BY d2, cid LIMIT $nProbe),
       |qres AS (SELECT pr.cid AS list_id,
       |                list_transform(range(1, len(q0.qv) + 1), i -> q0.qv[i] - c.cv[i]) AS qrv
       |         FROM pr JOIN c$iters c ON pr.cid = c.cid,
       |              (SELECT qv FROM q WHERE vec_id = 0) q0),
       |qsvl AS (SELECT list_id, j, list_slice(qrv, j * $sub + 1, (j + 1) * $sub) AS sv
       |         FROM qres, unnest(generate_series(0, ${m - 1})) AS gj(j)),
       |adct AS (SELECT qsvl.list_id, c.j, c.cid,
       |         list_sum(list_transform(range(1, $sub + 1),
       |                  i -> (qsvl.sv[i] - c.cv[i]) * (qsvl.sv[i] - c.cv[i]))) AS ad
       |         FROM pc$iters c JOIN qsvl ON c.j = qsvl.j),
       |adcs AS (SELECT pcode.vec_id, sum(ad)::BIGINT AS adc
       |         FROM pcode JOIN adct ON pcode.list_id = adct.list_id
       |                             AND pcode.j = adct.j AND pcode.code = adct.cid
       |         WHERE pcode.vec_id != 0 GROUP BY 1),
       |cand AS (SELECT vec_id, adc FROM adcs ORDER BY adc ASC, vec_id ASC LIMIT $nCandidates),
       |qrow AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
       |SELECT b.vec_id, cand.adc,
       |       round(list_sum(list_transform(range(1, len(qrow.v) + 1),
       |             i -> qrow.v[i] * b.v[i])) / (qrow.nrm * b.nrm), 4) AS cos
       |FROM vn b JOIN cand ON b.vec_id = cand.vec_id, qrow
       |ORDER BY cos DESC, b.vec_id ASC LIMIT $k""".stripMargin

  /** IVF tuning-curve replay: the kmeansCtes chain re-derives centers
    * and assignments once; per grid point, probe selection + the
    * probed-lists exact top-k + overlap with the all-lists exact
    * ranking (`ex`) — the PqIndex.ivfTune union-of-configs plan in
    * SQL. */
  private def ivfTuneOracleSql(nLists: Int, iters: Int,
                               grid: Seq[Int], k: Int): String = {
    val rescore =
      """round(list_sum(list_transform(range(1, len(qrow.v) + 1),
        |             i -> qrow.v[i] * b.v[i])) / (qrow.nrm * b.nrm), 4)""".stripMargin
    val per = grid.map { np =>
      s"""pr$np AS (SELECT cid FROM qd ORDER BY d2, cid LIMIT $np),
         |t$np AS (SELECT b.vec_id FROM vn b
         |         JOIN asg ON b.vec_id = asg.vec_id
         |         JOIN pr$np ON asg.cid = pr$np.cid, qrow
         |         WHERE b.vec_id != 0
         |         ORDER BY $rescore DESC, b.vec_id ASC LIMIT $k),
         |r$np AS (SELECT ${np}::BIGINT AS n_probe, count(*)::BIGINT AS n_hits
         |         FROM t$np JOIN ex ON t$np.vec_id = ex.vec_id)""".stripMargin
    }.mkString(",\n")
    val union = grid.map(np => s"SELECT * FROM r$np").mkString(" UNION ALL ")
    s"""WITH $vecCte,
       |${kmeansCtes(nLists, iters)},
       |asg AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |          FROM fd) WHERE rn = 1),
       |qd AS (SELECT c.cid,
       |              list_sum(list_transform(range(1, len(q0.qv) + 1),
       |                       i -> (q0.qv[i] - c.cv[i]) * (q0.qv[i] - c.cv[i]))) AS d2
       |       FROM c$iters c, (SELECT qv FROM q WHERE vec_id = 0) q0),
       |qrow AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
       |ex AS (SELECT b.vec_id FROM vn b
       |       JOIN asg ON b.vec_id = asg.vec_id, qrow
       |       WHERE b.vec_id != 0
       |       ORDER BY $rescore DESC, b.vec_id ASC LIMIT $k),
       |$per
       |SELECT n_probe, n_hits, round(n_hits::DOUBLE / $k, 4) AS recall
       |FROM ($union)""".stripMargin
  }

  /** Unrolled k-core peeling over the verified near-dup pair graph:
    * each round recomputes degrees over the surviving edge set and
    * drops nodes under k — the exact replay of Graph.kcore's fixed
    * iteration budget. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $minhashCandCte,\n")
    // every e_i MUST be MATERIALIZED: round i+1 references e_i three
    // times, so letting the planner inline the chain expands the base
    // scan 3^rounds times (observed as an fd-exhaustion blowup)
    sb.append("e0 AS MATERIALIZED (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),")
    for (i <- 1 to rounds) {
      val p = s"e${i - 1}"
      sb.append(
        s"""
           |d$i AS (SELECT a, count(*) AS deg FROM
           |          (SELECT a, b FROM $p UNION ALL SELECT b, a FROM $p) GROUP BY a),
           |n$i AS MATERIALIZED (SELECT a AS node FROM d$i WHERE deg >= $k),
           |e$i AS MATERIALIZED (SELECT $p.a, $p.b FROM $p
           |        JOIN n$i na ON $p.a = na.node
           |        JOIN n$i nb ON $p.b = nb.node),""".stripMargin)
    }
    sb.append(
      s"""
         |fin AS (SELECT a, b FROM e$rounds)
         |SELECT a AS doc_id, count(*)::BIGINT AS degree
         |FROM (SELECT a, b FROM fin UNION ALL SELECT b, a FROM fin) GROUP BY 1""".stripMargin)
    sb.toString
  }

  /** Unrolled k-truss support peeling: each round enumerates triangles
    * over the surviving edges, counts per-edge support, and keeps
    * edges with support >= k-2 — Graph.ktruss's replay (MATERIALIZED
    * for the same inlining reason as the k-core oracle). */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $minhashCandCte,\n")
    sb.append("e0 AS MATERIALIZED (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),")
    def triSql(p: String) =
      s"""(SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM $p e1 JOIN $p e2 ON e1.b = e2.a
         |        WHERE EXISTS (SELECT 1 FROM $p e3
         |                      WHERE e3.a = e1.a AND e3.b = e2.b))""".stripMargin
    def supSql(t: String) =
      s"""(SELECT a, b, count(*) AS sup FROM
         |          (SELECT x AS a, y AS b FROM $t UNION ALL
         |           SELECT y, z FROM $t UNION ALL SELECT x, z FROM $t)
         |        GROUP BY 1, 2)""".stripMargin
    for (i <- 1 to rounds) {
      val p = s"e${i - 1}"
      sb.append(
        s"""
           |t$i AS MATERIALIZED ${triSql(p)},
           |s$i AS ${supSql(s"t$i")},
           |e$i AS MATERIALIZED (SELECT $p.a, $p.b FROM $p
           |       JOIN s$i ON $p.a = s$i.a AND $p.b = s$i.b AND s$i.sup >= ${k - 2}),""".stripMargin)
    }
    sb.append(
      s"""
         |tf AS MATERIALIZED ${triSql(s"e$rounds")},
         |sf AS ${supSql("tf")}
         |SELECT a AS doc_a, b AS doc_b, sup::BIGINT AS support FROM sf""".stripMargin)
    sb.toString
  }

  /** Recursive-CTE connected components over the exact all-pairs
    * cosine ≥ 0.45 graph on nonzero-norm vectors — the oracle twin of
    * Clustering.semanticClusters (whose LSH candidates + collapse are
    * pinned complete at gate SFs by ClusteringSpec). */
  private val semanticCcCte =
    s"""$vecCte,
       |nz AS (SELECT vec_id, v, nrm FROM vn WHERE nrm > 0),
       |spr AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |        FROM nz a JOIN nz b ON a.vec_id < b.vec_id
       |        WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
       |              / (a.nrm * b.nrm) >= 0.45),
       |se2 AS (SELECT va AS a, vb AS b FROM spr UNION SELECT vb AS a, va AS b FROM spr),
       |sr(node, reach) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM se2)
       |  UNION
       |  SELECT sr.node, se2.b FROM sr JOIN se2 ON sr.reach = se2.a),
       |scl AS (SELECT node AS vec_id, min(reach)::BIGINT AS cluster_id FROM sr GROUP BY node)""".stripMargin

  private val bm25Cte =
    s"""$dlCte,
       |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
       |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |         FROM dft, nd WHERE term IN ($queryTermsSql)),
       |scored AS (
       |  SELECT tf.doc_id,
       |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
       |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
       |  FROM tf
       |  JOIN idfq ON tf.term = idfq.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN avgd
       |  GROUP BY tf.doc_id)""".stripMargin

  /** Raw + kept term positions CTE mirroring Positional.termPositions
    * (0-based offsets into the raw whitespace token stream). */
  private val posCte =
    s"""praw AS (SELECT doc_id, toks[i] AS term, (i - 1)::BIGINT AS pos
       |         FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |         LATERAL unnest(generate_series(1, len(toks))) AS g(i)),
       |pkept AS (SELECT doc_id, term, pos FROM praw
       |          WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop))""".stripMargin

  /** Query-table BM25 top-k oracle — shared by the corpus-derived
    * (q_search_batch), staged-index (q_index_batch_search) and
    * streaming-serving (q_stream_search) routes, which must all
    * return identical rows. */
  /** Shared by q_perdoc_sink (batch) and q_stream_perdoc (streamed
    * micro-batches): both write {doc_id}.txt profile files whose
    * read-back char length must equal the relationally recomputed
    * "(term,tf)"-lines profile length. */
  private val perDocOracle =
    s"""WITH $tfCte,
       |p AS (SELECT doc_id,
       |        string_agg('(' || term || ',' || tf || ')', chr(10)
       |                   ORDER BY tf DESC, term ASC) AS profile
       |      FROM tf WHERE doc_id < 200 GROUP BY doc_id)
       |SELECT doc_id, length(profile)::BIGINT AS n_chars FROM p""".stripMargin

  private val batchSearchOracle = {
    val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH $dlCte,
       |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
       |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
       |qt AS (SELECT DISTINCT query_id, t AS term
       |       FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
       |       WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
       |idfq AS (SELECT term, df, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |         FROM dft, nd WHERE term IN (SELECT term FROM qt)),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
       |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
       |       FROM tf
       |       JOIN idfq ON tf.term = idfq.term
       |       JOIN qt ON qt.term = tf.term
       |       JOIN dl ON tf.doc_id = dl.doc_id
       |       CROSS JOIN avgd
       |       GROUP BY qt.query_id, tf.doc_id),
       |rk AS (SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)::INT AS rk
       |       FROM sc)
       |SELECT query_id, doc_id, score, rk FROM rk WHERE rk <= 10""".stripMargin
  }

  /** batchSearchOracle with the synonym-expansion CTE spliced in
    * front: expanded terms re-pass the keep predicate exactly as the
    * rewritten qtext re-tokenizes on the Spark side. */
  private val synonymSearchOracle = {
    val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    val synVals = graft.operators.SearchExtras.Synonyms
      .map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH $dlCte,
       |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
       |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
       |qt0 AS (SELECT DISTINCT query_id, t AS term
       |        FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
       |        WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
       |syn AS (SELECT * FROM (VALUES $synVals) AS s(term, syn)),
       |qt AS (SELECT DISTINCT query_id, term FROM (
       |         SELECT query_id, term FROM qt0
       |         UNION ALL
       |         SELECT qt0.query_id, syn.syn AS term FROM qt0
       |         JOIN syn ON qt0.term = syn.term
       |         WHERE length(syn.syn) >= ${Text.MinTokenLength}
       |           AND syn.syn NOT IN ($stop))),
       |idfq AS (SELECT term, df, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |         FROM dft, nd WHERE term IN (SELECT term FROM qt)),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
       |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
       |       FROM tf
       |       JOIN idfq ON tf.term = idfq.term
       |       JOIN qt ON qt.term = tf.term
       |       JOIN dl ON tf.doc_id = dl.doc_id
       |       CROSS JOIN avgd
       |       GROUP BY qt.query_id, tf.doc_id),
       |rk AS (SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)::INT AS rk
       |       FROM sc)
       |SELECT query_id, doc_id, score, rk FROM rk WHERE rk <= 10""".stripMargin
  }

  /** Query-table exact cosine top-k oracle — shared by the one-plan
    * batch (q_ann_batch) and per-micro-batch streamed (q_stream_ann)
    * routes, which must return identical rows. */
  private val annBatchOracle =
    s"""WITH $vecCte,
       |q AS (SELECT vec_id AS query_id, v, nrm FROM vn WHERE vec_id IN (0, 1, 2)),
       |s AS (SELECT q.query_id, b.vec_id,
       |        round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
       |              / (q.nrm * b.nrm), 4) AS cos
       |      FROM vn b, q WHERE b.vec_id != q.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                ORDER BY cos DESC, vec_id ASC) AS rk FROM s)
       |SELECT query_id, vec_id, cos, rk::BIGINT AS rk FROM r WHERE rk <= 10""".stripMargin

  /** The BPE merge loop as a single-row recursive CTE: state = the
    * whole word-frequency dictionary (a list of (syms, count) structs
    * riding ONE row) + the merges learned so far. Each step finds the
    * argmax adjacent pair by unnesting that list, then rewrites every
    * word with `replace()` over a delimiter-wrapped symbol string —
    * plain replace scans left-to-right and never rematches inside a
    * replacement, which IS BPE's non-overlapping rewrite rule (the
    * `(sym)` wrapping stops cross-boundary false matches that a bare
    * space join would allow on runs like "a a a a"). Mirrors
    * Bpe.learn's tie-break (-n, left, right) exactly.
    *
    * Charset contract: the corpus alphabet must (a) exclude '(' and
    * ')' — they are the symbol delimiters here, so a corpus word
    * containing either would mis-parse / false-match in `replace()` —
    * and (b) stay within the Basic Multilingual Plane, because DuckDB's
    * string_split(word,'') yields Unicode codepoints while Bpe.learn's
    * initial symbolization splits UTF-16 code units (a non-BMP char is
    * ONE symbol here but TWO surrogates there). The generated testdata
    * corpus is ASCII words, which satisfies both; feeding either side a
    * corpus that violates the contract diverges by construction, not by
    * bug. */
  private val bpeSelCte =
    """wc AS (SELECT word, count(*)::BIGINT AS wcount
      |       FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      |       WHERE length(word) > 0 GROUP BY 1),
      |init AS (SELECT list(struct_pack(syms := string_split(word, ''), c := wcount)
      |                     ORDER BY word) AS vocab FROM wc),
      |sel(it, vocab, merges) AS (
      |  SELECT 0, (SELECT vocab FROM init),
      |         []::STRUCT(l VARCHAR, r VARCHAR, n BIGINT)[]
      |  UNION ALL
      |  SELECT s.it + 1,
      |         list_transform(s.vocab, w -> struct_pack(
      |           syms := string_split(trim(replace(
      |             '(' || array_to_string(w.syms, ')(') || ')',
      |             '(' || b.l || ')(' || b.r || ')',
      |             '(' || b.l || b.r || ')'), '()'), ')('),
      |           c := w.c)),
      |         list_append(s.merges, struct_pack(l := b.l, r := b.r, n := b.n))
      |  FROM sel s, LATERAL (
      |    SELECT l, r, n FROM (
      |      SELECT p.l AS l, p.r AS r, sum(cc)::BIGINT AS n FROM (
      |        SELECT w.c AS cc,
      |               unnest(list_transform(range(1, len(w.syms)),
      |                      i -> struct_pack(l := w.syms[i], r := w.syms[i+1]))) AS p
      |        FROM (SELECT unnest(s.vocab) AS w))
      |      GROUP BY p.l, p.r)
      |    ORDER BY n DESC, l ASC, r ASC LIMIT 1) b
      |  WHERE s.it < 20)""".stripMargin

  /** The WordPiece variant of [[bpeSelCte]]: identical dictionary
    * state and rewrite, but each step's LATERAL picks the pair
    * maximizing count(pair) / (count(left)·count(right)) over the
    * CURRENT symbol sequences — the score is one IEEE division of
    * exact BIGINTs (products through DOUBLE, exactly rounded), so the
    * selection replays bit-identically; ties (l, r) asc. The symbol
    * counts are a second per-level scan of the vocab list — per-level
    * cost, not exponential re-expansion (sel itself is referenced
    * once per level). */
  private val wordpieceSelCte =
    """wc AS (SELECT word, count(*)::BIGINT AS wcount
      |       FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      |       WHERE length(word) > 0 GROUP BY 1),
      |init AS (SELECT list(struct_pack(syms := string_split(word, ''), c := wcount)
      |                     ORDER BY word) AS vocab FROM wc),
      |sel(it, vocab, merges) AS (
      |  SELECT 0, (SELECT vocab FROM init),
      |         []::STRUCT(l VARCHAR, r VARCHAR, n BIGINT, sc DOUBLE)[]
      |  UNION ALL
      |  SELECT s.it + 1,
      |         list_transform(s.vocab, w -> struct_pack(
      |           syms := string_split(trim(replace(
      |             '(' || array_to_string(w.syms, ')(') || ')',
      |             '(' || b.l || ')(' || b.r || ')',
      |             '(' || b.l || b.r || ')'), '()'), ')('),
      |           c := w.c)),
      |         list_append(s.merges, struct_pack(l := b.l, r := b.r, n := b.n, sc := b.sc))
      |  FROM sel s, LATERAL (
      |    WITH pc AS (
      |      SELECT p.l AS l, p.r AS r, sum(cc)::BIGINT AS n FROM (
      |        SELECT w.c AS cc,
      |               unnest(list_transform(range(1, len(w.syms)),
      |                      i -> struct_pack(l := w.syms[i], r := w.syms[i+1]))) AS p
      |        FROM (SELECT unnest(s.vocab) AS w))
      |      GROUP BY p.l, p.r),
      |    scnt AS (
      |      SELECT sym, sum(cc)::BIGINT AS cn FROM (
      |        SELECT w.c AS cc, unnest(w.syms) AS sym
      |        FROM (SELECT unnest(s.vocab) AS w))
      |      GROUP BY sym)
      |    SELECT pc.l AS l, pc.r AS r, pc.n AS n,
      |           pc.n::DOUBLE / (sl.cn::DOUBLE * sr.cn) AS sc
      |    FROM pc JOIN scnt sl ON pc.l = sl.sym
      |            JOIN scnt sr ON pc.r = sr.sym
      |    ORDER BY sc DESC, l ASC, r ASC LIMIT 1) b
      |  WHERE s.it < 20)""".stripMargin

  /** One unrolled hard-EM round of the unigram-LM trainer
    * ([[graft.operators.Unigram]]) as oracle CTEs, restructured in
    * r16 for ENGINE-VERSION PORTABILITY (the r15 driver hash-mismatch
    * was adjudicated as the oracle's recursive step evaluating
    * differently across DuckDB versions — the correlated
    * `ORDER BY cc, jj LIMIT 1` subquery and MAP lookups INSIDE the
    * recursion were the suspect construct class). The replay now uses
    * only elementary constructs in the recursive step:
    *
    *  - arcs are a DENSE per-word LIST of BIGINT costs indexed by
    *    `(end-1)·MaxPieceLen + len` (NULL where no vocab arc; the
    *    single-char slot falls back to the UNK cost), built OUTSIDE
    *    the recursion and equi-JOINed in — no MAP type, no correlated
    *    lookup;
    *  - the per-position argmin is `list_min` over a
    *    `list_transform(generate_series(...))` of PACKED BIGINTs
    *    `(cost·128 + j0)` — integer min IS the (cost asc, j0 asc)
    *    tie-break, exactly Spark's array_min on the (cost, j0) struct
    *    (128 > MaxWordLen+1 bounds j0; missing arcs cost a sentinel
    *    1e12 ≫ any reachable path cost ≤ MaxWordLen·Grid ≈ 6.4e10, so
    *    they never win — the UNK arc guarantees a real candidate);
    *  - the carried state `st` is a plain BIGINT list (packed), so
    *    the backward walk reads `st[pos+1] % 128` for the winning
    *    predecessor.
    *
    * Every quantity BIGINT — the grid contract that makes the replay
    * exact; max packed value (6.4e10 + 1e12)·128 ≈ 1.4e14 ≪ 2⁶³. */
  private def unigramSegRound(n: Int, vprev: String): String = {
    val g = graft.operators.Unigram.Grid
    val mp = graft.operators.Unigram.MaxPieceLen
    val pk = 128L          // packing radix: > MaxWordLen + 1 ≥ any j0
    val sent = 1000000000000L // absent-arc sentinel ≫ max path cost
    s"""arcs$n AS MATERIALIZED (
       |  SELECT word, freq,
       |         list(CASE WHEN len > e THEN NULL
       |                   WHEN len = 1 THEN coalesce(cost, $g)
       |                   ELSE cost END ORDER BY (e - 1) * $mp + len) AS arcs
       |  FROM (SELECT s.word, s.freq, s.e, s.len, v.cost
       |        FROM (SELECT w.word, w.freq, e.e, l.len,
       |                     substr(w.word, greatest(1, e.e - l.len + 1)::INT, l.len::INT) AS piece
       |              FROM uwc w,
       |                   unnest(generate_series(1, length(w.word))) AS e(e),
       |                   unnest(generate_series(1, $mp)) AS l(len)) s
       |        LEFT JOIN $vprev v ON s.len <= s.e AND v.piece = s.piece)
       |  GROUP BY word, freq),
       |dp$n(word, freq, pos, st) AS (
       |  SELECT word, freq, 0::BIGINT, [0::BIGINT] FROM arcs$n
       |  UNION ALL
       |  SELECT d.word, d.freq, d.pos + 1,
       |         list_append(d.st, list_min(list_transform(
       |           generate_series(greatest(1, d.pos + 2 - $mp), d.pos + 1),
       |           j0 -> (d.st[j0::INT] // $pk +
       |                  coalesce(a.arcs[(d.pos * $mp + d.pos + 2 - j0)::INT], $sent))
       |                 * $pk + j0)))
       |  FROM dp$n d JOIN arcs$n a USING (word) WHERE d.pos < length(d.word)
       |),
       |dpf$n AS MATERIALIZED (SELECT word, freq, st FROM dp$n WHERE pos = length(word)),
       |bk$n(word, freq, pos, pieces) AS (
       |  SELECT word, freq, length(word)::BIGINT, []::VARCHAR[] FROM uwc
       |  UNION ALL
       |  SELECT b.word, b.freq, d.st[(b.pos + 1)::INT] % $pk - 1,
       |         list_prepend(substr(b.word, (d.st[(b.pos + 1)::INT] % $pk)::INT,
       |                             (b.pos - d.st[(b.pos + 1)::INT] % $pk + 1)::INT), b.pieces)
       |  FROM bk$n b JOIN dpf$n d USING (word) WHERE b.pos > 0)""".stripMargin
  }

  /** Segmentation round + the E-step counts (in-vocab pieces only)
    * and the next round's M-step costs. */
  private def unigramEmRound(n: Int, vprev: String): String = {
    val g = graft.operators.Unigram.Grid
    s"""${unigramSegRound(n, vprev)},
       |c$n AS MATERIALIZED (
       |  SELECT piece, sum(freq)::BIGINT AS cnt FROM (
       |    SELECT unnest(pieces) AS piece, freq FROM bk$n WHERE pos = 0) s
       |  WHERE piece IN (SELECT piece FROM $vprev) GROUP BY 1),
       |v${n + 1} AS MATERIALIZED (
       |  SELECT piece, $g - cnt * $g // (SELECT sum(cnt)::BIGINT FROM c$n) AS cost FROM c$n)""".stripMargin
  }

  /** Shared head of the unigram oracles: kept-token word dict, seed
    * substring statistics capped at maxVocab (count desc, piece asc),
    * seed costs, then [[graft.operators.Unigram.EmRounds]] unrolled
    * EM rounds. */
  private val unigramCte: String = {
    val g = graft.operators.Unigram.Grid
    val mp = graft.operators.Unigram.MaxPieceLen
    val mw = graft.operators.Unigram.MaxWordLen
    val mv = 2048
    val rounds = (1 to graft.operators.Unigram.EmRounds)
      .map(n => unigramEmRound(n, s"v$n")).mkString(",\n")
    s"""$tfCte,
       |uwc AS MATERIALIZED (SELECT term AS word, count(*)::BIGINT AS freq
       |       FROM tok2 WHERE length(term) <= $mw GROUP BY 1),
       |usub AS (SELECT substr(word, t.j0::INT, l.len::INT) AS piece, freq
       |        FROM uwc, unnest(generate_series(1, length(word))) AS t(j0),
       |             unnest(generate_series(1, $mp)) AS l(len)
       |        WHERE t.j0 + l.len - 1 <= length(word)),
       |useedc AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM usub GROUP BY 1),
       |useed AS MATERIALIZED (SELECT piece, cnt FROM (
       |         SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk FROM useedc)
       |       WHERE rk <= $mv),
       |v1 AS MATERIALIZED (SELECT piece, $g - cnt * $g // (SELECT sum(cnt)::BIGINT FROM useed) AS cost FROM useed),
       |$rounds""".stripMargin
  }

  /** One epoch of the token-budget mixture plan materialized — shared
    * by the batch sampler and its streaming twin (the plan is fixed
    * before the drain; per-doc membership is stateless, so the union
    * over micro-batches equals the batch sample). */
  private lazy val budgetSampleOracle: String =
    s"""WITH $tfCte,
       |pd AS (SELECT doc_id, sum(tf)::BIGINT AS n_tok FROM tf GROUP BY doc_id),
       |ps AS (SELECT source, sum(n_tok)::BIGINT AS n_tokens
       |       FROM documents JOIN pd USING (doc_id) GROUP BY source),
       |tot AS (SELECT sum(pow(n_tokens::DOUBLE, 0.7)) AS sum_w FROM ps),
       |plan AS (SELECT source,
       |           least(1.0, round(floor(2000000.0 * (pow(n_tokens::DOUBLE, 0.7) / sum_w))
       |                            / n_tokens, 4)) AS rate
       |         FROM ps, tot),
       |u AS (SELECT doc_id, source,
       |             list_sum(list_transform(range(1, 9),
       |               j -> (strpos('0123456789abcdef',
       |                            substr(md5(doc_id::VARCHAR || ':budget'), j, 1)) - 1)::BIGINT
       |                    << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
       |      FROM documents)
       |SELECT doc_id, u.source FROM u JOIN plan ON u.source = plan.source
       |WHERE u.u < plan.rate""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_tokenize" ->
      s"WITH $tfCte SELECT doc_id, term FROM tok2",
    "q_tokenize_regex" ->
      s"""WITH rtok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
         |             FROM documents)
         |SELECT doc_id, term FROM rtok
         |WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)""".stripMargin,
    "q_tokenize_pos" ->
      s"""WITH $tfCte,
         |lex AS (SELECT * FROM (VALUES ${Text.posLexiconSqlValues}) AS v(term, tag))
         |SELECT t.doc_id, t.term, coalesce(l.tag, 'x') AS tag
         |FROM tok2 t LEFT JOIN lex l USING (term)
         |WHERE coalesce(l.tag, 'x') IN (${Text.PosWhitelist.map(t => s"'$t'").mkString(", ")})""".stripMargin,
    "q_wordcount" ->
      s"WITH $tfCte SELECT term, count(*)::BIGINT AS n FROM tok2 GROUP BY term",
    // the salted two-phase aggregation computes the SAME counts
    "q_wordcount_salted" ->
      s"WITH $tfCte SELECT term, count(*)::BIGINT AS n FROM tok2 GROUP BY term",
    "q_tf" ->
      s"WITH $tfCte SELECT doc_id, term, tf FROM tf",
    "q_topk_terms" ->
      s"""WITH $tfCte,
         |ranked AS (SELECT doc_id, term, tf,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC)::INT AS rk FROM tf)
         |SELECT doc_id, term, tf, rk FROM ranked WHERE rk <= ${Bm25.MaxWordCount}""".stripMargin,
    "q_df" ->
      s"WITH $tfCte SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term",
    "q_idf" ->
      s"""WITH $dlCte
         |SELECT term, df, round(ln(n_docs::DOUBLE / (df + 1)), 6) AS idf FROM dft, nd""".stripMargin,
    "q_tfidf" ->
      s"""WITH $dlCte,
         |idft AS (SELECT term, round(ln(n_docs::DOUBLE / (df + 1)), 6) AS idf FROM dft, nd)
         |SELECT tf.doc_id, tf.term, tf.tf, round(tf.tf * idft.idf, 6) AS tfidf
         |FROM tf JOIN idft ON tf.term = idft.term""".stripMargin,
    "q_doc_similar" ->
      s"""WITH $dlCte,
         |idft AS (SELECT term, round(ln(n_docs::DOUBLE / (df + 1)), 6) AS idf FROM dft, nd),
         |tt AS (SELECT tf.doc_id, tf.term,
         |         floor(round(tf.tf * idft.idf, 6) * 1000.0)::BIGINT AS v
         |       FROM tf JOIN idft ON tf.term = idft.term),
         |norms AS (SELECT doc_id, sum(v * v)::BIGINT AS n2 FROM tt GROUP BY doc_id),
         |q AS (SELECT term, v AS qv FROM tt WHERE doc_id = 0),
         |qn AS (SELECT n2 AS qn2 FROM norms WHERE doc_id = 0),
         |dots AS (SELECT tt.doc_id, sum(tt.v * q.qv)::BIGINT AS dot
         |         FROM tt JOIN q USING (term) WHERE tt.doc_id != 0 GROUP BY tt.doc_id)
         |SELECT d.doc_id,
         |       round(CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 4) AS cos
         |FROM dots d JOIN norms USING (doc_id), qn
         |ORDER BY cos DESC, d.doc_id ASC LIMIT 10""".stripMargin,
    "q_tfidf_ml" ->
      s"""WITH $tfCte,
         |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
         |ndall AS (SELECT count(*)::BIGINT AS n FROM documents)
         |SELECT tf.doc_id, tf.term, tf.tf,
         |       round(tf.tf * ln((n + 1.0) / (df + 1)), 6) AS tfidf_ml
         |FROM tf JOIN dft USING (term), ndall""".stripMargin,
    "q_doc_stats" ->
      s"""WITH $dlCte
         |SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_tokens,
         |       round(avg(dl), 6) AS avgdl FROM dl""".stripMargin,
    "q_bm25_score" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored",
    // the MLlib-pipeline route computes the SAME scores (shared contract)
    "q_bm25_ml" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored",
    // incremental build+update over a staged index scores the full
    // corpus identically (shared contract with q_bm25_score)
    "q_index_incremental" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored",
    // tombstone-delete serve == BM25 over the corpus MINUS the
    // deleted slice: every stat (df, n_docs, avgdl) re-derived from
    // the surviving docs, exactly the rebuild-without-them contract
    "q_index_delete" -> bm25MinusSliceOracle,
    // the streaming delete feed drains to the same store state as the
    // one-shot delete — shared oracle
    "q_stream_delete" -> bm25MinusSliceOracle,
    // DSv2 round trip reproduces the table it exported
    "q_source_dsv2" ->
      "SELECT doc_id, text FROM documents",
    // connector-write → connector-read round trip, same contract
    "q_sink_dsv2" ->
      "SELECT doc_id, text FROM documents",
    // per-doc file sink round trip: the read-back byte length of each
    // {doc_id}.txt must equal the relationally recomputed profile
    // length — "(term,tf)" lines, tf desc / term asc, '\n'-joined
    "q_perdoc_sink" -> perDocOracle,
    // streamed micro-batch per-doc writes converge to the batch files
    "q_stream_perdoc" -> perDocOracle,
    // BM25+ (Lv & Zhai): plain BM25 term contribution + idf·delta
    "q_bm25_plus" ->
      s"""WITH $dlCte,
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN ($queryTermsSql)),
         |sc AS (
         |  SELECT tf.doc_id,
         |         round(sum(idfq.idf * ((tf.tf * (${Bm25.K1} + 1.0)) /
         |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))
         |               + 1.0)), 4) AS score
         |  FROM tf
         |  JOIN idfq ON tf.term = idfq.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN avgd
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, score FROM sc""".stripMargin,
    "q_length_hist" ->
      s"""WITH $dlCte
         |SELECT (dl // 10 * 10)::BIGINT AS bucket, count(*)::BIGINT AS n_docs
         |FROM dl GROUP BY 1""".stripMargin,
    "q_search_topn" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10",
    // per-term decomposition of the top-10: the bm25 chain re-rolled
    // with the unrounded contribution kept per (doc, term); the top
    // cut replays q_search_topn's exactly
    "q_search_explain" ->
      s"""WITH $dlCte,
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN ($queryTermsSql)),
         |expl AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dft.df, dl.dl,
         |         idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
         |           (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl)) AS c
         |  FROM tf
         |  JOIN idfq ON tf.term = idfq.term
         |  JOIN dft ON tf.term = dft.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN avgd),
         |sc AS (SELECT doc_id, round(sum(c), 4) AS score FROM expl GROUP BY doc_id),
         |top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10)
         |SELECT e.doc_id, e.term, e.tf, e.df, e.dl,
         |       round(e.c, 4) AS contrib, t.score
         |FROM expl e JOIN top t ON e.doc_id = t.doc_id""".stripMargin,
    // MaxScore pruning is exact → same oracle as q_search_topn
    "q_search_maxscore" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10",
    // staged-index MaxScore serves the same exact top-k (shared oracle)
    "q_index_maxscore" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10",
    // the staged exact top-k → same exact top-k oracle
    "q_index_blockmax" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10",
    // a merged store serves identically to a full-corpus rebuild
    // (disjoint shards; stats re-derive) → same exact top-k oracle
    "q_index_merge" ->
      s"WITH $bm25Cte SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10",
    // snapshot diff: dfs re-derived from the two corpus slices the
    // pinned versions hold (4/5 vs full), deterministic cut
    "q_index_diff" ->
      s"""WITH ta AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df_a FROM (
         |        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |        FROM documents WHERE doc_id % 5 <> 0) t
         |      WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)
         |      GROUP BY term),
         |tb AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df_b FROM (
         |        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |        FROM documents) t
         |      WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)
         |      GROUP BY term),
         |j AS (SELECT coalesce(ta.term, tb.term) AS term,
         |        coalesce(ta.df_a, 0)::BIGINT AS df_a,
         |        coalesce(tb.df_b, 0)::BIGINT AS df_b
         |      FROM ta FULL OUTER JOIN tb ON ta.term = tb.term)
         |SELECT term, df_a, df_b, (df_b - df_a)::BIGINT AS delta
         |FROM j WHERE df_b - df_a <> 0
         |ORDER BY abs(df_b - df_a) DESC, term ASC LIMIT 10""".stripMargin,
    "q_search_batch" -> batchSearchOracle,
    "q_synonym_search" -> synonymSearchOracle,
    // the shared batch scoring replayed over the chunk relation:
    // passages key as doc_id*65536+chunk_id exactly as the plan does
    "q_passage_search" -> {
      val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
         |           FROM documents WHERE text IS NOT NULL),
         |ch AS (SELECT doc_id * 65536 + i AS pid,
         |              words[(i * 16 + 1):(i * 16 + 16)] AS cw
         |       FROM w, unnest(generate_series(0, (len(words) - 1) // 16)) AS g(i)),
         |tok AS (SELECT pid, unnest(cw) AS term FROM ch),
         |tok2 AS (SELECT pid, term FROM tok
         |         WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)),
         |tf AS (SELECT pid, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY 1, 2),
         |dl AS (SELECT pid, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
         |qt AS (SELECT DISTINCT query_id, t AS term
         |       FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
         |       WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
         |idfq AS (SELECT term, df, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN (SELECT term FROM qt)),
         |sc AS (SELECT qt.query_id, tf.pid,
         |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
         |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
         |       FROM tf
         |       JOIN idfq ON tf.term = idfq.term
         |       JOIN qt ON qt.term = tf.term
         |       JOIN dl ON tf.pid = dl.pid
         |       CROSS JOIN avgd
         |       GROUP BY qt.query_id, tf.pid),
         |rk AS (SELECT query_id, pid, score,
         |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, pid ASC)::INT AS rk
         |       FROM sc)
         |SELECT query_id, (pid // 65536)::BIGINT AS doc_id,
         |       (pid % 65536)::BIGINT AS chunk_id, score, rk
         |FROM rk WHERE rk <= 10""".stripMargin
    },
    // the staged-index and streaming-serving routes return the SAME
    // rows as the corpus-derived batch search (shared contract)
    "q_index_batch_search" -> batchSearchOracle,
    "q_stream_search" -> batchSearchOracle,
    "q_hybrid_rrf" ->
      s"""WITH $bm25Cte, $vecCte,
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rb
         |        FROM (SELECT doc_id AS id, score FROM scored
         |              ORDER BY score DESC, doc_id ASC LIMIT ${Hybrid.FusionDepth}) tb),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |cr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rc
         |       FROM (SELECT id, cos FROM cosall
         |             ORDER BY cos DESC, id ASC LIMIT ${Hybrid.FusionDepth}) tc),
         |f AS (SELECT coalesce(bmr.id, cr.id) AS doc_id,
         |        round(coalesce(1.0 / (60 + rb), 0) + coalesce(1.0 / (60 + rc), 0), 6) AS rrf
         |      FROM bmr FULL JOIN cr ON bmr.id = cr.id)
         |SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,
    // positions never collide across runs (parity), src = pos parity
    "q_interleave" ->
      s"""WITH $bm25Cte, $vecCte,
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rb
         |        FROM (SELECT doc_id AS id, score FROM scored
         |              ORDER BY score DESC, doc_id ASC LIMIT ${Hybrid.FusionDepth}) tb),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |cr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rc
         |       FROM (SELECT id, cos FROM cosall
         |             ORDER BY cos DESC, id ASC LIMIT ${Hybrid.FusionDepth}) tc),
         |u AS (SELECT id AS doc_id, 2 * rb - 1 AS pos FROM bmr
         |      UNION ALL SELECT id, 2 * rc FROM cr),
         |m AS (SELECT doc_id, min(pos)::BIGINT AS pos FROM u GROUP BY 1)
         |SELECT doc_id, pos,
         |       CASE WHEN pos % 2 = 1 THEN 'lex' ELSE 'dense' END AS src
         |FROM m ORDER BY pos ASC, doc_id ASC LIMIT 10""".stripMargin,
    // tv folds over the class's own items; complement mass closed-form
    "q_t_closeness" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |             user_id, json_extract_string(props, '$.k')::BIGINT AS item
        |           FROM events),
        |cls AS (SELECT event_type, day, item, count(*)::BIGINT AS n
        |        FROM e GROUP BY 1, 2, 3),
        |us AS (SELECT event_type, day, count(DISTINCT user_id)::BIGINT AS n_users
        |       FROM e GROUP BY 1, 2),
        |tot AS (SELECT event_type, day, sum(n)::BIGINT AS nc FROM cls GROUP BY 1, 2),
        |gl AS (SELECT item, count(*)::BIGINT AS g FROM e GROUP BY 1),
        |na AS (SELECT count(*)::BIGINT AS nn FROM e),
        |ag AS (SELECT cls.event_type, cls.day, count(*)::BIGINT AS n_items,
        |         sum(abs(cls.n::DOUBLE / tot.nc - gl.g::DOUBLE / na.nn)) AS s1,
        |         sum(gl.g::DOUBLE / na.nn) AS s2
        |       FROM cls JOIN tot ON cls.event_type = tot.event_type AND cls.day = tot.day
        |                JOIN gl ON cls.item = gl.item, na
        |       GROUP BY 1, 2)
        |SELECT ag.event_type, ag.day, us.n_users, ag.n_items,
        |       round(0.5 * (s1 + 1.0 - s2), 6) AS tv,
        |       (us.n_users >= 5 AND 0.5 * (s1 + 1.0 - s2) <= 0.5) AS released
        |FROM ag JOIN us ON ag.event_type = us.event_type AND ag.day = us.day""".stripMargin,
    "q_postings" ->
      s"""WITH $tfCte
         |SELECT term, count(*)::BIGINT AS df,
         |       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
         |FROM tf GROUP BY term HAVING count(*) <= 1000""".stripMargin,
    "q_idf_upsert" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, value, epoch_ms(ts) AS ts_ms,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type, round(value, 6) AS last_value, ts_ms AS last_ts_ms
        |FROM ranked WHERE rn = 1""".stripMargin,

    // ---- Relational / OLAP (money math via floor-micros, SURVEY §6) ----
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(floor(l_quantity * 1000000.0)::BIGINT)::BIGINT AS sum_qty_micros,
        |       sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS sum_base_micros,
        |       sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS sum_disc_micros,
        |       count(*)::BIGINT AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_multi" ->
      """SELECT n_name,
        |       sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q_shipping_priority" ->
      """SELECT l_orderkey,
        |       sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros,
        |       epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_micros DESC, o_orderdate_ms ASC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q_large_volume" ->
      """WITH q AS (
        |  SELECT l_orderkey, sum(floor(l_quantity * 1000000.0)::BIGINT)::BIGINT AS sum_qty_micros
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(floor(l_quantity * 1000000.0)::BIGINT) > 300000000)
        |SELECT o_orderkey, o_custkey,
        |       floor(o_totalprice * 1000000.0)::BIGINT AS totalprice_micros, sum_qty_micros
        |FROM q JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q_above_avg" ->
      """WITH w AS (
        |  SELECT o_orderkey, o_custkey,
        |         floor(o_totalprice * 1000000.0)::BIGINT AS totalprice_micros,
        |         avg(floor(o_totalprice * 1000000.0)::BIGINT)
        |           OVER (PARTITION BY o_custkey) AS cust_avg_micros
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, totalprice_micros,
        |       round(cust_avg_micros, 2) AS cust_avg_micros
        |FROM w WHERE totalprice_micros > cust_avg_micros""".stripMargin,
    "q_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, o_orderkey,
        |       row_number() OVER w AS order_rank,
        |       sum(floor(o_totalprice * 1000000.0)::BIGINT)
        |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS running_spend_micros
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,
    "q_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users, count(*)::BIGINT AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)""".stripMargin,
    "q_antijoin" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
    "q_union" ->
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |       sum(floor(l_quantity * 1000000.0)::BIGINT)::BIGINT AS sum_qty_micros
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |       sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
        |       sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_finished
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_json" ->
      """SELECT event_type, sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k, count(*)::BIGINT AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_time_window" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms, event_type,
        |       count(*)::BIGINT AS n,
        |       sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS sum_value_micros
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |         lag(epoch_ns(ts)) OVER w AS prev_tns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, event_id, tns,
        |         CASE WHEN prev_tns IS NULL OR tns - prev_tns > 1800000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM g),
        |t AS (
        |  SELECT user_id, event_id, tns,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY tns ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
        |  FROM s)
        |SELECT user_id, session_id, count(*)::BIGINT AS n_events,
        |       min(tns // 1000000)::BIGINT AS start_ms, max(tns // 1000000)::BIGINT AS end_ms
        |FROM t GROUP BY user_id, session_id""".stripMargin,
    // overlap replayed as the GENERIC interval predicate (a.start <=
    // b.end AND b.start <= a.end) — the binned equi-join must select
    // exactly the same pairs
    "q_interval_join" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |         lag(epoch_ns(ts)) OVER w AS prev_tns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, event_id, tns,
        |         CASE WHEN prev_tns IS NULL OR tns - prev_tns > 1800000000000 THEN 1 ELSE 0 END AS is_new
        |  FROM g),
        |t AS (
        |  SELECT user_id, event_id, tns,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY tns ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
        |  FROM s),
        |sess AS (SELECT user_id, session_id,
        |                min(tns // 1000000)::BIGINT AS start_ms,
        |                max(tns // 1000000)::BIGINT AS end_ms
        |         FROM t GROUP BY 1, 2),
        |hourly AS (SELECT epoch_ns(ts) // 3600000000000 AS hour, count(*)::BIGINT AS cnt
        |           FROM events GROUP BY 1),
        |avgc AS (SELECT avg(cnt) AS avg_cnt FROM hourly),
        |hot AS (SELECT hour, hour * 3600000 AS w_start_ms,
        |               (hour + 1) * 3600000 - 1 AS w_end_ms
        |        FROM hourly, avgc WHERE cnt >= 1.25 * avg_cnt)
        |SELECT h.hour::BIGINT AS hour, count(*)::BIGINT AS n_sessions,
        |       count(DISTINCT se.user_id)::BIGINT AS n_users
        |FROM sess se JOIN hot h
        |  ON se.start_ms <= h.w_end_ms AND h.w_start_ms <= se.end_ms
        |GROUP BY 1""".stripMargin,
    "q_stats_profile" ->
      """SELECT event_type, count(*)::BIGINT AS n, count(DISTINCT user_id)::BIGINT AS n_users,
        |       round(avg(value), 6) AS avg_value,
        |       round(stddev_samp(value), 6) AS stddev_value,
        |       round(min(value), 6) AS min_value,
        |       round(max(value), 6) AS max_value,
        |       round(quantile_cont(value, 0.5), 6) AS median_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q_table_profile" -> {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      cols.map(c =>
        s"""SELECT '$c' AS "column", (count(*) - count($c))::BIGINT AS n_nulls,
           |       count(DISTINCT $c)::BIGINT AS n_distinct FROM events""".stripMargin)
        .mkString("\nUNION ALL\n")
    },
    // q_approx_distinct / q_approx_quantiles: HLL++/GK sketch internals
    // are engine-specific → rows-only; error bounds vs the exact forms
    // are asserted in SketchesSpec. The md5-derived sketches below
    // (CMS heavy hitters, KMV cardinality) ARE replayable → hash-checked.
    "q_heavy_hitters" ->
      s"""WITH $tfCte,
         |hs AS (SELECT term, r,
         |         list_sum(list_transform(range(1, 9),
         |           j -> (strpos('0123456789abcdef',
         |                        substr(md5(r::VARCHAR || ':' || term), j, 1)) - 1)::BIGINT
         |                << ((8 - j) * 4))) % 2048 AS bucket
         |       FROM tok2, unnest(generate_series(0, 3)) AS t(r)),
         |counters AS (SELECT r, bucket, count(*)::BIGINT AS cnt FROM hs GROUP BY 1, 2),
         |total AS (SELECT sum(cnt)::BIGINT AS n FROM counters WHERE r = 0),
         |est AS (SELECT term, min(cnt)::BIGINT AS est_count
         |        FROM (SELECT DISTINCT term, r, bucket FROM hs) h
         |        JOIN counters USING (r, bucket)
         |        GROUP BY term)
         |SELECT term, est_count FROM est, total WHERE est_count >= 0.01 * n""".stripMargin,
    "q_kmv_distinct" ->
      """WITH dh AS (SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h FROM events),
        |cnt AS (SELECT event_type, count(*)::BIGINT AS exact_users FROM dh GROUP BY 1),
        |rk AS (SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM dh),
        |kth AS (SELECT event_type, h FROM rk WHERE rn = 64)
        |SELECT c.event_type,
        |       round(CASE WHEN c.exact_users < 64 THEN c.exact_users::DOUBLE
        |             ELSE 63.0 / (list_sum(list_transform(range(1, 16),
        |                    j -> (strpos('0123456789abcdef', substr(k.h, j, 1)) - 1)::BIGINT
        |                         << ((15 - j) * 4)))::DOUBLE / 1152921504606846976.0)
        |             END, 4) AS kmv_users,
        |       c.exact_users
        |FROM cnt c LEFT JOIN kth k USING (event_type)""".stripMargin,
    "q_kmv_sample" ->
      """WITH h AS (SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h FROM events),
        |r AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h)
        |SELECT event_type, string_agg(h, ',' ORDER BY h) AS sample_hashes
        |FROM r WHERE rn <= 8 GROUP BY event_type""".stripMargin,
    "q_asof" ->
      """WITH pc AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         max(CASE WHEN event_type = 'click'
        |                  THEN struct_pack(ts := ts, event_id := event_id) END)
        |           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ref
        |  FROM pc)
        |SELECT user_id, event_id AS purchase_event_id,
        |       epoch_ns(ts) // 1000000 AS purchase_ts_ms,
        |       (click_ref).event_id AS click_event_id,
        |       epoch_ns((click_ref).ts) // 1000000 AS click_ts_ms
        |FROM w WHERE event_type = 'purchase'""".stripMargin,
    // grp_id from the ANSI convention via explicit CASE (bit = 1 when
    // the dimension is aggregated away; source columns are non-null)
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |        + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS grp_id,
        |       count(*)::BIGINT AS n,
        |       sum(floor(l_quantity * 1000000.0)::BIGINT)::BIGINT AS sum_qty_micros
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        |       sum(floor(l_quantity * 1000000.0)::BIGINT)::BIGINT AS sum_qty_micros
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q_outer_join" ->
      """WITH od AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day, count(*)::BIGINT AS n_orders
        |            FROM orders GROUP BY 1),
        |     ld AS (SELECT epoch_ms(l_shipdate) // 86400000 AS day, count(*)::BIGINT AS n_ships
        |            FROM lineitem GROUP BY 1)
        |SELECT coalesce(od.day, ld.day)::BIGINT AS day, n_orders, n_ships
        |FROM od FULL JOIN ld ON od.day = ld.day""".stripMargin,
    "q_range_join" ->
      """WITH bands AS (SELECT * FROM (VALUES
        |    (1::BIGINT, 0.0, 20000.0), (2::BIGINT, 20000.0, 55000.0),
        |    (3::BIGINT, 55000.0, 90000.0), (4::BIGINT, 90000.0, 200000.0)) AS b(band_id, lo, hi))
        |SELECT band_id, count(*)::BIGINT AS n,
        |       sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS sum_price_micros
        |FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band_id""".stripMargin,
    "q_corr" ->
      s"""WITH s AS (
         |  SELECT l_returnflag, count(*)::BIGINT AS n,
         |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
         |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |       round(${Relational.CorrExpr}, 6) AS corr_qty_price,
         |       round(${Relational.CovarExpr}, 6) AS covar_qty_price
         |FROM s""".stripMargin,
    "q_ntile" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |                  floor(o_totalprice * 1000000.0)::BIGINT AS totalprice_micros
        |           FROM orders)
        |SELECT o_orderkey, o_custkey, totalprice_micros,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       CAST(lag(totalprice_micros, 1) OVER w - totalprice_micros AS BIGINT) AS gap_micros
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY totalprice_micros DESC, o_orderkey ASC)""".stripMargin,
    "q_outliers" ->
      """WITH e AS (SELECT event_id, event_type, floor(value * 1000.0)::BIGINT AS v_milli FROM events),
        |     s AS (SELECT event_type, count(*)::BIGINT AS n, sum(v_milli)::BIGINT AS s1,
        |                  sum(v_milli * v_milli)::BIGINT AS s2
        |           FROM e GROUP BY event_type)
        |SELECT event_id, e.event_type, v_milli
        |FROM e JOIN s ON e.event_type = s.event_type
        |WHERE CAST(n * v_milli - s1 AS DOUBLE) * CAST(n * v_milli - s1 AS DOUBLE)
        |      > 4.0 * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))""".stripMargin,
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |       - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS island
        |       FROM events)
        |SELECT user_id, event_type,
        |       min(epoch_ns(ts) // 1000000)::BIGINT AS valid_from_ms,
        |       max(epoch_ns(ts) // 1000000)::BIGINT AS valid_to_ms,
        |       count(*)::BIGINT AS n_events
        |FROM e GROUP BY user_id, event_type, island""".stripMargin,
    "q_percentiles" ->
      """WITH e AS (SELECT event_type, floor(value * 1000000.0)::BIGINT AS v_micros FROM events)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       round(quantile_cont(v_micros, 0.5), 4) AS p50_micros,
        |       round(quantile_cont(v_micros, 0.9), 4) AS p90_micros,
        |       round(quantile_cont(v_micros, 0.99), 4) AS p99_micros
        |FROM e GROUP BY event_type""".stripMargin,
    "q_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros
        |  FROM lineitem GROUP BY l_suppkey),
        |mx AS (SELECT max(revenue_micros) AS m FROM rev)
        |SELECT s_suppkey, s_name, revenue_micros
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey, mx
        |WHERE revenue_micros = m""".stripMargin,
    "q_part_supplier" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150.0""".stripMargin,
    "q_bool_agg" ->
      """SELECT o_custkey, bool_or(o_totalprice > 300000.0) AS has_big_order,
        |       bool_and(o_orderstatus = 'O') AS all_open,
        |       count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q_fuzzy" ->
      """SELECT p_partkey, p_name, levenshtein(p_name, 'red widget')::BIGINT AS dist
        |FROM part WHERE levenshtein(p_name, 'red widget') <= 5""".stripMargin,
    "q_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t2.t2 GROUP BY e.user_id)
        |SELECT '1_signup' AS step, count(*)::BIGINT AS n_users FROM t1
        |UNION ALL SELECT '2_click', count(*)::BIGINT FROM t2
        |UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM t3""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, e.day - cohort_day AS day_offset,
        |       count(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, ts, event_id, value
        |           FROM events),
        |dv AS (SELECT user_id, day, value AS day_value
        |       FROM (SELECT user_id, day, value,
        |               row_number() OVER (PARTITION BY user_id, day
        |                                  ORDER BY ts DESC, event_id DESC) AS rn
        |             FROM e)
        |       WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
        |         FROM e GROUP BY user_id)
        |SELECT g.user_id, g.day, dv.day_value IS NOT NULL AS observed,
        |       round(last_value(dv.day_value IGNORE NULLS)
        |             OVER (PARTITION BY g.user_id ORDER BY g.day ASC
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled_value
        |FROM grid g LEFT JOIN dv ON g.user_id = dv.user_id AND g.day = dv.day""".stripMargin,
    "q_moving_avg" ->
      """WITH byday AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |         sum(floor(o_totalprice * 1000000.0)::BIGINT)::BIGINT AS rev_micros
        |  FROM orders GROUP BY 1)
        |SELECT day, rev_micros,
        |       count(*) OVER w AS n_days_in_window,
        |       round(CAST(sum(rev_micros) OVER w AS DOUBLE) / (count(*) OVER w), 4) AS ma7_micros
        |FROM byday
        |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_rolling_median" ->
      """WITH byday AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |         sum(floor(o_totalprice * 1000000.0)::BIGINT)::BIGINT AS rev_micros
        |  FROM orders GROUP BY 1)
        |SELECT day, rev_micros,
        |       round(median(rev_micros) OVER (ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7_micros
        |FROM byday""".stripMargin,
    // calendar-exact lag pairs (equi-join on day+lag, not a ROWS lag)
    "q_acf" ->
      """WITH byday AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |         sum(floor(o_totalprice * 1000000.0)::BIGINT)::DOUBLE / 1e6 AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT lag FROM generate_series(1, 7) AS t(lag)),
        |p AS (SELECT l.lag::BIGINT AS lag, a.rev AS x, b.rev AS y
        |      FROM byday a CROSS JOIN l
        |      JOIN byday b ON b.day = a.day + l.lag)
        |SELECT lag, count(*)::BIGINT AS n_pairs, round(corr(x, y), 6) AS acf
        |FROM p GROUP BY 1""".stripMargin,
    "q_assoc_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |supp AS (SELECT l_partkey, count(*)::BIGINT AS n FROM it GROUP BY 1),
        |no AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM it),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_both
        |      FROM it a JOIN it b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |r AS (SELECT pa AS antecedent, pb AS consequent, n_both FROM p
        |      UNION ALL SELECT pb, pa, n_both FROM p),
        |j AS (SELECT r.antecedent, r.consequent, r.n_both, sa.n AS n_ante,
        |        round(r.n_both::DOUBLE / sa.n, 6) AS confidence,
        |        round(r.n_both::DOUBLE * no.n_orders / (sa.n * sc.n), 6) AS lift
        |      FROM r JOIN supp sa ON r.antecedent = sa.l_partkey
        |             JOIN supp sc ON r.consequent = sc.l_partkey, no)
        |SELECT antecedent, consequent, n_both, n_ante, confidence, lift FROM j
        |ORDER BY confidence DESC, antecedent ASC, consequent ASC LIMIT 15""".stripMargin,
    "q_chi2" ->
      """WITH obs AS (SELECT lang, source, count(*)::BIGINT AS o
        |             FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o)::BIGINT AS rt FROM obs GROUP BY 1),
        |ct AS (SELECT source, sum(o)::BIGINT AS ct FROM obs GROUP BY 1),
        |n AS (SELECT sum(o)::BIGINT AS n FROM obs),
        |cells AS (SELECT rt.lang, ct.source, rt.rt, ct.ct, n.n,
        |            coalesce(obs.o, 0)::BIGINT AS o,
        |            rt.rt::DOUBLE * ct.ct / n.n AS e
        |          FROM rt CROSS JOIN ct CROSS JOIN n
        |          LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source),
        |a AS (SELECT count(DISTINCT lang)::BIGINT AS n_langs,
        |        count(DISTINCT source)::BIGINT AS n_sources,
        |        sum((o - e) * (o - e) / e) AS x2,
        |        max(n)::BIGINT AS nn
        |      FROM cells)
        |SELECT n_langs, n_sources,
        |       (n_langs - 1) * (n_sources - 1) AS dof,
        |       round(x2, 6) AS chi2,
        |       round(sqrt(x2 / (nn * least(n_langs - 1, n_sources - 1))), 6) AS cramers_v
        |FROM a""".stripMargin,
    "q_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn, value FROM events),
        |w AS (SELECT user_id, value, tsn,
        |        lead(tsn) OVER (PARTITION BY user_id
        |                        ORDER BY tsn ASC, event_id ASC) AS next_ts
        |      FROM e),
        |f AS (SELECT user_id, value, next_ts - tsn AS dns,
        |        (next_ts - tsn)::DOUBLE / 1e9 AS dt
        |      FROM w WHERE next_ts IS NOT NULL)
        |SELECT user_id, (count(*) + 1)::BIGINT AS n_events,
        |       round(sum(dns)::DOUBLE / 1e9, 6) AS span_sec,
        |       round(sum(value * dt) / (sum(dns)::DOUBLE / 1e9), 6) AS twa
        |FROM f GROUP BY 1""".stripMargin,

    // ---- LLM-training-data pipeline (SURVEY §2 #26-37) ----
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id)::BIGINT AS canonical_doc_id,
        |       count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_drop" ->
      s"""WITH ${minhashCandCteFor(canonRel)},
         |losers AS (SELECT DISTINCT doc_b AS doc_id FROM ver),
         |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT d.doc_id, d.n_chars FROM documents d
         |JOIN canon USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,
    "q_dedup_verified" ->
      s"""WITH $minhashCandCte
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM ver""".stripMargin,
    // a merged pair substrate serves the full-corpus pair relation
    // identically (cross-shard pairs discovered at merge; shared
    // contract with the incremental/compact legs)
    "q_dedup_merge" ->
      s"""WITH $minhashCandCte
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM ver""".stripMargin,
    // incremental build+update of the staged substrate serves the
    // full-corpus pair relation identically (shared contract)
    "q_dedup_store_incremental" ->
      s"""WITH $minhashCandCte
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM ver""".stripMargin,
    // compaction changes no served pair (shared contract)
    "q_dedup_store_compact" ->
      s"""WITH $minhashCandCte
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM ver""".stripMargin,
    // tombstone+re-elect delete serves corpus-minus-slice: the SAME
    // minhash pipeline replayed over the surviving documents
    "q_dedup_store_delete" ->
      s"""WITH ${minhashCandCteFor("(SELECT * FROM documents WHERE doc_id % 10 <> 7)")}
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM ver""".stripMargin,
    // signature-agreement estimate over candidate pairs beside the
    // UNthresholded exact Jaccard (cinter/csizes, pre-`ver` cut);
    // disjoint-shingle banding collisions coalesce to exact 0.0
    "q_minhash_est" ->
      s"""WITH $minhashCanonCte,
         |je AS (SELECT i.doc_a, i.doc_b,
         |         i.inter::DOUBLE / (na.n_sh + nb.n_sh - i.inter) AS j
         |       FROM cinter i
         |       JOIN csizes na ON i.doc_a = na.doc_id
         |       JOIN csizes nb ON i.doc_b = nb.doc_id),
         |est AS (SELECT c.doc_a, c.doc_b,
         |          sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)::DOUBLE / 16 AS e
         |        FROM cand c
         |        JOIN sig sa ON sa.doc_id = c.doc_a
         |        JOIN sig sb ON sb.doc_id = c.doc_b AND sa.p = sb.p
         |        GROUP BY 1, 2)
         |SELECT est.doc_a, est.doc_b, round(est.e, 4) AS est_jaccard,
         |       coalesce(round(je.j, 4), 0.0) AS jaccard
         |FROM est LEFT JOIN je
         |  ON est.doc_a = je.doc_a AND est.doc_b = je.doc_b""".stripMargin,
    // connected components = min doc_id over the transitive closure of
    // the duplicate graph: verified near-dup pairs PLUS exact-copy
    // pairs (copies too short to shingle still duplicate each other).
    // Recursive CTE — exact, engine-agnostic.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCandCte,
         |exd AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
         |        FROM documents),
         |expairs AS (SELECT canon AS doc_a, doc_id AS doc_b FROM exd WHERE doc_id <> canon),
         |e2 AS (SELECT doc_a AS a, doc_b AS b FROM ver
         |       UNION SELECT doc_b AS a, doc_a AS b FROM ver
         |       UNION SELECT doc_a AS a, doc_b AS b FROM expairs
         |       UNION SELECT doc_b AS a, doc_a AS b FROM expairs),
         |r(doc, reach) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
         |  UNION
         |  SELECT r.doc, e2.b FROM r JOIN e2 ON r.reach = e2.a)
         |SELECT doc AS doc_id, min(reach)::BIGINT AS cluster_id FROM r GROUP BY doc""".stripMargin,
    // the same transitive closure, rolled to the cluster-size histogram
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashCandCte,
         |exd AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
         |        FROM documents),
         |expairs AS (SELECT canon AS doc_a, doc_id AS doc_b FROM exd WHERE doc_id <> canon),
         |e2 AS (SELECT doc_a AS a, doc_b AS b FROM ver
         |       UNION SELECT doc_b AS a, doc_a AS b FROM ver
         |       UNION SELECT doc_a AS a, doc_b AS b FROM expairs
         |       UNION SELECT doc_b AS a, doc_a AS b FROM expairs),
         |r(doc, reach) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
         |  UNION
         |  SELECT r.doc, e2.b FROM r JOIN e2 ON r.reach = e2.a),
         |cl AS (SELECT doc AS doc_id, min(reach)::BIGINT AS cluster_id FROM r GROUP BY doc),
         |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM cs GROUP BY 1""".stripMargin,
    // the kmeans assignment chain rolled to per-cluster size + inertia
    "q_kmeans_inertia" ->
      s"""WITH ${kmeansCtes(8, 2)},
         |asg AS (SELECT vec_id, cid, d2 FROM (
         |          SELECT vec_id, cid, d2,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |          FROM fd) WHERE rn = 1)
         |SELECT cid::BIGINT AS cluster_id, count(*)::BIGINT AS n_points,
         |       sum(d2)::BIGINT AS inertia FROM asg GROUP BY 1""".stripMargin,
    // the same transitive closure, finished with the keep decision:
    // rank-1 by (n_chars desc, doc_id asc) per cluster, loners keep
    // themselves
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCandCte,
         |exd AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
         |        FROM documents),
         |expairs AS (SELECT canon AS doc_a, doc_id AS doc_b FROM exd WHERE doc_id <> canon),
         |e2 AS (SELECT doc_a AS a, doc_b AS b FROM ver
         |       UNION SELECT doc_b AS a, doc_a AS b FROM ver
         |       UNION SELECT doc_a AS a, doc_b AS b FROM expairs
         |       UNION SELECT doc_b AS a, doc_a AS b FROM expairs),
         |r(doc, reach) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
         |  UNION
         |  SELECT r.doc, e2.b FROM r JOIN e2 ON r.reach = e2.a),
         |cl AS (SELECT doc AS doc_id, min(reach)::BIGINT AS cluster_id FROM r GROUP BY doc),
         |best AS (SELECT doc_id, cluster_id FROM (
         |  SELECT cl.doc_id, cl.cluster_id,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |                            ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk
         |  FROM cl JOIN documents d USING (doc_id)) WHERE rk = 1)
         |SELECT doc_id, cluster_id FROM best
         |UNION ALL
         |SELECT doc_id, doc_id AS cluster_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl)""".stripMargin,
    // cross-document duplicated spans: distinct-doc count >= 2 (same-
    // doc repetition is a quality signal, not duplication)
    "q_dedup_spans" ->
      s"""WITH ${spanCte(8)}
         |SELECT span_md5, count(DISTINCT doc_id)::BIGINT AS n_docs,
         |       count(*)::BIGINT AS n_occ
         |FROM sp GROUP BY span_md5
         |HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    // per-doc roll-up of the same dup-span set; docs too short to
    // window (including NULL text) carry zero windows and keep = true
    "q_span_flag" ->
      s"""WITH ${spanCte(8)},
         |d AS (SELECT span_md5 FROM sp GROUP BY span_md5
         |      HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT sp.doc_id, count(*)::BIGINT AS n_windows,
         |             count(d.span_md5)::BIGINT AS n_dup_windows
         |      FROM sp LEFT JOIN d ON sp.span_md5 = d.span_md5
         |      GROUP BY sp.doc_id)
         |SELECT documents.doc_id, coalesce(f.n_windows, 0)::BIGINT AS n_windows,
         |       coalesce(f.n_dup_windows, 0)::BIGINT AS n_dup_windows,
         |       coalesce(f.n_dup_windows, 0) = 0 AS keep
         |FROM documents LEFT JOIN f ON documents.doc_id = f.doc_id""".stripMargin,
    // scrub every non-first occurrence (first = (doc_id, pos)-lex min
    // per span, row_number replayed) in the normalized token space;
    // empty-after-scrub docs are '' (array_to_string [] is NULL in
    // DuckDB, '' in Spark — coalesced), NULL text stays NULL
    "q_span_scrub" ->
      s"""WITH ${spanCte(8)},
         |d AS (SELECT span_md5 FROM sp GROUP BY span_md5
         |      HAVING count(DISTINCT doc_id) >= 2),
         |occ AS (SELECT sp.doc_id, sp.pos,
         |               row_number() OVER (PARTITION BY sp.span_md5
         |                                  ORDER BY sp.doc_id, sp.pos) AS rn
         |        FROM sp JOIN d USING (span_md5)),
         |cov AS (SELECT DISTINCT doc_id, u.ci
         |        FROM occ, unnest(generate_series(pos, pos + 7)) AS u(ci)
         |        WHERE rn > 1),
         |covs AS (SELECT doc_id, list(ci) AS cl FROM cov GROUP BY doc_id)
         |SELECT t.doc_id,
         |       CASE WHEN t.words IS NULL THEN NULL
         |            ELSE coalesce(array_to_string(list_filter(t.words,
         |                   (x, i) -> NOT list_contains(coalesce(c.cl, []::BIGINT[]), i)),
         |                   ' '), '') END AS clean_text,
         |       coalesce(len(c.cl), 0)::BIGINT AS n_removed
         |FROM tokw t LEFT JOIN covs c USING (doc_id)""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM (
         |  SELECT doc_a, doc_b,
         |         inter::DOUBLE / (na.n_sh + nb.n_sh - inter) AS j_exact
         |  FROM inter
         |  JOIN sizes na ON inter.doc_a = na.doc_id
         |  JOIN sizes nb ON inter.doc_b = nb.doc_id)
         |WHERE j_exact >= 0.8""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $minhashCandCte
         |SELECT doc_a, doc_b FROM cand""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM fps""".stripMargin,
    "q_dedup_simhash_pairs" ->
      s"""WITH $simhashCte,
         |bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS block
         |          FROM fps, unnest(generate_series(0, 3)) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.simhash AS fpa, b.simhash AS fpb
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.block = b.block AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT doc_a, doc_b, bit_count(xor(fpa, fpb))::BIGINT AS hamming FROM cand)
         |WHERE hamming <= 3""".stripMargin,
    "q_dedup_embcos" ->
      s"""WITH $vecCte
         |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm) AS c_exact
         |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |WHERE c_exact >= 0.45""".stripMargin,
    // staged-then-incremental semantic substrate must serve the SAME
    // pair relation as the full corpus (shared all-pairs oracle)
    "q_semantic_store_incremental" ->
      s"""WITH $vecCte
         |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm) AS c_exact
         |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |WHERE c_exact >= 0.45""".stripMargin,
    // a merged semantic substrate serves the same all-pairs relation
    // (cross-shard pairs discovered at merge; shared contract)
    "q_semantic_merge" ->
      s"""WITH $vecCte
         |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm) AS c_exact
         |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |WHERE c_exact >= 0.45""".stripMargin,
    // compaction changes no served pair (shared all-pairs contract)
    "q_semantic_store_compact" ->
      s"""WITH $vecCte
         |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm) AS c_exact
         |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |WHERE c_exact >= 0.45""".stripMargin,
    // tombstone+re-elect delete serves the all-pairs relation over the
    // SURVIVING vectors (a deleted-but-never-stored zero/null vector
    // forms no pair on either side, so the plain id filter is exact)
    "q_semantic_store_delete" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |           FROM embeddings WHERE vec_id % 8 <> 1),
         |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
         |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm) AS c_exact
         |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |WHERE c_exact >= 0.45""".stripMargin,
    // the streaming takedown queue drains to the SAME state as the
    // one-shot delete (deletes compose batch-by-batch; shared oracle)
    "q_stream_semantic_delete" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |           FROM embeddings WHERE vec_id % 8 <> 1),
         |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
         |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm) AS c_exact
         |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |WHERE c_exact >= 0.45""".stripMargin,
    "q_ann_bruteforce" ->
      s"""WITH $vecCte,
         |q AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
         |SELECT b.vec_id,
         |       round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |             / (q.nrm * b.nrm), 4) AS cos
         |FROM vn b, q WHERE b.vec_id != 0
         |ORDER BY cos DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    // the pure-SQL route computes the same ranking (shared contract)
    "q_sql_api" ->
      s"""WITH $vecCte,
         |q AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
         |SELECT b.vec_id,
         |       round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |             / (q.nrm * b.nrm), 4) AS cos
         |FROM vn b, q WHERE b.vec_id != 0
         |ORDER BY cos DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    // LSH bucketing replayed relationally: the md5-derived hyperplanes
    // are driver-computed literal doubles (GraftHashing.planeWeights —
    // the same literals the native expression bakes into the plan), so
    // the oracle inlines them, recomputes each table's sign-bit bucket
    // string, joins candidates on the query's (t, bucket) set, and
    // reranks exactly. Sign portability: only the SIGN of each plane
    // dot must agree, and both engines fold the 64 doubles
    // sequentially — a flip would need |sum| within FP-error of zero
    // (~1e-15 relative; checked green at sf0.01 and sf0.1).
    "q_ann_lsh" -> lshTopKOracleSql("TRUE", 0L),
    // multiprobe: the 4x4 plane family with string-bit Hamming-1
    // probe expansion on the query side
    "q_ann_multiprobe" -> lshMultiprobeOracleSql(0L),
    // staged 4-table store serve == the corpus-side multiprobe
    // (deterministic per-vector hashes; shared replay)
    "q_ann_multiprobe_staged" -> lshMultiprobeOracleSql(0L),
    // a merged vector store serves identically to a full-corpus build
    // (verbatim bucket union, disjoint shards) → same LSH oracle
    "q_ann_merge" -> lshTopKOracleSql("TRUE", 0L),
    // tombstone-delete serve == live LSH over the surviving vectors
    "q_ann_delete" -> lshTopKOracleSql("vec_id % 9 <> 4", 2L),
    // the deterministic-quantizer IVF replays END-TO-END: the unrolled
    // exact-integer Lloyd's chain re-trains the coarse centers in SQL,
    // then probes + rescores exactly as the staged serve does
    "q_ann_ivf" -> ivfExactOracleSql(16, 2, 4, 10),
    // end-to-end PQ / IVF+PQ replays — training (per-subspace integer
    // Lloyd's), encode, ADC scan and rerank all re-derived in SQL
    "q_ann_pq" -> pqOracleSql(8, 8, 16, 2, 100, 10),
    // tombstone-delete serve: codebooks trained on the FULL corpus
    // (frozen at build), the deleted slice filtered from the ADC scan
    "q_pq_delete" -> pqOracleSql(8, 8, 16, 2, 100, 10,
      serveWhere = "vec_id % 8 <> 5"),
    "q_ann_ivfpq" -> ivfPqOracleSql(16, 2, 4, 8, 8, 16, 100, 10),
    // incremental PQ: codebooks FROZEN at the 80% build cut, every
    // vector (old + new batch) encoded and served
    "q_pq_store_incremental" -> pqOracleSql(8, 8, 16, 2, 100, 10,
      trainWhere = "vec_id <= (SELECT (max(vec_id) * 4) // 5 FROM embeddings)"),
    // PINNED read at the build version of the same two-version store:
    // the replay trains AND serves on the 80% build cut — codebooks
    // and codes pinned together (the mx CTE keeps the serve filter's
    // scalar free of the pcode qualification rewrite)
    "q_pq_asof" -> pqOracleSql(8, 8, 16, 2, 100, 10,
      trainWhere = "vec_id <= (SELECT (mxid * 4) // 5 FROM mx)",
      serveWhere = "vec_id <= (SELECT (mxid * 4) // 5 FROM mx)"),
    // PQ snapshot diff: code-occupancy histograms per subspace at the
    // build cut vs the full encode, both under the SAME frozen
    // codebooks (trainWhere = the cut) — the pcode relation is the
    // one pqOracleSql serves from, rolled up per (j, code) cell
    "q_pq_diff" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
         |      FROM embeddings WHERE embedding IS NOT NULL),
         |mx AS (SELECT max(vec_id) AS mxid FROM embeddings),
         |${pqCtes(8, 8, 16, 2, "q", "qv",
                   trainWhere = "vec_id <= (SELECT (mxid * 4) // 5 FROM mx)")},
         |hist AS (SELECT j, code,
         |           sum(CASE WHEN vec_id <= (SELECT (mxid * 4) // 5 FROM mx)
         |               THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
         |           count(*)::BIGINT AS cnt_b
         |         FROM pcode GROUP BY 1, 2),
         |na AS (SELECT count(*)::BIGINT AS n_vecs_a FROM embeddings
         |       WHERE vec_id <= (SELECT (max(vec_id) * 4) // 5 FROM embeddings)),
         |nb AS (SELECT count(*)::BIGINT AS n_vecs_b FROM embeddings)
         |SELECT j::BIGINT AS j,
         |       sum(CASE WHEN cnt_a > 0 THEN 1 ELSE 0 END)::BIGINT AS n_codes_a,
         |       sum(CASE WHEN cnt_b > 0 THEN 1 ELSE 0 END)::BIGINT AS n_codes_b,
         |       sum(CASE WHEN cnt_a <> cnt_b THEN 1 ELSE 0 END)::BIGINT AS changed_codes,
         |       sum(greatest(cnt_b - cnt_a, 0))::BIGINT AS added_mass,
         |       sum(greatest(cnt_a - cnt_b, 0))::BIGINT AS removed_mass,
         |       na.n_vecs_a, nb.n_vecs_b
         |FROM hist, na, nb
         |GROUP BY j, na.n_vecs_a, nb.n_vecs_b
         |ORDER BY j""".stripMargin,
    // streamed micro-batch ingest under the same frozen codebooks ==
    // the batch build-then-update result (shared contract)
    "q_stream_pq" -> pqOracleSql(8, 8, 16, 2, 100, 10,
      trainWhere = "vec_id <= (SELECT (max(vec_id) * 4) // 5 FROM embeddings)"),
    // occupancy of the deterministic coarse quantizer's lists
    "q_ivf_balance" ->
      s"""WITH ${kmeansCtes(16, 2)},
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |          FROM fd) WHERE rn = 1),
         |tot AS (SELECT count(*)::BIGINT AS n_total FROM asg)
         |SELECT cid::BIGINT AS list_id, count(*)::BIGINT AS n_vecs,
         |       round(count(*)::DOUBLE / n_total, 6) AS share
         |FROM asg, tot GROUP BY cid, n_total""".stripMargin,
    // per-subspace distortion: the assignment argmin's d leg,
    // aggregated — training replayed by the same pqCtes chain
    "q_pq_distortion" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
         |           FROM embeddings WHERE embedding IS NOT NULL),
         |${pqCtes(8, 8, 16, 2, "q", "qv")},
         |md AS (SELECT vec_id, j, d2 FROM (
         |         SELECT vec_id, j, d2,
         |                row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
         |         FROM pdf) WHERE rn = 1)
         |SELECT j::BIGINT AS j, count(*)::BIGINT AS n_vecs, sum(d2)::BIGINT AS total_d2,
         |       round(sum(d2)::DOUBLE / count(*), 6) AS avg_d2
         |FROM md GROUP BY 1""".stripMargin,
    // histogram over the canonical-doc candidate pairs (the store's
    // rep-level pair relation replays over the canonical subset)
    "q_jaccard_hist" ->
      s"""WITH $minhashCanonCte,
         |jall AS (SELECT i.inter::DOUBLE / (na.n_sh + nb.n_sh - i.inter) AS j
         |         FROM cinter i JOIN csizes na ON i.doc_a = na.doc_id
         |                       JOIN csizes nb ON i.doc_b = nb.doc_id)
         |SELECT CAST(floor(round(j, 4) * 20) AS BIGINT) AS bin,
         |       count(*)::BIGINT AS n_pairs
         |FROM jall GROUP BY 1""".stripMargin,
    // winnowing fingerprint relation (q_winnowing's CTE) -> distinct
    // (doc, fp), df-cap, self-join, pair rollup
    "q_winnowing_pairs" ->
      """WITH tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
        |kg AS (SELECT doc_id, len(words)::BIGINT - 2 AS nk, i AS pos,
        |              md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
        |       FROM tokw, unnest(generate_series(1, len(words) - 2)) AS t(i)
        |       WHERE len(words) >= 3),
        |sel AS (SELECT doc_id, nk, pos,
        |          min(struct_pack(h := h, pos := pos))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
        |        FROM kg),
        |wfp AS (SELECT DISTINCT doc_id, (s).h AS fp
        |        FROM sel WHERE pos <= greatest(nk - 3, 1)),
        |rare AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= 100),
        |kept AS (SELECT wfp.doc_id, wfp.fp FROM wfp JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
    // md5-keyed deterministic sample of the verified pair relation
    "q_review_queue" ->
      s"""WITH $minhashCandCte,
         |rq AS (SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard,
         |              md5('rq:' || doc_a::VARCHAR || ':' || doc_b::VARCHAR) AS hk
         |       FROM ver)
         |SELECT doc_a, doc_b, jaccard, hk FROM rq ORDER BY hk ASC LIMIT 20""".stripMargin,
    "q_cohort_revenue" ->
      """WITH o AS (SELECT o_custkey,
        |                  (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS m,
        |                  CAST(floor(o_totalprice * 1000000.0) AS BIGINT) AS micros
        |           FROM orders),
        |ch AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1)
        |SELECT ch.cohort_month, (o.m - ch.cohort_month)::BIGINT AS months_since,
        |       count(DISTINCT o.o_custkey)::BIGINT AS n_customers,
        |       count(*)::BIGINT AS n_orders,
        |       sum(micros)::BIGINT AS revenue_micros
        |FROM o JOIN ch ON o.o_custkey = ch.o_custkey
        |GROUP BY 1, 2""".stripMargin,
    "q_join_fanout_hist" ->
      """WITH f AS (SELECT l_orderkey, count(*)::BIGINT AS fanout
        |           FROM lineitem GROUP BY 1)
        |SELECT fanout, count(*)::BIGINT AS n_keys FROM f GROUP BY 1""".stripMargin,
    "q_decay_score" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) AS tn, value FROM events),
        |mx AS (SELECT max(tn) AS max_ts FROM ev)
        |SELECT user_id, count(*)::BIGINT AS n_events,
        |       sum(CAST(floor(value * 1000000.0) AS BIGINT) *
        |           CAST(pow(2.0, 8 - least((max_ts - tn) // 604800000000000, 8)) AS BIGINT))::BIGINT AS score
        |FROM ev, mx GROUP BY user_id""".stripMargin,
    "q_ivf_tune" -> ivfTuneOracleSql(16, 2, Seq(1, 2, 4, 8), 10),
    // compaction must not change a single served row (trained state
    // carries verbatim; codes/vectors union) — same frozen replay
    "q_pq_compact" -> pqOracleSql(8, 8, 16, 2, 100, 10,
      trainWhere = "vec_id <= (SELECT (max(vec_id) * 4) // 5 FROM embeddings)"),
    "q_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |           FROM events),
        |i AS (SELECT user_id, day,
        |             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |      FROM d),
        |g AS (SELECT user_id, island, count(*)::BIGINT AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, sum(len)::BIGINT AS n_active_days,
        |       max(len)::BIGINT AS longest_streak
        |FROM g GROUP BY 1""".stripMargin,
    "q_cluster_labels" ->
      s"""WITH $tfCte,
         |${kmeansCtes(8, 2)},
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |          FROM fd) WHERE rn = 1),
         |cnt AS (SELECT asg.cid AS cluster_id, tok2.term, count(*)::BIGINT AS n
         |        FROM tok2 JOIN asg ON tok2.doc_id = asg.vec_id GROUP BY 1, 2)
         |SELECT cluster_id::BIGINT AS cluster_id, term, n, rk::BIGINT AS rk FROM (
         |  SELECT cluster_id, term, n,
         |         row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, term ASC) AS rk
         |  FROM cnt) WHERE rk <= 3""".stripMargin,
    // survivors replay q_dedup_drop's exact-first contract; the
    // savings report is one left join + a source rollup over it
    "q_dedup_savings" ->
      s"""WITH ${minhashCandCteFor(canonRel)},
         |losers AS (SELECT DISTINCT doc_b AS doc_id FROM ver),
         |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |keep AS (SELECT d.doc_id FROM documents d JOIN canon USING (doc_id)
         |         WHERE d.doc_id NOT IN (SELECT doc_id FROM losers))
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |       sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         |       sum(d.n_chars)::BIGINT AS chars_total,
         |       sum(CASE WHEN k.doc_id IS NULL THEN d.n_chars ELSE 0 END)::BIGINT AS chars_dropped,
         |       round(sum(CASE WHEN k.doc_id IS NULL THEN d.n_chars ELSE 0 END)::DOUBLE * 100
         |             / sum(d.n_chars), 4) AS savings_pct
         |FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id
         |GROUP BY d.source""".stripMargin,
    "q_modality_mix" ->
      """WITH m AS (SELECT doc_id, source,
        |                  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |                  strlen(text)::BIGINT AS n_bytes
        |           FROM documents),
        |agg AS (SELECT source, media_type, count(*)::BIGINT AS n_docs,
        |               sum(n_bytes)::BIGINT AS total_bytes
        |        FROM m GROUP BY 1, 2),
        |tot AS (SELECT source, sum(n_docs)::BIGINT AS n_src FROM agg GROUP BY 1)
        |SELECT agg.source, agg.media_type, agg.n_docs, agg.total_bytes,
        |       round(agg.n_docs::DOUBLE / tot.n_src, 6) AS share
        |FROM agg JOIN tot ON agg.source = tot.source""".stripMargin,
    "q_source_length_profile" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       min(n_chars)::BIGINT AS min_chars,
        |       round(quantile_cont(n_chars, 0.5), 1) AS median_chars,
        |       max(n_chars)::BIGINT AS max_chars
        |FROM documents GROUP BY source""".stripMargin,
    "q_pair_cos_hist" ->
      s"""WITH $vecCte,
         |nz AS (SELECT vec_id, v, nrm FROM vn WHERE nrm > 0),
         |sa AS (SELECT vec_id AS aid, v AS va, nrm AS na
         |       FROM nz ORDER BY md5('pa:' || vec_id::VARCHAR) ASC LIMIT 100),
         |sb AS (SELECT vec_id AS bid, v AS vb, nrm AS nb
         |       FROM nz ORDER BY md5('pb:' || vec_id::VARCHAR) ASC LIMIT 100),
         |p AS (SELECT round(list_sum(list_transform(range(1, len(va) + 1),
         |              i -> va[i] * vb[i])) / (na * nb), 4) AS cos
         |      FROM sa, sb WHERE aid < bid)
         |SELECT CAST(floor(cos * 10) AS BIGINT) AS bin, count(*)::BIGINT AS n_pairs
         |FROM p GROUP BY 1""".stripMargin,

    // ---- Round-11 additions ----
    // BM25 grid sweep: same scoring CTE as q_bm25_score with (k1, b)
    // as a literal grid relation; ranked on the rounded score
    "q_bm25_tune" ->
      s"""WITH $dlCte,
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |grid AS (SELECT k1::DOUBLE AS k1, b::DOUBLE AS b FROM (VALUES
         |           (0.9, 0.4), (0.9, 0.75), (1.2, 0.4), (1.2, 0.75),
         |           (1.5, 0.4), (1.5, 0.75)) AS g(k1, b)),
         |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN ($queryTermsSql)),
         |sc AS (SELECT grid.k1, grid.b, tf.doc_id,
         |         round(sum(idfq.idf * (tf.tf * (grid.k1 + 1.0)) /
         |               (tf.tf + grid.k1 * (1.0 - grid.b + grid.b * dl.dl / avgd.avgdl))), 4) AS score
         |       FROM tf
         |       JOIN idfq ON tf.term = idfq.term
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN avgd CROSS JOIN grid
         |       GROUP BY grid.k1, grid.b, tf.doc_id),
         |rk AS (SELECT k1, b, doc_id, score,
         |         row_number() OVER (PARTITION BY k1, b ORDER BY score DESC, doc_id ASC) AS rk
         |       FROM sc)
         |SELECT k1, b, rk::BIGINT AS rk, doc_id, score FROM rk WHERE rk <= 3""".stripMargin,
    // MRR: the batch-search scoring CTE + derived binary relevance
    // (≥ 2 distinct kept query terms), first relevant rank per query
    "q_search_mrr" -> {
      val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH $dlCte,
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
         |qt AS (SELECT DISTINCT query_id, t AS term
         |       FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
         |       WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
         |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN (SELECT term FROM qt)),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
         |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
         |       FROM tf
         |       JOIN idfq ON tf.term = idfq.term
         |       JOIN qt ON qt.term = tf.term
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN avgd
         |       GROUP BY qt.query_id, tf.doc_id),
         |rkd AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk
         |        FROM sc),
         |run AS (SELECT query_id, doc_id, rk FROM rkd WHERE rk <= 10),
         |rel AS (SELECT qt.query_id, tf.doc_id FROM tf JOIN qt ON tf.term = qt.term
         |        GROUP BY qt.query_id, tf.doc_id HAVING count(DISTINCT tf.term) >= 2),
         |fr AS (SELECT run.query_id, min(run.rk) AS fr FROM run
         |       JOIN rel ON run.query_id = rel.query_id AND run.doc_id = rel.doc_id
         |       GROUP BY run.query_id)
         |SELECT qrs.query_id, fr.fr::BIGINT AS first_rank,
         |       coalesce(round(1.0 / fr.fr, 6), 0.0) AS rr
         |FROM qrs LEFT JOIN fr ON qrs.query_id = fr.query_id""".stripMargin
    },
    // eval-slice n-gram novelty: distinct probe shingles anti-joined
    // against the training corpus's distinct shingle set
    "q_ngram_novelty" ->
      s"""WITH $shingleCte,
         |pr AS (SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0),
         |sz AS (SELECT probe_id, count(*)::BIGINT AS n_shingles FROM pr GROUP BY 1),
         |nv AS (SELECT probe_id, count(*)::BIGINT AS n_novel FROM pr
         |       WHERE NOT EXISTS (SELECT 1 FROM tr WHERE tr.shingle = pr.shingle)
         |       GROUP BY 1)
         |SELECT sz.probe_id, sz.n_shingles,
         |       coalesce(nv.n_novel, 0)::BIGINT AS n_novel,
         |       round(coalesce(nv.n_novel, 0)::DOUBLE / sz.n_shingles, 6) AS novelty
         |FROM sz LEFT JOIN nv ON sz.probe_id = nv.probe_id""".stripMargin,
    // PII audit: the redact patterns as per-source match counts
    "q_pii_audit" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(length(text))::BIGINT AS n_chars,
        |       sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))::BIGINT AS n_emails,
        |       sum(len(regexp_extract_all(text, '[0-9]{7,}')))::BIGINT AS n_longnums,
        |       CASE WHEN sum(length(text)) > 0 THEN
        |         round((sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))
        |                + sum(len(regexp_extract_all(text, '[0-9]{7,}'))))::DOUBLE * 10000.0
        |               / sum(length(text)), 6) END AS pii_per_10k
        |FROM documents GROUP BY source""".stripMargin,
    // shared-prefix duplication groups (first-8-token digest)
    "q_dedup_prefix" ->
      """WITH tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
        |pf AS (SELECT doc_id, md5(array_to_string(words[1:8], ' ')) AS prefix_md5
        |       FROM tokw WHERE len(words) >= 8)
        |SELECT prefix_md5, count(*)::BIGINT AS n_docs, min(doc_id) AS canonical_doc_id
        |FROM pf GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // 2-core of the verified near-dup graph, 8 peel rounds unrolled
    "q_kcore" -> kcoreOracleSql(2, 8),
    // 3-truss of the verified near-dup graph, 4 peel rounds unrolled
    "q_ktruss" -> ktrussOracleSql(3, 4),
    // local clustering coefficient: triangles wedge join + degrees
    "q_clustering_coef" ->
      s"""WITH $minhashCandCte,
         |e0 AS MATERIALIZED (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),
         |deg AS (SELECT a AS doc_id, count(*)::BIGINT AS degree
         |        FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) GROUP BY 1),
         |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |       FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
         |       WHERE EXISTS (SELECT 1 FROM e0 e3
         |                     WHERE e3.a = e1.a AND e3.b = e2.b)),
         |tn AS (SELECT node AS doc_id, count(*)::BIGINT AS n_triangles FROM
         |         (SELECT x AS node FROM tr UNION ALL SELECT y FROM tr
         |          UNION ALL SELECT z FROM tr) GROUP BY 1)
         |SELECT deg.doc_id, deg.degree, coalesce(tn.n_triangles, 0)::BIGINT AS n_triangles,
         |       CASE WHEN deg.degree >= 2
         |         THEN round(2.0 * coalesce(tn.n_triangles, 0) /
         |                    (deg.degree * (deg.degree - 1)), 6)
         |         ELSE 0.0 END AS cc
         |FROM deg LEFT JOIN tn ON deg.doc_id = tn.doc_id""".stripMargin,
    // blocklist screen: any-hit flag + per-source rate, list literal
    "q_blocklist_screen" -> {
      val bl = TextAnalysis.DefaultBlocklist.map(t => s"'$t'").mkString(", ")
      s"""WITH h AS (SELECT source,
         |             len(list_filter(string_split(lower(text), ' '),
         |                 w -> list_contains([$bl], w)))::BIGINT AS hits
         |           FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
         |       sum(hits)::BIGINT AS total_hits,
         |       round(sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END)::DOUBLE
         |             / count(*), 6) AS flag_rate
         |FROM h GROUP BY source""".stripMargin
    },
    // source-pair shingle-set Jaccard, zero-overlap pairs included
    "q_source_jaccard" ->
      s"""WITH $shingleCte,
         |ssh AS (SELECT DISTINCT d.source, md5(sh.shingle) AS h
         |        FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
         |sz AS (SELECT source, count(*)::BIGINT AS n FROM ssh GROUP BY 1),
         |iv AS (SELECT x.source AS source_a, y.source AS source_b,
         |              count(*)::BIGINT AS inter
         |       FROM ssh x JOIN ssh y ON x.h = y.h AND x.source < y.source
         |       GROUP BY 1, 2)
         |SELECT sa.source AS source_a, sb.source AS source_b,
         |       sa.n AS n_a, sb.n AS n_b,
         |       coalesce(iv.inter, 0)::BIGINT AS inter,
         |       round(coalesce(iv.inter, 0)::DOUBLE /
         |             (sa.n + sb.n - coalesce(iv.inter, 0)), 6) AS jaccard
         |FROM sz sa JOIN sz sb ON sa.source < sb.source
         |LEFT JOIN iv ON iv.source_a = sa.source AND iv.source_b = sb.source""".stripMargin,
    // OOV curve: corpus term counts ranked (count desc, term asc),
    // cumulative coverage per literal grid point
    "q_oov_curve" ->
      s"""WITH $dlCte,
         |tc AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT sum(cnt)::BIGINT AS total_tokens FROM tc),
         |rkd AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
         |        FROM tc),
         |grid AS (SELECT n FROM (VALUES (5), (10), (20), (40)) AS g(n)),
         |cov AS (SELECT grid.n, sum(rkd.cnt)::BIGINT AS covered_tokens
         |        FROM rkd JOIN grid ON rkd.rk <= grid.n AND rkd.rk <= 40
         |        GROUP BY grid.n)
         |SELECT grid.n::BIGINT AS vocab_size,
         |       coalesce(cov.covered_tokens, 0)::BIGINT AS covered_tokens,
         |       tot.total_tokens,
         |       round(1.0 - coalesce(cov.covered_tokens, 0)::DOUBLE
         |             / tot.total_tokens, 6) AS oov_rate
         |FROM grid LEFT JOIN cov ON grid.n = cov.n CROSS JOIN tot""".stripMargin,
    // LTR features: the batch scoring chain + per-(query,doc) term
    // aggregates + doc length + query-coverage ratio
    "q_ltr_features" -> s"WITH $ltrCte\nSELECT * FROM ltr",
    // cross-encoder-shaped rerank: the feature-linear model over the
    // ltr relation, spelled term-for-term as the plan's expression
    "q_rerank" ->
      s"""WITH $ltrCte,
         |rr AS (SELECT query_id, doc_id, rk,
         |         round(2.0 * overlap + ln(1.0 + sum_tf) + 0.5 * ln(1.0 + max_tf)
         |               - 0.25 * ln(1.0 + dl) + 0.1 * score, 4) AS rerank_score
         |       FROM ltr)
         |SELECT query_id, doc_id, rk, rerank_score,
         |       row_number() OVER (PARTITION BY query_id
         |                          ORDER BY rerank_score DESC, doc_id ASC)::BIGINT AS rerank_rk
         |FROM rr""".stripMargin,
    // rank-displacement readout of the rerank pass (footrule metric)
    "q_rerank_delta" ->
      s"""WITH $ltrCte,
         |rr AS (SELECT query_id, doc_id, rk,
         |         round(2.0 * overlap + ln(1.0 + sum_tf) + 0.5 * ln(1.0 + max_tf)
         |               - 0.25 * ln(1.0 + dl) + 0.1 * score, 4) AS rerank_score
         |       FROM ltr),
         |rr2 AS (SELECT query_id, doc_id, rk,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY rerank_score DESC, doc_id ASC)::BIGINT AS rerank_rk
         |        FROM rr)
         |SELECT query_id, sum(abs(rk - rerank_rk))::BIGINT AS footrule,
         |       sum(CASE WHEN rk <> rerank_rk THEN 1 ELSE 0 END)::BIGINT AS n_moved,
         |       max(CASE WHEN rerank_rk = 1 THEN rk END)::BIGINT AS new_top1_old_rk
         |FROM rr2 GROUP BY 1""".stripMargin,
    // per-query scored-postings work profile (the deterministic
    // latency proxy of the batch run)
    "q_search_cost" -> {
      val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH $tfCte,
         |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
         |qt AS (SELECT DISTINCT query_id, t AS term
         |       FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
         |       WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
         |hits AS (SELECT qt.query_id,
         |           count(DISTINCT tf.term)::BIGINT AS n_terms_hit,
         |           count(*)::BIGINT AS n_postings,
         |           count(DISTINCT tf.doc_id)::BIGINT AS n_candidates
         |         FROM tf JOIN qt ON tf.term = qt.term GROUP BY 1),
         |qsz AS (SELECT query_id, count(*)::BIGINT AS n_qterms FROM qt GROUP BY 1)
         |SELECT qsz.query_id, qsz.n_qterms,
         |       coalesce(hits.n_terms_hit, 0)::BIGINT AS n_terms_hit,
         |       coalesce(hits.n_postings, 0)::BIGINT AS n_postings,
         |       coalesce(hits.n_candidates, 0)::BIGINT AS n_candidates
         |FROM qsz LEFT JOIN hits ON qsz.query_id = hits.query_id""".stripMargin
    },
    // AP@10: the MRR scoring chain + hit numbering + min(R, k) norm
    "q_search_map" -> {
      val vals = Bm25.DemoQueries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH $dlCte,
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |qrs AS (SELECT * FROM (VALUES $vals) AS q(query_id, qtext)),
         |qt AS (SELECT DISTINCT query_id, t AS term
         |       FROM qrs, unnest(string_split(lower(qtext), ' ')) AS u(t)
         |       WHERE length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)),
         |idfq AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN (SELECT term FROM qt)),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |         round(sum(idfq.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
         |               (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
         |       FROM tf
         |       JOIN idfq ON tf.term = idfq.term
         |       JOIN qt ON qt.term = tf.term
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN avgd
         |       GROUP BY qt.query_id, tf.doc_id),
         |rkd AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk
         |        FROM sc),
         |run AS (SELECT query_id, doc_id, rk FROM rkd WHERE rk <= 10),
         |rel AS (SELECT qt.query_id, tf.doc_id FROM tf JOIN qt ON tf.term = qt.term
         |        GROUP BY qt.query_id, tf.doc_id HAVING count(DISTINCT tf.term) >= 2),
         |tot AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM rel GROUP BY 1),
         |hit AS (SELECT run.query_id, run.rk,
         |          row_number() OVER (PARTITION BY run.query_id ORDER BY run.rk) AS i
         |        FROM run JOIN rel ON run.query_id = rel.query_id
         |                         AND run.doc_id = rel.doc_id),
         |aps AS (SELECT query_id, count(*)::BIGINT AS n_hits,
         |          sum(i::DOUBLE / rk) AS psum FROM hit GROUP BY 1)
         |SELECT qrs.query_id, coalesce(tot.n_rel, 0)::BIGINT AS n_rel,
         |       coalesce(aps.n_hits, 0)::BIGINT AS n_hits,
         |       coalesce(round(aps.psum / least(tot.n_rel, 10), 6), 0.0) AS ap
         |FROM qrs LEFT JOIN tot ON qrs.query_id = tot.query_id
         |LEFT JOIN aps ON qrs.query_id = aps.query_id""".stripMargin
    },
    // build (4/5) + incremental ingest (1/5) = the FULL corpus, and
    // AnnSpec proves staged == live — so the staged search replays as
    // the live LSH over all embeddings (promoted from rows-only)
    "q_ann_index_incremental" -> lshTopKOracleSql("TRUE", 0L),
    // the SAME LSH replay restricted to the version-00000 vectors:
    // time travel = searching the retained delta subset, and the
    // md5-derived hyperplanes make every snapshot oracle-replayable
    "q_index_timetravel" -> lshTopKOracleSql("vec_id % 5 <> 0", 1L),
    // vector-store snapshot diff between the pinned 00000 (4/5 build)
    // and 00001 (full) versions of the same two-version store
    "q_ann_diff" -> annDiffOracleSql("vec_id % 5 <> 0"),
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       strlen(text)::BIGINT AS n_bytes,
        |       md5(text) AS fingerprint,
        |       (64 + strlen(text) % 256)::INT AS width,
        |       (64 + doc_id % 128)::INT AS height,
        |       (1 + doc_id % 8)::INT AS n_frames
        |FROM documents""".stripMargin,
    "q_multimodal_frames" ->
      """WITH m AS (SELECT doc_id, text, strlen(text)::BIGINT AS n_bytes,
        |                  (1 + doc_id % 8)::INT AS n_frames FROM documents)
        |SELECT doc_id, f::INT AS frame_idx,
        |       (CASE WHEN f = n_frames - 1 THEN n_bytes - f * (n_bytes // n_frames)
        |             ELSE n_bytes // n_frames END)::BIGINT AS frame_len,
        |       md5(substr(text, (f * (n_bytes // n_frames) + 1)::INT,
        |                  (CASE WHEN f = n_frames - 1 THEN n_bytes - f * (n_bytes // n_frames)
        |                        ELSE n_bytes // n_frames END)::INT)) AS frame_md5
        |FROM m, unnest(generate_series(0, n_frames - 1)) AS t(f)""".stripMargin,
    "q_multimodal_resize" ->
      """WITH m AS (SELECT doc_id, text, strlen(text)::BIGINT AS n_bytes FROM documents),
        |r AS (SELECT doc_id, n_bytes,
        |        list_aggregate(list_transform(range(0, 32),
        |          i -> substr(text, (i * n_bytes // 32 + 1)::INT, 1)), 'string_agg', '') AS resized
        |      FROM m)
        |SELECT doc_id, n_bytes, strlen(resized)::BIGINT AS resized_len,
        |       md5(resized) AS resized_md5 FROM r""".stripMargin,
    "q_multimodal_hist" ->
      """WITH tot AS (SELECT doc_id, strlen(text)::DOUBLE AS n FROM documents),
        |chars AS (SELECT doc_id, (ord(substr(text, i, 1)) * 16) // 256 AS bin
        |          FROM documents, unnest(generate_series(1, strlen(text))) AS t(i)),
        |binned AS (SELECT doc_id, bin, count(*)::DOUBLE AS cnt FROM chars GROUP BY 1, 2),
        |grid AS (SELECT doc_id, n, b::INT AS bin FROM tot, unnest(generate_series(0, 15)) AS g(b))
        |SELECT grid.doc_id, grid.bin, round(coalesce(binned.cnt, 0) / grid.n, 4) AS ratio
        |FROM grid LEFT JOIN binned ON grid.doc_id = binned.doc_id AND grid.bin = binned.bin""".stripMargin,
    "q_contamination" -> contaminationSql,
    // the streaming ingest gate probes the same static index batch by
    // batch; union of batches == the batch screen (shared oracle)
    "q_stream_contamination" -> contaminationSql,
    // probe-side overlap rate: exact per-probe shingle counts, one
    // rounded ratio
    "q_contamination_rate" ->
      s"""WITH $shingleCte,
         |pr AS (SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0),
         |hit AS (SELECT probe_id, count(*)::BIGINT AS n_hit
         |        FROM pr JOIN tr USING (shingle) GROUP BY 1),
         |tot AS (SELECT probe_id, count(*)::BIGINT AS n_shingles FROM pr GROUP BY 1)
         |SELECT t.probe_id, t.n_shingles, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
         |       round(coalesce(h.n_hit, 0)::DOUBLE / t.n_shingles, 4) AS rate
         |FROM tot t LEFT JOIN hit h USING (probe_id)""".stripMargin,
    // Welch's t per source vs rest: the SAME formula text the Spark
    // plan evaluates (TextAnalysis.welchTSql/welchDfSql interpolated
    // verbatim — one source, two parsers, identical FP op order) over
    // exact BIGINT count/Σv/Σv² with the rest side by subtraction
    "q_welch_ttest" ->
      s"""WITH per AS (SELECT source, count(*)::BIGINT AS n1,
         |              sum(n_chars::BIGINT)::BIGINT AS s1,
         |              sum(n_chars::BIGINT * n_chars)::BIGINT AS q1
         |            FROM documents GROUP BY source),
         |tot AS (SELECT count(*)::BIGINT AS n, sum(n_chars::BIGINT)::BIGINT AS s,
         |          sum(n_chars::BIGINT * n_chars)::BIGINT AS q FROM documents)
         |SELECT source, n1, (n - n1)::BIGINT AS n2,
         |       ${graft.operators.TextAnalysis.welchTSql} AS t,
         |       ${graft.operators.TextAnalysis.welchDfSql} AS df_w
         |FROM per, tot""".stripMargin,
    // Wald–Wolfowitz runs test: per-source lower median (interval
    // pick), at-median docs drop, runs over the doc_id-ordered kept
    // sequence, z from the SAME formula text the Spark plan evaluates
    "q_runs_test" ->
      s"""WITH d AS (SELECT source, doc_id, n_chars::BIGINT AS v FROM documents),
         |g AS (SELECT source, v, count(*)::BIGINT AS t FROM d GROUP BY 1, 2),
         |cum AS (SELECT source, v, t,
         |          coalesce(sum(t) OVER (PARTITION BY source ORDER BY v
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
         |        FROM g),
         |per AS (SELECT source, count(*)::BIGINT AS ntot FROM d GROUP BY 1),
         |med AS (SELECT c.source, c.v AS med FROM cum c JOIN per p ON c.source = p.source
         |        WHERE c.below < (p.ntot + 1) // 2 AND (p.ntot + 1) // 2 <= c.below + c.t),
         |sg AS (SELECT d.source, d.doc_id, (d.v > m.med)::BIGINT AS s
         |       FROM d JOIN med m ON d.source = m.source WHERE d.v <> m.med),
         |rr AS (SELECT source, s, lag(s) OVER (PARTITION BY source ORDER BY doc_id) AS prev
         |       FROM sg),
         |ag AS (SELECT source, count(*)::BIGINT AS nkept, sum(s)::BIGINT AS n1,
         |         sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)::BIGINT AS runs
         |       FROM rr GROUP BY 1)
         |SELECT source, n1, n2, runs, ${graft.operators.TextAnalysis.runsZSql} AS z
         |FROM (SELECT source, n1, (nkept - n1)::BIGINT AS n2, runs FROM ag)""".stripMargin,
    // Hodges–Lehmann shift: lower weighted median ((N+1) div 2) of
    // the value-grid difference multiset, rest counts by subtraction
    // — exact integers end to end; empty-rest sources emit no row
    "q_hl_shift" ->
      """WITH d AS (SELECT source, n_chars::BIGINT AS v FROM documents),
        |vs AS (SELECT source, v, count(*)::BIGINT AS cs FROM d GROUP BY 1, 2),
        |vg AS (SELECT v, count(*)::BIGINT AS cg FROM d GROUP BY 1),
        |per AS (SELECT source, count(*)::BIGINT AS n1 FROM d GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n FROM d),
        |grid AS (SELECT p.source, g.v,
        |           coalesce(vs.cs, 0)::BIGINT AS cs,
        |           (g.cg - coalesce(vs.cs, 0))::BIGINT AS cr
        |         FROM per p CROSS JOIN vg g
        |         LEFT JOIN vs ON vs.source = p.source AND vs.v = g.v),
        |diffs AS (SELECT a.source, (a.v - b.v)::BIGINT AS dd,
        |            sum(a.cs * b.cr)::BIGINT AS w
        |          FROM (SELECT source, v, cs FROM grid WHERE cs > 0) a
        |          JOIN (SELECT source, v, cr FROM grid WHERE cr > 0) b
        |            ON a.source = b.source
        |          GROUP BY 1, 2),
        |np AS (SELECT p.source, (p.n1 * (t.n - p.n1))::BIGINT AS n_pairs
        |       FROM per p, tot t),
        |cw AS (SELECT source, dd, w,
        |         sum(w) OVER (PARTITION BY source ORDER BY dd
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM diffs)
        |SELECT cw.source, np.n_pairs, cw.dd AS hl_shift
        |FROM cw JOIN np ON cw.source = np.source
        |WHERE np.n_pairs > 0
        |  AND cw.cum >= (np.n_pairs + 1) // 2
        |  AND cw.cum - cw.w < (np.n_pairs + 1) // 2""".stripMargin,
    // Mann-Whitney: integer doubled-midranks (2·midrank = 2·rank +
    // tiecount − 1 — identical to the cum-prev form the Spark side
    // uses), exact BIGINT u2, one tie-corrected z with the division
    // order written identically
    "q_mann_whitney" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |r AS (SELECT source,
        |        2 * rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1 AS r2
        |      FROM d),
        |tot AS (SELECT count(*)::BIGINT AS n FROM d),
        |ties AS (SELECT sum(t * t * t - t)::BIGINT AS tsum
        |         FROM (SELECT count(*)::BIGINT AS t FROM d GROUP BY v)),
        |per AS (SELECT source, count(*)::BIGINT AS n1, sum(r2)::BIGINT AS rsum2
        |        FROM r GROUP BY source)
        |SELECT source, n1, (rsum2 - n1 * (n1 + 1))::BIGINT AS u2,
        |       CASE WHEN n < 2 THEN CAST(NULL AS DOUBLE)
        |            WHEN n1 * (n - n1) * ((n + 1) - tsum / (n * (n - 1.0))) <= 0.0
        |            THEN CAST(NULL AS DOUBLE)
        |            ELSE round((rsum2 - n1 * (n1 + 1) - n1 * (n - n1)) /
        |                 (2.0 * sqrt(n1 * (n - n1) * ((n + 1) - tsum / (n * (n - 1.0))) / 12.0)), 6) END AS z
        |FROM per, tot, ties""".stripMargin,
    // Brown-Forsythe: exact lower-median deviations, the F identity
    // clears group means; one ordered fold of si²/n1
    "q_levene" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |g AS (SELECT source, v, count(*)::BIGINT AS t FROM d GROUP BY 1, 2),
        |c AS (SELECT source, v, t,
        |        coalesce(sum(t) OVER (PARTITION BY source ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below
        |      FROM g),
        |p AS (SELECT source, count(*)::BIGINT AS n1 FROM d GROUP BY 1),
        |med AS (SELECT c.source, c.v AS med FROM c JOIN p USING (source)
        |        WHERE c.below < (p.n1 + 1) // 2 AND (p.n1 + 1) // 2 <= c.below + c.t),
        |z AS (SELECT d.source, abs(d.v - med.med)::BIGINT AS z FROM d JOIN med USING (source)),
        |pz AS (SELECT source, count(*)::BIGINT AS n1, sum(z)::BIGINT AS si,
        |         sum(z * z)::BIGINT AS qi FROM z GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS k, sum(n1)::BIGINT AS n,
        |          sum(si)::BIGINT AS s, sum(qi)::BIGINT AS qq,
        |          list_sum(list(si::DOUBLE * si::DOUBLE / n1 ORDER BY source)) AS w
        |        FROM pz)
        |SELECT n, k AS n_groups,
        |       CASE WHEN k < 2 THEN CAST(NULL AS DOUBLE)
        |            ELSE CASE WHEN qq - w <= 0.0 THEN CAST(NULL AS DOUBLE)
        |                 ELSE round(((n - k) / (k - 1.0)) *
        |                      (w - CAST(s AS DOUBLE) * s / n) / (qq - w), 6) END END AS f
        |FROM agg""".stripMargin,
    // Q-Q deciles: exact ⌈q·n/10⌉-th order statistics via integer
    // interval tests; the rest side derives by subtraction
    "q_qq_deciles" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |ga AS (SELECT v, count(*)::BIGINT AS t_all FROM d GROUP BY 1),
        |ca AS (SELECT v, t_all,
        |         coalesce(sum(t_all) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below_all
        |       FROM ga),
        |gs AS (SELECT source, v, count(*)::BIGINT AS t_src FROM d GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM d),
        |grid AS (SELECT s.source, c.v, c.t_all, c.below_all,
        |           coalesce(g.t_src, 0)::BIGINT AS t_src
        |         FROM srcs s CROSS JOIN ca c
        |         LEFT JOIN gs g ON g.source = s.source AND g.v = c.v),
        |cum AS (SELECT source, v, t_all, below_all, t_src,
        |          coalesce(sum(t_src) OVER (PARTITION BY source ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below_src
        |        FROM grid),
        |p AS (SELECT source, count(*)::BIGINT AS n1 FROM d GROUP BY 1),
        |tt AS (SELECT count(*)::BIGINT AS n FROM d),
        |x AS (SELECT cum.source, cum.v, cum.t_src, cum.below_src,
        |        cum.t_all - cum.t_src AS t_rest,
        |        cum.below_all - cum.below_src AS below_rest,
        |        qq.q::BIGINT AS q,
        |        (qq.q * p.n1 + 9) // 10 AS idx_s,
        |        (qq.q * (tt.n - p.n1) + 9) // 10 AS idx_r
        |      FROM cum JOIN p USING (source) CROSS JOIN tt,
        |           unnest(generate_series(1, 9)) AS qq(q)),
        |vs AS (SELECT source, q, v AS v_source FROM x
        |       WHERE below_src < idx_s AND idx_s <= below_src + t_src),
        |vr AS (SELECT source, q, v AS v_rest FROM x
        |       WHERE below_rest < idx_r AND idx_r <= below_rest + t_rest)
        |SELECT vs.source, vs.q, vs.v_source, vr.v_rest,
        |       (vs.v_source - vr.v_rest)::BIGINT AS gap
        |FROM vs JOIN vr ON vs.source = vr.source AND vs.q = vr.q""".stripMargin,
    // trimmed mean: order statistics as exact integer clipping over
    // value-group prefix sums — no percentile approximation
    "q_trimmed_mean" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |g AS (SELECT source, v, count(*)::BIGINT AS t FROM d GROUP BY 1, 2),
        |c AS (SELECT source, v, t,
        |        coalesce(sum(t) OVER (PARTITION BY source ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below
        |      FROM g),
        |p AS (SELECT source, count(*)::BIGINT AS n1, sum(v)::BIGINT AS tot FROM d GROUP BY 1),
        |s AS (SELECT c.source, max(p.n1)::BIGINT AS n_docs, max(p.tot)::BIGINT AS tot,
        |        max(p.n1 // 10)::BIGINT AS k_trimmed,
        |        sum(least(greatest(p.n1 // 10 - c.below, 0), c.t) * c.v)::BIGINT AS bs,
        |        sum(least(greatest(p.n1 // 10 - (p.n1 - c.below - c.t), 0), c.t) * c.v)::BIGINT AS ts
        |      FROM c JOIN p ON c.source = p.source GROUP BY 1)
        |SELECT source, n_docs, k_trimmed,
        |       round(tot::DOUBLE / n_docs, 4) AS mean,
        |       round((tot - bs - ts)::DOUBLE / (n_docs - 2 * k_trimmed), 4) AS trimmed_mean
        |FROM s""".stripMargin,
    // Cliff's delta: same midrank grid, one exact-BIGINT division;
    // magnitude labels read off the ROUNDED value on both engines
    "q_cliffs_delta" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |r AS (SELECT source,
        |        2 * rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1 AS r2
        |      FROM d),
        |tot AS (SELECT count(*)::BIGINT AS n FROM d),
        |per AS (SELECT source, count(*)::BIGINT AS n1, sum(r2)::BIGINT AS rsum2
        |        FROM r GROUP BY source),
        |dl AS (SELECT source, n1,
        |         CASE WHEN n1 * (n - n1) = 0 THEN CAST(NULL AS DOUBLE)
        |              ELSE round((rsum2 - n1 * (n1 + 1) - n1 * (n - n1)) /
        |                   CAST(n1 * (n - n1) AS DOUBLE), 6) END AS delta
        |       FROM per, tot)
        |SELECT source, n1, delta,
        |       CASE WHEN delta IS NULL THEN CAST(NULL AS VARCHAR)
        |            WHEN abs(delta) < 0.147 THEN 'negligible'
        |            WHEN abs(delta) < 0.33 THEN 'small'
        |            WHEN abs(delta) < 0.474 THEN 'medium'
        |            ELSE 'large' END AS magnitude
        |FROM dl""".stripMargin,
    // Kruskal-Wallis: same doubled-midrank grid; the cross-source sum
    // is source-ORDERED on both engines (the ordered-fold contract)
    "q_kruskal_wallis" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |r AS (SELECT source,
        |        2 * rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1 AS r2
        |      FROM d),
        |tot AS (SELECT count(*)::BIGINT AS n FROM d),
        |ties AS (SELECT sum(t * t * t - t)::BIGINT AS tsum
        |         FROM (SELECT count(*)::BIGINT AS t FROM d GROUP BY v)),
        |per AS (SELECT source, count(*)::BIGINT AS n1, sum(r2)::BIGINT AS rsum2
        |        FROM r GROUP BY source),
        |agg AS (SELECT count(*)::BIGINT AS n_groups,
        |          list_sum(list(rsum2::DOUBLE * rsum2::DOUBLE / (4.0 * n1)
        |                        ORDER BY source)) AS s
        |        FROM per)
        |SELECT n, n_groups, tsum,
        |       CASE WHEN n < 2 OR tsum = n * n * n - n THEN CAST(NULL AS DOUBLE)
        |            ELSE round(((12.0 * s) / (n * (n + 1.0)) - 3.0 * (n + 1)) /
        |                 (1.0 - tsum / CAST(n * n * n - n AS DOUBLE)), 6) END AS h
        |FROM agg, tot, ties""".stripMargin,
    // Theil-Sen: exact-micros monthly revenue, pairwise slopes as one
    // division of exact-integer-valued doubles, medians picked by
    // deterministic row_number
    "q_theil_sen" ->
      """WITH monthly AS (
        |  SELECT (year(l_shipdate) * 12 + month(l_shipdate))::BIGINT AS mi,
        |         sum(floor(l_extendedprice * (1 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS rev
        |  FROM lineitem GROUP BY 1),
        |slopes AS (
        |  SELECT a.mi AS mi_a, b.mi AS mi_b,
        |         (b.rev - a.rev)::DOUBLE / (b.mi - a.mi)::DOUBLE AS slope
        |  FROM monthly a JOIN monthly b ON a.mi < b.mi),
        |npc AS (SELECT count(*)::BIGINT AS np FROM slopes),
        |sm AS (SELECT avg(slope) AS slope FROM (
        |         SELECT slope, row_number() OVER (ORDER BY slope, mi_a, mi_b) AS rn
        |         FROM slopes) s, npc
        |       WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1),
        |resid AS (SELECT mi, rev::DOUBLE - slope * mi::DOUBLE AS ic FROM monthly, sm),
        |nmc AS (SELECT count(*)::BIGINT AS nmv FROM resid),
        |im AS (SELECT avg(ic) AS intercept FROM (
        |         SELECT ic, row_number() OVER (ORDER BY ic, mi) AS rn FROM resid) s, nmc
        |       WHERE rn = (nmv + 1) // 2 OR rn = nmv // 2 + 1)
        |SELECT (SELECT count(*) FROM monthly)::BIGINT AS n_months, npc.np AS n_pairs,
        |       round(sm.slope, 4) AS slope, round(im.intercept, 4) AS intercept
        |FROM npc, sm, im""".stripMargin,
    // Cohen's kappa: both raters' flags replayed from their own
    // oracles' derivations, exact 2x2 counts, one final division
    "q_quality_kappa" ->
      s"""WITH t AS (SELECT doc_id, text, length(text)::BIGINT AS lt,
         |                  string_split(lower(text), ' ') AS toks FROM documents),
         |qa AS (SELECT doc_id,
         |         (len(toks)::BIGINT >= 10 AND len(toks)::BIGINT <= 10000
         |          AND len(list_distinct(toks))::BIGINT::DOUBLE / len(toks)::BIGINT >= 0.2) AS a
         |       FROM t),
         |m AS (SELECT doc_id, len(toks)::BIGINT AS nw,
         |             lt - (len(toks)::BIGINT - 1) AS tc,
         |             list_max(list_transform(list_distinct(toks),
         |               d -> len(list_filter(toks, t2 -> t2 = d))))::BIGINT AS max_tf,
         |             len(list_distinct(list_filter(toks, t2 -> t2 IN ($stop))))::BIGINT AS n_stop_kinds
         |      FROM t),
         |gb AS (SELECT doc_id,
         |         ((nw >= 25 AND nw <= 100000) AND (tc >= nw * 2 AND tc <= nw * 10)
         |          AND (max_tf * 8 <= nw) AND (n_stop_kinds >= 2)) AS b
         |       FROM m),
         |agg AS (SELECT count(*)::BIGINT AS n,
         |          sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n11,
         |          sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n10,
         |          sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n01,
         |          sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n00
         |        FROM qa JOIN gb USING (doc_id))
         |SELECT n, n11, n10, n01, n00,
         |       round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
         |       CASE WHEN n * n = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
         |            THEN CAST(NULL AS DOUBLE)
         |            ELSE round((n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))) /
         |                 CAST(n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE), 6) END AS kappa
         |FROM agg""".stripMargin,
    // RBO at p=1/2: per joint doc the closed-form tail weight from
    // m = max(rb, rc); dyadic p-powers, one 1/d division per term
    "q_rbo" ->
      s"""WITH $bm25Cte, $vecCte,
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rb
         |        FROM (SELECT doc_id AS id, score FROM scored
         |              ORDER BY score DESC, doc_id ASC LIMIT 10) tb),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |cr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rc
         |       FROM (SELECT id, cos FROM cosall
         |             ORDER BY cos DESC, id ASC LIMIT 10) tc),
         |j AS (SELECT greatest(rb, rc)::BIGINT AS m FROM bmr JOIN cr USING (id)),
         |ws AS (SELECT count(*)::BIGINT AS n_joint,
         |         coalesce(sum(list_sum(list_transform(generate_series(m, 10),
         |           d -> 0.5 * pow(0.5, d - 1) / d))), 0.0) AS s
         |       FROM j)
         |SELECT 10::BIGINT AS k, n_joint, round(s, 6) AS rbo FROM ws""".stripMargin,
    // Kendall tau over the two runs' joint docs: exact BIGINT
    // concordant/discordant counts, one final division
    "q_kendall_tau" ->
      s"""WITH $bm25Cte, $vecCte,
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rb
         |        FROM (SELECT doc_id AS id, score FROM scored
         |              ORDER BY score DESC, doc_id ASC LIMIT 10) tb),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |cr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rc
         |       FROM (SELECT id, cos FROM cosall
         |             ORDER BY cos DESC, id ASC LIMIT 10) tc),
         |j AS (SELECT id, rb::BIGINT AS rb, rc::BIGINT AS rc FROM bmr JOIN cr USING (id)),
         |p AS (SELECT
         |        coalesce(sum(CASE WHEN (x.rb - y.rb) * (x.rc - y.rc) > 0
         |                          THEN 1 ELSE 0 END), 0)::BIGINT AS concordant,
         |        coalesce(sum(CASE WHEN (x.rb - y.rb) * (x.rc - y.rc) < 0
         |                          THEN 1 ELSE 0 END), 0)::BIGINT AS discordant
         |      FROM j x JOIN j y ON x.id < y.id),
         |nj AS (SELECT count(*)::BIGINT AS n_joint FROM j)
         |SELECT n_joint, (concordant + discordant)::BIGINT AS n_pairs,
         |       concordant, discordant,
         |       CASE WHEN concordant + discordant = 0 THEN CAST(NULL AS DOUBLE)
         |            ELSE round((concordant - discordant)::DOUBLE /
         |                 (concordant + discordant), 6) END AS tau
         |FROM p, nj""".stripMargin,
    "q_contamination_fuzzy" ->
      s"""WITH $fuzzyContamCte
         |SELECT f.doc_id, f.probe_id,
         |       round(f.inter::DOUBLE / (na.n_sh + nb.n_sh - f.inter), 4) AS jaccard
         |FROM fint f
         |JOIN csz na ON f.doc_id = na.doc_id
         |JOIN csz nb ON f.probe_id = nb.doc_id
         |WHERE f.inter::DOUBLE / (na.n_sh + nb.n_sh - f.inter) >= 0.5""".stripMargin,
    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |c AS (SELECT doc_id, len(toks) AS n_tokens,
         |             len(list_filter(toks, t -> t IN ($stop))) AS n_stop FROM t)
         |SELECT doc_id, round(n_stop::DOUBLE / n_tokens, 4) AS en_ratio,
         |       CASE WHEN n_stop::DOUBLE / n_tokens >= 0.05 THEN 'en' ELSE 'und' END AS predicted_lang
         |FROM c""".stripMargin,
    "q_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents),
         |c AS (SELECT doc_id, text, toks,
         |             len(toks)::BIGINT AS n_tokens,
         |             len(list_distinct(toks))::BIGINT AS n_distinct,
         |             len(list_filter(toks, t -> t IN ($stop)))::BIGINT AS n_stop,
         |             list_max(list_transform(list_distinct(toks),
         |               d -> len(list_filter(toks, t -> t = d))))::BIGINT AS max_tf
         |      FROM t)
         |SELECT doc_id, n_tokens, n_distinct,
         |       round(n_distinct::DOUBLE / n_tokens, 4) AS distinct_ratio,
         |       round(n_stop::DOUBLE / n_tokens, 4) AS stop_ratio,
         |       round((length(text) - (n_tokens - 1))::DOUBLE / n_tokens, 4) AS mean_token_len,
         |       round(max_tf::DOUBLE / n_tokens, 4) AS rep_ratio,
         |       (n_tokens >= 10 AND n_tokens <= 10000 AND n_distinct::DOUBLE / n_tokens >= 0.2) AS quality_ok
         |FROM c""".stripMargin,
    "q_token_count" ->
      """WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents)
        |SELECT doc_id, len(toks)::BIGINT AS n_ws,
        |       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_alnum,
        |       list_sum(list_transform(toks, t -> ceil(length(t) / 4.0)::BIGINT))::BIGINT AS n_bpe_ish
        |FROM t""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $shingleCte,
         |mins AS (SELECT doc_id, min(md5(shingle)) AS sh_fp FROM sh GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(m.sh_fp, md5(lower(d.text))) AS fingerprint
         |FROM documents d LEFT JOIN mins m ON d.doc_id = m.doc_id""".stripMargin,

    "q_normalize" ->
      """SELECT doc_id,
        |       trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
        |       length(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))::BIGINT AS n_chars_norm
        |FROM documents""".stripMargin,
    "q_redact" ->
      """SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{7,}', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin,
    "q_quality_by_source" ->
      """WITH t AS (SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (SELECT source, len(toks)::BIGINT AS n_tokens,
        |             len(list_distinct(toks))::BIGINT AS n_distinct FROM t)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       round(avg(n_tokens), 6) AS avg_tokens,
        |       sum(CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
        |                     AND n_distinct::DOUBLE / n_tokens >= 0.2
        |                THEN 1 ELSE 0 END)::BIGINT AS n_ok
        |FROM c GROUP BY source""".stripMargin,
    "q_bigrams" ->
      """WITH tokw AS (SELECT string_split(lower(text), ' ') AS words FROM documents),
        |bg AS (SELECT words[i] || ' ' || words[i+1] AS bigram
        |       FROM tokw, unnest(generate_series(1, len(words)-1)) AS t(i)
        |       WHERE len(words) >= 2)
        |SELECT bigram, count(*)::BIGINT AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    "q_sample_mix" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |         ((substr(source, 4)::INT % 4) + 1) * 0.25 AS rate,
        |         list_sum(list_transform(range(1, 9),
        |           j -> (strpos('0123456789abcdef',
        |                        substr(md5(doc_id::VARCHAR || ':' || source), j, 1)) - 1)::BIGINT
        |                << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, source FROM s WHERE u < rate""".stripMargin,
    "q_pmi" ->
      s"""WITH wd AS (SELECT string_split(lower(text), ' ') AS words FROM documents),
        |uni AS (SELECT u.t AS w, count(*)::BIGINT AS c FROM wd, unnest(words) AS u(t) GROUP BY 1),
        |nu AS (SELECT sum(c)::BIGINT AS n_uni FROM uni),
        |bi AS (SELECT words[i] AS w1, words[i+1] AS w2, count(*)::BIGINT AS n_ab
        |       FROM wd, unnest(generate_series(1, len(words)-1)) AS t(i)
        |       WHERE len(words) >= 2 GROUP BY 1, 2),
        |nb AS (SELECT sum(n_ab)::BIGINT AS n_bi FROM bi),
        |cnt AS (SELECT w1, w2, n_ab, n_uni, n_bi, ca.c AS ca, cb.c AS cb
        |        FROM bi JOIN uni ca ON bi.w1 = ca.w JOIN uni cb ON bi.w2 = cb.w, nu, nb
        |        WHERE n_ab >= 5),
        |j AS (SELECT w1, w2, n_ab,
        |        round(${graft.operators.TextAnalysis.PmiExpr}, 6) AS pmi
        |      FROM cnt)
        |SELECT w1, w2, n_ab, pmi FROM j ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "q_zipf" ->
      s"""WITH $tfCte,
         |tc AS (SELECT term, count(*)::BIGINT AS n FROM tok2 GROUP BY term),
         |rk AS (SELECT term, n,
         |         CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS term_rank
         |       FROM tc)
         |SELECT term, n, term_rank,
         |       round(log10(CAST(term_rank AS DOUBLE)), 6) AS log10_rank,
         |       round(log10(CAST(n AS DOUBLE)), 6) AS log10_n
         |FROM rk""".stripMargin,
    "q_char_trigrams" ->
      """WITH d AS (SELECT lang, lower(text) AS t FROM documents WHERE length(lower(text)) >= 3),
        |tri AS (SELECT lang, substr(t, i, 3) AS trigram
        |        FROM d, unnest(generate_series(1, length(t)-2)) AS u(i)),
        |cnt AS (SELECT lang, trigram, count(*)::BIGINT AS n FROM tri GROUP BY 1, 2),
        |rk AS (SELECT lang, trigram, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, trigram ASC) AS BIGINT) AS rk
        |       FROM cnt)
        |SELECT lang, trigram, n, rk FROM rk WHERE rk <= 10""".stripMargin,
    "q_stem" ->
      s"""WITH $tfCte,
         |tc AS (SELECT term, count(*)::BIGINT AS n FROM tok2 GROUP BY term),
         |st AS (SELECT ${graft.operators.TextAnalysis.StemCase} AS stem, n FROM tc)
         |SELECT stem, count(*)::BIGINT AS n_terms, sum(n)::BIGINT AS n_total FROM st GROUP BY stem""".stripMargin,
    // greedy longest-match segmentation replayed as a recursive CTE
    // (the q_bpe_train precedent: the per-step argmax is a correlated
    // max over the vocabulary at the cursor, one char consumed per
    // OOV step). Charset contract: BMP-only corpus — DuckDB substr/
    // length are codepoint-based while SegmentWords walks UTF-16 code
    // units (one OOV step = one code POINT on both sides, but a dict
    // word's length only agrees inside the BMP); testdata is ASCII.
    "q_segment" ->
      """WITH RECURSIVE
        |vl AS (SELECT DISTINCT w, length(w) AS wl
        |       FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |       WHERE length(w) > 0),
        |base AS (SELECT doc_id, replace(lower(text), ' ', '') AS s,
        |                string_split(lower(text), ' ') AS orig
        |         FROM documents WHERE text IS NOT NULL),
        |seg AS (
        |  SELECT doc_id, s, orig, 1 AS pos, []::VARCHAR[] AS toks FROM base
        |  UNION ALL
        |  SELECT doc_id, s, orig, pos + len, list_append(toks, substr(s, pos, len))
        |  FROM (
        |    SELECT g.doc_id, g.s, g.orig, g.pos, g.toks,
        |           coalesce((SELECT max(vl.wl) FROM vl
        |                     WHERE vl.wl <= length(g.s) - g.pos + 1
        |                       AND vl.w = substr(g.s, g.pos, vl.wl)), 1) AS len
        |    FROM seg g WHERE g.pos <= length(g.s))
        |),
        |fin AS (SELECT doc_id, orig, toks FROM seg WHERE pos > length(s))
        |SELECT doc_id, len(orig)::BIGINT AS n_orig, len(toks)::BIGINT AS n_seg,
        |       (toks = orig) AS exact
        |FROM fin""".stripMargin,

    // ---- Streaming (batch-equivalent oracles; SURVEY §2 #38-39) ----
    "q_stream_wordcount" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms, event_type,
        |       count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_stream_running_idf" ->
      s"""WITH $dlCte
         |SELECT term, df, round(ln(n_docs::DOUBLE / (df + 1)), 6) AS idf FROM dft, nd""".stripMargin,
    // session_window semantics: events merge while the gap is strictly
    // under 30 min (new session at diff >= gap); end = last event + gap.
    // Comparisons happen on MICROSECONDS (the stream's event_time is
    // ns-truncated-to-us), mirrored by tus below.
    "q_stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus,
        |         lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_tus
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, tus,
        |         CASE WHEN prev_tus IS NULL OR tus - prev_tus >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM g),
        |t AS (
        |  SELECT user_id, tus,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM s)
        |SELECT user_id, (min(tus) // 1000)::BIGINT AS start_ms,
        |       (max(tus) // 1000 + 1800000)::BIGINT AS end_ms, count(*)::BIGINT AS n_events
        |FROM t GROUP BY user_id, sid""".stripMargin,
    "q_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS text_md5 FROM documents",
    "q_stream_join" ->
      """WITH p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id AS purchase_event_id, c.event_id AS click_event_id
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND c.tus <= p.tus AND c.tus >= p.tus - 3600000000""".stripMargin,
    // the streaming stateful detector replays the batch window frame
    // exactly (integer-only condition: v*n > 3*sum of prior values)
    // streaming run-to-completion == batch replay; +1 Laplace
    // smoothing keeps absent types' log terms finite in both engines
    "q_stream_psi" ->
      """WITH wc AS (SELECT (epoch_ns(ts) // 86400000000000) * 86400000 AS win_start_ms,
        |              event_type, count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |ref AS (SELECT event_type, count(*)::BIGINT AS cr FROM events GROUP BY 1),
        |rt AS (SELECT sum(cr)::BIGINT AS nr, count(*)::BIGINT AS t FROM ref),
        |wins AS (SELECT win_start_ms, sum(c)::BIGINT AS nw FROM wc GROUP BY 1),
        |g AS (SELECT w.win_start_ms, w.nw, r.event_type, r.cr, coalesce(wc.c, 0) AS c
        |      FROM wins w CROSS JOIN ref r
        |      LEFT JOIN wc ON wc.win_start_ms = w.win_start_ms
        |                  AND wc.event_type = r.event_type)
        |SELECT win_start_ms, min(nw)::BIGINT AS n_events,
        |       round(sum(((c + 1)::DOUBLE / (nw + t) - (cr + 1)::DOUBLE / (nr + t)) *
        |                 ln(((c + 1)::DOUBLE / (nw + t)) /
        |                    ((cr + 1)::DOUBLE / (nr + t)))), 4) AS psi
        |FROM g, rt GROUP BY 1""".stripMargin,
    "q_stream_anomaly" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |                  floor(value * 1000000.0)::BIGINT AS v FROM events),
        |w AS (SELECT user_id, event_id, ts, v,
        |        count(*) OVER win AS n, sum(v) OVER win AS s
        |      FROM e
        |      WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ts_ms, v AS v_micros
        |FROM w WHERE n > 0 AND v * n > 3 * s""".stripMargin,

    // ---- Round-4 additions ----
    "q_positions" ->
      s"""WITH $posCte
         |SELECT doc_id, term, string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
         |FROM pkept GROUP BY doc_id, term""".stripMargin,
    "q_phrase" -> {
      val Seq(t0, t1) = Positional.DemoPhrase
      s"""WITH $posCte
         |SELECT a.doc_id, count(*)::BIGINT AS n_hits
         |FROM pkept a JOIN pkept b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |WHERE a.term = '$t0' AND b.term = '$t1'
         |GROUP BY a.doc_id""".stripMargin
    },
    "q_bm25f" ->
      s"""WITH $posCte,
         |wtf AS (SELECT doc_id, term,
         |          sum(CASE WHEN pos < ${Positional.HeadLen} THEN ${Positional.HeadWeight} ELSE 1 END)::BIGINT AS wtf
         |        FROM pkept GROUP BY doc_id, term),
         |wdl AS (SELECT doc_id, sum(wtf)::BIGINT AS wdl FROM wtf GROUP BY doc_id),
         |stw AS (SELECT count(*)::BIGINT AS n_docs, avg(wdl)::DOUBLE AS avgwdl FROM wdl),
         |dfq AS (SELECT term, count(*)::BIGINT AS df FROM wtf
         |        WHERE term IN ($queryTermsSql) GROUP BY term)
         |SELECT w.doc_id,
         |       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (w.wtf * (${Bm25.K1} + 1.0)) /
         |             (w.wtf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * wdl.wdl / stw.avgwdl))), 4) AS score
         |FROM wtf w
         |JOIN dfq ON w.term = dfq.term
         |JOIN wdl ON w.doc_id = wdl.doc_id
         |CROSS JOIN stw
         |GROUP BY w.doc_id""".stripMargin,
    "q_prf_search" ->
      s"""WITH $dlCte,
         |avgd AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
         |idf1 AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN ($queryTermsSql)),
         |sc1 AS (SELECT tf.doc_id,
         |          round(sum(idf1.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
         |                (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
         |        FROM tf JOIN idf1 ON tf.term = idf1.term
         |        JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN avgd
         |        GROUP BY tf.doc_id),
         |fb AS (SELECT doc_id FROM (
         |         SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk FROM sc1)
         |       WHERE rk <= ${Positional.FeedbackDocs}),
         |ex AS (SELECT term FROM tf JOIN fb ON tf.doc_id = fb.doc_id
         |       WHERE term NOT IN ($queryTermsSql)
         |       GROUP BY term ORDER BY sum(tf) DESC, term ASC LIMIT ${Positional.ExpansionTerms}),
         |q2 AS (SELECT term FROM ex UNION SELECT unnest([$queryTermsSql]) AS term),
         |idf2 AS (SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |         FROM dft, nd WHERE term IN (SELECT term FROM q2)),
         |sc2 AS (SELECT tf.doc_id,
         |          round(sum(idf2.idf * (tf.tf * (${Bm25.K1} + 1.0)) /
         |                (tf.tf + ${Bm25.K1} * (1.0 - ${Bm25.B} + ${Bm25.B} * dl.dl / avgd.avgdl))), 4) AS score
         |        FROM tf JOIN idf2 ON tf.term = idf2.term
         |        JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN avgd
         |        GROUP BY tf.doc_id)
         |SELECT doc_id, score, rk FROM (
         |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rk FROM sc2)
         |WHERE rk <= 10""".stripMargin,
    "q_local_supplier" ->
      """SELECT n_name,
        |       sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_returned_items" ->
      """WITH agg AS (
        |  SELECT o_custkey,
        |         sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros,
        |         count(*)::BIGINT AS n_lines
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |SELECT o_custkey AS custkey, c_name,
        |       floor(c_acctbal * 1000000.0)::BIGINT AS acctbal_micros,
        |       revenue_micros, n_lines
        |FROM agg JOIN customer ON o_custkey = c_custkey
        |ORDER BY revenue_micros DESC, custkey ASC LIMIT 20""".stripMargin,
    "q_promo_share" ->
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |         sum(CASE WHEN p_type = 'PROMO'
        |               THEN floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT
        |               ELSE 0 END)::BIGINT AS promo_micros,
        |         sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS total_micros
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT ship_month, promo_micros, total_micros,
        |       round(promo_micros::DOUBLE / total_micros, 6) AS promo_share
        |FROM m""".stripMargin,
    "q_argmax" ->
      """SELECT c_nationkey::BIGINT AS nationkey,
        |       arg_max(c_name, floor(c_acctbal * 1000000.0)::BIGINT * 536870912 + c_custkey) AS richest,
        |       arg_min(c_name, floor(c_acctbal * 1000000.0)::BIGINT * 536870912 + c_custkey) AS poorest,
        |       count(*)::BIGINT AS n_customers
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "q_window_distinct" ->
      """SELECT event_id, user_id,
        |       count(DISTINCT event_type) OVER (
        |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n_kinds
        |FROM events""".stripMargin,
    "q_gopher" ->
      s"""WITH t AS (SELECT doc_id, length(text)::BIGINT AS lt,
         |                  string_split(lower(text), ' ') AS toks FROM documents),
         |m AS (SELECT doc_id, len(toks)::BIGINT AS nw,
         |             lt - (len(toks)::BIGINT - 1) AS tc,
         |             list_max(list_transform(list_distinct(toks),
         |               d -> len(list_filter(toks, t2 -> t2 = d))))::BIGINT AS max_tf,
         |             len(list_distinct(list_filter(toks, t2 -> t2 IN ($stop))))::BIGINT AS n_stop_kinds
         |      FROM t),
         |f AS (SELECT doc_id,
         |             (nw >= 25 AND nw <= 100000) AS ok_words,
         |             (tc >= nw * 2 AND tc <= nw * 10) AS ok_word_len,
         |             (max_tf * 8 <= nw) AS ok_repetition,
         |             (n_stop_kinds >= 2) AS ok_stopwords
         |      FROM m)
         |SELECT doc_id, ok_words, ok_word_len, ok_repetition, ok_stopwords,
         |       (ok_words AND ok_word_len AND ok_repetition AND ok_stopwords) AS keep
         |FROM f""".stripMargin,
    // n-gram char coverage: count x word-chars (len(gram) minus the
    // n-1 joining spaces) over total token chars; integer arithmetic
    // until the final division, keep decided on ROUNDED values
    "q_gopher_rep" ->
      """WITH t AS (SELECT doc_id, length(text)::BIGINT AS lt,
        |                  string_split(lower(text), ' ') AS w FROM documents),
        |b AS (SELECT doc_id, lt - (len(w)::BIGINT - 1) AS tc, w FROM t),
        |g2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        |       FROM b, unnest(generate_series(1, len(w) - 1)) AS u(i) WHERE len(w) >= 2),
        |c2 AS (SELECT doc_id, max(cnt * glen) AS cov FROM (
        |         SELECT doc_id, count(*)::BIGINT AS cnt,
        |                (length(gram) - 1)::BIGINT AS glen
        |         FROM g2 GROUP BY doc_id, gram) GROUP BY doc_id),
        |g3 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |       FROM b, unnest(generate_series(1, len(w) - 2)) AS u(i) WHERE len(w) >= 3),
        |c3 AS (SELECT doc_id, max(cnt * glen) AS cov FROM (
        |         SELECT doc_id, count(*)::BIGINT AS cnt,
        |                (length(gram) - 2)::BIGINT AS glen
        |         FROM g3 GROUP BY doc_id, gram) GROUP BY doc_id),
        |g5 AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
        |       FROM b, unnest(generate_series(1, len(w) - 4)) AS u(i) WHERE len(w) >= 5),
        |c5 AS (SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS cov FROM (
        |         SELECT doc_id, count(*)::BIGINT AS cnt,
        |                (length(gram) - 4)::BIGINT AS glen
        |         FROM g5 GROUP BY doc_id, gram) GROUP BY doc_id),
        |f AS (SELECT b.doc_id,
        |             coalesce(round(c2.cov::DOUBLE / b.tc, 4), 0)::DOUBLE AS top2_frac,
        |             coalesce(round(c3.cov::DOUBLE / b.tc, 4), 0)::DOUBLE AS top3_frac,
        |             coalesce(round(c5.cov::DOUBLE / b.tc, 4), 0)::DOUBLE AS dup5_frac
        |      FROM b
        |      LEFT JOIN c2 ON b.doc_id = c2.doc_id
        |      LEFT JOIN c3 ON b.doc_id = c3.doc_id
        |      LEFT JOIN c5 ON b.doc_id = c5.doc_id)
        |SELECT doc_id, top2_frac, top3_frac, dup5_frac,
        |       (top2_frac <= 0.20 AND top3_frac <= 0.18 AND dup5_frac <= 0.15) AS keep
        |FROM f""".stripMargin,
    // the bloom prefilter is exact after the final semi-join — the
    // oracle is the PLAIN semi-join aggregate
    "q_bloom_join" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_lines,
        |       sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS price_micros
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY l_returnflag""".stripMargin,
    "q_emb_outliers" ->
      """WITH d AS (SELECT vec_id, label, (i - 1) AS dim,
        |                  floor(CAST(embedding[i] AS DOUBLE) * 1000)::BIGINT AS m
        |           FROM embeddings,
        |           LATERAL unnest(generate_series(1, len(embedding))) AS g(i)),
        |c AS (SELECT label, dim, floor(sum(m)::DOUBLE / count(*))::BIGINT AS c FROM d
        |      GROUP BY label, dim),
        |dist AS (SELECT vec_id, d.label, sum((m - c.c) * (m - c.c))::BIGINT AS d2
        |         FROM d JOIN c ON d.label = c.label AND d.dim = c.dim
        |         GROUP BY vec_id, d.label)
        |SELECT vec_id, label::BIGINT AS label, d2
        |FROM dist ORDER BY d2 DESC, vec_id ASC LIMIT 10""".stripMargin,
    // the SAME ||a||^2+||b||^2-2a.b DOUBLE expression the Spark plan
    // runs (ordered element folds) — identical doubles inside the
    // exact-integer envelope (|d2| < 2^53), where the final BIGINT
    // casts (DuckDB rounds, Spark truncates) also agree because d2 is
    // integer-valued; OUTSIDE the envelope the contract is void
    "q_knn_classify" ->
      s"""WITH $knnPredCte
         |SELECT vec_id, true_label, predicted_label, n_votes FROM pred""".stripMargin,
    // per-label eval of the SAME replayed predictions: exact count
    // ratios with zero-denominator NULL guards
    "q_knn_metrics" ->
      s"""WITH $knnPredCte,
         |ac AS (SELECT true_label AS label, count(*)::BIGINT AS n_actual FROM pred GROUP BY 1),
         |pc AS (SELECT predicted_label AS label, count(*)::BIGINT AS n_predicted
         |       FROM pred GROUP BY 1),
         |cc AS (SELECT true_label AS label, count(*)::BIGINT AS n_correct
         |       FROM pred WHERE true_label = predicted_label GROUP BY 1),
         |g AS (SELECT coalesce(ac.label, pc.label) AS label,
         |        coalesce(ac.n_actual, 0)::BIGINT AS n_actual,
         |        coalesce(pc.n_predicted, 0)::BIGINT AS n_predicted
         |      FROM ac FULL OUTER JOIN pc ON ac.label = pc.label),
         |f AS (SELECT g.label, g.n_actual, g.n_predicted,
         |        coalesce(cc.n_correct, 0)::BIGINT AS n_correct
         |      FROM g LEFT JOIN cc ON g.label = cc.label)
         |SELECT label, n_actual, n_predicted, n_correct,
         |       CASE WHEN n_predicted > 0
         |            THEN round(n_correct::DOUBLE / n_predicted, 6) END AS precision,
         |       CASE WHEN n_actual > 0
         |            THEN round(n_correct::DOUBLE / n_actual, 6) END AS recall,
         |       CASE WHEN n_correct > 0
         |            THEN round(2.0 * (n_correct::DOUBLE / n_predicted) * (n_correct::DOUBLE / n_actual) /
         |                       (n_correct::DOUBLE / n_predicted + n_correct::DOUBLE / n_actual), 6)
         |            ELSE CASE WHEN n_actual > 0 AND n_predicted > 0 THEN 0.0 END
         |       END AS f1
         |FROM f""".stripMargin,
    // only days present in the data are reported; a (user, day) pair
    // collapses once and serves its <=7 trailing windows
    "q_rolling_actives" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |              epoch_ns(ts) // 86400000000000 AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |c AS (SELECT user_id, ud.day + k AS day
        |      FROM ud, generate_series(0, 6) AS t(k))
        |SELECT days.day, count(DISTINCT c.user_id)::BIGINT AS wau
        |FROM days JOIN c ON c.day = days.day
        |GROUP BY 1""".stripMargin,
    "q_stream_topk" ->
      """WITH c AS (SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms,
        |                  event_type, count(*)::BIGINT AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT win_start_ms, event_type, n,
        |        row_number() OVER (PARTITION BY win_start_ms ORDER BY n DESC, event_type ASC)::INT AS rk
        |      FROM c)
        |SELECT win_start_ms, event_type, n, rk FROM r WHERE rk <= 3""".stripMargin,
    "q_partitioned_scan" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,
    "q_zorder_scan" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_lines,
        |       sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS price_micros
        |FROM lineitem
        |WHERE l_extendedprice BETWEEN 30000.0 AND 31000.0
        |  AND l_quantity BETWEEN 20.0 AND 30.0
        |GROUP BY l_returnflag""".stripMargin,
    // the near-dup-aware split: the trainSplit assignment, with train
    // docs verified-paired to any held-out doc rewritten 'quarantined'
    "q_leakage_safe_split" ->
      s"""WITH $minhashCandCte,
         |spl AS (
         |  SELECT doc_id,
         |         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          list_sum(list_transform(range(1, 9),
         |            j -> (strpos('0123456789abcdef',
         |                         substr(md5(doc_id::VARCHAR), j, 1)) - 1)::BIGINT
         |                 << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
         |        FROM documents)),
         |hold AS (SELECT doc_id FROM spl WHERE split <> 'train'),
         |tainted AS (SELECT DISTINCT e.x AS doc_id FROM (
         |    SELECT doc_a AS x, doc_b AS y FROM ver
         |    UNION ALL SELECT doc_b, doc_a FROM ver) e
         |  JOIN hold h ON e.y = h.doc_id)
         |SELECT spl.doc_id,
         |       CASE WHEN spl.split = 'train' AND t.doc_id IS NOT NULL
         |            THEN 'quarantined' ELSE spl.split END AS split
         |FROM spl LEFT JOIN tainted t ON spl.doc_id = t.doc_id""".stripMargin,
    "q_train_split" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_sum(list_transform(range(1, 9),
        |           j -> (strpos('0123456789abcdef',
        |                        substr(md5(doc_id::VARCHAR), j, 1)) - 1)::BIGINT
        |                << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |FROM s""".stripMargin,
    "q_source_cap" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC)::BIGINT AS rk
        |  FROM documents)
        |WHERE rk <= 10""".stripMargin,
    "q_shuffle_order" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_sum(list_transform(range(1, 9),
        |           j -> (strpos('0123456789abcdef',
        |                        substr(md5(doc_id::VARCHAR || ':shuf'), j, 1)) - 1)::BIGINT
        |                << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, floor(u * 8)::BIGINT AS shard,
        |       row_number() OVER (PARTITION BY floor(u * 8)
        |                          ORDER BY u ASC, doc_id ASC)::BIGINT AS pos
        |FROM s""".stripMargin,
    // 10 integer PageRank iterations generated as a CTE chain; every
    // step is floor division of non-negative BIGINTs, mirroring the
    // Spark loop exactly (SURVEY §6)
    "q_pagerank" -> {
      val m = Graph.TotalMass
      val iters = (1 to 10).map { i =>
        s"""s$i AS (SELECT e.dst AS node, sum(r.rank // od.outdeg)::BIGINT AS insum
           |        FROM e JOIN r${i - 1} r ON e.src = r.node JOIN od ON e.src = od.src
           |        GROUP BY e.dst),
           |r$i AS (SELECT nd.node, (tp.t + (85 * COALESCE(s$i.insum, 0)) // 100)::BIGINT AS rank
           |        FROM nodes nd CROSS JOIN tp LEFT JOIN s$i ON nd.node = s$i.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashCandCte,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM ver
         |      UNION ALL SELECT doc_b, doc_a FROM ver),
         |nodes AS (SELECT doc_id AS node FROM documents),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |tp AS (SELECT ((15 * ($m // n)) // 100)::BIGINT AS t FROM nn),
         |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT node, ($m // n)::BIGINT AS rank FROM nodes, nn),
         |$iters
         |SELECT node, rank FROM r10""".stripMargin
    },

    // ---- Round-5 TPC-H shapes ----
    "q_revenue_forecast" ->
      """SELECT sum(floor(l_extendedprice * l_discount * 1000000.0)::BIGINT)::BIGINT AS revenue_micros,
        |       count(*)::BIGINT AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""".stripMargin,
    "q_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
        |         min(floor(l_extendedprice / l_quantity * 1000000.0)::BIGINT)::BIGINT AS offer_micros
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  JOIN part ON l_partkey = p_partkey AND p_size <= 10
        |  GROUP BY 1, 2, 3, 4, 5),
        |rk AS (SELECT *, row_number() OVER (
        |         PARTITION BY p_partkey ORDER BY offer_micros ASC, s_suppkey ASC) AS rk
        |       FROM offers)
        |SELECT p_partkey AS partkey, p_name, s_name, n_name, offer_micros
        |FROM rk WHERE rk = 1""".stripMargin,
    "q_market_share" ->
      """WITH m AS (
        |  SELECT year(o_orderdate)::BIGINT AS o_year,
        |         sum(CASE WHEN sn.n_name = 'NATION_1'
        |               THEN floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT
        |               ELSE 0 END)::BIGINT AS nation_micros,
        |         sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS total_micros
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  GROUP BY 1)
        |SELECT o_year, nation_micros, total_micros,
        |       round(nation_micros::DOUBLE / total_micros, 6) AS mkt_share
        |FROM m""".stripMargin,
    "q_product_profit" ->
      """SELECT sn.n_name, year(o_orderdate)::BIGINT AS o_year,
        |       sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT
        |           - floor(p_retailprice * l_quantity * 100000.0)::BIGINT)::BIGINT AS profit_micros,
        |       count(*)::BIGINT AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q_revenue_concentration" ->
      """WITH bysupp AS (
        |  SELECT l_suppkey,
        |         sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS rev_micros
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(rev_micros)::BIGINT AS total_micros, count(*)::BIGINT AS n_supp FROM bysupp)
        |SELECT l_suppkey AS suppkey, s_name, rev_micros
        |FROM bysupp, t
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_micros::DECIMAL(38,0) * n_supp * 20 > total_micros::DECIMAL(38,0) * 21""".stripMargin,
    "q_late_split" ->
      """SELECT l_linestatus,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "q_order_distribution" ->
      """WITH cc AS (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer
        |  LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
        |             WHERE o_orderpriority <> '4-NOT SPECIFIED') o
        |    ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*)::BIGINT AS custdist FROM cc GROUP BY 1""".stripMargin,
    "q_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, floor(l_quantity)::BIGINT AS qty, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'),
        |st AS (SELECT l_partkey AS sp_key, sum(qty)::BIGINT AS sum_qty, count(*)::BIGINT AS n_li
        |       FROM li GROUP BY 1)
        |SELECT sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS revenue_micros,
        |       count(*)::BIGINT AS n_lines,
        |       (sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT // 7)::BIGINT AS avg_yearly_micros
        |FROM li JOIN st ON l_partkey = sp_key
        |WHERE qty * 5 * n_li < sum_qty""".stripMargin,
    "q_disjunctive_pred" ->
      """SELECT sum(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)::BIGINT)::BIGINT AS revenue_micros,
        |       count(*)::BIGINT AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1.0 AND 11.0)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10.0 AND 20.0)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q_promo_suppliers" ->
      """WITH q AS (
        |  SELECT l_suppkey FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(floor(l_quantity)::BIGINT) > 50)
        |SELECT s_suppkey AS suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |WHERE EXISTS (SELECT 1 FROM q WHERE q.l_suppkey = s_suppkey)""".stripMargin,
    "q_waiting_orders" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*)::BIGINT AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin,
    "q_idle_customers" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |                  floor(c_acctbal * 1000000.0)::BIGINT AS bal_micros FROM customer),
        |pos AS (SELECT sum(bal_micros)::BIGINT AS sum_pos, count(*)::BIGINT AS n_pos
        |        FROM c WHERE bal_micros > 0)
        |SELECT c_nationkey::BIGINT AS nationkey, count(*)::BIGINT AS n_cust,
        |       sum(bal_micros)::BIGINT AS total_bal_micros
        |FROM c, pos
        |WHERE bal_micros * n_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1""".stripMargin,

    // ---- Round-5 pipeline/source/streaming additions ----
    "q_keywords" ->
      s"""WITH $dlCte,
         |idft AS (SELECT term, round(ln(n_docs::DOUBLE / (df + 1)), 6) AS idf FROM dft, nd),
         |ti AS (SELECT tf.doc_id, tf.term, round(tf.tf * idft.idf, 6) AS tfidf
         |       FROM tf JOIN idft ON tf.term = idft.term),
         |rked AS (SELECT doc_id, term, tfidf,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)::BIGINT AS rk
         |         FROM ti)
         |SELECT doc_id, term, tfidf, rk FROM rked WHERE rk <= 3""".stripMargin,
    "q_bigram_lm" ->
      """WITH tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
        |bg AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
        |       FROM tokw, unnest(generate_series(1, len(words)-1)) AS t(i)
        |       WHERE len(words) >= 2),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS n12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*)::BIGINT AS n1 FROM bg GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |       round(avg(ln(n12::DOUBLE / n1)), 4) AS avg_logprob
        |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id""".stripMargin,
    // interpolated Kneser-Ney: same discount/interpolation arithmetic,
    // same left-to-right FP evaluation order as TextAnalysis.knBigram
    "q_kn_bigram" ->
      """WITH tokw AS (SELECT string_split(lower(text), ' ') AS words FROM documents),
        |bg AS (SELECT words[i] AS w1, words[i+1] AS w2
        |       FROM tokw, unnest(generate_series(1, len(words)-1)) AS t(i)
        |       WHERE len(words) >= 2),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS n12 FROM bg GROUP BY 1, 2),
        |lft AS (SELECT w1, sum(n12)::BIGINT AS c1, count(*)::BIGINT AS t1 FROM c12 GROUP BY 1),
        |cont AS (SELECT w2, count(*)::BIGINT AS t2 FROM c12 GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS t FROM c12)
        |SELECT w1, w2, n12,
        |       round(greatest(n12 - 0.75, 0.0) / c1 + 0.75 * t1 / c1 * (t2::DOUBLE / t), 6) AS pkn
        |FROM c12 JOIN lft USING (w1) JOIN cont USING (w2), tot""".stripMargin,
    // Monroe et al. log-odds with informative Dirichlet prior; all count
    // arithmetic integer-exact, the two ln/sqrt orders mirror logOdds
    "q_log_odds" ->
      s"""WITH $tfCte,
         |st AS (SELECT d.source, t.term, count(*)::BIGINT AS y
         |       FROM tok2 t JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |corpus AS (SELECT term, sum(y)::BIGINT AS alpha FROM st GROUP BY 1),
         |bysrc AS (SELECT source, sum(y)::BIGINT AS n_i FROM st GROUP BY 1),
         |tot AS (SELECT sum(n_i)::BIGINT AS n_all FROM bysrc),
         |aa AS (SELECT sum(alpha)::BIGINT AS a0 FROM corpus),
         |zs AS (SELECT s.source, s.term, s.y,
         |         round((ln((s.y + c.alpha) / (b.n_i + a.a0 - s.y - c.alpha))
         |              - ln(((c.alpha - s.y) + c.alpha)
         |                   / ((t.n_all - b.n_i) + a.a0 - (c.alpha - s.y) - c.alpha)))
         |             / sqrt(1.0 / (s.y + c.alpha) + 1.0 / ((c.alpha - s.y) + c.alpha)), 4) AS z
         |       FROM st s JOIN corpus c USING (term) JOIN bysrc b USING (source), tot t, aa a),
         |rked AS (SELECT source, term, y, z,
         |           row_number() OVER (PARTITION BY source
         |                              ORDER BY abs(z) DESC, term ASC)::BIGINT AS rk
         |         FROM zs)
         |SELECT source, term, y, z, rk FROM rked WHERE rk <= 5""".stripMargin,
    "q_entropy" ->
      s"""WITH $tfCte
         |SELECT doc_id, sum(tf)::BIGINT AS dl, count(*)::BIGINT AS n_types,
         |       round(count(*)::DOUBLE / sum(tf), 6) AS ttr,
         |       round(ln(sum(tf)::DOUBLE) - sum(tf * ln(tf::DOUBLE)) / sum(tf), 4) AS entropy
         |FROM tf GROUP BY doc_id""".stripMargin,
    // diagonal whitening on the millis grid: per-dim BIGINT
    // count/Σx/Σx², mean and variance with the Scala driver's exact
    // op order (CAST(s AS DOUBLE)/n; (CAST(q AS DOUBLE)-CAST(s AS
    // DOUBLE)*s/n)/n), zero-variance dims whiten to 0.0
    "q_emb_whiten" -> embWhitenOracle,
    // the streamed micro-batch map under the pre-drain stats drains
    // to the identical relation (stateless map theorem)
    "q_stream_whiten" -> embWhitenOracle,
    "q_emb_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e)
        |SELECT vec_id, (i - 1)::BIGINT AS dim_idx,
        |       (CASE WHEN maxabs = 0 THEN 0
        |             ELSE greatest(-127, least(127, floor(v[i] * 127.0 / maxabs)::BIGINT)) END)::BIGINT AS qval,
        |       floor(maxabs * 1000000.0)::BIGINT AS scale_micros
        |FROM m, unnest(generate_series(1, len(v))) AS t(i)""".stripMargin,
    // the streaming upsert converges to the SAME last-wins state as
    // the batch q_idf_upsert (version-ordered merge) — shared shape
    "q_stream_upsert" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, value, epoch_ms(ts) AS ts_ms,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type, round(value, 6) AS last_value, ts_ms AS last_ts_ms
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_lines,
        |       sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS revenue_micros
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q_source_csv" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        |       sum(strlen(text))::BIGINT AS text_bytes,
        |       sum(CASE WHEN contains(text, chr(10)) THEN 1 ELSE 0 END)::BIGINT AS n_multiline
        |FROM documents GROUP BY 1""".stripMargin,
    "q_source_jsonl" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        |       sum(strlen(text))::BIGINT AS text_bytes
        |FROM documents GROUP BY 1""".stripMargin,
    "q_compacted_scan" ->
      """SELECT count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        |       count(DISTINCT lang)::BIGINT AS n_langs
        |FROM documents""".stripMargin,
    // hopping windows: each event lands in exactly windowLen/slide = 2
    // windows, enumerated as j ∈ {0,1} offsets from the event's slide
    // bucket — the closed form of Spark's window(ts, '1 hour', '30 min')
    "q_hopping_window" ->
      """SELECT ((epoch_ns(ts) // 1800000000000) - j) * 1800000 AS win_start_ms, event_type,
        |       count(*)::BIGINT AS n,
        |       sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS sum_value_micros
        |FROM events, unnest([0, 1]) AS t(j)
        |GROUP BY 1, 2""".stripMargin,
    "q_skipgrams" ->
      """WITH tokw AS (SELECT string_split(lower(text), ' ') AS words FROM documents),
        |sg AS (SELECT words[i] AS w1, words[i+2] AS w2
        |       FROM tokw, unnest(generate_series(1, len(words)-2)) AS t(i)
        |       WHERE len(words) >= 3)
        |SELECT w1, w2, count(*)::BIGINT AS n FROM sg GROUP BY 1, 2
        |ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "q_emb_norm" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        |SELECT vec_id, (i - 1)::BIGINT AS dim_idx, round(v[i] / nrm, 6) AS unit
        |FROM vn, unnest(generate_series(1, len(v))) AS t(i)
        |WHERE nrm > 0""".stripMargin,
    "q_source_orc" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // strlen = BYTE length in DuckDB (octet semantics, matching the
    // binaryFile `length` column); md5 over the same UTF-8 bytes
    "q_source_binary" ->
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes, md5(text) AS payload_md5
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // compacted-store metadata join: byte lengths and payload digests
    // recomputed from the documents relation (same octet semantics)
    "q_binary_compacted" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |       sum(strlen(text))::BIGINT AS total_bytes,
        |       count(DISTINCT md5(text))::BIGINT AS n_distinct_payloads
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY lang, source""".stripMargin,
    // LM-Dirichlet (Zhai & Lafferty): matched-term decomposition —
    // sum ln(1 + tf/(mu*cf/|C|)) + |q|*ln(mu/(dl+mu)); textual FP form
    // mirrored by SearchExtras.lmDirichletScore
    "q_lm_dirichlet" ->
      s"""WITH $dlCte,
         |tot AS (SELECT sum(dl)::DOUBLE AS total_tokens FROM dl),
         |cfq AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
         |        WHERE term IN ($queryTermsSql) GROUP BY term),
         |scored AS (
         |  SELECT tf.doc_id,
         |         round(sum(ln(1.0 + tf.tf / (2000.0 * cfq.cf / tot.total_tokens)))
         |               + 4.0 * ln(2000.0 / (dl.dl + 2000.0)), 4) AS score
         |  FROM tf JOIN cfq ON tf.term = cfq.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN tot
         |  GROUP BY tf.doc_id, dl.dl)
         |SELECT doc_id, score FROM scored""".stripMargin,
    // earliest case-insensitive query-term hit + fixed char window;
    // strpos/least-skips-nulls/substr semantics match Spark's
    "q_snippets" -> {
      val posList = Bm25.QueryTerms
        .map(t => s"nullif(strpos(lower(text), '${t.toLowerCase}'), 0)").mkString(",\n         |       ")
      s"""WITH m AS (SELECT doc_id, text,
         |  least($posList) AS p
         |  FROM documents)
         |SELECT doc_id, p::BIGINT AS pos,
         |       substr(text, greatest(1, p - 30), 80) AS snippet
         |FROM m WHERE p IS NOT NULL""".stripMargin
    },
    "q_autocomplete" ->
      s"""WITH $tfCte,
         |tc AS (SELECT term, count(*)::BIGINT AS n FROM tok2
         |       WHERE length(term) >= 3 GROUP BY term),
         |rk AS (SELECT substr(term, 1, 3) AS prefix, term, n,
         |              row_number() OVER (PARTITION BY substr(term, 1, 3)
         |                                 ORDER BY n DESC, term ASC) AS rk
         |       FROM tc)
         |SELECT prefix, term, n, rk::BIGINT AS rk FROM rk WHERE rk <= 5""".stripMargin,
    // NDCG@10 of the BM25 ranking vs rel = #distinct matched terms
    "q_search_ndcg" ->
      s"""WITH $bm25Cte,
         |rel AS (SELECT doc_id, count(DISTINCT term)::BIGINT AS rel FROM tf
         |        WHERE term IN ($queryTermsSql) GROUP BY doc_id),
         |top AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10),
         |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk FROM top),
         |d AS (SELECT sum((pow(2.0, rel.rel) - 1.0) / log2(ranked.rk + 1.0)) AS dcg
         |      FROM ranked JOIN rel ON ranked.doc_id = rel.doc_id),
         |itop AS (SELECT rel, doc_id FROM rel ORDER BY rel DESC, doc_id ASC LIMIT 10),
         |iranked AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rk FROM itop),
         |i AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(rk + 1.0)) AS idcg FROM iranked)
         |SELECT round(d.dcg, 4) AS dcg, round(i.idcg, 4) AS idcg,
         |       round(d.dcg / i.idcg, 6) AS ndcg FROM d, i""".stripMargin,
    // boolean retrieval: (spark AND query) AND (join OR merge) AND NOT slow
    "q_boolean_search" ->
      s"""WITH $tfCte,
         |f AS (SELECT doc_id,
         |        count(DISTINCT CASE WHEN term IN ('spark', 'query') THEN term END) AS n_must,
         |        max(CASE WHEN term IN ('join', 'merge') THEN 1 ELSE 0 END) AS has_any,
         |        max(CASE WHEN term IN ('slow') THEN 1 ELSE 0 END) AS has_none
         |      FROM tok2 WHERE term IN ('spark', 'query', 'join', 'merge', 'slow')
         |      GROUP BY doc_id)
         |SELECT doc_id FROM f
         |WHERE n_must = 2 AND has_any = 1 AND has_none = 0""".stripMargin,
    // did-you-mean: vocab terms within 2 edits, by (dist, count, term)
    "q_spell_correct" ->
      s"""WITH $tfCte,
         |vocab AS (SELECT term, count(*)::BIGINT AS n FROM tok2 GROUP BY term),
         |q AS (SELECT * FROM (VALUES ('qery'), ('jion'), ('streem'), ('windoow')) AS t(q)),
         |c AS (SELECT q.q, term AS suggestion,
         |             levenshtein(q.q, term)::BIGINT AS dist, n
         |      FROM vocab, q WHERE levenshtein(q.q, term) <= 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q
         |                ORDER BY dist ASC, n DESC, suggestion ASC) AS rk FROM c)
         |SELECT q, suggestion, dist, n, rk::BIGINT AS rk FROM r WHERE rk <= 3""".stripMargin,
    // tightest min-gap between two DISTINCT query terms per doc
    "q_proximity" ->
      s"""WITH $posCte,
         |qp AS (SELECT doc_id, term, pos FROM pkept WHERE term IN ($queryTermsSql)),
         |g AS (SELECT a.doc_id, min(abs(a.pos - b.pos))::BIGINT AS min_gap
         |      FROM qp a JOIN qp b ON a.doc_id = b.doc_id AND a.term < b.term
         |      GROUP BY a.doc_id)
         |SELECT doc_id, min_gap FROM g
         |ORDER BY min_gap ASC, doc_id ASC LIMIT 20""".stripMargin,
    // facet counts over docs matching >= 1 query term
    "q_facets" ->
      s"""WITH $tfCte,
         |m AS (SELECT DISTINCT doc_id FROM tok2 WHERE term IN ($queryTermsSql)),
         |d AS (SELECT lang, source FROM documents JOIN m USING (doc_id)),
         |u AS (SELECT 'lang' AS facet, lang AS value FROM d
         |      UNION ALL SELECT 'source', source FROM d)
         |SELECT facet, value, count(*)::BIGINT AS n FROM u GROUP BY 1, 2""".stripMargin,
    // 64-bit sign signature (4x16-bit chunks), hamming candidates,
    // exact cosine rerank — mirrors Ann.hammingTopK chunk for chunk
    "q_ann_hamming" -> {
      def sigChunk(rel: String, c: Int) =
        s"list_sum(list_transform(range(1, 17), i -> CASE WHEN $rel.embedding[${c * 16} + i] > 0 THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END))"
      s"""WITH $vecCte,
         |sig AS (SELECT e2.vec_id,
         |          ${sigChunk("e2", 0)} AS s0, ${sigChunk("e2", 1)} AS s1,
         |          ${sigChunk("e2", 2)} AS s2, ${sigChunk("e2", 3)} AS s3
         |        FROM embeddings e2),
         |qsig AS (SELECT s0 AS t0, s1 AS t1, s2 AS t2, s3 AS t3 FROM sig WHERE vec_id = 0),
         |h AS (SELECT vec_id,
         |        (bit_count(xor(s0, t0)) + bit_count(xor(s1, t1))
         |         + bit_count(xor(s2, t2)) + bit_count(xor(s3, t3)))::BIGINT AS hamming
         |      FROM sig, qsig WHERE vec_id != 0),
         |cand AS (SELECT vec_id, hamming FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 100),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |sc AS (SELECT b.vec_id, cand.hamming,
         |         round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |               / (q0.nrm * b.nrm), 4) AS cos
         |       FROM vn b JOIN cand ON b.vec_id = cand.vec_id, q0)
         |SELECT vec_id, hamming, cos FROM sc
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
    },
    // exact cosine top-10 per query vector, one plan for the batch
    "q_ann_batch" -> annBatchOracle,
    // the streamed form returns the same rows (shared contract)
    "q_stream_ann" -> annBatchOracle,
    // 16-token context windows; md5 gates chunk CONTENT
    "q_seq_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, words, i AS chunk_id
        |      FROM w, unnest(generate_series(0, (len(words) - 1) // 16)) AS g(i))
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |       len(words[(chunk_id * 16 + 1):(chunk_id * 16 + 16)])::BIGINT AS n_tokens,
        |       md5(array_to_string(words[(chunk_id * 16 + 1):(chunk_id * 16 + 16)], ' ')) AS chunk_md5
        |FROM c""".stripMargin,
    // the salted join is row-identical to the plain inner join
    "q_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    // greedy per-source packing replayed as a recursive CTE: one row
    // per recursion step carries (bin, fill) state down the doc_id
    // order — the sequential fold the Spark side streams per group
    // the cap sweep: one independent recursive greedy-pack chain per
    // cap (distinct CTE names), each rolled up to its efficiency row
    "q_pack_efficiency" -> packEfficiencyOracle(Seq(64L, 128L, 256L, 512L)),
    "q_seq_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_tokens, rn, 0::BIGINT AS bin_id, n_tokens AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
        |         CASE WHEN r.fill + t.n_tokens <= 256 THEN r.bin_id ELSE r.bin_id + 1 END,
        |         CASE WHEN r.fill + t.n_tokens <= 256 THEN r.fill + t.n_tokens ELSE t.n_tokens END
        |  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1)
        |SELECT doc_id, source, n_tokens, bin_id FROM r""".stripMargin,

    // ---- Round-7: embedding-side curation ----
    // deterministic ±1 JL sign projection: the matrix is md5-derived in
    // BOTH engines (hex digits sort '0'..'9' < 'a'..'f', so <= '7' is
    // exactly the Scala side's high-bit-of-first-nibble test) and every
    // output is an exact ± integer sum on the millis grid
    "q_emb_project" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS qv
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT q.vec_id, j.j AS dim,
        |             sum(CASE WHEN substring(md5('proj:' || j.j || ':' || (t.i - 1)), 1, 1) <= '7'
        |                      THEN q.qv[t.i] ELSE -q.qv[t.i] END) AS y
        |      FROM q, unnest(generate_series(0, 15)) AS j(j),
        |           unnest(generate_series(1, len(q.qv))) AS t(i)
        |      GROUP BY q.vec_id, j.j)
        |SELECT vec_id, dim::BIGINT AS dim, y::BIGINT AS y FROM p""".stripMargin,
    // exact integer-grid Lloyd's, unrolled — centroid sync and all
    // arithmetic replayed operation-for-operation (SURVEY §6)
    "q_kmeans" -> kmeansOracleSql(8, 2),
    // greedy k-center: the unrolled farthest-point replay — exact
    // BIGINT distances make every argmax step engine-identical
    "q_kcenter_sample" ->
      s"""WITH ${kcenterCtes(8)}
         |SELECT rk AS sample_rank, vec_id, gain FROM s8""".stripMargin,
    // per-micro-batch assignment against the once-fitted centroids is
    // the SAME map the batch final assignment runs → shared oracle
    "q_stream_kmeans" -> kmeansOracleSql(8, 2),
    // each micro-batch bands against the static corpus keeping
    // static_id < arriving_id, so the union of batches equals the
    // batch LSH candidate set exactly → shared oracle
    "q_stream_dedup_minhash" ->
      s"""WITH $minhashCandCte
         |SELECT doc_a, doc_b FROM cand""".stripMargin,
    // cluster-balanced quota sampling over the SAME unrolled kmeans
    // (md5 order is engine-identical: both sides hash 'cs:<id>')
    "q_cluster_sample" ->
      s"""SELECT vec_id, cluster_id, rn FROM (
         |  SELECT vec_id, cluster_id,
         |         (row_number() OVER (PARTITION BY cluster_id
         |            ORDER BY md5('cs:' || vec_id), vec_id))::BIGINT AS rn
         |  FROM (${kmeansOracleSql(8, 2)}) km
         |) WHERE rn <= 50""".stripMargin,
    // connected components over the exact all-pairs cosine graph; the
    // Spark side's LSH candidates + value collapse are pinned complete
    // at gate SFs by ClusteringSpec, so the CC labels coincide
    "q_semantic_clusters" ->
      s"""WITH RECURSIVE $semanticCcCte
         |SELECT vec_id, cluster_id FROM scl""".stripMargin,
    // SemDeDup keep-one-per-cluster: cluster canonicals plus every
    // vector with no ≥0.45 neighbor (zero-norm vectors survive — they
    // have no angle, so they near-duplicate nothing)
    "q_semantic_drop" ->
      s"""WITH RECURSIVE $semanticCcCte
         |SELECT emb.vec_id, emb.label::BIGINT AS label FROM embeddings emb
         |LEFT JOIN scl ON emb.vec_id = scl.vec_id
         |WHERE emb.embedding IS NOT NULL
         |  AND (scl.vec_id IS NULL OR emb.vec_id = scl.cluster_id)""".stripMargin,

    // ---- Round-9 additions ----
    // CDC apply: last op per key wins, trailing deletes drop the key
    "q_cdc_apply" ->
      """WITH ops AS (
        |  SELECT user_id, value,
        |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM events)
        |SELECT user_id, floor(value * 1000000.0)::BIGINT AS last_value_micros,
        |       n_ops::BIGINT AS n_ops
        |FROM ops WHERE rn = 1 AND op = 'upsert'""".stripMargin,
    // temperature sampling: rates derive from per-source counts; the
    // md5→uniform threshold replays graft's hashU bit-for-bit and the
    // rate is rounded to 6 decimals in BOTH engines before comparing
    "q_temperature_mix" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_s)::BIGINT AS n_total, sum(pow(n_s::DOUBLE, 0.7)) AS sum_w FROM c),
        |r AS (SELECT source,
        |             round(least(1.0, 0.5 * n_total * (pow(n_s::DOUBLE, 0.7) / sum_w) / n_s), 6) AS rate
        |      FROM c, t),
        |u AS (SELECT doc_id, source,
        |             list_sum(list_transform(range(1, 9),
        |               j -> (strpos('0123456789abcdef',
        |                            substr(md5(doc_id::VARCHAR || ':temp'), j, 1)) - 1)::BIGINT
        |                    << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
        |      FROM documents)
        |SELECT doc_id, u.source FROM u JOIN r ON u.source = r.source
        |WHERE u.u < r.rate""".stripMargin,
    // held-out bigram LM (even doc_ids), add-one smoothing over the
    // LM's continuation vocabulary; ppl derives from the ROUNDED
    // avg_logprob so exp sees identical inputs in both engines
    "q_doc_perplexity" ->
      s"""WITH $pplCte
         |SELECT doc_id, n_bigrams, avg_logprob, ppl FROM ppl""".stripMargin,
    // tertile cuts replayed as naive per-lang running-count windows at
    // oracle scale; the plan's bucket-split prefix picks the identical
    // min(ppl | 3*cum >= m*tot) value-level order statistic
    "q_ccnet_buckets" ->
      s"""WITH $pplCte,
         |j AS (SELECT p.doc_id, d.lang, p.ppl FROM ppl p JOIN documents d USING (doc_id)),
         |g AS (SELECT lang, ppl, count(*)::BIGINT AS n FROM j GROUP BY 1, 2),
         |cc AS (SELECT lang, ppl,
         |         sum(n) OVER (PARTITION BY lang ORDER BY ppl
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(n) OVER (PARTITION BY lang) AS tot FROM g),
         |cuts AS (SELECT lang, min(CASE WHEN 3 * cum >= tot THEN ppl END) AS p33,
         |                min(CASE WHEN 3 * cum >= 2 * tot THEN ppl END) AS p66
         |         FROM cc GROUP BY lang)
         |SELECT doc_id, lang, ppl,
         |       CASE WHEN ppl <= p33 THEN 'head'
         |            WHEN ppl <= p66 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM j JOIN cuts USING (lang)""".stripMargin,
    // winnowing k=3 w=4: per-window min (hash, pos) struct, full
    // windows only (short shingleable docs keep their single best)
    "q_winnowing" ->
      """WITH tokw AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
        |kg AS (SELECT doc_id, len(words)::BIGINT - 2 AS nk, i AS pos,
        |              md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
        |       FROM tokw, unnest(generate_series(1, len(words) - 2)) AS t(i)
        |       WHERE len(words) >= 3),
        |sel AS (SELECT doc_id, nk, pos,
        |          min(struct_pack(h := h, pos := pos))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
        |        FROM kg)
        |SELECT DISTINCT doc_id, (s).pos AS pos, (s).h AS fp
        |FROM sel WHERE pos <= greatest(nk - 3, 1)""".stripMargin,
    "q_quality_calibration" ->
      """WITH m AS (SELECT md5(text) AS h, count(*)::BIGINT AS m FROM documents GROUP BY 1),
        |b AS (SELECT doc_id, md5(text) AS h,
        |        floor(round(len(list_distinct(string_split(lower(text), ' ')))::DOUBLE /
        |              len(string_split(lower(text), ' ')), 4) * 10)::BIGINT AS band
        |      FROM documents),
        |pb AS (SELECT band, count(*)::BIGINT AS n_docs,
        |         sum(CASE WHEN m.m > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup
        |       FROM b JOIN m USING (h) GROUP BY band),
        |o AS (SELECT sum(n_docs)::BIGINT AS tn, sum(n_dup)::BIGINT AS td FROM pb)
        |SELECT band, n_docs, n_dup,
        |       round(n_dup::DOUBLE / n_docs, 6) AS dup_rate,
        |       CASE WHEN td > 0
        |            THEN round((n_dup::DOUBLE / n_docs) / (td::DOUBLE / tn), 6)
        |       END AS lift
        |FROM pb, o""".stripMargin,
    // the curve replays doc-level: expanded volume = all candidate
    // pairs above t (copies band identically, so the staged m_a*m_b +
    // C(m,2) arithmetic equals this count); rep rows restrict to the
    // canonical (min-id per text) subset
    "q_dedup_threshold_curve" ->
      s"""WITH $minhashCandCte,
         |jall AS (SELECT i.doc_a, i.doc_b,
         |           i.inter::DOUBLE / (na.n_sh + nb.n_sh - i.inter) AS j
         |         FROM cinter i JOIN csizes na ON i.doc_a = na.doc_id
         |                       JOIN csizes nb ON i.doc_b = nb.doc_id),
         |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |th AS (SELECT unnest([0.7, 0.75, 0.8, 0.85, 0.9, 0.95]::DOUBLE[]) AS threshold),
         |rp AS (SELECT threshold,
         |         sum(CASE WHEN j >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_rep_pairs,
         |         count(DISTINCT CASE WHEN j >= threshold THEN doc_b END)::BIGINT
         |           AS n_rep_losers
         |       FROM jall JOIN canon ca ON jall.doc_a = ca.doc_id
         |                 JOIN canon cb ON jall.doc_b = cb.doc_id
         |                 CROSS JOIN th
         |       GROUP BY threshold),
         |ex AS (SELECT threshold,
         |         sum(CASE WHEN j >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_pairs_expanded
         |       FROM jall CROSS JOIN th GROUP BY threshold)
         |SELECT threshold, n_rep_pairs, n_rep_losers, n_pairs_expanded
         |FROM rp JOIN ex USING (threshold)""".stripMargin,
    // DSIR log-likelihood ratio: target = lang='en' slice, add-one
    // smoothing over the joint vocabulary
    "q_importance_weights" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        |             FROM documents),
        |raw AS (SELECT tok, count(*)::BIGINT AS c_r FROM tok GROUP BY 1),
        |tgt AS (SELECT tok, count(*)::BIGINT AS c_t FROM tok WHERE lang = 'en' GROUP BY 1),
        |v AS (SELECT raw.tok, c_r, coalesce(c_t, 0)::BIGINT AS c_t
        |      FROM raw LEFT JOIN tgt USING (tok)),
        |sc AS (SELECT sum(c_r)::BIGINT AS n_r, sum(c_t)::BIGINT AS n_t,
        |              count(*)::BIGINT AS vocab FROM v)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |       round(sum(ln((c_t + 1)::DOUBLE / (n_t + vocab)::DOUBLE)
        |               - ln((c_r + 1)::DOUBLE / (n_r + vocab)::DOUBLE)), 4) AS log_ratio
        |FROM tok JOIN v USING (tok) CROSS JOIN sc
        |GROUP BY doc_id""".stripMargin,
    // width-64 length buckets, 8-doc batches per (source, bucket)
    "q_length_buckets" ->
      """SELECT doc_id, source, n_tokens, bucket_id,
        |       ((row_number() OVER (PARTITION BY source, bucket_id ORDER BY doc_id) - 1) // 8)::BIGINT AS batch_id
        |FROM (SELECT doc_id, source,
        |             len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
        |             (len(string_split(lower(text), ' ')) // 64)::BIGINT AS bucket_id
        |      FROM documents)""".stripMargin,
    // chunk hashes replay q_seq_chunks' windows (raw, un-lowercased
    // words — training sequences keep case exactly as seqChunks does)
    "q_dedup_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id,
        |             md5(array_to_string(words[(i * 16 + 1):(i * 16 + 16)], ' ')) AS chunk_md5
        |      FROM w, unnest(generate_series(0, (len(words) - 1) // 16)) AS g(i)),
        |f AS (SELECT chunk_md5, count(DISTINCT doc_id)::BIGINT AS n_docs FROM c GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |       sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
        |       round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_ratio
        |FROM c JOIN f USING (chunk_md5)
        |GROUP BY doc_id""".stripMargin,
    // first-iteration BPE pair statistics over the word-frequency
    // dictionary ("left"/"right" quoted — reserved in DuckDB)
    "q_bpe_pairs" ->
      """WITH wc AS (SELECT word, count(*)::BIGINT AS wcount
        |            FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |            WHERE len(word) > 0 GROUP BY 1),
        |p AS (SELECT substr(word, i, 1) AS "left", substr(word, i + 1, 1) AS "right", wcount
        |      FROM wc, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |      WHERE length(word) >= 2)
        |SELECT "left", "right", sum(wcount)::BIGINT AS n FROM p GROUP BY 1, 2""".stripMargin,
    "q_bpe_train" ->
      s"""WITH RECURSIVE $bpeSelCte,
         |fin AS (SELECT merges FROM sel ORDER BY it DESC LIMIT 1)
         |SELECT (i - 1)::BIGINT AS rank, merges[i].l AS "left",
         |       merges[i].r AS "right", merges[i].n AS n
         |FROM fin, unnest(range(1, len(merges) + 1)) AS t(i)""".stripMargin,
    // WordPiece replay: the bpe chain with the likelihood-scored
    // LATERAL — selection on one IEEE division of exact BIGINTs
    "q_wordpiece_train" ->
      s"""WITH RECURSIVE $wordpieceSelCte,
         |fin AS (SELECT merges FROM sel ORDER BY it DESC LIMIT 1)
         |SELECT (i - 1)::BIGINT AS rank, merges[i].l AS "left",
         |       merges[i].r AS "right", merges[i].n AS n,
         |       round(merges[i].sc, 6) AS score
         |FROM fin, unnest(range(1, len(merges) + 1)) AS t(i)""".stripMargin,
    // the training rewrite applied step-by-step to the dictionary IS
    // the encode of every word under the learned ranks — the recursive
    // state's FINAL vocab gives (word → subword count) directly
    "q_bpe_encode" ->
      s"""WITH RECURSIVE $bpeSelCte,
         |fin AS (SELECT vocab FROM sel ORDER BY it DESC LIMIT 1),
         |lens AS (SELECT array_to_string(w.syms, '') AS word, len(w.syms)::BIGINT AS n_sub
         |         FROM (SELECT unnest(vocab) AS w FROM fin)),
         |tokd AS (SELECT doc_id, word FROM (
         |           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         |           FROM documents)
         |         WHERE length(word) > 0)
         |SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_bpe_tokens
         |FROM tokd JOIN lens USING (word) GROUP BY doc_id""".stripMargin,
    // same encode replay, aggregated by the doc's language — the
    // fertility (subwords per word) equity metric
    "q_bpe_fertility" ->
      s"""WITH RECURSIVE $bpeSelCte,
         |fin AS (SELECT vocab FROM sel ORDER BY it DESC LIMIT 1),
         |lens AS (SELECT array_to_string(w.syms, '') AS word, len(w.syms)::BIGINT AS n_sub
         |         FROM (SELECT unnest(vocab) AS w FROM fin)),
         |tokd AS (SELECT doc_id, word FROM (
         |           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         |           FROM documents)
         |         WHERE length(word) > 0),
         |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words,
         |             sum(n_sub)::BIGINT AS n_bpe_tokens
         |           FROM tokd JOIN lens USING (word) GROUP BY doc_id)
         |SELECT d.lang, sum(p.n_words)::BIGINT AS n_words,
         |       sum(p.n_bpe_tokens)::BIGINT AS n_bpe_tokens,
         |       round(sum(p.n_bpe_tokens)::DOUBLE / sum(p.n_words), 4) AS fertility
         |FROM perdoc p JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
    // WordPiece encode serving: the training rewrite applied
    // step-by-step to the dictionary IS the encode of every word
    // under the likelihood-scored chain (the q_bpe_encode shape on
    // the wordpiece recursion)
    "q_wordpiece_encode" ->
      s"""WITH RECURSIVE $wordpieceSelCte,
         |fin AS (SELECT vocab FROM sel ORDER BY it DESC LIMIT 1),
         |lens AS (SELECT array_to_string(w.syms, '') AS word, len(w.syms)::BIGINT AS n_sub
         |         FROM (SELECT unnest(vocab) AS w FROM fin)),
         |tokd AS (SELECT doc_id, word FROM (
         |           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         |           FROM documents)
         |         WHERE length(word) > 0)
         |SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_wp_tokens
         |FROM tokd JOIN lens USING (word) GROUP BY doc_id""".stripMargin,
    // the WordPiece column of the fertility comparison: the same
    // final-vocab encode, under the likelihood-scored chain
    "q_wordpiece_fertility" ->
      s"""WITH RECURSIVE $wordpieceSelCte,
         |fin AS (SELECT vocab FROM sel ORDER BY it DESC LIMIT 1),
         |lens AS (SELECT array_to_string(w.syms, '') AS word, len(w.syms)::BIGINT AS n_sub
         |         FROM (SELECT unnest(vocab) AS w FROM fin)),
         |tokd AS (SELECT doc_id, word FROM (
         |           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         |           FROM documents)
         |         WHERE length(word) > 0),
         |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words,
         |             sum(n_sub)::BIGINT AS n_wp
         |           FROM tokd JOIN lens USING (word) GROUP BY doc_id)
         |SELECT d.lang, sum(p.n_words)::BIGINT AS n_words,
         |       sum(p.n_wp)::BIGINT AS n_wp_tokens,
         |       round(sum(p.n_wp)::DOUBLE / sum(p.n_words), 4) AS fertility
         |FROM perdoc p JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
    // the unigram trainer's unrolled hard-EM replay: final-round
    // in-vocab counts + floor-gridded probabilities (integer grid
    // end-to-end — see unigramCte)
    "q_unigram_train" -> {
      val g = graft.operators.Unigram.Grid
      val fc = s"c${graft.operators.Unigram.EmRounds}"
      s"""WITH RECURSIVE $unigramCte
         |SELECT piece, cnt AS n, cnt * $g // (SELECT sum(cnt)::BIGINT FROM $fc) AS p FROM $fc""".stripMargin
    },
    // one more Viterbi segmentation round under the FINAL vocab gives
    // every dictionary word's piece count; join back to the corpus
    // tokens (the q_bpe_encode shape)
    "q_unigram_encode" -> {
      val nr = graft.operators.Unigram.EmRounds + 1
      val mw = graft.operators.Unigram.MaxWordLen
      s"""WITH RECURSIVE $unigramCte,
         |${unigramSegRound(nr, s"v$nr")},
         |ulens AS MATERIALIZED (SELECT word, len(pieces)::BIGINT AS n_sub FROM bk$nr WHERE pos = 0),
         |utokd AS (SELECT doc_id, term AS word FROM tok2 WHERE length(term) <= $mw)
         |SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_unigram_tokens
         |FROM utokd JOIN ulens USING (word) GROUP BY doc_id""".stripMargin
    },
    // the encode replay aggregated by language — q_bpe_fertility's
    // shape under the unigram vocab
    "q_unigram_fertility" -> {
      val nr = graft.operators.Unigram.EmRounds + 1
      val mw = graft.operators.Unigram.MaxWordLen
      s"""WITH RECURSIVE $unigramCte,
         |${unigramSegRound(nr, s"v$nr")},
         |ulens AS MATERIALIZED (SELECT word, len(pieces)::BIGINT AS n_sub FROM bk$nr WHERE pos = 0),
         |utokd AS (SELECT doc_id, term AS word FROM tok2 WHERE length(term) <= $mw),
         |uperdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_unigram_tokens
         |            FROM utokd JOIN ulens USING (word) GROUP BY doc_id)
         |SELECT d.lang, sum(p.n_words)::BIGINT AS n_words,
         |       sum(p.n_unigram_tokens)::BIGINT AS n_unigram_tokens,
         |       round(sum(p.n_unigram_tokens)::DOUBLE / sum(p.n_words), 4) AS fertility
         |FROM uperdoc p JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin
    },
    // wide per-flag metric block melted to (key, metric, value) —
    // UNION ALL is the relational spelling of the Expand
    "q_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
        |  sum(floor(l_extendedprice * 1000000.0)::BIGINT)::BIGINT AS price_micros,
        |  sum(floor(l_quantity)::BIGINT)::BIGINT AS qty_units,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'price_micros' AS metric, price_micros AS value FROM w
        |UNION ALL SELECT l_returnflag, 'qty_units', qty_units FROM w
        |UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM w""".stripMargin,
    // ordered + capped LISTAGG; n_docs counts ALL members
    "q_string_agg" ->
      """WITH g AS (SELECT lang, source, list(doc_id ORDER BY doc_id) AS ids,
        |                  count(*)::BIGINT AS n_docs
        |           FROM documents GROUP BY 1, 2)
        |SELECT lang, source,
        |       array_to_string(list_transform(ids[1:100], x -> x::VARCHAR), ',') AS doc_ids,
        |       n_docs
        |FROM g""".stripMargin,
    "q_first_touch" ->
      """WITH f AS (SELECT user_id, event_type,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |           FROM events)
        |SELECT event_type AS first_type, count(*)::BIGINT AS n_users
        |FROM f WHERE rn = 1 GROUP BY 1""".stripMargin,
    // [ts, ts+300s) intervals exploded into covered 60s buckets
    "q_active_intervals" ->
      """WITH b AS (SELECT epoch_ns(ts) // 60000000000 AS b0,
        |                  (epoch_ns(ts) + 299999999999) // 60000000000 AS b1
        |           FROM events)
        |SELECT bucket, count(*)::BIGINT AS n_active
        |FROM b, unnest(generate_series(b0, b1)) AS t(bucket)
        |GROUP BY 1""".stripMargin,
    // md5-u replay (the q_train_split trick) keyed doc_id:lang:strat,
    // then the per-stratum rank-50 cut
    "q_stratified_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         list_sum(list_transform(range(1, 9),
        |           j -> (strpos('0123456789abcdef',
        |                        substr(md5(doc_id::VARCHAR || ':' || lang || ':strat'), j, 1)) - 1)::BIGINT
        |                << ((8 - j) * 4)))::DOUBLE / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id)::BIGINT AS rk
        |  FROM s)
        |WHERE rk <= 50""".stripMargin,
    // fold = md5(doc_id:fold) first-8-hex value mod 5
    "q_crossval_folds" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |         (list_sum(list_transform(range(1, 9),
        |           j -> (strpos('0123456789abcdef',
        |                        substr(md5(doc_id::VARCHAR || ':fold'), j, 1)) - 1)::BIGINT
        |                << ((8 - j) * 4))) % 5)::BIGINT AS fold
        |  FROM documents)
        |SELECT fold, source, count(*)::BIGINT AS n_docs FROM s GROUP BY 1, 2""".stripMargin,
    // tags → entities → whitespace runs, trimmed; 'g' = replace ALL
    // (DuckDB defaults to first match; Spark always replaces all)
    "q_html_strip" ->
      """SELECT doc_id, length(c)::BIGINT AS n_clean_chars, md5(c) AS clean_md5
        |FROM (SELECT doc_id,
        |             trim(regexp_replace(regexp_replace(regexp_replace(text,
        |               '<[^>]*>', ' ', 'g'), '&[a-zA-Z]+;', ' ', 'g'), '\s+', ' ', 'g')) AS c
        |      FROM documents)""".stripMargin,
    // list_transform/list_sum/list_max mirror the higher-order
    // transform/aggregate/array_max plan — no unnest
    "q_array_stats" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        |SELECT doc_id,
        |       len(toks)::BIGINT AS n_toks,
        |       list_sum(list_transform(toks, t -> length(t)))::BIGINT AS sum_len,
        |       list_max(list_transform(toks, t -> length(t)))::BIGINT AS max_len
        |FROM t WHERE len(toks) > 0""".stripMargin,
    // banded candidates + shingle intersection from the shared minhash
    // CTE over the CANONICAL relation (exact-collapse-first: one rep
    // per distinct text); containment divides by EACH side's set size
    // (unrounded compare, rounded output — q_dedup_verified's rule)
    "q_dedup_containment" ->
      s"""WITH canonr AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |cdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN canonr USING (doc_id)),
         |${minhashCandCteFor("cdocs")}
         |SELECT i.doc_a, i.doc_b,
         |       round(i.inter::DOUBLE / na.n_sh, 4) AS cont_a,
         |       round(i.inter::DOUBLE / nb.n_sh, 4) AS cont_b
         |FROM cinter i
         |JOIN csizes na ON i.doc_a = na.doc_id
         |JOIN csizes nb ON i.doc_b = nb.doc_id
         |WHERE i.inter::DOUBLE / na.n_sh >= 0.5
         |   OR i.inter::DOUBLE / nb.n_sh >= 0.5""".stripMargin,
    // the contained (smaller-set; tie → higher id) side drops at
    // containment ≥ 0.9; output = canonical keep set
    "q_dedup_contained_drop" ->
      s"""WITH canonr AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |cdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN canonr USING (doc_id)),
         |${minhashCandCteFor("cdocs")},
         |losers AS (SELECT DISTINCT
         |             CASE WHEN na.n_sh < nb.n_sh THEN i.doc_a ELSE i.doc_b END AS doc_id
         |           FROM cinter i
         |           JOIN csizes na ON i.doc_a = na.doc_id
         |           JOIN csizes nb ON i.doc_b = nb.doc_id
         |           WHERE i.inter::DOUBLE / least(na.n_sh, nb.n_sh) >= 0.9)
         |SELECT doc_id FROM canonr
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,
    // exact range search: same scoring contract as q_ann_bruteforce,
    // threshold filter on the ROUNDED cosine (the published score)
    "q_ann_range" ->
      s"""WITH $vecCte,
         |q AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |c AS (SELECT b.vec_id,
         |        round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |              / (q.nrm * b.nrm), 4) AS cos
         |      FROM vn b, q WHERE b.vec_id != 0)
         |SELECT vec_id, cos FROM c WHERE cos >= 0.2""".stripMargin,
    // value-RANGE frame: peers of the current ts are in-frame in both
    // engines, so tied timestamps cannot perturb the sums
    "q_range_frame" ->
      """SELECT event_id, user_id,
        |       (count(*) OVER w)::BIGINT AS n_1h,
        |       (sum(floor(value * 1000000.0)::BIGINT) OVER w)::BIGINT AS sum_micros_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // rank functions on the EXACT micros ordering key — tie-stable
    "q_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY floor(o_totalprice * 1000000.0)::BIGINT)""".stripMargin,
    "q_markov_stationary" -> markovStationaryOracleSql(8),
    // the absorption companion: 12 truncated-Neumann rounds, folds in
    // ascending to-state order, replayed round for round
    "q_absorbing_time" -> absorbingTimeOracleSql(12),
    "q_event_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM m""".stripMargin,
    // the streaming fold emits the same pair multiset (state carries
    // the previous event across batch boundaries)
    "q_stream_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM m""".stripMargin,
    // bipartite CC replayed as a recursive reachability closure over
    // the encoded (2·user / 2·item+1) node space
    "q_graph_cc" ->
      """WITH RECURSIVE ed AS (SELECT DISTINCT user_id * 2 AS a,
        |                   json_extract_string(props, '$.k')::BIGINT * 2 + 1 AS b
        |            FROM events
        |            WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e2 AS (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
        |r(node, reach) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
        |  UNION
        |  SELECT r.node, e2.b FROM r JOIN e2 ON r.reach = e2.a),
        |cl AS (SELECT node, min(reach)::BIGINT AS community_id FROM r GROUP BY node)
        |SELECT (node // 2)::BIGINT AS user_id, community_id
        |FROM cl WHERE node % 2 = 0""".stripMargin,
    // nearest-rank percentiles found on the histogram CDF with pure
    // integer positions ((q·n) ceil'd in integer arithmetic); the
    // clip and sum are exact longs, one final division
    "q_winsorized" ->
      """WITH e AS (SELECT event_type, floor(value * 1000000.0)::BIGINT AS v FROM events),
        |h AS (SELECT event_type, v, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        |cu AS (SELECT event_type, v, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY v
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM h),
        |lo AS (SELECT event_type AS et, min(v) AS lo FROM cu
        |       WHERE cum - c < (5 * n + 99) // 100 AND (5 * n + 99) // 100 <= cum
        |       GROUP BY 1),
        |hi AS (SELECT event_type AS et, min(v) AS hi FROM cu
        |       WHERE cum - c < (95 * n + 99) // 100 AND (95 * n + 99) // 100 <= cum
        |       GROUP BY 1),
        |w AS (SELECT e.event_type, greatest(lo.lo, least(hi.hi, e.v)) AS wv
        |      FROM e JOIN lo ON e.event_type = lo.et JOIN hi ON e.event_type = hi.et)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       round(sum(wv)::DOUBLE / count(*), 4) AS wins_mean_micros
        |FROM w GROUP BY 1""".stripMargin,
    // top-k vocabulary coverage at each curve point (count desc, term
    // asc tiebreak pins the k-boundary term in both engines)
    "q_vocab_coverage" ->
      s"""WITH $tfCte,
         |wc AS (SELECT term, count(*)::BIGINT AS n FROM tok2 GROUP BY term),
         |tot AS (SELECT sum(n)::BIGINT AS total_tokens FROM wc),
         |cov AS (
         |  SELECT 100::BIGINT AS k, sum(n)::BIGINT AS covered
         |  FROM (SELECT n FROM wc ORDER BY n DESC, term LIMIT 100)
         |  UNION ALL
         |  SELECT 1000::BIGINT, sum(n)::BIGINT
         |  FROM (SELECT n FROM wc ORDER BY n DESC, term LIMIT 1000)
         |  UNION ALL
         |  SELECT 10000::BIGINT, sum(n)::BIGINT
         |  FROM (SELECT n FROM wc ORDER BY n DESC, term LIMIT 10000))
         |SELECT k, covered, total_tokens,
         |       round(covered::DOUBLE / total_tokens, 6) AS coverage
         |FROM cov, tot""".stripMargin,
    // the streaming CDC apply emits exactly the batch apply's state
    // (version-ordered max_by — arrival order is immaterial)
    "q_stream_cdc" ->
      """WITH ops AS (
        |  SELECT user_id, value,
        |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM events)
        |SELECT user_id, floor(value * 1000000.0)::BIGINT AS last_value_micros,
        |       n_ops::BIGINT AS n_ops
        |FROM ops WHERE rn = 1 AND op = 'upsert'""".stripMargin,
    // RFM quartile boundaries as interpolated percentiles over exact
    // integers; a score counts strictly-beaten boundaries (ties land
    // low in both engines)
    "q_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey, max(epoch_ms(o_orderdate) // 86400000) AS last_day,
        |         count(*)::BIGINT AS freq,
        |         sum(floor(o_totalprice * 1000000.0)::BIGINT)::BIGINT AS mon_micros
        |  FROM orders GROUP BY 1),
        |b AS (SELECT quantile_cont(last_day, [0.25, 0.5, 0.75]) AS rq,
        |             quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
        |             quantile_cont(mon_micros, [0.25, 0.5, 0.75]) AS mq FROM pc),
        |s AS (SELECT
        |        (1 + (last_day > rq[1])::INT + (last_day > rq[2])::INT
        |           + (last_day > rq[3])::INT)::BIGINT AS r_score,
        |        (1 + (freq > fq[1])::INT + (freq > fq[2])::INT
        |           + (freq > fq[3])::INT)::BIGINT AS f_score,
        |        (1 + (mon_micros > mq[1])::INT + (mon_micros > mq[2])::INT
        |           + (mon_micros > mq[3])::INT)::BIGINT AS m_score,
        |        mon_micros
        |      FROM pc CROSS JOIN b)
        |SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_customers,
        |       sum(mon_micros)::BIGINT AS sum_monetary_micros
        |FROM s GROUP BY 1, 2, 3""".stripMargin,
    // growth only vs the DIRECTLY preceding calendar year (gap years
    // break the chain)
    "q_yoy" ->
      """WITH by_year AS (
        |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         sum(floor(o_totalprice * 1000000.0)::BIGINT)::BIGINT AS rev_micros
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |l AS (SELECT n_name, o_year, rev_micros,
        |        lag(rev_micros) OVER w AS prev_micros,
        |        lag(o_year) OVER w AS prev_year
        |      FROM by_year WINDOW w AS (PARTITION BY n_name ORDER BY o_year))
        |SELECT n_name, o_year, rev_micros, prev_micros,
        |       (rev_micros - prev_micros)::BIGINT AS delta_micros
        |FROM l WHERE prev_year = o_year - 1""".stripMargin,
    "q_order_gaps" ->
      """WITH d AS (SELECT o_custkey, o_orderkey,
        |             epoch_ms(o_orderdate) // 86400000 AS day FROM orders),
        |g AS (SELECT o_custkey,
        |        day - lag(day) OVER (PARTITION BY o_custkey
        |                             ORDER BY day, o_orderkey) AS gap
        |      FROM d)
        |SELECT o_custkey, count(*)::BIGINT AS n_orders, count(gap)::BIGINT AS n_gaps,
        |       min(gap)::BIGINT AS min_gap_days, max(gap)::BIGINT AS max_gap_days,
        |       sum(gap)::BIGINT AS sum_gap_days
        |FROM g GROUP BY 1 HAVING count(gap) >= 1""".stripMargin,
    // exact-integer rank signal; round-then-compare replayed verbatim
    "q_quality_percentile" ->
      """WITH t AS (SELECT source, doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT source, doc_id,
        |        (len(list_distinct(toks))::BIGINT * 1000000) // len(toks) AS dr_micros
        |      FROM t WHERE len(toks) > 0),
        |r AS (SELECT source, doc_id, dr_micros,
        |        round(percent_rank() OVER (PARTITION BY source
        |          ORDER BY dr_micros DESC, doc_id), 6) AS pr
        |      FROM c)
        |SELECT source, doc_id, dr_micros, pr FROM r WHERE pr <= 0.2""".stripMargin,
    "q_dup_rate_by_source" ->
      """WITH hh AS (SELECT source, doc_id, md5(text) AS h FROM documents),
        |canon AS (SELECT h, min(doc_id) AS keep_id FROM hh GROUP BY h)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       count(DISTINCT x.h)::BIGINT AS n_distinct_texts,
        |       (count(*) - count(DISTINCT x.h))::BIGINT AS n_copies,
        |       sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)::BIGINT AS n_canonical
        |FROM hh x JOIN canon USING (h) GROUP BY source""".stripMargin,
    // payload = utf8(text), so the blob digest replays as md5(text)
    // and byte length as octet_length of the encoded text
    "q_multimodal_dedup" ->
      """SELECT md5(text) AS payload_md5, min(doc_id)::BIGINT AS keep_doc_id,
        |       count(*)::BIGINT AS n_copies,
        |       sum(octet_length(encode(text)))::BIGINT AS total_bytes
        |FROM documents GROUP BY 1""".stripMargin,
    // the drained stream equals the batch rollup: shared oracle with
    // q_quality_by_source
    "q_stream_quality" ->
      """WITH t AS (SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (SELECT source, len(toks)::BIGINT AS n_tokens,
        |             len(list_distinct(toks))::BIGINT AS n_distinct FROM t)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       round(avg(n_tokens), 6) AS avg_tokens,
        |       sum(CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
        |                     AND n_distinct::DOUBLE / n_tokens >= 0.2
        |                THEN 1 ELSE 0 END)::BIGINT AS n_ok
        |FROM c GROUP BY source""".stripMargin,
    // hard negatives: the near-dup cutoff applies to the ROUNDED
    // cosine before ranking (boundary decisions replay verbatim)
    "q_hard_negatives" ->
      s"""WITH $vecCte,
         |q AS (SELECT vec_id AS query_id, v, nrm FROM vn WHERE vec_id IN (0, 1, 2)),
         |sc AS (SELECT q.query_id, b.vec_id,
         |         round(list_sum(list_transform(range(1, len(q.v) + 1),
         |                 i -> q.v[i] * b.v[i])) / (q.nrm * b.nrm), 4) AS cos
         |       FROM vn b, q WHERE b.vec_id != q.query_id),
         |r AS (SELECT query_id, vec_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, vec_id) AS rk
         |      FROM sc WHERE cos < 0.95)
         |SELECT query_id, vec_id, cos, rk::BIGINT AS rk FROM r WHERE rk <= 10""".stripMargin,
    // c-TF-IDF ranks on the ROUNDED score (term-asc tiebreak), so
    // libm-ulp differences cannot reorder the boundary
    "q_class_tfidf" ->
      s"""WITH tokc AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term
         |             FROM documents),
         |tokc2 AS (SELECT source, term FROM tokc
         |          WHERE length(term) >= ${graft.functions.Text.MinTokenLength}
         |            AND term NOT IN ($stop)),
         |bc AS (SELECT source, term, count(*)::BIGINT AS tf_c FROM tokc2 GROUP BY 1, 2),
         |tt AS (SELECT term, sum(tf_c)::BIGINT AS tf_all FROM bc GROUP BY 1),
         |aa AS (SELECT sum(tf_c)::DOUBLE / count(DISTINCT source) AS a FROM bc),
         |sc AS (SELECT source, bc.term,
         |         round(tf_c * ln(1 + a / tf_all), 4) AS ctfidf
         |       FROM bc JOIN tt ON bc.term = tt.term CROSS JOIN aa),
         |r AS (SELECT source, term, ctfidf,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY ctfidf DESC, term) AS rk
         |      FROM sc)
         |SELECT source, term, ctfidf, rk::BIGINT AS rk FROM r WHERE rk <= 5""".stripMargin,
    // snapshot diff: content compared by hash, statuses rolled up
    "q_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1, source AS s1
        |            FROM documents WHERE doc_id % 7 != 3),
        |v2 AS (SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 2 THEN text || ' vmark' ELSE text END) AS h2,
        |         source AS s2
        |       FROM documents WHERE doc_id % 11 != 5),
        |j AS (SELECT CASE WHEN h1 IS NULL THEN 'added'
        |                  WHEN h2 IS NULL THEN 'removed'
        |                  WHEN h1 = h2 THEN 'unchanged'
        |                  ELSE 'changed' END AS status,
        |             coalesce(s2, s1) AS source
        |      FROM v1 FULL OUTER JOIN v2 USING (doc_id))
        |SELECT status, count(*)::BIGINT AS n_docs,
        |       count(DISTINCT source)::BIGINT AS n_sources
        |FROM j GROUP BY 1""".stripMargin,
    "q_k_anonymize" ->
      """SELECT event_type, (epoch_ns(ts) // 86400000000000)::BIGINT AS day,
        |       count(*)::BIGINT AS n_events,
        |       count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1, 2
        |HAVING count(DISTINCT user_id) >= 5""".stripMargin,
    // the same gate with the sensitive-attribute diversity floor
    "q_l_diversity" ->
      """SELECT event_type, (epoch_ns(ts) // 86400000000000)::BIGINT AS day,
        |       count(*)::BIGINT AS n_events,
        |       count(DISTINCT user_id)::BIGINT AS n_users,
        |       count(DISTINCT json_extract_string(props, '$.k')::BIGINT)::BIGINT AS n_items
        |FROM events GROUP BY 1, 2
        |HAVING count(DISTINCT user_id) >= 5
        |   AND count(DISTINCT json_extract_string(props, '$.k')::BIGINT) >= 3""".stripMargin,
    // per-source shingle type-token ratio
    "q_source_diversity" ->
      s"""WITH $shingleCte,
         |ssh AS (SELECT d.source, md5(sh.shingle) AS h
         |        FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
         |tot AS (SELECT source, count(*)::BIGINT AS n_shingles FROM ssh GROUP BY 1),
         |dst AS (SELECT source, count(*)::BIGINT AS n_distinct FROM
         |          (SELECT DISTINCT source, h FROM ssh) GROUP BY 1)
         |SELECT tot.source, tot.n_shingles, dst.n_distinct,
         |       round(dst.n_distinct::DOUBLE / tot.n_shingles, 6) AS ttr
         |FROM tot JOIN dst ON tot.source = dst.source""".stripMargin,
    // forward-window min(struct) binds each step to the earliest
    // qualifying follower; the b->c chain joins back on the bound b
    "q_cep_match" -> cepMatchSql,
    // the streaming CEP detector equals the batch matcher row-for-row
    "q_stream_cep" -> cepMatchSql,
    // running-max sweep: a block opens where start clears all prior
    // ends; identical-row ties make peer order immaterial
    "q_interval_union" ->
      """WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000000 AS s,
        |              epoch_ns(ts) // 1000000 + 300000 AS e FROM events),
        |p AS (SELECT user_id, s, e,
        |        max(e) OVER (PARTITION BY user_id ORDER BY s
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM iv),
        |o AS (SELECT user_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS opens FROM p),
        |bl AS (SELECT user_id, s, e,
        |         sum(opens) OVER (PARTITION BY user_id ORDER BY s
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS block
        |       FROM o),
        |g AS (SELECT user_id, block, min(s) AS bs, max(e) AS be FROM bl GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_blocks,
        |       sum(be - bs)::BIGINT AS covered_ms
        |FROM g GROUP BY 1""".stripMargin,
    // raw inner product, no norm division; selection on the rounded
    // score with the vec_id tiebreak (the bruteforce contract)
    "q_mips" ->
      s"""WITH $vecCte,
         |q AS (SELECT v FROM vn WHERE vec_id = 0)
         |SELECT b.vec_id,
         |       round(list_sum(list_transform(range(1, len(q.v) + 1),
         |                                     i -> q.v[i] * b.v[i])), 4) AS ip
         |FROM vn b, q WHERE b.vec_id != 0
         |ORDER BY ip DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    "q_lsh_tune" -> lshTuneSql,
    // day-cardinality prefix sums via triangle join; standardized mean
    // gap, 1-row argmax on (rounded score desc, day asc)
    "q_changepoint" ->
      """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day, count(*)::BIGINT AS x
        |           FROM events GROUP BY 1),
        |t AS (SELECT sum(x)::BIGINT AS t, count(*)::BIGINT AS n FROM d),
        |p AS (SELECT a.day, sum(b.x)::BIGINT AS s, count(*)::BIGINT AS n1
        |      FROM d a JOIN d b ON b.day <= a.day GROUP BY a.day)
        |SELECT p.day AS split_day, p.n1 AS n_before, (t.n - p.n1)::BIGINT AS n_after,
        |       round(p.s::DOUBLE / p.n1, 4) AS mean_before,
        |       round((t.t - p.s)::DOUBLE / (t.n - p.n1), 4) AS mean_after,
        |       round(sqrt(p.n1 * (t.n - p.n1) / t.n::DOUBLE) *
        |             abs(p.s::DOUBLE / p.n1 - (t.t - p.s)::DOUBLE / (t.n - p.n1)), 4)
        |         AS score
        |FROM p, t WHERE p.n1 < t.n
        |ORDER BY score DESC, split_day ASC LIMIT 1""".stripMargin,
    // pooled two-proportion z on the parity cohort split
    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS np
        |           FROM events GROUP BY 1),
        |c AS (SELECT user_id % 2 AS cohort, count(*)::BIGINT AS n,
        |        sum(CASE WHEN np >= 14 THEN 1 ELSE 0 END)::BIGINT AS c
        |      FROM u GROUP BY 1),
        |a AS (SELECT n AS n_a, c AS conv_a FROM c WHERE cohort = 0),
        |b AS (SELECT n AS n_b, c AS conv_b FROM c WHERE cohort = 1),
        |p AS (SELECT n_a, n_b, conv_a, conv_b,
        |        (conv_a + conv_b)::DOUBLE / (n_a + n_b) AS pp FROM a, b)
        |SELECT n_a, n_b, conv_a, conv_b,
        |       round(conv_a::DOUBLE / n_a, 4) AS rate_a,
        |       round(conv_b::DOUBLE / n_b, 4) AS rate_b,
        |       CASE WHEN pp > 0.0 AND pp < 1.0 THEN
        |         round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) /
        |               sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)), 4)
        |       END AS z
        |FROM p""".stripMargin,
    // gap sessionization replayed, paths as the ordered first-5 type
    // list; identical (ts, event_id) total order in both engines
    "q_session_paths" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |        sum(CASE WHEN prev_ts IS NULL OR
        |                      epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
        |                 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM o),
        |p AS (SELECT user_id, session_id,
        |        array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
        |      FROM s GROUP BY 1, 2)
        |SELECT path, count(*)::BIGINT AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path ASC LIMIT 10""".stripMargin,
    // the lang-id CTE joined back to truth; share = cell / true-row
    "q_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |c AS (SELECT doc_id, len(toks) AS n_tokens,
         |             len(list_filter(toks, t -> t IN ($stop))) AS n_stop FROM t),
         |pred AS (SELECT doc_id,
         |           CASE WHEN n_stop::DOUBLE / n_tokens >= 0.05 THEN 'en'
         |                ELSE 'und' END AS predicted_lang
         |         FROM c),
         |cells AS (SELECT d.lang, p.predicted_lang, count(*)::BIGINT AS n
         |          FROM pred p JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT lang AS tl, sum(n)::BIGINT AS row_n FROM cells GROUP BY 1)
         |SELECT lang, predicted_lang, n, round(n::DOUBLE / row_n, 4) AS share
         |FROM cells JOIN tot ON lang = tl""".stripMargin,
    // first digit of the price-micros BIGINT; p and chi2 both use
    // ln(1+1/d)/ln(10) to mirror the plan's Logarithm expression
    "q_benford" ->
      """WITH d AS (SELECT substr(floor(o_totalprice * 1000000.0)::BIGINT::VARCHAR,
        |                        1, 1)::BIGINT AS digit,
        |             count(*)::BIGINT AS n
        |           FROM orders WHERE o_totalprice > 0
        |             AND floor(o_totalprice * 1000000.0) >= 1 GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS t FROM d),
        |wp AS (SELECT digit, n, t, ln(1.0 + 1.0 / digit) / ln(10.0) AS p FROM d, t),
        |chi AS (SELECT round(sum((n - t * p) * (n - t * p) / (t * p)), 4) AS chi2
        |        FROM wp)
        |SELECT digit, n, round(n::DOUBLE / t, 4) AS freq,
        |       round(p, 4) AS benford_p, chi.chi2
        |FROM wp, chi""".stripMargin,
    // CombSUM/CombMNZ fusion: both runs min-max normalized on their
    // ROUNDED scores over the same depth-N lists the plan retrieves
    "q_fusion_combsum" ->
      s"""WITH $bm25Cte, $vecCte,
         |tb AS (SELECT doc_id AS id, score FROM scored
         |       ORDER BY score DESC, doc_id ASC LIMIT ${Hybrid.FusionDepth}),
         |bn AS (SELECT id, CASE WHEN m.mx = m.mn THEN 1.0
         |                       ELSE (score - m.mn) / (m.mx - m.mn) END AS ns
         |       FROM tb, (SELECT min(score) AS mn, max(score) AS mx FROM tb) m),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |tc AS (SELECT id, cos FROM cosall ORDER BY cos DESC, id ASC LIMIT ${Hybrid.FusionDepth}),
         |cn AS (SELECT id, CASE WHEN m.mx = m.mn THEN 1.0
         |                       ELSE (cos - m.mn) / (m.mx - m.mn) END AS nc
         |       FROM tc, (SELECT min(cos) AS mn, max(cos) AS mx FROM tc) m),
         |f AS (SELECT coalesce(bn.id, cn.id) AS doc_id,
         |        round(coalesce(ns, 0) + coalesce(nc, 0), 6) AS combsum,
         |        round((coalesce(ns, 0) + coalesce(nc, 0)) *
         |              ((ns IS NOT NULL)::INT + (nc IS NOT NULL)::INT), 6) AS combmnz
         |      FROM bn FULL JOIN cn ON bn.id = cn.id)
         |SELECT doc_id, combsum, combmnz FROM f
         |ORDER BY combsum DESC, doc_id ASC LIMIT 10""".stripMargin,
    // Borda fusion: the same two depth-N runs ranked by row_number
    // under the shared (score desc, id asc) total order; linear
    // points, absent run = 0, all BIGINT
    "q_fusion_borda" ->
      s"""WITH $bm25Cte, $vecCte,
         |tb AS (SELECT doc_id AS id,
         |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rb
         |       FROM scored ORDER BY score DESC, doc_id ASC LIMIT ${Hybrid.FusionDepth}),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |tc AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rc
         |       FROM cosall ORDER BY cos DESC, id ASC LIMIT ${Hybrid.FusionDepth})
         |SELECT coalesce(tb.id, tc.id) AS doc_id,
         |       coalesce(${Hybrid.FusionDepth} + 1 - rb, 0)::BIGINT AS points_lex,
         |       coalesce(${Hybrid.FusionDepth} + 1 - rc, 0)::BIGINT AS points_dense,
         |       (coalesce(${Hybrid.FusionDepth} + 1 - rb, 0) +
         |        coalesce(${Hybrid.FusionDepth} + 1 - rc, 0))::BIGINT AS borda
         |FROM tb FULL JOIN tc ON tb.id = tc.id
         |ORDER BY borda DESC, doc_id ASC LIMIT 10""".stripMargin,
    // JM decomposition: doc-independent background constant + matched
    // postings; corpus-absent query terms contribute nothing (both
    // sides range over cfq, the PRESENT query terms)
    "q_lm_jm" ->
      s"""WITH $dlCte,
         |tot AS (SELECT sum(dl)::DOUBLE AS total_tokens FROM dl),
         |cfq AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
         |        WHERE term IN ($queryTermsSql) GROUP BY term),
         |qc AS (SELECT sum(ln(0.1 * cf / tot.total_tokens)) AS qc
         |       FROM cfq CROSS JOIN tot),
         |scored AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1.0 + ((1.0 - 0.1) * tf.tf * tot.total_tokens) /
         |                      (0.1 * cfq.cf * dl.dl))) AS cs
         |  FROM tf JOIN cfq ON tf.term = cfq.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN tot
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(cs + qc.qc, 4) AS score
         |FROM scored CROSS JOIN qc""".stripMargin,
    "q_basket_pairs" ->
      """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |s AS (SELECT l_partkey, count(*)::BIGINT AS n FROM it GROUP BY 1),
        |no AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM it),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |             count(*)::BIGINT AS n_ab
        |      FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
        |                        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2)
        |SELECT part_a, part_b, n_ab, sa.n AS na, sb.n AS nb,
        |       round(n_ab::DOUBLE * n_orders / (sa.n * sb.n), 6) AS lift
        |FROM p JOIN s sa ON part_a = sa.l_partkey
        |       JOIN s sb ON part_b = sb.l_partkey CROSS JOIN no
        |ORDER BY n_ab DESC, part_a ASC, part_b ASC LIMIT 20""".stripMargin,
    // sorted-formula Gini replayed with a naive running-count window
    // at oracle scale; all products in HUGEINT (plan: decimal(38,0))
    "q_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |               sum(floor(o_totalprice * 1000000.0)::BIGINT)::BIGINT AS x
        |             FROM orders GROUP BY 1),
        |g AS (SELECT x, count(*)::BIGINT AS c FROM rev GROUP BY 1),
        |w AS (SELECT x, c,
        |        coalesce(sum(c) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS p
        |      FROM g),
        |t AS (SELECT sum(c)::BIGINT AS n, sum(x::HUGEINT * c)::HUGEINT AS sx FROM g),
        |nm AS (SELECT sum(x::HUGEINT * c * (2 * p + c - t.n))::HUGEINT AS num
        |       FROM w CROSS JOIN t)
        |SELECT t.n AS n_customers, t.sx::BIGINT AS total_rev_micros,
        |       round(nm.num::DOUBLE / (t.n::DOUBLE * t.sx::DOUBLE), 6) AS gini
        |FROM t CROSS JOIN nm""".stripMargin,
    // integer-millis sum vectors: cosine is scale-invariant, the
    // centroid L2 clears denominators — every product exact HUGEINT
    "q_emb_drift" ->
      """WITH d AS (SELECT label, i - 1 AS dim,
        |             floor(embedding[i]::DOUBLE * 1000)::BIGINT AS mv
        |           FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        |bl AS (SELECT label, dim, sum(mv)::HUGEINT AS s, count(*)::BIGINT AS cnt
        |       FROM d GROUP BY 1, 2),
        |g AS (SELECT dim, sum(s)::HUGEINT AS gs, sum(cnt)::BIGINT AS gc
        |      FROM bl GROUP BY 1),
        |j AS (SELECT label, cnt, gc, s, gs FROM bl JOIN g USING (dim)),
        |a AS (SELECT label, max(cnt)::BIGINT AS n_vecs, max(gc)::BIGINT AS gcv,
        |        sum(s * gs)::HUGEINT AS dot, sum(s * s)::HUGEINT AS nl,
        |        sum(gs * gs)::HUGEINT AS ng,
        |        sum((s * gc - gs * cnt) * (s * gc - gs * cnt))::HUGEINT AS d2
        |      FROM j GROUP BY label)
        |SELECT label, n_vecs,
        |       CASE WHEN nl > 0 AND ng > 0
        |            THEN round(dot::DOUBLE / sqrt(nl::DOUBLE * ng::DOUBLE), 6)
        |       END AS cos_to_global,
        |       round(sqrt(d2::DOUBLE) / (n_vecs * gcv * 1000.0), 6) AS l2_dist
        |FROM a""".stripMargin,
    "q_dedup_cross_source" ->
      s"""WITH $minhashCandCte
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*)::BIGINT AS n_pairs
         |FROM ver JOIN documents da ON ver.doc_a = da.doc_id
         |         JOIN documents db ON ver.doc_b = db.doc_id
         |GROUP BY 1, 2""".stripMargin,
    // Adamic-Adar over the canonical candidate graph: shared neighbors
    // reweighted by 1/ln(deg) — a shared neighbor always has deg >= 2
    "q_adamic_adar" ->
      s"""WITH $minhashCanonCte,
         |ed AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM cand),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |dg AS (SELECT node AS w, count(*)::BIGINT AS deg FROM nb GROUP BY 1),
         |wd AS (SELECT x.node AS doc_a, y.node AS doc_b, x.nbr AS w
         |       FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.node < y.node),
         |ag AS (SELECT wd.doc_a, wd.doc_b, count(*)::BIGINT AS n_common,
         |              round(sum(1.0 / ln(deg)), 6) AS aa
         |       FROM wd JOIN dg USING (w) GROUP BY 1, 2),
         |nw AS (SELECT ag.* FROM ag LEFT JOIN ed ON ag.doc_a = ed.a AND ag.doc_b = ed.b
         |       WHERE ed.a IS NULL)
         |SELECT doc_a, doc_b, n_common, aa FROM nw
         |ORDER BY aa DESC, doc_a ASC, doc_b ASC LIMIT 10""".stripMargin,
    // hop-capped all-pairs closure via a depth-bounded recursive CTE,
    // min distance per pair, max per component
    "q_cluster_diameter" ->
      s"""WITH RECURSIVE $minhashCandCte,
         |ed AS (SELECT DISTINCT least(doc_a, doc_b) AS a,
         |         greatest(doc_a, doc_b) AS b FROM ver),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |r AS (
         |  SELECT node AS x, nbr AS y, 1::BIGINT AS d FROM nb
         |  UNION
         |  SELECT r.x, nb.nbr AS y, r.d + 1 AS d
         |  FROM r JOIN nb ON nb.node = r.y
         |  WHERE r.d < 8 AND nb.nbr <> r.x),
         |ap AS (SELECT x, y, min(d) AS d FROM r GROUP BY 1, 2),
         |comp AS (SELECT x, least(x, min(y)) AS cluster_id FROM ap GROUP BY x)
         |SELECT comp.cluster_id, count(DISTINCT ap.x)::BIGINT AS n_nodes,
         |       max(ap.d)::BIGINT AS diameter
         |FROM ap JOIN comp ON ap.x = comp.x
         |GROUP BY 1""".stripMargin,
    // a support-0 edge closes no wedge into another edge
    "q_graph_bridges" ->
      s"""WITH $minhashCandCte,
         |ed AS (SELECT DISTINCT least(doc_a, doc_b) AS a,
         |         greatest(doc_a, doc_b) AS b FROM ver),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |sup AS (SELECT DISTINCT x.node AS a, y.node AS b
         |        FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.node < y.node
         |        WHERE EXISTS (SELECT 1 FROM ed WHERE ed.a = x.node AND ed.b = y.node))
         |SELECT ed.a AS doc_a, ed.b AS doc_b FROM ed
         |LEFT JOIN sup ON ed.a = sup.a AND ed.b = sup.b
         |WHERE sup.a IS NULL""".stripMargin,
    "q_ego_sizes" ->
      s"""WITH $minhashCandCte,
         |ed AS (SELECT DISTINCT least(doc_a, doc_b) AS a,
         |         greatest(doc_a, doc_b) AS b FROM ver),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |one AS (SELECT node, count(*)::BIGINT AS n_1hop FROM nb GROUP BY 1),
         |r2 AS (SELECT x.node, y.nbr AS hop2
         |       FROM nb x JOIN nb y ON x.nbr = y.node
         |       WHERE y.nbr <> x.node),
         |reach AS (SELECT node, count(DISTINCT nbr)::BIGINT AS n_2hop FROM (
         |            SELECT node, hop2 AS nbr FROM r2
         |            UNION SELECT node, nbr FROM nb) GROUP BY 1)
         |SELECT one.node AS doc_id, one.n_1hop, reach.n_2hop
         |FROM one JOIN reach ON one.node = reach.node""".stripMargin,
    // Jaccard link prediction: common / (deg(a) + deg(b) - common)
    "q_graph_jaccard" ->
      s"""WITH $minhashCanonCte,
         |ed AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM cand),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |dg AS (SELECT node, count(*)::BIGINT AS deg FROM nb GROUP BY 1),
         |w AS (SELECT x.node AS doc_a, y.node AS doc_b, count(*)::BIGINT AS n_common
         |      FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.node < y.node
         |      GROUP BY 1, 2),
         |nw AS (SELECT w.* FROM w LEFT JOIN ed ON w.doc_a = ed.a AND w.doc_b = ed.b
         |       WHERE ed.a IS NULL),
         |j AS (SELECT nw.doc_a, nw.doc_b, nw.n_common,
         |        round(nw.n_common::DOUBLE / (da.deg + db.deg - nw.n_common), 6) AS jaccard
         |      FROM nw JOIN dg da ON nw.doc_a = da.node
         |              JOIN dg db ON nw.doc_b = db.node)
         |SELECT doc_a, doc_b, n_common, jaccard FROM j
         |ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 10""".stripMargin,
    // bounded multi-source BFS replayed as a depth-capped recursive
    // CTE: collect every (node, hops<=6) derivation, keep the min
    "q_bfs_hops" ->
      s"""WITH RECURSIVE $minhashCandCte,
         |ed AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |r AS (
         |  SELECT DISTINCT node, 0::BIGINT AS hops FROM nb WHERE node % 7 = 0
         |  UNION
         |  SELECT nb.nbr AS node, r.hops + 1 AS hops
         |  FROM r JOIN nb ON nb.node = r.node WHERE r.hops < 6)
         |SELECT node AS doc_id, min(hops)::BIGINT AS hops FROM r GROUP BY 1""".stripMargin,
    // harmonic centrality: per-seed BFS levels, the 1/d sum cleared
    // through lcm(1..6) = 60 — exact BIGINT core, one division
    "q_harmonic_centrality" ->
      s"""WITH RECURSIVE $minhashCandCte,
         |ed AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |seeds AS (SELECT node AS seed FROM (SELECT DISTINCT node FROM nb)
         |          ORDER BY node ASC LIMIT 4),
         |r AS (
         |  SELECT seed, seed AS node, 0::BIGINT AS hops FROM seeds
         |  UNION
         |  SELECT r.seed, nb.nbr AS node, r.hops + 1 AS hops
         |  FROM r JOIN nb ON nb.node = r.node WHERE r.hops < 6),
         |m AS (SELECT seed, node, min(hops)::BIGINT AS d FROM r GROUP BY 1, 2),
         |cd AS (SELECT seed, d, count(*)::BIGINT AS cnt FROM m WHERE d >= 1 GROUP BY 1, 2)
         |SELECT seed, sum(cnt)::BIGINT AS n_reached,
         |       round(sum(cnt * (60 // d))::DOUBLE / 60.0, 6) AS harmonic
         |FROM cd GROUP BY 1""".stripMargin,
    "q_degree_dist" ->
      s"""WITH $minhashCandCte,
         |nodes AS (SELECT doc_a AS doc_id FROM ver
         |          UNION ALL SELECT doc_b FROM ver),
         |dg AS (SELECT doc_id, count(*)::BIGINT AS degree FROM nodes GROUP BY 1),
         |conn AS (SELECT degree, count(*)::BIGINT AS n_docs FROM dg GROUP BY 1),
         |iso AS (SELECT 0::BIGINT AS degree, count(*)::BIGINT AS n_docs FROM documents d
         |        WHERE NOT EXISTS (SELECT 1 FROM dg WHERE dg.doc_id = d.doc_id)),
         |u AS (SELECT * FROM conn UNION ALL SELECT * FROM iso)
         |SELECT degree, n_docs FROM u WHERE n_docs > 0""".stripMargin,
    // both runs re-ranked 1..m within their overlap; exact-integer
    // Spearman, NULL below two shared docs
    "q_run_correlation" ->
      s"""WITH $bm25Cte, $vecCte,
         |tb AS (SELECT doc_id AS id, score FROM scored
         |       ORDER BY score DESC, doc_id ASC LIMIT ${Hybrid.FusionDepth}),
         |bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rb FROM tb),
         |q0 AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |cosall AS (SELECT b.vec_id AS id,
         |             round(list_sum(list_transform(range(1, len(q0.v) + 1), i -> q0.v[i] * b.v[i]))
         |                   / (q0.nrm * b.nrm), 4) AS cos
         |           FROM vn b, q0 WHERE b.vec_id != 0),
         |tc AS (SELECT id, cos FROM cosall ORDER BY cos DESC, id ASC LIMIT ${Hybrid.FusionDepth}),
         |cr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rc FROM tc),
         |o AS (SELECT id, rb, rc FROM bmr JOIN cr USING (id)),
         |r1 AS (SELECT id, row_number() OVER (ORDER BY rb ASC) AS ra FROM o),
         |r2 AS (SELECT id, row_number() OVER (ORDER BY rc ASC) AS rcc FROM o),
         |d AS (SELECT ((ra - rcc) * (ra - rcc))::BIGINT AS d2 FROM r1 JOIN r2 USING (id)),
         |a AS (SELECT count(*)::BIGINT AS m, coalesce(sum(d2), 0)::BIGINT AS s FROM d)
         |SELECT m AS n_overlap,
         |       CASE WHEN m >= 2
         |            THEN round(1.0 - 6.0 * s / (m * (m * m - 1)), 6) END AS rho
         |FROM a""".stripMargin,
    // frame-hash overlap: the only join is on frame_md5 (content
    // bounded); hot frames (df > 100) dropped first, Jaccard over the
    // identity-bearing frame sets in exact integer arithmetic
    "q_multimodal_neardup" ->
      """WITH m AS (SELECT doc_id, text, strlen(text)::BIGINT AS n_bytes,
        |                  (1 + doc_id % 8)::INT AS n_frames FROM documents),
        |fr0 AS (SELECT DISTINCT doc_id,
        |          md5(substr(text, (f * (n_bytes // n_frames) + 1)::INT,
        |                     (CASE WHEN f = n_frames - 1
        |                           THEN n_bytes - f * (n_bytes // n_frames)
        |                           ELSE n_bytes // n_frames END)::INT)) AS frame_md5
        |        FROM m, unnest(generate_series(0, n_frames - 1)) AS t(f)),
        |rare AS (SELECT frame_md5 FROM fr0 GROUP BY frame_md5 HAVING count(*) <= 100),
        |fr AS (SELECT fr0.doc_id, fr0.frame_md5 FROM fr0 JOIN rare USING (frame_md5)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS nf FROM fr GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
        |      FROM fr a JOIN fr b ON a.frame_md5 = b.frame_md5
        |                        AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared,
        |       round(n_shared::DOUBLE / (sa.nf + sb.nf - n_shared), 4) AS jaccard
        |FROM p JOIN sz sa ON p.doc_a = sa.doc_id
        |       JOIN sz sb ON p.doc_b = sb.doc_id""".stripMargin,
    // Pearson over exact-BIGINT degree sums; zero-variance → NULL
    "q_assortativity" ->
      s"""WITH $minhashCandCte,
         |e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),
         |dr AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |dg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM dr GROUP BY 1),
         |xy AS (SELECT dx.deg AS x, dy.deg AS y FROM dr
         |       JOIN dg dx ON dr.a = dx.node JOIN dg dy ON dr.b = dy.node),
         |agg AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         |               sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy,
         |               sum(x*y)::BIGINT AS sxy FROM xy)
         |SELECT n AS n_edges,
         |       CASE WHEN n > 0 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
         |            THEN round((n*sxy - sx*sy)::DOUBLE /
         |                       sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6)
         |       END AS assortativity
         |FROM agg""".stripMargin,
    // three synchronous rounds unrolled as chained CTEs; tie rule =
    // (votes desc, label asc), exactly the plan's max-struct argmax
    "q_label_propagation" ->
      s"""WITH $minhashCandCte,
         |$lpCte
         |SELECT d.doc_id, coalesce(l3.label, d.doc_id) AS community
         |FROM documents d LEFT JOIN l3 ON d.doc_id = l3.node""".stripMargin,
    // Newman Q decomposition over the SAME replayed l3 partition:
    // exact intra-edge / degree-volume counts, two divisions per row
    "q_modularity" ->
      s"""WITH $minhashCandCte,
         |$lpCte,
         |dgn AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
         |deg AS (SELECT node, count(*)::BIGINT AS deg FROM dgn GROUP BY 1),
         |m AS (SELECT count(*)::BIGINT AS m FROM e),
         |vol AS (SELECT l.label AS community, count(*)::BIGINT AS n_nodes,
         |          sum(deg)::BIGINT AS volume
         |        FROM deg d JOIN l3 l ON d.node = l.node GROUP BY 1),
         |intra AS (SELECT la.label AS community, count(*)::BIGINT AS intra_edges
         |          FROM e JOIN l3 la ON e.a = la.node JOIN l3 lb ON e.b = lb.node
         |          WHERE la.label = lb.label GROUP BY 1)
         |SELECT v.community, v.n_nodes,
         |       coalesce(i.intra_edges, 0)::BIGINT AS intra_edges, v.volume,
         |       round(coalesce(i.intra_edges, 0)::DOUBLE / m.m -
         |             (v.volume::DOUBLE / (2 * m.m)) * (v.volume::DOUBLE / (2 * m.m)), 6)
         |         AS contrib
         |FROM vol v LEFT JOIN intra i ON v.community = i.community, m""".stripMargin,
    // DuckDB's built-in jaro_winkler replays the native expression
    // (semantics probed: boost iff jaro > 0.7, prefix cap 4, empty -> 0)
    "q_record_linkage" ->
      """WITH nm AS (SELECT lower(p_name) AS name, count(*)::BIGINT AS n FROM part GROUP BY 1),
        |tk0 AS (SELECT name, n, tok FROM nm, unnest(string_split(name, ' ')) AS t(tok)
        |        WHERE len(tok) > 0),
        |tk AS (SELECT * FROM tk0 WHERE tok IN (
        |         SELECT tok FROM tk0 GROUP BY tok HAVING count(*) <= 100)),
        |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b,
        |                a.n AS n_a, b.n AS n_b
        |         FROM tk a JOIN tk b ON a.tok = b.tok AND a.name < b.name)
        |SELECT name_a, name_b, n_a, n_b,
        |       round(jaro_winkler_similarity(name_a, name_b), 4) AS jw
        |FROM cand
        |WHERE round(jaro_winkler_similarity(name_a, name_b), 4) >= 0.8""".stripMargin,
    // fixed-point credit: each touch books round(1e6/n) exact micros,
    // so the per-channel ledger is an order-independent BIGINT sum
    "q_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ns(ts) AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS channel, epoch_ns(ts) AS tts
        |      FROM events WHERE event_type IN ('click', 'view')),
        |a AS (SELECT p.p_id, t.channel FROM p JOIN t ON p.user_id = t.user_id
        |      WHERE t.tts < p.pts AND p.pts - t.tts <= 604800000000000),
        |n AS (SELECT p_id, count(*)::BIGINT AS n FROM a GROUP BY 1)
        |SELECT a.channel AS event_type, count(*)::BIGINT AS n_touches,
        |       sum(round(1000000.0 / n.n)::BIGINT)::BIGINT AS credit_micros
        |FROM a JOIN n USING (p_id) GROUP BY 1""".stripMargin,
    // pure integer epoch arithmetic (day 0 = Thursday; 0 = Sunday) —
    // no calendar function on either side
    "q_seasonality" ->
      """WITH s AS (SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
        |                  (epoch_ns(ts) % 86400000000000) // 3600000000000 AS hour
        |           FROM events),
        |tot AS (SELECT count(*)::BIGINT AS total FROM events)
        |SELECT dow, hour, count(*)::BIGINT AS n_events,
        |       round(count(*)::DOUBLE / tot.total, 6) AS share
        |FROM s, tot GROUP BY dow, hour, tot.total""".stripMargin,
    // the sketch algebra itself is the oracle: same md5 bottom-k, same
    // union-k-min membership count — estimator replayed end-to-end
    "q_kmv_jaccard" ->
      """WITH tokw AS (SELECT source, string_split(lower(text), ' ') AS words FROM documents),
        |shq AS (SELECT DISTINCT source,
        |          md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
        |        FROM tokw, unnest(generate_series(1, len(words)-2)) AS t(i)
        |        WHERE len(words) >= 3),
        |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM shq),
        |sk AS (SELECT source, list(h ORDER BY h ASC) AS bk FROM rk WHERE r <= 64 GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.bk AS abk, b.bk AS bbk
        |      FROM sk a JOIN sk b ON a.source < b.source),
        |m AS (SELECT src_a, src_b, abk, bbk,
        |        list_sort(list_distinct(list_concat(abk, bbk)))[1:64] AS mg FROM p)
        |SELECT src_a, src_b, len(mg)::BIGINT AS k_used,
        |       len(list_filter(mg, h -> list_contains(abk, h) AND list_contains(bbk, h)))::BIGINT AS n_both,
        |       round(len(list_filter(mg, h -> list_contains(abk, h) AND list_contains(bbk, h)))::DOUBLE
        |             / len(mg), 6) AS est_jaccard
        |FROM m""".stripMargin,
    // merged-sketch union estimate: exact under k, else (k-1)/h_k on
    // the merged k-th hash (same 15-hex-digit grid as q_kmv_distinct)
    "q_kmv_union" ->
      """WITH tokw AS (SELECT source, string_split(lower(text), ' ') AS words FROM documents),
        |shq AS (SELECT DISTINCT source,
        |          md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS h
        |        FROM tokw, unnest(generate_series(1, len(words)-2)) AS t(i)
        |        WHERE len(words) >= 3),
        |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM shq),
        |sk AS (SELECT source, list(h ORDER BY h ASC) AS bk FROM rk WHERE r <= 64 GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |        list_sort(list_distinct(list_concat(a.bk, b.bk)))[1:64] AS mg
        |      FROM sk a JOIN sk b ON a.source < b.source)
        |SELECT src_a, src_b, len(mg)::BIGINT AS k_used,
        |       round(CASE WHEN len(mg) < 64 THEN len(mg)::DOUBLE
        |             ELSE 63.0 / (list_sum(list_transform(range(1, 16),
        |                    j -> (strpos('0123456789abcdef', substr(mg[64], j, 1)) - 1)::BIGINT
        |                         << ((15 - j) * 4)))::DOUBLE / 1152921504606846976.0)
        |             END, 4) AS est_union
        |FROM p""".stripMargin,
    // ownership replay: min-id rep per multi-copy md5 group, owner =
    // the rep's source, per-source owned/absorbed/ceded rollup over a
    // complete source list
    "q_source_ownership" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT h, min(doc_id) AS rep FROM d GROUP BY h HAVING count(*) >= 2),
        |mem AS (SELECT d.doc_id, d.source, d.h, g.rep FROM d JOIN g ON d.h = g.h),
        |o AS (SELECT h, source AS owner FROM mem WHERE doc_id = rep),
        |dd AS (SELECT mem.*, o.owner FROM mem JOIN o ON mem.h = o.h),
        |c AS (SELECT owner AS source,
        |        CASE WHEN doc_id = rep THEN 1 ELSE 0 END AS own,
        |        CASE WHEN doc_id <> rep THEN 1 ELSE 0 END AS absorbed,
        |        0 AS ceded
        |      FROM dd
        |      UNION ALL
        |      SELECT source, 0, 0, 1 FROM dd WHERE doc_id <> rep AND source <> owner),
        |agg AS (SELECT source, sum(own)::BIGINT AS o, sum(absorbed)::BIGINT AS a,
        |          sum(ceded)::BIGINT AS c2
        |        FROM c GROUP BY 1)
        |SELECT s.source,
        |       coalesce(agg.o, 0)::BIGINT AS n_owned,
        |       coalesce(agg.a, 0)::BIGINT AS n_absorbed,
        |       coalesce(agg.c2, 0)::BIGINT AS n_ceded
        |FROM (SELECT DISTINCT source FROM documents) s
        |LEFT JOIN agg ON s.source = agg.source""".stripMargin,
    // dominance is replayed on the same exact price-micros the plan
    // quantizes to; duplicated (price, size) points all survive
    "q_skyline" ->
      """WITH p AS (SELECT p_partkey, p_retailprice, p_size,
        |                  floor(p_retailprice * 1000000.0)::BIGINT AS pm FROM part)
        |SELECT a.p_partkey, a.p_retailprice, a.p_size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p q
        |                  WHERE q.pm <= a.pm AND q.p_size >= a.p_size
        |                    AND (q.pm < a.pm OR q.p_size > a.p_size))""".stripMargin,
    // naive per-flag running-weight window at oracle scale; the plan's
    // bucket-split prefix selects the identical min(v | k*cum >= m*tot)
    "q_weighted_percentiles" ->
      """WITH r AS (SELECT l_returnflag AS flag,
        |                  floor(l_extendedprice * 1000000.0)::BIGINT AS v,
        |                  l_quantity::BIGINT AS w, l_orderkey, l_linenumber
        |           FROM lineitem),
        |c AS (SELECT flag, v,
        |             sum(w) OVER (PARTITION BY flag ORDER BY v, l_orderkey, l_linenumber
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(w) OVER (PARTITION BY flag) AS tot
        |      FROM r)
        |SELECT flag AS l_returnflag, min(tot)::BIGINT AS total_qty,
        |       min(CASE WHEN 4 * cum >= tot THEN v END)::BIGINT AS p25_micros,
        |       min(CASE WHEN 2 * cum >= tot THEN v END)::BIGINT AS p50_micros,
        |       min(CASE WHEN 4 * cum >= 3 * tot THEN v END)::BIGINT AS p75_micros
        |FROM c GROUP BY flag""".stripMargin,
    "q_stickiness" ->
      """WITH e AS (SELECT date_trunc('month', ts)::DATE AS month,
        |                  epoch_ns(ts) // 86400000000000 AS day, user_id FROM events),
        |dau AS (SELECT month, day, count(DISTINCT user_id)::BIGINT AS dau
        |        FROM e GROUP BY 1, 2),
        |d AS (SELECT month, count(*)::BIGINT AS n_days, sum(dau)::BIGINT AS sum_dau
        |      FROM dau GROUP BY 1),
        |m AS (SELECT month, count(DISTINCT user_id)::BIGINT AS mau FROM e GROUP BY 1)
        |SELECT month, n_days, mau,
        |       round(sum_dau::DOUBLE / n_days, 6) AS avg_dau,
        |       round(sum_dau::DOUBLE / (n_days * mau), 6) AS stickiness
        |FROM d JOIN m USING (month)""".stripMargin,
    "q_audience_overlap" ->
      """WITH au AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, count(*)::BIGINT AS n FROM au GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |             count(*)::BIGINT AS inter
        |      FROM au a JOIN au b ON a.user_id = b.user_id
        |                        AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, inter, sa.n AS na, sb.n AS nb,
        |       round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM p JOIN s sa ON p.type_a = sa.event_type
        |       JOIN s sb ON p.type_b = sb.event_type""".stripMargin,
    // open wedges (shared neighbor, no closing edge) ranked by count:
    // the pairs the graph says the banding missed
    "q_common_neighbors" ->
      s"""WITH $minhashCanonCte,
         |ed AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM cand),
         |nb AS (SELECT a AS node, b AS nbr FROM ed
         |       UNION ALL SELECT b, a FROM ed),
         |w AS (SELECT x.node AS doc_a, y.node AS doc_b, count(*)::BIGINT AS n_common
         |      FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.node < y.node
         |      GROUP BY 1, 2),
         |nw AS (SELECT w.doc_a, w.doc_b, w.n_common FROM w
         |       LEFT JOIN ed ON w.doc_a = ed.a AND w.doc_b = ed.b
         |       WHERE ed.a IS NULL)
         |SELECT doc_a, doc_b, n_common FROM nw
         |ORDER BY n_common DESC, doc_a ASC, doc_b ASC LIMIT 10""".stripMargin,
    // wedge join + closing-edge EXISTS on the a<b oriented verified
    // dup graph; each triangle credits its three vertices
    "q_triangles" ->
      s"""WITH $minhashCandCte,
         |ed AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM ver),
         |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |       FROM ed e1 JOIN ed e2 ON e1.b = e2.a
         |       WHERE EXISTS (SELECT 1 FROM ed e3
         |                     WHERE e3.a = e1.a AND e3.b = e2.b)),
         |u AS (SELECT x AS doc_id FROM tr
         |      UNION ALL SELECT y FROM tr UNION ALL SELECT z FROM tr)
         |SELECT doc_id, count(*)::BIGINT AS n_triangles FROM u GROUP BY 1""".stripMargin,
    // deterministic Laplace noise replayed from the same md5-uniform:
    // u = first-15-hex/16^15 - 0.5, noise = -(1/eps)*sign(u)*ln(1-2|u|)
    "q_dp_counts" ->
      """WITH g AS (SELECT event_type,
        |             (epoch_ns(ts) // 86400000000000)::BIGINT AS day,
        |             count(*)::BIGINT AS n
        |           FROM events GROUP BY 1, 2),
        |u AS (SELECT event_type, day, n,
        |        list_sum(list_transform(range(1, 16),
        |          j -> (strpos('0123456789abcdef',
        |                 substr(md5(event_type || ':' || day::VARCHAR), j, 1)) - 1)::BIGINT
        |               << ((15 - j) * 4)))::DOUBLE / 1152921504606846976.0 - 0.5 AS u
        |      FROM g)
        |SELECT event_type, day,
        |       round(n + (-1.0) * sign(u) * ln(1.0 - 2.0 * abs(u)), 4) AS n_noisy
        |FROM u""".stripMargin,
    // both medians nearest-rank at position (n+1)//2 on value
    // histograms; the outlier rule is the integer cross-multiplication
    "q_mad_outliers" ->
      """WITH v AS (SELECT event_type, floor(value * 1000000.0)::BIGINT AS v FROM events),
        |h1 AS (SELECT event_type, v, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
        |c1 AS (SELECT event_type, v, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY v
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM h1),
        |med AS (SELECT event_type AS et, min(v) AS med FROM c1
        |        WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum GROUP BY 1),
        |d AS (SELECT v.event_type, v.v, abs(v.v - med.med) AS d
        |      FROM v JOIN med ON v.event_type = med.et),
        |h2 AS (SELECT event_type, d, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        |c2 AS (SELECT event_type, d, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY d
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM h2),
        |mad AS (SELECT event_type AS et2, min(d) AS mad FROM c2
        |        WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum GROUP BY 1)
        |SELECT d.event_type, count(*)::BIGINT AS n,
        |       min(med.med) AS med_micros, min(mad.mad) AS mad_micros,
        |       sum(CASE WHEN d.d * 6745 > mad.mad * 35000 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_outliers
        |FROM d JOIN med ON d.event_type = med.et
        |       JOIN mad ON d.event_type = mad.et2
        |GROUP BY 1""".stripMargin,
    // per-source CDF gap vs rest, evaluated on the full source x
    // length grid; divisions written exactly as the plan's
    "q_ks_drift" ->
      """WITH h AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c
        |           FROM documents GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT v FROM h),
        |srcs AS (SELECT source, sum(c)::BIGINT AS n_s FROM h GROUP BY 1),
        |grid AS (SELECT s.source, s.n_s, vals.v, coalesce(h.c, 0) AS c
        |         FROM vals CROSS JOIN srcs s
        |         LEFT JOIN h ON h.source = s.source AND h.v = vals.v),
        |cum AS (SELECT source, n_s, v,
        |          sum(c) OVER (PARTITION BY source ORDER BY v
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
        |        FROM grid),
        |g AS (SELECT v AS gv, sum(cum_s)::BIGINT AS cum_all,
        |        sum(n_s)::BIGINT AS n_all
        |      FROM cum GROUP BY 1)
        |SELECT source, min(n_s)::BIGINT AS n_docs,
        |       round(max(abs(cum_s::DOUBLE / n_s -
        |                     (cum_all - cum_s)::DOUBLE / (n_all - n_s))), 6) AS ks_d
        |FROM cum JOIN g ON cum.v = g.gv
        |WHERE n_all > n_s
        |GROUP BY 1""".stripMargin,
    // nested md5-uniform subsample tiers; the OLS slope over the
    // log-log curve replays as plain aggregate arithmetic
    // clipped-unigram ROUGE-1 F1 per verified pair; pairs with no
    // shared kept token drop out of BOTH engines' inner joins
    "q_rouge_pairs" ->
      s"""WITH $minhashCandCte,
         |$dlCte,
         |ov AS (SELECT v.doc_a, v.doc_b, sum(least(ta.tf, tb.tf))::BIGINT AS overlap
         |       FROM ver v JOIN tf ta ON ta.doc_id = v.doc_a
         |                  JOIN tf tb ON tb.doc_id = v.doc_b AND tb.term = ta.term
         |       GROUP BY 1, 2)
         |SELECT o.doc_a, o.doc_b, o.overlap, la.dl AS len_a, lb.dl AS len_b,
         |       round(2.0 * o.overlap / (la.dl + lb.dl), 6) AS rouge1_f
         |FROM ov o JOIN dl la ON o.doc_a = la.doc_id
         |          JOIN dl lb ON o.doc_b = lb.doc_id""".stripMargin,
    // BLEU-2 over the same verified pairs: clipped unigram+bigram
    // matches on the kept-token SEQUENCE, brevity penalty, geometric
    // mean — exact BIGINT cores, one rounded scalar per pair
    "q_bleu_pairs" ->
      s"""WITH $minhashCandCte,
         |bt AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |         t -> length(t) >= ${Text.MinTokenLength} AND t NOT IN ($stop)) AS t2
         |       FROM documents),
         |bu AS (SELECT doc_id, 1::BIGINT AS n, g, count(*)::BIGINT AS c FROM (
         |         SELECT doc_id, unnest(t2) AS g FROM bt) GROUP BY 1, 3),
         |bb AS (SELECT doc_id, 2::BIGINT AS n, g, count(*)::BIGINT AS c FROM (
         |         SELECT doc_id, unnest(list_transform(range(1, len(t2)),
         |           i -> t2[i] || ' ' || t2[i + 1])) AS g FROM bt) GROUP BY 1, 3),
         |bg AS (SELECT * FROM bu UNION ALL SELECT * FROM bb),
         |btot AS (SELECT doc_id, n, sum(c)::BIGINT AS tot FROM bg GROUP BY 1, 2),
         |bcl AS (SELECT v.doc_a, v.doc_b, ga.n, sum(least(ga.c, gb.c))::BIGINT AS clip
         |        FROM ver v JOIN bg ga ON ga.doc_id = v.doc_a
         |                   JOIN bg gb ON gb.doc_id = v.doc_b AND gb.n = ga.n AND gb.g = ga.g
         |        GROUP BY 1, 2, 3),
         |bgrid AS (SELECT v.doc_a, v.doc_b, nn.n::BIGINT AS n
         |          FROM ver v, (VALUES (1), (2)) AS nn(n)),
         |bp AS (SELECT gr.doc_a, gr.doc_b,
         |         sum(CASE WHEN gr.n = 1 THEN coalesce(cl.clip, 0) ELSE 0 END)::BIGINT AS clip1,
         |         sum(CASE WHEN gr.n = 2 THEN coalesce(cl.clip, 0) ELSE 0 END)::BIGINT AS clip2,
         |         sum(CASE WHEN gr.n = 1 THEN coalesce(tb.tot, 0) ELSE 0 END)::BIGINT AS tot1_b,
         |         sum(CASE WHEN gr.n = 2 THEN coalesce(tb.tot, 0) ELSE 0 END)::BIGINT AS tot2_b
         |       FROM bgrid gr
         |       LEFT JOIN bcl cl ON cl.doc_a = gr.doc_a AND cl.doc_b = gr.doc_b AND cl.n = gr.n
         |       LEFT JOIN btot tb ON tb.doc_id = gr.doc_b AND tb.n = gr.n
         |       GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b, p.clip1, p.clip2,
         |       coalesce(la.tot, 0)::BIGINT AS len_a, p.tot1_b AS len_b,
         |       CASE WHEN clip1 = 0 OR clip2 = 0 OR tot1_b = 0 OR tot2_b = 0 THEN 0.0
         |            ELSE round(
         |              (CASE WHEN tot1_b > coalesce(la.tot, 0) THEN 1.0
         |                    ELSE exp(1.0 - CAST(coalesce(la.tot, 0) AS DOUBLE) / tot1_b) END) *
         |              exp(0.5 * ln(CAST(clip1 AS DOUBLE) / tot1_b) +
         |                  0.5 * ln(CAST(clip2 AS DOUBLE) / tot2_b)), 6) END AS bleu
         |FROM bp p LEFT JOIN btot la ON la.doc_id = p.doc_a AND la.n = 1""".stripMargin,
    // chrF over the verified pairs: char n-grams (n = 1..6, spaces
    // removed) with clipped counts; per-n P/R fold in ascending n
    // (ordered-fold contract) before the one macro-average division
    "q_chrf_pairs" ->
      s"""WITH $minhashCandCte,
         |chs AS (SELECT doc_id, replace(lower(text), ' ', '') AS s FROM documents),
         |cg AS (SELECT doc_id, n, substr(s, i, n::INT) AS g, count(*)::BIGINT AS c
         |       FROM chs,
         |            unnest(generate_series(1, 6)) AS tn(n),
         |            unnest(generate_series(1, length(s) - n::INT + 1)) AS ti(i)
         |       WHERE length(s) >= n
         |       GROUP BY 1, 2, 3),
         |ctot AS (SELECT doc_id, n, sum(c)::BIGINT AS tot FROM cg GROUP BY 1, 2),
         |ccl AS (SELECT v.doc_a, v.doc_b, ga.n, sum(least(ga.c, gb.c))::BIGINT AS clip
         |        FROM ver v JOIN cg ga ON ga.doc_id = v.doc_a
         |                   JOIN cg gb ON gb.doc_id = v.doc_b AND gb.n = ga.n AND gb.g = ga.g
         |        GROUP BY 1, 2, 3),
         |cgrid AS (SELECT v.doc_a, v.doc_b, nn.n::BIGINT AS n
         |          FROM ver v, unnest(generate_series(1, 6)) AS nn(n)),
         |cpn AS (SELECT gr.doc_a, gr.doc_b, gr.n,
         |          CASE WHEN coalesce(tb.tot, 0) = 0 THEN 0.0
         |               ELSE CAST(coalesce(cl.clip, 0) AS DOUBLE) / coalesce(tb.tot, 0) END AS pn,
         |          CASE WHEN coalesce(ta.tot, 0) = 0 THEN 0.0
         |               ELSE CAST(coalesce(cl.clip, 0) AS DOUBLE) / coalesce(ta.tot, 0) END AS rn
         |        FROM cgrid gr
         |        LEFT JOIN ccl cl ON cl.doc_a = gr.doc_a AND cl.doc_b = gr.doc_b AND cl.n = gr.n
         |        LEFT JOIN ctot ta ON ta.doc_id = gr.doc_a AND ta.n = gr.n
         |        LEFT JOIN ctot tb ON tb.doc_id = gr.doc_b AND tb.n = gr.n),
         |cf AS (SELECT doc_a, doc_b,
         |         list_sum(list(pn ORDER BY n)) / 6.0 AS p_raw,
         |         list_sum(list(rn ORDER BY n)) / 6.0 AS r_raw
         |       FROM cpn GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(p_raw, 6) AS chrp, round(r_raw, 6) AS chrr,
         |       CASE WHEN p_raw + r_raw = 0.0 THEN 0.0
         |            ELSE round(5.0 * p_raw * r_raw / (4.0 * p_raw + r_raw), 6) END AS chrf
         |FROM cf""".stripMargin,
    "q_psi" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |s AS (SELECT doc_id % 2 AS half,
        |        least(floor(len(list_distinct(toks))::DOUBLE / len(toks) * 10)::BIGINT, 9) AS bin
        |      FROM t),
        |c AS (SELECT bin,
        |        sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
        |        sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cur
        |      FROM s GROUP BY 1),
        |g AS (SELECT bin FROM generate_series(0, 9) AS t2(bin)),
        |tt AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc FROM c),
        |f AS (SELECT g.bin::BIGINT AS bin, coalesce(c.n_ref, 0)::BIGINT AS n_ref,
        |        coalesce(c.n_cur, 0)::BIGINT AS n_cur
        |      FROM g LEFT JOIN c ON g.bin = c.bin)
        |SELECT bin, n_ref, n_cur,
        |       round((n_ref + 1)::DOUBLE / (tr + 10), 6) AS p_ref,
        |       round((n_cur + 1)::DOUBLE / (tc + 10), 6) AS p_cur,
        |       round(((n_cur + 1)::DOUBLE / (tc + 10) - (n_ref + 1)::DOUBLE / (tr + 10)) *
        |             ln(((n_cur + 1)::DOUBLE / (tc + 10)) /
        |                ((n_ref + 1)::DOUBLE / (tr + 10))), 6) AS psi_term
        |FROM f, tt""".stripMargin,
    "q_cluster_purity" ->
      s"""WITH ${kmeansCtes(8, 2)},
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |          FROM fd) WHERE rn = 1),
         |cl AS (SELECT a.cid, e.label::BIGINT AS label, count(*)::BIGINT AS n
         |       FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id GROUP BY 1, 2),
         |tp AS (SELECT cid, label AS top_label, n AS n_top FROM (
         |         SELECT cid, label, n,
         |                row_number() OVER (PARTITION BY cid ORDER BY n DESC, label ASC) AS rn
         |         FROM cl) WHERE rn = 1),
         |tot AS (SELECT cid, sum(n)::BIGINT AS n_points FROM cl GROUP BY 1)
         |SELECT tot.cid::BIGINT AS cluster_id, tot.n_points, tp.top_label, tp.n_top,
         |       round(tp.n_top::DOUBLE / tot.n_points, 6) AS purity
         |FROM tot JOIN tp ON tot.cid = tp.cid""".stripMargin,
    "q_cluster_nmi" ->
      s"""WITH ${kmeansCtes(8, 2)},
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |          FROM fd) WHERE rn = 1),
         |cl AS (SELECT a.cid, e.label::BIGINT AS label, count(*)::BIGINT AS n
         |       FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id GROUP BY 1, 2),
         |nn AS (SELECT sum(n)::BIGINT AS nn FROM cl),
         |pc AS (SELECT cid, sum(n)::BIGINT AS nc FROM cl GROUP BY 1),
         |pl AS (SELECT label, sum(n)::BIGINT AS nl FROM cl GROUP BY 1),
         |mi AS (SELECT sum((cl.n::DOUBLE / nn.nn) *
         |              ln(cl.n::DOUBLE * nn.nn / (pc.nc::DOUBLE * pl.nl))) AS mi
         |       FROM cl JOIN pc ON cl.cid = pc.cid
         |               JOIN pl ON cl.label = pl.label, nn),
         |hc AS (SELECT -sum((nc::DOUBLE / nn) * ln(nc::DOUBLE / nn)) AS hc FROM pc, nn),
         |hl AS (SELECT -sum((nl::DOUBLE / nn) * ln(nl::DOUBLE / nn)) AS hl FROM pl, nn),
         |cn AS (SELECT count(DISTINCT cid)::BIGINT AS n_clusters,
         |              count(DISTINCT label)::BIGINT AS n_labels FROM cl)
         |SELECT cn.n_clusters, cn.n_labels, round(mi.mi, 6) AS mi,
         |       round(mi.mi / sqrt(hc.hc * hl.hl), 6) AS nmi
         |FROM cn, mi, hc, hl""".stripMargin,
    "q_stream_distinct" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms,
        |       count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    // teleport gated to the %7 seed set; same integer-exact replay as
    // q_pagerank with seed-split mass
    "q_ppr" -> {
      val m = Graph.TotalMass
      val iters = (1 to 10).map { i =>
        s"""s$i AS (SELECT e.dst AS node, sum(r.rank // od.outdeg)::BIGINT AS insum
           |        FROM e JOIN r${i - 1} r ON e.src = r.node JOIN od ON e.src = od.src
           |        GROUP BY e.dst),
           |r$i AS (SELECT nd.node,
           |          (CASE WHEN nd.node % 7 = 0 THEN tp.t ELSE 0 END
           |           + (85 * COALESCE(s$i.insum, 0)) // 100)::BIGINT AS rank
           |        FROM nodes nd CROSS JOIN tp LEFT JOIN s$i ON nd.node = s$i.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashCandCte,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM ver
         |      UNION ALL SELECT doc_b, doc_a FROM ver),
         |nodes AS (SELECT doc_id AS node FROM documents),
         |ns AS (SELECT count(*)::BIGINT AS n FROM nodes WHERE node % 7 = 0),
         |tp AS (SELECT ((15 * ($m // n)) // 100)::BIGINT AS t FROM ns),
         |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT node,
         |         (CASE WHEN node % 7 = 0 THEN $m // n ELSE 0 END)::BIGINT AS rank
         |       FROM nodes, ns),
         |$iters
         |SELECT node, rank FROM r10""".stripMargin
    },
    // shared-vocabulary join only; single-side terms enter in closed
    // form through the shared-mass complement × ln 2
    "q_js_divergence" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term
         |            FROM documents),
         |tok2 AS (SELECT source, term FROM tok
         |         WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)),
         |tfs AS (SELECT source, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY 1, 2),
         |tot AS (SELECT source, sum(tf)::BIGINT AS tot FROM tfs GROUP BY 1),
         |p AS (SELECT tfs.source, tfs.term, tfs.tf::DOUBLE / tot.tot AS p
         |      FROM tfs JOIN tot ON tfs.source = tot.source),
         |sh AS (SELECT a.source AS source_a, b.source AS source_b,
         |         count(*)::BIGINT AS n_shared_terms,
         |         sum(0.5 * a.p * ln(2.0 * a.p / (a.p + b.p)) +
         |             0.5 * b.p * ln(2.0 * b.p / (a.p + b.p))) AS shared_term,
         |         sum(a.p) AS pa_shared, sum(b.p) AS pb_shared
         |       FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared_terms,
         |       round(shared_term + 0.5 * (1.0 - pa_shared) * ln(2.0)
         |                         + 0.5 * (1.0 - pb_shared) * ln(2.0), 6) AS jsd
         |FROM sh""".stripMargin,
    "q_burstiness" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |            FROM documents),
         |tok2 AS (SELECT doc_id, term FROM tok
         |         WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)),
         |tfd AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY 1, 2),
         |st AS (SELECT term, count(*)::BIGINT AS df,
         |         sum(tf::DOUBLE) AS s1, sum(tf::DOUBLE * tf) AS s2
         |       FROM tfd GROUP BY 1)
         |SELECT term, df, round(s1 / df, 6) AS mean_tf,
         |       round(((s2 - s1 * s1 / df) / (df - 1)) / (s1 / df), 6) AS fano
         |FROM st WHERE df >= 5
         |ORDER BY fano DESC, term ASC LIMIT 15""".stripMargin,
    // p=0.5 only: the midpoint interpolation of two exact integers is
    // engine-portable; arbitrary-quantile position arithmetic is not
    "q_funnel_latency" ->
      """WITH t1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(epoch_ns(ts)) AS t2, min(t1.t1) AS t1
        |       FROM events e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND epoch_ns(ts) > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(epoch_ns(ts)) AS t3
        |       FROM events e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND epoch_ns(ts) > t2.t2 GROUP BY e.user_id),
        |u AS (SELECT '1_signup_to_click' AS step, t2 - t1 AS d FROM t2
        |      UNION ALL
        |      SELECT '2_click_to_purchase', t3.t3 - t2.t2
        |      FROM t3 JOIN t2 USING (user_id))
        |SELECT step, count(*)::BIGINT AS n_users,
        |       round(quantile_cont(d, 0.5) / 1000.0, 1) AS median_us,
        |       round(sum(d)::DOUBLE / count(*) / 1000.0, 1) AS avg_us
        |FROM u GROUP BY 1""".stripMargin,
    "q_schema_evolution" ->
      """SELECT 1::BIGINT AS v, CAST(NULL AS VARCHAR) AS lang, count(*)::BIGINT AS n_docs
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2::BIGINT AS v, lang, count(*)::BIGINT
        |FROM documents WHERE doc_id % 2 = 1 GROUP BY 2""".stripMargin,
    "q_semantic_vs_lexical" ->
      s"""WITH $minhashCandCte,
         |$vecCte,
         |sm AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
         |         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |                list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |                      / (a.nrm * b.nrm) AS c_exact
         |         FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
         |       WHERE c_exact >= 0.45),
         |lx AS (SELECT DISTINCT doc_a, doc_b FROM ver),
         |ag AS (SELECT (SELECT count(*) FROM lx)::BIGINT AS nl,
         |              (SELECT count(*) FROM sm)::BIGINT AS ns,
         |              (SELECT count(*) FROM lx JOIN sm USING (doc_a, doc_b))::BIGINT AS nb)
         |SELECT nl AS n_lexical, ns AS n_semantic, nb AS n_both,
         |       round(nb::DOUBLE / (nl + ns - nb), 6) AS jaccard FROM ag""".stripMargin,
    "q_ann_rehydrate" ->
      s"""WITH $vecCte,
         |q AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
         |tk AS (SELECT b.vec_id,
         |         round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |               / (q.nrm * b.nrm), 4) AS cos
         |       FROM vn b, q WHERE b.vec_id != 0
         |       ORDER BY cos DESC, b.vec_id ASC LIMIT 10)
         |SELECT tk.vec_id, tk.cos, d.lang, d.source, d.n_chars
         |FROM tk JOIN documents d ON tk.vec_id = d.doc_id""".stripMargin,
    // x rides the round-4 jaccard contract, y the round-4 cosine one;
    // r through the explicit closed form with a zero-variance guard
    "q_modality_corr" ->
      s"""WITH $minhashCandCte,
         |$vecCte,
         |xy AS (SELECT round(v.j_exact, 4) AS x,
         |         round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |               / (a.nrm * b.nrm), 4) AS y
         |       FROM ver v JOIN vn a ON v.doc_a = a.vec_id
         |                  JOIN vn b ON v.doc_b = b.vec_id),
         |ag AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         |              sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         |       FROM xy)
         |SELECT n AS n_pairs,
         |       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |            THEN round((n * sxy - sx * sy) /
         |                       (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         |       END AS pearson
         |FROM ag""".stripMargin,
    "q_ann_filtered" ->
      s"""WITH $vecCte,
         |q AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
         |SELECT b.vec_id,
         |       round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |             / (q.nrm * b.nrm), 4) AS cos
         |FROM vn b JOIN embeddings e ON b.vec_id = e.vec_id, q
         |WHERE b.vec_id != 0 AND e.label = 3
         |ORDER BY cos DESC, b.vec_id ASC LIMIT 10""".stripMargin,
    // the cut replays as the same integer day arithmetic on the data
    // bounds; day-range disjointness is the seam contract
    "q_stream_backfill" ->
      """WITH b AS (SELECT min(epoch_ns(ts) // 86400000000000) AS lo,
        |                  max(epoch_ns(ts) // 86400000000000) AS hi FROM events),
        |c AS (SELECT lo + (hi - lo) * 4 // 5 AS cut FROM b),
        |d AS (SELECT epoch_ns(ts) // 86400000000000 AS day FROM events)
        |SELECT day, count(*)::BIGINT AS n_events,
        |       CASE WHEN day < c.cut THEN 'batch' ELSE 'stream' END AS src
        |FROM d, c GROUP BY 1, 3""".stripMargin,
    "q_stream_enrich" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms, n.n_name,
        |       count(*)::BIGINT AS n_events,
        |       sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS value_micros
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |              JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    // raw power sums (s1..s3 are integer-exact in double; only s4 can
    // round) through the IDENTICAL central-moment spelling on both
    // sides; m2^1.5 written m2·sqrt(m2) — sqrt is correctly rounded
    // everywhere, pow is not
    "q_length_moments" ->
      """WITH a AS (SELECT source, count(*)::BIGINT AS n,
        |             sum(n_chars::DOUBLE) AS s1,
        |             sum(n_chars::DOUBLE * n_chars) AS s2,
        |             sum(n_chars::DOUBLE * n_chars * n_chars) AS s3,
        |             sum(n_chars::DOUBLE * n_chars * n_chars * n_chars) AS s4
        |           FROM documents GROUP BY 1)
        |SELECT source, n AS n_docs,
        |       round(s1 / n, 6) AS mean_len,
        |       round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS sd_len,
        |       round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |              + 2.0 * (s1 / n) * (s1 / n) * (s1 / n)) /
        |             ((s2 / n - (s1 / n) * (s1 / n)) *
        |              sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skewness,
        |       round((s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |              + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) /
        |             ((s2 / n - (s1 / n) * (s1 / n)) *
        |              (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6) AS kurtosis
        |FROM a""".stripMargin,
    "q_stream_ema" ->
      """WITH w AS (SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS win_start_ms,
        |             event_type, count(*)::BIGINT AS n
        |           FROM events GROUP BY 1, 2),
        |c AS (SELECT w.win_start_ms + k * 3600000 AS tgt, event_type,
        |        (n * (1::BIGINT << (5 - k)::INT))::BIGINT AS num,
        |        (1::BIGINT << (5 - k)::INT)::BIGINT AS den
        |      FROM w, generate_series(0, 5) AS t(k)),
        |a AS (SELECT tgt, event_type, sum(num)::BIGINT AS num, sum(den)::BIGINT AS den
        |      FROM c GROUP BY 1, 2)
        |SELECT w.win_start_ms, w.event_type, w.n,
        |       round(a.num::DOUBLE / a.den, 6) AS ema6
        |FROM w JOIN a ON a.tgt = w.win_start_ms AND a.event_type = w.event_type""".stripMargin,
    "q_lexical_richness" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term
         |            FROM documents),
         |tok2 AS (SELECT source, term FROM tok
         |         WHERE length(term) >= ${Text.MinTokenLength} AND term NOT IN ($stop)),
         |tc AS (SELECT source, term, count(*)::BIGINT AS c FROM tok2 GROUP BY 1, 2)
         |SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         |       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
         |       round(count(*)::DOUBLE / sum(c), 6) AS ttr,
         |       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |         AS hapax_rate
         |FROM tc GROUP BY 1""".stripMargin,
    "q_heaps_law" ->
      s"""WITH $tfCte,
         |du AS (SELECT doc_id,
         |         list_sum(list_transform(range(1, 16),
         |           j -> (strpos('0123456789abcdef',
         |                  substr(md5('heaps:' || doc_id::VARCHAR), j, 1)) - 1)::BIGINT
         |                << ((15 - j) * 4)))::DOUBLE / 1152921504606846976.0 AS u
         |       FROM documents),
         |dl AS (SELECT t.doc_id, du.u, count(*)::BIGINT AS dl
         |       FROM tok2 t JOIN du ON t.doc_id = du.doc_id GROUP BY 1, 2),
         |tu AS (SELECT t.term, min(du.u) AS mu
         |       FROM tok2 t JOIN du ON t.doc_id = du.doc_id GROUP BY 1),
         |ks AS (SELECT unnest(generate_series(0, 6)) AS k),
         |pts AS (SELECT ks.k,
         |          (SELECT coalesce(sum(CASE WHEN dl.u < 2.0 ^ (ks.k - 6) THEN dl.dl ELSE 0 END), 0)::BIGINT FROM dl) AS n_tokens,
         |          (SELECT coalesce(sum(CASE WHEN tu.mu < 2.0 ^ (ks.k - 6) THEN 1 ELSE 0 END), 0)::BIGINT FROM tu) AS vocab
         |        FROM ks),
         |pf AS (SELECT * FROM pts WHERE n_tokens > 0 AND vocab > 0),
         |fit AS (SELECT CASE WHEN count(*) > 1 THEN
         |                ((sum(ln(n_tokens::DOUBLE) * ln(vocab::DOUBLE)) -
         |                 sum(ln(n_tokens::DOUBLE)) * sum(ln(vocab::DOUBLE)) / count(*)::DOUBLE) /
         |                (sum(ln(n_tokens::DOUBLE) * ln(n_tokens::DOUBLE)) -
         |                 sum(ln(n_tokens::DOUBLE)) * sum(ln(n_tokens::DOUBLE)) / count(*)::DOUBLE))
         |               END AS b
         |        FROM pf)
         |SELECT pf.k::BIGINT AS k, pf.n_tokens, pf.vocab, round(fit.b, 4) AS beta
         |FROM pf, fit""".stripMargin,
    // letters / whitespace words / [.!?]+ runs as exact integer sums;
    // the CLI formula runs once per source on the aggregates
    "q_readability" ->
      """WITH p AS (SELECT source,
        |             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS l,
        |             len(string_split(lower(text), ' '))::BIGINT AS w,
        |             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS s
        |           FROM documents)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(l)::BIGINT AS letters,
        |       sum(w)::BIGINT AS words, sum(s)::BIGINT AS sentences,
        |       round(0.0588 * (100.0 * sum(l) / sum(w)) -
        |             0.296 * (100.0 * sum(s) / sum(w)) - 15.8, 4) AS cli
        |FROM p GROUP BY 1""".stripMargin,
    // funnel accounting: dedup keep = min doc_id per normalized hash;
    // quality rules shared with q_quality_by_source
    "q_pipeline_funnel" ->
      """WITH n AS (SELECT doc_id, source,
        |             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |           FROM documents),
        |h AS (SELECT doc_id, source, norm, md5(norm) AS h FROM n),
        |reps AS (SELECT h, min(doc_id) AS keep_id FROM h GROUP BY h),
        |f AS (SELECT x.source, x.doc_id = reps.keep_id AS is_canon,
        |        len(string_split(x.norm, ' '))::BIGINT AS n_tokens,
        |        len(list_distinct(string_split(x.norm, ' ')))::BIGINT AS n_distinct
        |      FROM h x JOIN reps ON x.h = reps.h)
        |SELECT source, count(*)::BIGINT AS n_raw,
        |       sum(CASE WHEN is_canon THEN 1 ELSE 0 END)::BIGINT AS n_after_dedup,
        |       sum(CASE WHEN is_canon AND n_tokens >= 10 AND n_tokens <= 10000
        |                     AND n_distinct::DOUBLE / n_tokens >= 0.2
        |                THEN 1 ELSE 0 END)::BIGINT AS n_after_quality,
        |       sum(CASE WHEN is_canon AND n_tokens >= 10 AND n_tokens <= 10000
        |                     AND n_distinct::DOUBLE / n_tokens >= 0.2
        |                THEN n_tokens ELSE 0 END)::BIGINT AS tokens_kept
        |FROM f GROUP BY source""".stripMargin,
    // the greedy MMR loop unrolled as a RECURSIVE CTE carrying the
    // picked-id list: each step's argmax replays the engine's exact
    // arithmetic (HALF_UP 4-digit rounding on score and pairwise sims,
    // (1.0 - 0.7) spelled as the same IEEE expression, vec_id-asc
    // ties) — the same deep-replay discipline as the unrolled k-means
    // oracle
    "q_mmr" ->
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |                    FROM embeddings),
        |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |q AS (SELECT v, nrm FROM vn WHERE vec_id = 0),
        |cand AS (SELECT b.vec_id,
        |           round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
        |                 / (q.nrm * b.nrm), 4) AS rel,
        |           b.v, b.nrm
        |         FROM vn b, q WHERE b.vec_id != 0
        |         ORDER BY rel DESC, b.vec_id ASC LIMIT 50),
        |sel(it, ids) AS (
        |  SELECT 0, []::BIGINT[]
        |  UNION ALL
        |  SELECT s.it + 1, list_append(s.ids, (
        |      SELECT c.vec_id FROM cand c
        |      WHERE NOT list_contains(s.ids, c.vec_id)
        |      ORDER BY round(0.7 * c.rel - (1.0 - 0.7) * coalesce((
        |          SELECT max(round(list_sum(list_transform(range(1, len(c.v) + 1),
        |                     j -> c.v[j] * p.v[j])) / (c.nrm * p.nrm), 4))
        |          FROM cand p WHERE list_contains(s.ids, p.vec_id)), 0.0), 4) DESC,
        |        c.vec_id ASC
        |      LIMIT 1))
        |  FROM sel s WHERE s.it < 10),
        |fin AS (SELECT ids FROM sel ORDER BY it DESC LIMIT 1),
        |ord AS (SELECT unnest(ids) AS vec_id,
        |               unnest(range(1, len(ids) + 1)) AS pick_order FROM fin)
        |SELECT o.vec_id, c.rel AS cos, o.pick_order::BIGINT AS pick_order
        |FROM ord o JOIN cand c ON o.vec_id = c.vec_id""".stripMargin,
    // even the EVALUATION replays: both the LSH path and the brute
    // ranking are deterministic plans
    "q_ann_recall" ->
      s"""WITH lsh AS (SELECT vec_id FROM (
         |${lshTopKOracleSql("TRUE", 0L)}
         |)),
         |brute AS (SELECT vec_id FROM (
         |  WITH $vecCte,
         |  q AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
         |  SELECT b.vec_id,
         |         round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |               / (q.nrm * b.nrm), 4) AS cos
         |  FROM vn b, q WHERE b.vec_id != 0
         |  ORDER BY cos DESC, b.vec_id ASC LIMIT 10
         |))
         |SELECT 10::BIGINT AS k, (SELECT count(*) FROM lsh)::BIGINT AS n_lsh,
         |       count(*)::BIGINT AS n_hits,
         |       round(count(*)::DOUBLE / 10, 4) AS recall
         |FROM lsh JOIN brute USING (vec_id)""".stripMargin,
    // the recall curve: both depth-20 lists ranked, one join exploded
    // over the k grid; zero-hit ks kept via the grid left-join
    "q_ann_recall_curve" ->
      s"""WITH appr AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS ra
         |              FROM (
         |${lshTopKOracleSql("TRUE", 0L, 20)}
         |)),
         |brute AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rb
         |          FROM (
         |  WITH $vecCte,
         |  q AS (SELECT v, nrm FROM vn WHERE vec_id = 0)
         |  SELECT b.vec_id,
         |         round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * b.v[i]))
         |               / (q.nrm * b.nrm), 4) AS cos
         |  FROM vn b, q WHERE b.vec_id != 0
         |  ORDER BY cos DESC, b.vec_id ASC LIMIT 20
         |)),
         |ks(k) AS (VALUES (1), (5), (10), (20)),
         |h AS (SELECT ks.k::BIGINT AS k, count(*)::BIGINT AS n_hits
         |      FROM appr JOIN brute USING (vec_id), ks
         |      WHERE ra <= ks.k AND rb <= ks.k GROUP BY 1)
         |SELECT ks.k::BIGINT AS k, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
         |       round(coalesce(h.n_hits, 0)::DOUBLE / ks.k, 4) AS recall
         |FROM ks LEFT JOIN h ON h.k = ks.k""".stripMargin,
    // Gumbel-top-k resampling: the md5-uniform, the importance weight
    // and the rounded Gumbel key all replay exactly
    "q_dsir_resample" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        |             FROM documents),
        |raw AS (SELECT tok, count(*)::BIGINT AS c_r FROM tok GROUP BY 1),
        |tgt AS (SELECT tok, count(*)::BIGINT AS c_t FROM tok WHERE lang = 'en' GROUP BY 1),
        |v AS (SELECT raw.tok, c_r, coalesce(c_t, 0)::BIGINT AS c_t
        |      FROM raw LEFT JOIN tgt USING (tok)),
        |sc AS (SELECT sum(c_r)::BIGINT AS n_r, sum(c_t)::BIGINT AS n_t,
        |              count(*)::BIGINT AS vocab FROM v),
        |iw AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |         round(sum(ln((c_t + 1)::DOUBLE / (n_t + vocab)::DOUBLE)
        |                 - ln((c_r + 1)::DOUBLE / (n_r + vocab)::DOUBLE)), 4) AS log_ratio
        |       FROM tok JOIN v USING (tok) CROSS JOIN sc
        |       GROUP BY doc_id),
        |u AS (SELECT doc_id,
        |        greatest(list_sum(list_transform(range(1, 9),
        |          j -> (strpos('0123456789abcdef',
        |                       substr(md5('dsir:' || doc_id::VARCHAR), j, 1)) - 1)::BIGINT
        |               << ((8 - j) * 4)))::DOUBLE / 4294967296.0, 1e-12) AS u
        |      FROM documents),
        |g AS (SELECT iw.doc_id,
        |        round(log_ratio / n_tokens - ln(-ln(u.u)), 4) AS gkey
        |      FROM iw JOIN u ON iw.doc_id = u.doc_id),
        |r AS (SELECT doc_id, gkey,
        |        row_number() OVER (ORDER BY gkey DESC, doc_id) AS rk FROM g)
        |SELECT doc_id, gkey, rk::BIGINT AS rk FROM r WHERE rk <= 100""".stripMargin,

    // ---- Round-14 batch 2 ----
    // SQ8 top-k: the int8 quantization grid is q_emb_quantize's
    // (clamp(floor(x*127/maxabs))); dot and both norms are exact
    // integer sums, so ranking replays bit-identically
    "q_ann_sq" ->
      s"""WITH $sqCte,
         |q AS (SELECT qv AS qa, qn2 AS qan2 FROM sqn WHERE vec_id = 0)
         |SELECT vec_id, round(
         |    list_sum(list_transform(range(1, len(b.qv) + 1), i -> qa[i] * b.qv[i]))::DOUBLE
         |    / (sqrt(qan2::DOUBLE) * sqrt(b.qn2::DOUBLE)), 4) AS cos
         |FROM sqn b, q WHERE b.vec_id != 0 AND b.qn2 > 0
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // SQ8 distortion: per-vector |exact − quantized| cosine error
    // floored onto a 1e-5 integer grid before aggregation (exact
    // integer totals — aggregation-order-free)
    "q_sq_distortion" ->
      s"""WITH $vecCte,
         |$sqCteTail,
         |qe AS (SELECT v AS qav, nrm AS qan FROM vn WHERE vec_id = 0),
         |qq AS (SELECT qv AS qa, qn2 AS qan2 FROM sqn WHERE vec_id = 0),
         |ex AS (SELECT b.vec_id,
         |         list_sum(list_transform(range(1, len(qav) + 1), i -> qav[i] * b.v[i]))
         |           / (qan * b.nrm) AS c_exact
         |       FROM vn b, qe WHERE b.vec_id != 0 AND b.nrm > 0),
         |ap AS (SELECT b.vec_id,
         |         list_sum(list_transform(range(1, len(b.qv) + 1), i -> qa[i] * b.qv[i]))::DOUBLE
         |           / (sqrt(qan2::DOUBLE) * sqrt(b.qn2::DOUBLE)) AS c_sq
         |       FROM sqn b, qq WHERE b.vec_id != 0 AND b.qn2 > 0),
         |er AS (SELECT floor(abs(c_exact - c_sq) * 100000.0)::BIGINT AS err5
         |       FROM ex JOIN ap USING (vec_id))
         |SELECT count(*)::BIGINT AS n_vecs, sum(err5)::BIGINT AS total_err_1e5,
         |       round(sum(err5)::DOUBLE / count(*) / 100000.0, 8) AS avg_err,
         |       max(err5)::BIGINT AS max_err_1e5
         |FROM er""".stripMargin,
    // semantic decontamination: the oracle is the ALL-PAIRS corpus ×
    // probe cosine — the LSH candidate path must close the gap exactly
    "q_contamination_semantic" ->
      s"""WITH $vecCte,
         |c AS (SELECT vec_id, v, nrm FROM vn WHERE vec_id % 5 != 0),
         |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM vn WHERE vec_id % 5 = 0)
         |SELECT vec_id, probe_id, round(c_exact, 4) AS cos FROM (
         |  SELECT c.vec_id, p.probe_id,
         |         list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * p.pv[i]))
         |           / (c.nrm * p.pn) AS c_exact
         |  FROM c, p)
         |WHERE c_exact >= 0.45""".stripMargin,
    // the streaming ingest gate converges to the SAME screen (union
    // over stateless micro-batches == batch; shared all-pairs oracle)
    "q_stream_semantic" ->
      s"""WITH $vecCte,
         |c AS (SELECT vec_id, v, nrm FROM vn WHERE vec_id % 5 != 0),
         |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM vn WHERE vec_id % 5 = 0)
         |SELECT vec_id, probe_id, round(c_exact, 4) AS cos FROM (
         |  SELECT c.vec_id, p.probe_id,
         |         list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * p.pv[i]))
         |           / (c.nrm * p.pn) AS c_exact
         |  FROM c, p)
         |WHERE c_exact >= 0.45""".stripMargin,
    // HITS: the exact-integer mutual-reinforcement recurrence replayed
    // as iterative CTEs (the q_pagerank oracle pattern — `//` mirrors
    // Spark's `div`). The per-half-step renormalization scalar is a
    // whole-partition window sum (one reference per CTE) and every
    // iteration CTE is MATERIALIZED: without it DuckDB inlines the
    // 40-deep chain and planning blows up superlinearly (38.9 s vs
    // 0.6 s measured at sf0.01)
    "q_hits" -> {
      val m = Graph.TotalMass
      val iters = (1 to 5).map { i =>
        s"""ar$i AS MATERIALIZED (SELECT s, sum(hub)::BIGINT AS raw FROM ed JOIN h${i - 1} USING (c) GROUP BY s),
           |a$i AS MATERIALIZED (SELECT s, (raw // greatest(1, sum(raw) OVER () // $m))::BIGINT AS auth FROM ar$i),
           |hr$i AS MATERIALIZED (SELECT c, sum(auth)::BIGINT AS raw FROM ed JOIN a$i USING (s) GROUP BY c),
           |h$i AS MATERIALIZED (SELECT c, (raw // greatest(1, sum(raw) OVER () // $m))::BIGINT AS hub FROM hr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH ed AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |cn AS (SELECT DISTINCT c FROM ed),
         |h0 AS (SELECT c, ($m // (SELECT count(*) FROM cn))::BIGINT AS hub FROM cn),
         |$iters
         |SELECT 'auth' AS side, s AS node, auth AS score FROM a5
         |UNION ALL
         |SELECT 'hub' AS side, c AS node, hub AS score FROM h5""".stripMargin
    },
    // two-stage SQ8 cascade fully replayed: the int8 candidate cut
    // (top-50 by quantized cosine, vec_id tie-breaks) then the exact
    // full-precision rerank — both stages deterministic
    "q_sq_rerank" ->
      s"""WITH $sqCte,
         |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         |q AS (SELECT qv AS qa, qn2 AS qan2 FROM sqn WHERE vec_id = 0),
         |cand AS (SELECT vec_id FROM (
         |  SELECT b.vec_id,
         |         list_sum(list_transform(range(1, len(b.qv) + 1), i -> qa[i] * b.qv[i]))::DOUBLE
         |           / (sqrt(qan2::DOUBLE) * sqrt(b.qn2::DOUBLE)) AS c_sq
         |  FROM sqn b, q WHERE b.vec_id != 0 AND b.qn2 > 0)
         |  ORDER BY c_sq DESC, vec_id ASC LIMIT 50),
         |qe AS (SELECT v AS qav, nrm AS qan FROM vn WHERE vec_id = 0)
         |SELECT b.vec_id,
         |       round(list_sum(list_transform(range(1, len(qav) + 1), i -> qav[i] * b.v[i]))
         |             / (qan * b.nrm), 4) AS cos
         |FROM vn b JOIN cand USING (vec_id), qe
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // snapshot read: scores equal a rebuild on the pinned 4/5 corpus
    "q_index_asof" -> bm25RestrictedOracle("doc_id % 5 <> 0"),
    // pinned top-k: the oracle is the pinned rebuild's exact top-k
    "q_index_asof_blockmax" ->
      s"""${bm25RestrictedOracle("doc_id % 5 <> 0")}
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    // compaction changes no served row: still corpus-minus-slice
    "q_index_compact" -> bm25RestrictedOracle("doc_id % 10 <> 6"),
    "q_ann_compact" -> lshTopKOracleSql("vec_id % 9 <> 2", 1L),
    // token-budget mixture plan: per-source kept tokens, temperature
    // weights, planned tokens and epochs (op order mirrors the Scala:
    // budget * (pow / sum_w))
    "q_token_budget" ->
      s"""WITH $tfCte,
         |pd AS (SELECT doc_id, sum(tf)::BIGINT AS n_tok FROM tf GROUP BY doc_id),
         |ps AS (SELECT source, sum(n_tok)::BIGINT AS n_tokens
         |       FROM documents JOIN pd USING (doc_id) GROUP BY source),
         |tot AS (SELECT sum(pow(n_tokens::DOUBLE, 0.7)) AS sum_w FROM ps)
         |SELECT source, n_tokens,
         |       round(pow(n_tokens::DOUBLE, 0.7) / sum_w, 6) AS weight,
         |       floor(2000000.0 * (pow(n_tokens::DOUBLE, 0.7) / sum_w))::BIGINT AS planned_tokens,
         |       round(floor(2000000.0 * (pow(n_tokens::DOUBLE, 0.7) / sum_w)) / n_tokens, 4) AS epochs
         |FROM ps, tot""".stripMargin,
    // snapshot read on the pair substrate: pairs equal a fresh build
    // on the pinned id-prefix corpus (full pipeline replayed on it)
    "q_dedup_asof" ->
      s"""WITH ${minhashCandCteFor(
             "(SELECT * FROM documents WHERE doc_id <= (SELECT (max(doc_id) * 3) // 4 FROM documents))")}
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard FROM ver""".stripMargin,
    // snapshot read on the semantic substrate: all-pairs cosine over
    // the pinned id-prefix corpus
    "q_semantic_asof" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings
        |           WHERE vec_id <= (SELECT (max(vec_id) * 3) // 4 FROM embeddings)),
        |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        |SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
        |               / (a.nrm * b.nrm) AS c_exact
        |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
        |WHERE c_exact >= 0.45""".stripMargin,
    // pair-substrate snapshot diff: verified pairs are
    // PAIRWISE-INTRINSIC (signatures, shingle sets and copy identity
    // depend only on the two texts), so the pinned-build → head diff
    // is exactly the full-corpus pair relation restricted to pairs
    // touching the ingested id range — added only (the pinned ingest
    // drops nothing; the dropped leg is spec-exercised on a delete
    // store)
    "q_dedup_diff" ->
      s"""WITH $minhashCandCte,
         |cutq AS (SELECT (max(doc_id) * 3) // 4 AS cut FROM documents)
         |SELECT doc_a, doc_b, round(j_exact, 4) AS jaccard, 'added' AS change
         |FROM ver, cutq WHERE doc_a > cut OR doc_b > cut""".stripMargin,
    // the semantic twin: cosine is pairwise-intrinsic, same
    // restriction of the full all-pairs relation
    "q_semantic_diff" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |vn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |cutq AS (SELECT (max(vec_id) * 3) // 4 AS cut FROM embeddings),
        |allp AS (SELECT vec_a, vec_b, round(c_exact, 4) AS cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
        |               / (a.nrm * b.nrm) AS c_exact
        |  FROM vn a JOIN vn b ON a.vec_id < b.vec_id)
        |WHERE c_exact >= 0.45)
        |SELECT vec_a, vec_b, cos, 'added' AS change
        |FROM allp, cutq WHERE vec_a > cut OR vec_b > cut""".stripMargin,
    // one epoch of the budget plan: the rate is the ROUNDED epochs
    // column (4 dp) capped at 1, membership by the md5 uniform
    "q_budget_sample" -> budgetSampleOracle,
    // the streaming sampler drains to the SAME sample (the plan is
    // pre-drain corpus-global state; membership is per-doc stateless)
    "q_stream_budget" -> budgetSampleOracle,
    // per-source rollup of the exact (%97 verbatim) and fuzzy (%5
    // MinHash) screens' flag sets
    "q_contamination_report" ->
      s"""WITH $fuzzyContamCte,
         |pr AS (SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT DISTINCT tr.doc_id FROM tr JOIN pr ON tr.shingle = pr.shingle),
         |fz AS (SELECT DISTINCT f.doc_id
         |       FROM fint f
         |       JOIN csz na ON f.doc_id = na.doc_id
         |       JOIN csz nb ON f.probe_id = nb.doc_id
         |       WHERE f.inter::DOUBLE / (na.n_sh + nb.n_sh - f.inter) >= 0.5),
         |ns AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
         |ne AS (SELECT source, count(*)::BIGINT AS n_exact
         |       FROM documents JOIN ex USING (doc_id) GROUP BY source),
         |nf AS (SELECT source, count(*)::BIGINT AS n_fuzzy
         |       FROM documents JOIN fz USING (doc_id) GROUP BY source)
         |SELECT ns.source, ns.n_docs,
         |       coalesce(ne.n_exact, 0)::BIGINT AS n_exact,
         |       coalesce(nf.n_fuzzy, 0)::BIGINT AS n_fuzzy
         |FROM ns LEFT JOIN ne USING (source) LEFT JOIN nf USING (source)""".stripMargin,
  )
}
