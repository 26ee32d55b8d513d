package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DeltaStore
import graft.Lineage._

/** Staged product-quantization index — the TRAINED-ANN sibling of
  * [[AnnIndex]] (which stages the training-free LSH family). PQ and
  * IVF+PQ pay a real training cost (per-subspace codebooks, coarse
  * quantizer); that cost belongs in an offline index build, not in
  * every query. `build`/`buildIvf` run the exact [[Ann.pqTopK]] /
  * [[Ann.ivfPqTopK]] training+encode recipe once — the DETERMINISTIC
  * integer Lloyd's on the millis grid ([[Ann.pqFitCodebooksExact]] /
  * [[Clustering.fit]]), so the ENTIRE index (training included)
  * replays relationally and both staged keys are hash-checked, the
  * [[buildIvfFlat]] precedent extended to the fine quantizer — and
  * commit the artifacts as one [[DeltaStore]] delta:
  *
  *   <path>/delta-00000/codebooks (j, c, center BIGINT) — m×ksub rows
  *   <path>/delta-00000/centers   (list_id, center BIGINT) — IVF coarse
  *   <path>/delta-00000/codes     (vec_id[, list_id], code0..code{m-1})
  *   <path>/delta-00000/vectors   (vec_id, v, nrm)  — exact-rerank store
  *   <path>/delta-00000/pq.params — loud layout/param guard
  *
  * Serving loads codebooks/centers into driver literals (bounded:
  * m×ksub×(dim/m) + nLists×dim integers — the k-means-sync collect
  * shape), builds the query's exact-integer ADC table(s) on the
  * driver, and scores the codes relation with a pure map +
  * TakeOrdered + candidates-only exact rerank — zero shuffles of the
  * encoded corpus and ZERO training at query time. Staged == live is
  * spec-pinned AND oracle-pinned: the build trains with the live
  * operators' recipe on the same data, and the DuckDB oracle
  * re-derives codebooks, codes, ADC tables and the rescore from
  * scratch.
  *
  * Codebooks are train-once/frozen (the standard add-to-trained-index
  * contract): [[update]] encodes a new batch against the STORED
  * codebooks and lands it as another delta; codebook drift is a
  * rebuild, by design. The incremental-NATIVE family (no trained
  * state to drift) is [[AnnIndex]] — that split is the
  * index-maintenance story.
  *
  * Reference anchor: serves the reference's batch scoring loop
  * (BatchBM25PreMain.java:140-247's score-then-rank shape) on the
  * dense side, with the training staged the way its index prep stages
  * IDF state.
  */
object PqIndex {

  /** Build the PQ store: train codebooks ([[Ann.pqTopK]] recipe — the
    * exact integer Lloyd's, lowest-vec_id seeds), encode the corpus,
    * commit. */
  def build(embeddings: DataFrame, path: String,
            m: Int = 8, ksub: Int = 16, iters: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    val sub = dim / m
    val mv = Ann.millisVecs(embeddings)
    val codebooks = Ann.pqFitCodebooksExact(mv, "qv", m, sub, ksub, iters)
    DeltaStore.reset(spark, path)
    DeltaStore.commit(spark, path, "00000", rangeOf(embeddings)) { staging =>
      writeCodebooks(spark, codebooks, s"$staging/codebooks")
      mv.select(col("vec_id") +: Ann.pqCodeColsExact(codebooks, "qv", m, sub): _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/codes")
      Ann.withNorm(embeddings)
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/vectors")
      DeltaStore.writeSidecar(spark, staging, "pq.params", s"pq,$m,$ksub,$dim")
    }
  }

  /** Ingest a vector batch into an existing PQ store: encode the new
    * vectors under the FROZEN stored codebooks (the production
    * add-to-trained-index contract — retraining is a rebuild) and
    * append one delta. Idempotent per `tag` — which is REQUIRED, not
    * defaulted: a generated default would make the replay guarantee
    * vacuous (a retried ingest under a fresh random tag double-ingests
    * unless the duplicate-id check happens to catch it; a caller-owned
    * batch tag makes the retry a no-op by construction). Re-ingesting
    * an existing vec_id is rejected loudly. Ids need not be monotone —
    * nothing in the PQ layout is min-id-keyed. */
  def update(newEmbeddings: DataFrame, path: String, tag: String): Unit = {
    val spark = newEmbeddings.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val (codebooks, _, _, _) = load(spark, path, "pq")
    val m = codebooks.length; val sub = codebooks(0)(0).length
    val dimStored = m * sub
    val dim = newEmbeddings.select(size(col("embedding"))).head().getInt(0)
    require(dim == dimStored,
      s"batch dim $dim != stored dim $dimStored — not the same vector space")
    val deltas = DeltaStore.committedDeltas(spark, path)
    val br @ (_, batchLo, batchHi) = DeltaStore.batchRange(newEmbeddings, "vec_id")
    // tombstone-only deltas carry no codes; a deleted id stays
    // reserved until compaction purges it (the Bm25Index contract)
    DeltaStore.rejectDuplicateIds(spark, deltas, "codes", "vec_id", newEmbeddings, br, "PQ index")
    val mv = Ann.millisVecs(newEmbeddings)
    val range = if (batchLo <= batchHi) Some((batchLo, batchHi)) else None
    DeltaStore.commit(spark, path, tag, range) { staging =>
      // independent staged writes — overlap them (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () => mv.select(col("vec_id") +: Ann.pqCodeColsExact(codebooks, "qv", m, sub): _*)
          .write.mode(SaveMode.Overwrite).parquet(s"$staging/codes"),
        () => Ann.withNorm(newEmbeddings)
          .write.mode(SaveMode.Overwrite).parquet(s"$staging/vectors")))
    }
  }

  /** TOMBSTONE DELETE — [[Bm25Index.delete]]'s contract on the PQ /
    * IVF+PQ stores: one O(batch) tombstone delta (idempotent per
    * REQUIRED tag), serving anti-joins live codes and vectors so a
    * deleted vector stops surfacing immediately, [[compactDeltas]]
    * physically purges. Codebooks (and the coarse quantizer) stay
    * FROZEN — deleting vectors never retrains, exactly like adding
    * them under [[update]]; a drifted quantizer is a rebuild, not a
    * delete. Flat-IVF stores (single build delta, no ingest path) are
    * refused — rebuild those. Every id must be LIVE; loud otherwise;
    * a tombstoned id stays reserved against re-ingest until the
    * purge. */
  def delete(vecIds: DataFrame, path: String, tag: String): Unit = {
    val spark = vecIds.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val kind = buildDelta(spark, deltas, path)._2.split(",")(0)
    require(kind == "pq" || kind == "ivfpq",
      s"tombstone delete supports the ingesting stores (pq/ivfpq); '$kind' is " +
        "a single-delta build — rebuild it without the vectors instead")
    val ids = vecIds.select(col("vec_id")).distinct().cutLineage()
    DeltaStore.requireLive(spark, deltas, ids, "vec_id", "vectors")
    DeltaStore.commit(spark, path, tag, None) { staging =>
      ids.write.mode(SaveMode.Overwrite).parquet(s"$staging/tombstones")
    }
  }

  /** Build the IVF+PQ store: integer-Lloyd's coarse quantizer
    * ([[Clustering.fit]]) + residual codebooks ([[Ann.ivfPqTopK]]
    * recipe), encode, commit. */
  def buildIvf(embeddings: DataFrame, path: String,
               nLists: Int = 16, m: Int = 8, ksub: Int = 16,
               iters: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    val sub = dim / m
    val centers = Clustering.fit(embeddings, nLists, iters)
    val assigned = Ann.ivfAssignExact(Ann.millisVecs(embeddings), centers)
    val codebooks = Ann.pqFitCodebooksExact(assigned, "rv", m, sub, ksub, iters)
    DeltaStore.reset(spark, path)
    DeltaStore.commit(spark, path, "00000", rangeOf(embeddings)) { staging =>
      writeCodebooks(spark, codebooks, s"$staging/codebooks")
      writeCentersLong(spark, centers, s"$staging/centers")
      assigned.select(col("vec_id") +: col("list_id") +:
          Ann.pqCodeColsExact(codebooks, "rv", m, sub): _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/codes")
      Ann.withNorm(embeddings)
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/vectors")
      DeltaStore.writeSidecar(spark, staging, "pq.params", s"ivfpq,$nLists,$m,$ksub,$dim")
    }
  }

  /** Build the flat IVF store with the DETERMINISTIC integer-grid
    * coarse quantizer ([[Clustering.fit]]: seeded by the nLists lowest
    * vec_ids, exact BIGINT Lloyd's, `iters` rounds — the
    * [[Ann.ivfExactTopK]] recipe): coarse centers in exact millis,
    * per-vector list assignments, and the exact-rescore vector store.
    * Because every build step is integer-exact and seed-free, the
    * whole index — training included — replays relationally (the
    * q_ann_ivf oracle re-derives centers, lists, probes and the
    * rescore in DuckDB), which is what promotes the staged IVF from
    * rows-only to hash-checked. */
  def buildIvfFlat(embeddings: DataFrame, path: String,
                   nLists: Int = 16, iters: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    val centers = Clustering.fit(embeddings, nLists, iters)
    DeltaStore.reset(spark, path)
    DeltaStore.commit(spark, path, "00000", None) { staging =>
      writeCentersLong(spark, centers, s"$staging/centers")
      Clustering.assignVectors(embeddings, centers)
        .select(col("vec_id"), col("cluster_id").as("list_id"))
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/lists")
      Ann.withNorm(embeddings)
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/vectors")
      DeltaStore.writeSidecar(spark, staging, "pq.params", s"ivf,$nLists,$dim")
    }
  }

  /** (vec_id, cos): serve a flat-IVF top-k from the staged store —
    * matches [[Ann.ivfExactTopK]] on the same data exactly. Query-time
    * work: bounded center collect, probed-lists candidate filter
    * (probe selection under the quantizer's own exact-integer metric),
    * exact rescore on probed lists only. */
  def searchIvfFlat(spark: SparkSession, path: String, queryId: Long = 0L,
                    k: Int = 10, nProbe: Int = 4): DataFrame = {
    val d = firstDelta(spark, path, "ivf")
    val centers = readCentersLong(spark, d)
    val vectors = DeltaStore.readRelation(spark, Seq(s"$d/vectors"))
    val lists = DeltaStore.readRelation(spark, Seq(s"$d/lists"))
    val q = queryVec(vectors, queryId)
    servedIvfFlat(centers, vectors, lists, q, queryId, k, nProbe)
  }

  /** One flat-IVF serve against PRE-RESOLVED store state — the body
    * of [[searchIvfFlat]], factored so [[ivfTune]] can share one
    * delta resolution / center collect / query-vector collect across
    * its whole probe grid instead of re-paying them per grid point. */
  private def servedIvfFlat(centers: Array[Array[Long]], vectors: DataFrame,
                            lists: DataFrame, q: Array[Double],
                            queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val probes = Ann.ivfProbesForExact(q, centers, nProbe)
    val cand = lists
      .filter(col("list_id").isin(probes.map(Integer.valueOf): _*))
      .select("vec_id")
    val qn = vectors.filter(col("vec_id") === queryId)
      .select(col("v").as("va"), col("nrm").as("na"))
    vectors.join(cand, "vec_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qn))
      .select(col("vec_id"),
        round(graft.functions.Native.dot(col("va"), col("v")) /
          (col("na") * col("nrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** (vec_id, adc, cos): serve a PQ top-k from the staged store —
    * matches [[Ann.pqTopK]] on the same data exactly (adc = exact
    * BIGINT asymmetric distance in milli-units²). Query-time work: one
    * bounded codebook collect, one pushed-down single-row vector read,
    * a map-stage ADC scan of the codes relation, TakeOrdered
    * candidates, exact rerank on candidates only. Reads EVERY
    * committed delta — incrementally ingested batches serve with no
    * compaction step. */
  def searchTopK(spark: SparkSession, path: String, queryId: Long = 0L,
                 k: Int = 10, nCandidates: Int = 100): DataFrame = {
    val (codebooks, _, vectors, codes) = load(spark, path, "pq")
    val m = codebooks.length; val sub = codebooks(0)(0).length
    val qm = queryMillis(vectors, queryId)
    val table = Ann.pqAdcTableExact(qm, codebooks, m, sub)
    val cand = codes.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), Ann.pqAdcColExact(table, m).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(nCandidates)
    rerank(vectors, cand, queryId, k)
  }

  /** (vec_id, adc, cos): TIME-TRAVEL PQ serve — [[searchTopK]]
    * against the store AS OF version `maxTag` (the
    * [[Bm25Index.scoreAt]] contract on the trained store, closing the
    * time-travel family across all five store families). The trained
    * state makes the pin STRICTER here than anywhere else: codes are
    * meaningless except under the codebooks they were encoded with,
    * so the pinned read resolves codebooks, codes AND vectors from
    * the SAME `visibleAt` subset and fails loudly if the build delta
    * (the codebooks' home) is not visible at the pin — serving newer
    * codebooks against pinned codes would silently corrupt every ADC
    * distance, and no fallback to live trained state is ever taken.
    * Because [[update]] encodes every ingest under the FROZEN build
    * codebooks, any pin at-or-above the build version is exact: the
    * visible codes are precisely the rows a rebuild-then-reingest on
    * the pinned corpus would encode. Same retention trade as every
    * store: [[compactDeltas]] collapses folded history. */
  def searchTopKAt(spark: SparkSession, path: String, maxTag: String,
                   queryId: Long = 0L, k: Int = 10,
                   nCandidates: Int = 100): DataFrame = {
    val visible = DeltaStore.visibleAt(spark, path, maxTag)
    val (codebooks, _, vectors, codes) = loadDeltas(spark, visible, path, "pq")
    val m = codebooks.length; val sub = codebooks(0)(0).length
    val qm = queryMillis(vectors, queryId)
    val table = Ann.pqAdcTableExact(qm, codebooks, m, sub)
    val cand = codes.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), Ann.pqAdcColExact(table, m).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(nCandidates)
    rerank(vectors, cand, queryId, k)
  }

  /** (vec_id, adc, cos): serve an IVF+PQ top-k from the staged store —
    * matches [[Ann.ivfPqTopK]] on the same data exactly. Scan cost =
    * probed-lists fraction of the codes relation × m lookups. */
  def searchIvfTopK(spark: SparkSession, path: String, queryId: Long = 0L,
                    k: Int = 10, nProbe: Int = 4,
                    nCandidates: Int = 100): DataFrame = {
    val (codebooks, centers, vectors, codes) = load(spark, path, "ivfpq")
    val m = codebooks.length; val sub = codebooks(0)(0).length
    val qm = queryMillis(vectors, queryId)
    val probes = Ann.ivfProbesForExactMillis(qm, centers, nProbe)
    val adcByList = Ann.ivfAdcByListExact(qm, centers, codebooks, probes, m, sub)
    val cand = codes
      .filter(col("list_id").isin(probes.map(Integer.valueOf): _*))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adcByList.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(nCandidates)
    rerank(vectors, cand, queryId, k)
  }

  /** (list_id, n_vecs, share): per-inverted-list occupancy of the
    * staged flat-IVF store — the quantizer-health diagnostic that
    * decides nProbe and flags skew (one hot list = one hot partition
    * at 100 TB; a balanced quantizer is what makes the probed-lists
    * cost model honest). One list_id-cardinality aggregation over the
    * staged assignment relation; empty lists are absent (they hold no
    * rows and cost no scan). */
  def listBalance(spark: SparkSession, path: String): DataFrame = {
    val d = firstDelta(spark, path, "ivf")
    val lists = DeltaStore.readRelation(spark, Seq(s"$d/lists"))
    val n = lists.agg(count(lit(1)).as("n_total"))
    lists.groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(n))
      .select(col("list_id"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total"), 6).as("share"))
  }

  /** (n_probe, n_hits, recall): the IVF TUNING CURVE — recall@k of the
    * staged flat-IVF serve across an nProbe grid, against the
    * exact ranking (probing every list IS the exact scan, routed
    * through the same store relations so the comparison is
    * apples-to-apples). The probe-budget decision a vector-serving
    * owner makes before fixing query cost; the [[Dedup.lshTune]]
    * union-of-configs shape — one plan, no driver loops. */
  def ivfTune(spark: SparkSession, path: String, queryId: Long = 0L,
              k: Int = 10, probeGrid: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(probeGrid.nonEmpty, "probeGrid must be non-empty")
    // resolve the store state ONCE for the whole grid: the exact pass
    // and every grid point share the same delta listing, center table
    // and query vector — calling the public searchIvfFlat per point
    // re-collected all three per serve (5× at the default grid)
    val d = firstDelta(spark, path, "ivf")
    val centers = readCentersLong(spark, d)
    val vectors = DeltaStore.readRelation(spark, Seq(s"$d/vectors"))
    val lists = DeltaStore.readRelation(spark, Seq(s"$d/lists"))
    val q = queryVec(vectors, queryId)
    // k-row ground-truth relation, consumed by EVERY grid branch —
    // cut, or each branch re-runs the exact full-probe serve
    val exactIds = servedIvfFlat(centers, vectors, lists, q, queryId,
        k, nProbe = Int.MaxValue)
      .select("vec_id").cutLineage()
    probeGrid.map { np =>
      servedIvfFlat(centers, vectors, lists, q, queryId, k, np)
        .join(exactIds, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np.toLong).as("n_probe"), col("n_hits"),
          round(col("n_hits").cast("double") / k, 4).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** (j, n_vecs, total_d2, avg_d2): per-subspace QUANTIZATION
    * DISTORTION of the staged PQ store — the mean exact-integer
    * squared distance between each subvector and its assigned
    * codeword (milli-units²), the codebook-quality metric that tells
    * a too-coarse subspace (raise ksub / rebalance m) from a healthy
    * one. Recomputed as one map stage over the staged vector store
    * against the literal codebooks (the assignment argmin's `d`
    * leg — no code join, no shuffle beyond the m-row rollup); exact
    * BIGINT sums, one final division. */
  def distortion(spark: SparkSession, path: String): DataFrame = {
    val (codebooks, _, vectors, _) = load(spark, path, "pq")
    val m = codebooks.length; val sub = codebooks(0)(0).length
    val mv = vectors.select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x * 1000) AS BIGINT))").as("qv"))
    val dCols = (0 until m).map { j =>
      expr(
        s"""array_min(transform(sequence(0, ${codebooks(j).length - 1}), c ->
           |  struct(aggregate(zip_with(slice(qv, ${j * sub + 1}, $sub),
           |           element_at(${Ann.lit2dL(codebooks(j))}, c + 1),
           |           (x, y) -> (x - y) * (x - y)),
           |         CAST(0 AS BIGINT), (a, b) -> a + b) AS d,
           |         c AS c))).d""".stripMargin).as(s"d$j")
    }
    mv.select(dCols: _*)
      .select(posexplode(array((0 until m).map(j => col(s"d$j")): _*))
        .as(Seq("j", "d2")))
      .groupBy(col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n_vecs"), sum("d2").as("total_d2"))
      .select(col("j"), col("n_vecs"), col("total_d2"),
        round(col("total_d2").cast("double") / col("n_vecs"), 6).as("avg_d2"))
  }

  /** (j, n_codes_a, n_codes_b, changed_codes, added_mass,
    * removed_mass, n_vecs_a, n_vecs_b): SNAPSHOT DIFF between two
    * pinned versions of the PQ store — the audit read completing the
    * diff verb on the trained store ([[Bm25Index.diffVersions]] /
    * [[AnnIndex.diffVersions]] family): per subspace, how the CODE
    * OCCUPANCY histogram shifted between versions (a drifting
    * histogram is the retrain signal — frozen codebooks encode new
    * mass into whatever cells fit, and a batch far from the training
    * distribution piles into few cells) plus live vector counts per
    * side. Both sides resolve codebooks, codes and vectors through
    * the SAME `visibleAt` subset ([[buildDeltaIn]]'s pinning
    * contract, so both pins are guaranteed to share the one build
    * delta's codebooks — histograms are comparable by construction).
    * The rollup is CODE-cardinality (m × ksub cells — metadata); one
    * row per subspace, ordered by j. */
  def diffVersions(spark: SparkSession, path: String,
                   tagA: String, tagB: String): DataFrame = {
    val (cbA, _, vecsA, codesA) =
      loadDeltas(spark, DeltaStore.visibleAt(spark, path, tagA), path, "pq")
    val (_, _, vecsB, codesB) =
      loadDeltas(spark, DeltaStore.visibleAt(spark, path, tagB), path, "pq")
    val m = cbA.length
    def hist(codes: DataFrame, cnt: String): DataFrame =
      codes.select(posexplode(array((0 until m).map(j => col(s"code$j")): _*))
          .as(Seq("j", "code")))
        .groupBy(col("j").cast("long").as("j"), col("code").cast("long").as("code"))
        .agg(count(lit(1)).as(cnt))
    val na = vecsA.agg(count(lit(1)).as("n_vecs_a"))
    val nb = vecsB.agg(count(lit(1)).as("n_vecs_b"))
    hist(codesA, "cnt_a").join(hist(codesB, "cnt_b"), Seq("j", "code"), "full_outer")
      .select(col("j"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .groupBy("j")
      .agg(
        sum(when(col("cnt_a") > 0, 1L).otherwise(0L)).as("n_codes_a"),
        sum(when(col("cnt_b") > 0, 1L).otherwise(0L)).as("n_codes_b"),
        sum(when(col("cnt_a") =!= col("cnt_b"), 1L).otherwise(0L))
          .as("changed_codes"),
        sum(greatest(col("cnt_b") - col("cnt_a"), lit(0L))).as("added_mass"),
        sum(greatest(col("cnt_a") - col("cnt_b"), lit(0L))).as("removed_mass"))
      .crossJoin(broadcast(na))
      .crossJoin(broadcast(nb))
      .orderBy(col("j").asc)
  }

  /** Fold all committed deltas into ONE delta — the small-files
    * maintenance leg every other store has ([[Bm25Index
    * .compactDeltas]] / [[AnnIndex.compactDeltas]]; crash-atomic via
    * [[DeltaStore.compact]]'s supersedes sidecar, replayed ingest
    * tags stay no-ops through the cumulative tag history). The
    * trained state (codebooks, centers, pq.params) carries through
    * from the unique build delta VERBATIM — compaction must never
    * touch what queries were trained against; codes and vectors
    * union across deltas. */
  def compactDeltas(spark: SparkSession, path: String): Unit =
    DeltaStore.compact(spark, path) { (deltas, staging) =>
      val (b, params) = buildDelta(spark, deltas, path)
      def carryIfPresent(sub: String): Unit =
        DeltaStore.readSub(spark, Seq(b), sub)
          .foreach(_.coalesce(1).write.parquet(s"$staging/$sub"))
      // PHYSICAL PURGE: every id-carrying relation folds live-only
      // (tombstones are not carried — the compacted store equals one
      // whose deleted vectors were never ingested; purged ids are free
      // for re-ingest again)
      def unionAll(sub: String): Unit =
        DeltaStore.liveSub(spark, deltas, sub, "vec_id")
          .foreach(_.write.parquet(s"$staging/$sub"))
      // codebooks carry if-present like centers: a flat-IVF build
      // (centers/lists/vectors, no fine quantizer) compacts too.
      // All five staged writes are independent — overlap them
      // (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () => carryIfPresent("codebooks"),
        () => carryIfPresent("centers"),
        () => unionAll("codes"),
        () => unionAll("lists"),
        () => unionAll("vectors")))
      DeltaStore.writeSidecar(spark, staging, "pq.params", params)
    }

  // ---- store plumbing ----

  private def rangeOf(embeddings: DataFrame): Option[(Long, Long)] = {
    val (empty, lo, hi) = DeltaStore.batchRange(embeddings, "vec_id")
    if (empty) None else Some((lo, hi))
  }

  private def writeCodebooks(spark: SparkSession,
      codebooks: Array[Array[Array[Long]]], path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (center, c) => (j, c, center.toSeq) }
    }.toSeq.toDF("j", "c", "center")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Exact-millis (BIGINT) centers — the deterministic quantizer's
    * artifact (lossless, so the oracle re-derives the identical
    * table). */
  private def writeCentersLong(spark: SparkSession,
      centers: Array[Array[Long]], path: String): Unit = {
    import spark.implicits._
    centers.zipWithIndex.map { case (ctr, i) => (i, ctr.toSeq) }.toSeq
      .toDF("list_id", "center")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  private def readCentersLong(spark: SparkSession, delta: String): Array[Array[Long]] =
    DeltaStore.readRelation(spark, Seq(s"$delta/centers")).select("list_id", "center").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Long](1).toArray)

  /** The BUILD delta — the unique delta carrying the pq.params
    * sidecar and the trained state (build resets the store, so there
    * is exactly one); update deltas carry codes/vectors only. Kind is
    * checked loudly against the sidecar. */
  private def firstDelta(spark: SparkSession, path: String,
                         expectKind: String): String =
    buildDeltaIn(spark, DeltaStore.committedDeltas(spark, path),
      path, expectKind)

  /** The unique build delta WITHIN `deltas` — parameterized on the
    * delta subset so pinned snapshot reads resolve the trained state
    * against the VISIBLE set: codes were encoded under the build's
    * codebooks, so a snapshot whose visible set lacks the build delta
    * has codes and codebooks DIVERGED (serving any other codebooks
    * against those codes silently corrupts every ADC distance) and
    * must fail loudly, never fall back to the live trained state. */
  private def buildDeltaIn(spark: SparkSession, deltas: Seq[String],
                           path: String, expectKind: String): String = {
    val (d, params) = buildDelta(spark, deltas, path)
    val kind = params.split(",")(0)
    require(kind == expectKind, s"store at $path is '$kind', expected '$expectKind'")
    d
  }

  /** (build delta, its pq.params) — the unique delta of `deltas`
    * carrying the sidecar. */
  private def buildDelta(spark: SparkSession, deltas: Seq[String],
                         path: String): (String, String) = {
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val fs = DeltaStore.fsOf(spark, path)
    val withParams = deltas.filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(d, "pq.params")))
    require(withParams.size == 1,
      s"expected exactly one build delta (pq.params) among the " +
        s"${deltas.size} resolved deltas under $path, found " +
        s"${withParams.size} — either not a staged vector index, or a " +
        "snapshot pinned BELOW the build version: codebooks are trained " +
        "state committed with the build, and a pinned read must serve " +
        "codes and codebooks from the same visible set")
    (withParams.head, DeltaStore.readSidecar(fs, withParams.head, "pq.params").get)
  }

  /** Load the trained PQ state from the BUILD delta (bounded collects:
    * m×ksub codebook rows, nLists center rows — the k-means-sync
    * shape) and open the codes/vectors relations across ALL committed
    * deltas (build + incremental ingests). */
  private def load(spark: SparkSession, path: String, expectKind: String)
      : (Array[Array[Array[Long]]], Array[Array[Long]], DataFrame, DataFrame) =
    loadDeltas(spark, DeltaStore.committedDeltas(spark, path), path, expectKind)

  /** [[load]] over an explicit delta subset — the pinned-read path
    * resolves codebooks, codes and vectors from the SAME visible set
    * (codebook pinning: [[buildDeltaIn]] fails loudly when the build
    * delta is not visible at the pin). */
  private def loadDeltas(spark: SparkSession, deltas: Seq[String],
                         path: String, expectKind: String)
      : (Array[Array[Array[Long]]], Array[Array[Long]], DataFrame, DataFrame) = {
    val d = buildDeltaIn(spark, deltas, path, expectKind)
    val cbRows = DeltaStore.readRelation(spark, Seq(s"$d/codebooks"))
      .select("j", "c", "center").collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val codebooks = Array.ofDim[Array[Long]](m, ksub)
    cbRows.foreach(r => codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray)
    val centers: Array[Array[Long]] =
      if (expectKind == "ivfpq") readCentersLong(spark, d) else Array.empty
    val (vectors, codes) = DeltaStore.livePair(spark, deltas, "vec_id", "vectors", "codes")
    (codebooks, centers, vectors, codes)
  }

  private def queryVec(vectors: DataFrame, queryId: Long): Array[Double] =
    vectors.filter(col("vec_id") === queryId)
      .select("v").head().getSeq[Double](0).toArray

  /** The query on the exact millis grid, derived from the stored
    * double view (v = exact double of the float input, so
    * floor(v·1000) is bit-identical to the encode-side expression). */
  private def queryMillis(vectors: DataFrame, queryId: Long): Array[Long] =
    queryVec(vectors, queryId).map(x => math.floor(x * 1000).toLong)

  /** Candidates-only exact rerank against the staged vector store —
    * the [[Ann]] scoring contract (round(cos,4), cos desc / vec_id asc). */
  private def rerank(vectors: DataFrame, cand: DataFrame,
                     queryId: Long, k: Int): DataFrame = {
    val qn = vectors.filter(col("vec_id") === queryId)
      .select(col("v").as("va"), col("nrm").as("na"))
    vectors.join(cand, "vec_id")
      .crossJoin(broadcast(qn))
      .select(col("vec_id"), col("adc"),
        round(graft.functions.Native.dot(col("va"), col("v")) /
          (col("na") * col("nrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }
}
