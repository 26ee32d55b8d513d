package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DeltaStore
import graft.Lineage._

/** Materialized ANN index — the vector-side sibling of [[Bm25Index]],
  * sharing its delta-directory commit protocol ([[DeltaStore]]):
  *
  *   <path>/delta-<tag>/vectors  (vec_id, v, nrm)    — doubles + norms
  *   <path>/delta-<tag>/buckets  (t, bucket, vec_id) — LSH membership,
  *                   repartitioned + sorted by (t, bucket) so a
  *                   query's bucket predicate prunes row groups
  *
  * Incremental ingest is SOUND for LSH by construction: bucket ids
  * come from md5-derived hyperplanes materialized as plan literals
  * ([[Ann.lshBuckets]]), so every batch hashes into the same bucket
  * space and a staged search over N deltas equals the live search over
  * their union (AnnSpec proves it). Per-batch cost scales with the
  * batch — signatures are a map stage, the bucket write shuffles the
  * batch once. Contrast IVF: its coarse quantizer is TRAINED, so
  * incremental ingest there would need centroid-drift maintenance —
  * that is exactly why the hyperplane family is the streaming-ingest
  * index of choice.
  *
  * Query cost: read the query's own bucket rows (pushed-down scan on
  * the tiny bucket table), semi-join candidates against the vector
  * store, rescore exactly. At 100 TB the buckets relation is ~numTables
  * rows per vector and each query touches only its own (t, bucket)
  * row groups — never the corpus.
  */
object AnnIndex {

  /** Full (re)build: reset the store and ingest the corpus as the
    * first delta. */
  def build(embeddings: DataFrame, path: String,
            numTables: Int = 8, bitsPerTable: Int = 4): Unit = {
    DeltaStore.reset(embeddings.sparkSession, path)
    update(embeddings, path, "00000", numTables, bitsPerTable)
  }

  /** Incrementally ingest a NEW vector batch. Idempotent per `tag`
    * (replayed streaming batches are exactly-once); re-ingesting an
    * existing vec_id is rejected — append-only maintenance would
    * return it twice from its buckets. The duplicate check is
    * range-pruned by per-delta vec_id sidecars, batch-scaled for
    * monotone-id ingest. The hyperplane parameters must match the
    * store's (same defaults everywhere); they are cheap literals, not
    * trained state, so there is nothing else to keep in step. */
  def update(embeddings: DataFrame, path: String,
             tag: String = java.util.UUID.randomUUID().toString,
             numTables: Int = 8, bitsPerTable: Int = 4): Unit = {
    val spark = embeddings.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    // a batch hashed with DIFFERENT hyperplane parameters would land
    // in an incompatible bucket space and silently corrupt every
    // search — each delta records its params, and a mismatch is loud
    val params = s"$numTables,$bitsPerTable"
    // check EVERY delta, not just the first listed: listStatus order is
    // unspecified, and a heterogeneous store (a delta committed through
    // DeltaStore.commit directly, or a param-less legacy delta listed
    // first) must not let a mismatched batch slip in and corrupt search
    // — the same all-deltas validation compactDeltas runs
    val fs = DeltaStore.fsOf(spark, path)
    val storedAll = deltas.flatMap(DeltaStore.readSidecar(fs, _, "lsh.params")).distinct
    require(storedAll.size <= 1, s"deltas disagree on LSH params: $storedAll")
    storedAll.foreach { stored =>
      require(stored == params,
        s"LSH params $params do not match the store's $stored — " +
          "rebuild the index to change hyperplane parameters")
    }
    val br @ (_, lo, hi) = DeltaStore.batchRange(embeddings, "vec_id")
    // tombstone-only deltas carry no vectors; a deleted id stays
    // reserved until compaction purges it (the Bm25Index contract)
    DeltaStore.rejectDuplicateIds(spark, deltas, "vectors", "vec_id", embeddings, br, "ANN-index")
    val range = if (lo <= hi) Some((lo, hi)) else None
    DeltaStore.commit(spark, path, tag, range) { staging =>
      // independent staged writes — overlap them (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () => embeddings
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("nrm", sqrt(graft.functions.Native.dot(col("v"), col("v"))))
          .write.mode(SaveMode.Overwrite).parquet(s"$staging/vectors"),
        () => Ann.lshBuckets(embeddings, numTables, bitsPerTable)
          .repartition(col("t"), col("bucket"))
          .sortWithinPartitions("t", "bucket")
          .write.mode(SaveMode.Overwrite).parquet(s"$staging/buckets")))
      DeltaStore.writeSidecar(spark, staging, "lsh.params", params)
    }
  }

  /** Fold all committed deltas into ONE delta (small-files
    * maintenance, same single-writer window as
    * [[Bm25Index.compactDeltas]]; crash-atomic via [[DeltaStore
    * .compact]]'s supersedes sidecar). Buckets are re-clustered on
    * (t, bucket) across the merged store so query pruning recovers
    * its row-group locality after many small ingests; the lsh.params
    * sidecar carries through. */
  def compactDeltas(spark: SparkSession, path: String): Unit = {
    val fs = DeltaStore.fsOf(spark, path)
    DeltaStore.compact(spark, path) { (deltas, staging) =>
      val params = deltas.flatMap(DeltaStore.readSidecar(fs, _, "lsh.params")).distinct
      require(params.size <= 1, s"deltas disagree on LSH params: $params")
      // physical purge: live rows only, tombstones dropped — the
      // compacted store equals one built without the deleted vectors
      val (vectors, buckets) = DeltaStore.livePair(spark, deltas, "vec_id", "vectors", "buckets")
      // independent rewrites — overlap them (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () => vectors.write.parquet(s"$staging/vectors"),
        () => buckets
          .repartition(col("t"), col("bucket"))
          .sortWithinPartitions("t", "bucket")
          .write.parquet(s"$staging/buckets")))
      params.headOption.foreach(DeltaStore.writeSidecar(spark, staging, "lsh.params", _))
    }
  }

  /** SHARD MERGE — [[Bm25Index.mergeStores]]'s contract on the vector
    * store: fold two independently built stores over DISJOINT vec_id
    * spaces into one fresh store at `dest`, serving identically to a
    * build on the union of the live corpora. Even cheaper than the
    * text-index merge: LSH buckets are DETERMINISTIC per-vector
    * functions of the literal hyperplanes, so the bucket relations
    * UNION verbatim — no recompute, no sidecar arithmetic — provided
    * both stores hash with the SAME params (gated, the [[update]]
    * rule across stores). Disjointness gated like the text merge
    * (O(1) range short-circuit, id semi-join only on overlap);
    * tombstones on either side purge physically. Buckets re-cluster
    * on (t, bucket) so query pruning recovers row-group locality
    * across the shard boundary. */
  def mergeStores(spark: SparkSession, pathA: String, pathB: String,
                  dest: String): Unit = {
    val dA = DeltaStore.committedDeltas(spark, pathA)
    require(dA.nonEmpty, s"no committed deltas under $pathA")
    val dB = DeltaStore.committedDeltas(spark, pathB)
    require(dB.nonEmpty, s"no committed deltas under $pathB")
    // FileSystems resolve PER PATH: the two source stores and the
    // destination can live on different filesystems (hdfs vs s3a vs
    // local), and a handle from one would probe/write the wrong store
    val fsA = DeltaStore.fsOf(spark, pathA)
    val fsB = DeltaStore.fsOf(spark, pathB)
    val params = (dA.flatMap(DeltaStore.readSidecar(fsA, _, "lsh.params")) ++
      dB.flatMap(DeltaStore.readSidecar(fsB, _, "lsh.params"))).distinct
    require(params.size <= 1,
      s"stores disagree on LSH params: $params — a merged bucket space " +
        "would be incompatible; rebuild one side first")
    val (va, ba) = DeltaStore.livePair(spark, dA, "vec_id", "vectors", "buckets")
    val (vb, bb) = DeltaStore.livePair(spark, dB, "vec_id", "vectors", "buckets")
    val range = DeltaStore.requireDisjoint(va, vb, "vec_id")
    DeltaStore.reset(spark, dest)
    // FILE-LEVEL COPY-THROUGH for the vectors relation (guide §6, the
    // DedupStore.mergeStores discipline): with no tombstones on either
    // side, vectors = the plain union of both shards' files — vec_id
    // ranges are disjoint (gated above), so copied files keep exactly
    // the per-shard id clustering a rewrite would produce. Buckets
    // ALWAYS re-cluster on (t, bucket): the hash key interleaves
    // across shards and the re-cluster is what recovers query-pruning
    // row-group locality (scaladoc above) — never copied.
    val noTomb = Seq(dA, dB).forall(DeltaStore.havingSub(spark, _, "tombstones").isEmpty)
    DeltaStore.commit(spark, dest, "00000", range) { staging =>
      // independent staged writes/copies — overlap them (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () =>
          if (noTomb) DeltaStore.copySubFiles(spark, dA ++ dB, "vectors", staging, "s")
          else va.union(vb).write.mode(SaveMode.Overwrite)
            .parquet(s"$staging/vectors"),
        () => ba.union(bb)
          .repartition(col("t"), col("bucket"))
          .sortWithinPartitions("t", "bucket")
          .write.mode(SaveMode.Overwrite).parquet(s"$staging/buckets")))
      params.headOption.foreach(DeltaStore.writeSidecar(spark, staging, "lsh.params", _))
    }
  }

  /** TOMBSTONE DELETE — [[Bm25Index.delete]]'s contract on the vector
    * store: one O(batch) tombstone delta (crash-atomic, idempotent per
    * REQUIRED tag), serving anti-joins live rows so a deleted vector
    * stops surfacing as candidate or query immediately, compaction
    * physically purges. Every id must be LIVE — loud on dead/absent
    * ids; a tombstoned id stays reserved against re-ingest until the
    * purge. Works per-delta like every other ingest: nothing about
    * LSH's literal hyperplanes needs retraining on delete (the same
    * reason the family supports incremental ingest). */
  def delete(vecIds: DataFrame, path: String, tag: String): Unit = {
    val spark = vecIds.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val ids = vecIds.select(col("vec_id")).distinct().cutLineage()
    DeltaStore.requireLive(spark, deltas, ids, "vec_id", "vectors")
    DeltaStore.commit(spark, path, tag, None) { staging =>
      ids.write.mode(SaveMode.Overwrite).parquet(s"$staging/tombstones")
    }
  }

  /** (vec_id, cos): top-k neighbors of `queryId` from the staged
    * index — matches [[Ann.lshTopK]] on the same data exactly,
    * however many deltas the store has accumulated. */
  def searchTopK(spark: SparkSession, path: String,
                 queryId: Long = 0L, k: Int = 10): DataFrame =
    searchDeltas(spark, path, DeltaStore.committedDeltas(spark, path),
      queryId, k)

  /** TIME-TRAVEL search: the same top-k, but against the store AS OF
    * version `maxTag` — only deltas whose tag sorts ≤ maxTag
    * participate, so a reader can pin the exact index snapshot a
    * batch job was validated against while ingest keeps committing
    * (snapshot isolation for free: deltas are immutable and the
    * manifest is the tag set). Retention contract, stated plainly:
    * [[compactDeltas]] collapses folded history (its compact delta
    * supersedes the originals, like VACUUM in a lakehouse table), so
    * travel reaches only versions newer than the last compaction —
    * the standard retention/no-time-travel-past-vacuum trade. */
  def searchTopKAt(spark: SparkSession, path: String, maxTag: String,
                   queryId: Long = 0L, k: Int = 10): DataFrame = {
    // numeric-tag contract: DeltaStore.visibleAt fails loudly on a
    // store holding delete/compact tags (undefined lexicographic order)
    searchDeltas(spark, path,
      DeltaStore.visibleAt(spark, path, maxTag), queryId, k)
  }

  private def searchDeltas(spark: SparkSession, path: String,
                           deltas: Seq[String],
                           queryId: Long, k: Int): DataFrame = {
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val (vectors, buckets) = DeltaStore.livePair(spark, deltas, "vec_id", "vectors", "buckets")
    val qb = buckets.filter(col("vec_id") === queryId)
      .select(col("t").as("qt"), col("bucket").as("qbucket"))
    val candidates = buckets
      .join(broadcast(qb), col("t") === col("qt") && col("bucket") === col("qbucket"))
      .select("vec_id").distinct()
    rescore(vectors, candidates, queryId, k)
  }

  /** Exact cosine rescore of a candidate set against the live vector
    * store — the shared tail of every LSH-family serve (round(cos,4),
    * cos desc / vec_id asc, the [[Ann]] scoring contract). */
  private def rescore(vectors: DataFrame, candidates: DataFrame,
                      queryId: Long, k: Int): DataFrame = {
    val q = vectors.filter(col("vec_id") === queryId)
      .select(col("v").as("va"), col("nrm").as("na"))
    vectors.join(candidates, "vec_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(
        graft.functions.Native.dot(col("va"), col("v")) / (col("na") * col("nrm")), 4))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "cos")
  }

  /** (vec_id, cos): MULTIPROBE top-k served from the STAGED store —
    * [[Ann.lshMultiprobeTopK]]'s memory/recall trade on the stored
    * bucket relation: per table the query probes its own bucket PLUS
    * every Hamming-1 flip of the stored bit-string bucket, so a
    * half-table store keeps the recall the dropped tables paid for in
    * stored rows. The probe expansion touches only the QUERY side
    * (1 + bits rows per table, broadcast); the bucket relation is
    * read through the same pushed-down (t, bucket) join as
    * [[searchTopK]]. bitsPerTable comes from the store's own
    * lsh.params (a probe width that disagreed with the stored bucket
    * strings would silently probe nothing — loud instead). Because
    * bucket ids are deterministic per-vector functions, the serve is
    * merge-stable: multiprobe over a [[mergeStores]] result equals
    * multiprobe over a rebuild on the union corpus (spec-pinned). */
  def searchMultiprobeTopK(spark: SparkSession, path: String,
                           queryId: Long = 0L, k: Int = 10): DataFrame = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val fs = DeltaStore.fsOf(spark, path)
    val params = deltas.flatMap(DeltaStore.readSidecar(fs, _, "lsh.params")).distinct
    require(params.size == 1,
      s"multiprobe serve needs exactly one lsh.params across the store's " +
        s"deltas to derive the probe width; found ${params.size} ($params)")
    val bits = params.head.split(",")(1).toInt
    val (vectors, buckets) = DeltaStore.livePair(spark, deltas, "vec_id", "vectors", "buckets")
    val qb = buckets.filter(col("vec_id") === queryId)
      .select(col("t").as("qt"), col("bucket").as("qbucket"))
    val probes = qb.select(col("qt"), explode(expr(
        s"transform(sequence(0, $bits), " +
          "i -> CASE WHEN i = 0 THEN qbucket " +
          "ELSE concat(substring(qbucket, 1, i - 1), " +
          "CASE WHEN substring(qbucket, i, 1) = '1' THEN '0' ELSE '1' END, " +
          s"substring(qbucket, i + 1, $bits)) END)")).as("qbucket"))
      .distinct()
    val candidates = buckets
      .join(broadcast(probes),
        col("t") === col("qt") && col("bucket") === col("qbucket"))
      .select("vec_id").distinct()
    rescore(vectors, candidates, queryId, k)
  }

  /** (t, n_buckets_a, n_buckets_b, changed_buckets, added_mass,
    * removed_mass, n_vecs_a, n_vecs_b): SNAPSHOT DIFF between two
    * pinned versions of the vector store — [[Bm25Index.diffVersions]]
    * on the ANN side, the audit read a promotion decision wants
    * BEFORE switching serving to a new snapshot: per LSH table, how
    * many buckets changed occupancy and how much membership mass
    * moved in/out, plus the per-version live vector counts. Both
    * sides resolve through `visibleAt` + the live view (tombstones
    * respected exactly as serves respect them); the per-side rollup
    * is BUCKET-cardinality (≤ numTables × 2^bits rows — metadata,
    * never the corpus), joined full-outer per (t, bucket), rolled up
    * per table. Deterministic: one row per table, ordered by t. */
  def diffVersions(spark: SparkSession, path: String,
                   tagA: String, tagB: String): DataFrame = {
    def liveAt(tag: String) = DeltaStore.livePair(spark,
      DeltaStore.visibleAt(spark, path, tag), "vec_id", "vectors", "buckets")
    val ((va, ba), (vb, bb)) = (liveAt(tagA), liveAt(tagB))
    val na = va.agg(count(lit(1)).as("n_vecs_a"))
    val nb = vb.agg(count(lit(1)).as("n_vecs_b"))
    val ca = ba.groupBy("t", "bucket").agg(count(lit(1)).as("cnt_a"))
    val cb = bb.groupBy("t", "bucket").agg(count(lit(1)).as("cnt_b"))
    ca.join(cb, Seq("t", "bucket"), "full_outer")
      .select(col("t"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .groupBy(col("t").cast("long").as("t"))
      .agg(
        sum(when(col("cnt_a") > 0, 1L).otherwise(0L)).as("n_buckets_a"),
        sum(when(col("cnt_b") > 0, 1L).otherwise(0L)).as("n_buckets_b"),
        sum(when(col("cnt_a") =!= col("cnt_b"), 1L).otherwise(0L))
          .as("changed_buckets"),
        sum(greatest(col("cnt_b") - col("cnt_a"), lit(0L))).as("added_mass"),
        sum(greatest(col("cnt_a") - col("cnt_b"), lit(0L))).as("removed_mass"))
      .crossJoin(broadcast(na))
      .crossJoin(broadcast(nb))
      .orderBy(col("t").asc)
  }
}
