package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lineage._

/** Materialized SEMANTIC near-duplicate pair substrate — the
  * [[DedupStore]] idea applied to the embedding side: the value
  * collapse and the LSH-bucketed + exact-verified cosine pair relation
  * are derived once and staged; the SemDeDup decisions (cluster
  * labeling, keep-one-per-cluster drop) AND the near-dup pair report
  * ([[cosinePairs]]) serve from the staged relations by CC + id
  * joins, never re-touching a vector at query time.
  *
  * Store layout (delta-committed via [[graft.sources.DeltaStore]],
  * same atomic-rename protocol as [[DedupStore]]):
  *
  *   <path>/delta-<tag>/members (vec_id, rep) — value collapse: every
  *       nonzero vector → the min-vec_id rep of its byte-identical
  *       value group (zero-norm/null vectors are excluded — cosine is
  *       undefined for them, they cannot pair). Group size is DERIVED
  *       at serve time, never stored — that keeps incremental ingest
  *       append-only: a new copy of an old value appends one row.
  *   <path>/delta-<tag>/reps    (rep, vk, embedding, selfcos) — one
  *       row per NEW canonical vector: its value key (the update
  *       path's group-match key), the vector itself (the verify-side
  *       index — an update computes exact cosines for new-vs-old
  *       candidates from here), and the rounded self-cosine (what the
  *       live plan emits for an identical-value pair — ≈1.0 up to
  *       float round-off, staged so the within-group expansion
  *       replays the live arithmetic bit-for-bit).
  *   <path>/delta-<tag>/buckets (vec_id, t, bucket) — the rep's
  *       hyperplane-LSH buckets: an update buckets ONLY its new reps
  *       and equi-joins them against this relation.
  *   <path>/delta-<tag>/pairs   (vec_a, vec_b, cos) — rep-level
  *       verified cosine pairs touching this batch (new×old and
  *       new×new; old×old pairs live in earlier deltas).
  *
  * Incremental ingest ([[update]]) is append-only and batch-scaled:
  * new values hash-match old groups through `reps`, only genuinely
  * new reps are bucketed, and new candidate pairs verify against the
  * staged rep vectors. vec_ids must be MONOTONE across batches
  * (enforced loudly, the [[DedupStore]] contract): the min-id rep of
  * every value group then never changes, which is what keeps every
  * staged relation append-only. After any sequence of updates the
  * union of deltas equals a full rebuild on the union corpus
  * (Round10Spec / Round11Spec).
  *
  * The threshold/banding are BAKED into the staged pairs (the verify
  * filter ran on the exact cosine at build); serving a different
  * threshold needs a rebuild — same contract as [[DedupStore]]'s
  * banding constants.
  */
object SemanticStore {

  import graft.sources.{DeltaStore, RepGroupStore}
  import graft.sources.RepGroupStore._

  /** The rep-group protocol over this store's four relations (the
    * [[DedupStore]] protocol on the embedding side). */
  private[graft] val Store = RepGroupStore("vec_id", "semantic substrate", Seq(
    "members" -> Members,
    "reps" -> Reps,
    "buckets" -> IdKeyed(Seq("t", "bucket"), Seq("t", "bucket")),
    "pairs" -> Pair("vec_a", "vec_b")))

  /** Build configuration: the engine's wired semantic-dedup defaults
    * ([[Clustering.semanticClusters]] / [[Ann.lshCosinePairs]]). */
  val Threshold = 0.45
  val NumTables = 24
  val BitsPerTable = 4

  private def dot(a: Column, b: Column): Column = graft.functions.Native.dot(a, b)

  /** Full (re)build: reset the store and ingest the corpus as the
    * first delta. */
  def build(embeddings: DataFrame, path: String): Unit = {
    DeltaStore.reset(embeddings.sparkSession, path)
    update(embeddings, path, "00000")
  }

  /** Ingest a vector batch: value-collapse against the store's
    * existing groups, bucket only the NEW reps, verify only the NEW
    * candidate pairs against the staged rep vectors. Idempotent per
    * `tag`; re-ingesting an existing vec_id is rejected; batch ids
    * must all exceed every stored id (monotone-ingest contract — see
    * the class doc for why that keeps the store append-only). */
  def update(newEmb: DataFrame, path: String,
             tag: String = java.util.UUID.randomUUID().toString): Unit = {
    val spark = newEmb.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    val br @ (_, batchLo, batchHi) = DeltaStore.batchRange(newEmb, "vec_id")
    Store.admitBatch(spark, path, deltas, newEmb, br)
    val empty = deltas.isEmpty
    // matching/bucketing reads the LIVE view: a fully-deleted value
    // group must match nothing, a rekeyed group hands out its CURRENT
    // rep, dead reps' buckets spawn no candidates
    def existing(sub: String): Option[DataFrame] =
      if (empty) None else Some(Store.live(spark, deltas, sub))

    // nonzero-vector view with the byte-identity value key; reused by
    // the group match and the new-rep extraction
    val keyed = newEmb.filter(col("embedding").isNotNull)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .filter(dot(col("v"), col("v")) > 0.0)
      .select(col("vec_id"), col("embedding"), col("v"),
        md5(to_json(col("v"))).as("vk"))
      .cutLineage()
    // group the batch internally (min id per value)...
    val batchGroups = keyed.groupBy("vk").agg(min("vec_id").as("brep"))
    // ...then match against the store's groups: matched groups adopt
    // the OLD rep (monotone ids keep it the global min)
    val matched = existing("reps") match {
      case Some(oldReps) => batchGroups.join(
        oldReps.select(col("rep").as("old_rep"), col("vk").as("ok")),
        col("vk") === col("ok"), "left")
        .select(col("vk"), col("brep"), coalesce(col("old_rep"), col("brep")).as("rep"))
      case None => batchGroups.select(col("vk"), col("brep"), col("brep").as("rep"))
    }
    val members = keyed.as("w")
      .join(matched.as("g"), col("w.vk") === col("g.vk"))
      .select(col("w.vec_id"), col("g.rep"))
      .cutLineage()
    // new reps: batch groups whose value the store has never seen.
    // selfcos replays the LIVE within-group pair arithmetic
    // ([[Ann.lshCosinePairs]]'s c_exact for identical vectors) so the
    // expansion is bit-identical to the unstaged plan.
    val newRepIds = matched.filter(col("rep") === col("brep"))
      .select(col("brep").as("vec_id"))
    val canonNew = keyed.join(newRepIds, Seq("vec_id"), "left_semi")
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .cutLineage()
    val reps = canonNew.select(col("vec_id").as("rep"), col("vk"), col("embedding"),
      round(dot(col("v"), col("v")) / (col("nrm") * col("nrm")), 4).as("selfcos"))
    val bucketsNew = Ann.lshBuckets(
      canonNew.select(col("vec_id"), col("embedding")), NumTables, BitsPerTable)
      .cutLineage()
    // candidates touching the batch: new buckets against (old ∪ new)
    val allBuckets = existing("buckets")
      .map(_.unionByName(bucketsNew)).getOrElse(bucketsNew)
    val cand = bucketsNew.as("a").join(allBuckets.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    // verify: exact cosine for the new candidate pairs, both sides'
    // vectors read from the (old ∪ new) staged rep relation
    val allRepVecs = existing("reps").map(_.select(col("rep"), col("embedding")))
      .map(_.unionByName(reps.select(col("rep"), col("embedding"))))
      .getOrElse(reps.select(col("rep"), col("embedding")))
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("rep"), col("v"), col("nrm"))
    val pairs = cand
      .join(allRepVecs.select(col("rep").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(allRepVecs.select(col("rep").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("c_exact", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("c_exact") >= Threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c_exact"), 4).as("cos"))
    val range = if (batchLo <= batchHi) Some((batchLo, batchHi)) else None
    DeltaStore.commit(spark, path, tag, range) { staging =>
      // four INDEPENDENT staged writes — submitted concurrently (guide
      // §2.6, the mergeStores discipline); shared upstream cuts
      // (keyed, members, canonNew, bucketsNew) materialize once under
      // whichever consumer gets there first
      graft.Jobs.inParallel(Seq(
        () => members.write.mode(SaveMode.Overwrite).parquet(s"$staging/members"),
        () => reps.write.mode(SaveMode.Overwrite).parquet(s"$staging/reps"),
        () => bucketsNew.write.mode(SaveMode.Overwrite).parquet(s"$staging/buckets"),
        () => pairs.write.mode(SaveMode.Overwrite).parquet(s"$staging/pairs")))
    }
  }

  /** TOMBSTONE + RE-ELECT DELETE — [[DedupStore.delete]] on the
    * embedding side, completing the QUAD on this store too: the
    * delta records the deleted vec_ids and, for each value group
    * whose rep died with survivors, the re-elected min-surviving-id
    * rep as one (old_rep, new_rep) row. Value identity makes the
    * rekey a pure rename (identical vector ⇒ identical value key,
    * buckets, cosines, selfcos); the serve-side live view
    * ([[graft.sources.RepGroupStore.live]]) renames and drops, so
    * every consumer is delete-aware immediately. O(group) delta;
    * idempotent per `tag`; every id must be LIVE (fail-loud, never
    * half-applied); deleted ids stay reserved until [[compactDeltas]]
    * purges them. */
  def delete(vecIds: DataFrame, path: String, tag: String): Unit =
    Store.delete(vecIds, path, tag)

  /** Fold all committed deltas into ONE delta — the same small-files
    * maintenance leg as [[DedupStore.compactDeltas]] (crash-atomic
    * via [[DeltaStore.compact]]; replayed tags stay no-ops) — and
    * PHYSICALLY PURGE deletes: each relation re-stages from its LIVE
    * view (rekeys materialized, tombstones dropped), so the
    * compacted store is relation-identical to one built without the
    * deleted vectors; with no deletes it is the plain union it
    * always was. Buckets re-cluster on (t, bucket) — the candidate
    * join's key — to recover locality after many small ingests. */
  def compactDeltas(spark: SparkSession, path: String): Unit =
    Store.compact(spark, path)

  /** SHARD MERGE — [[DedupStore.mergeStores]] on the embedding side,
    * completing the merge family across all three stateful substrate
    * families: two independently built semantic stores over
    * id-ordered shards fold into one fresh store, relation-identical
    * to a rebuild on the union corpus. Same algorithm, two relations
    * lighter (no shingles — the staged rep VECTORS are the verify
    * index; no cands — sub-threshold candidates are never staged):
    * value-key unification (B groups adopt A's rep; adopted reps'
    * buckets drop by value identity; B's pairs RENAME through the
    * adoption map — cos is symmetric, so only the canonical order
    * needs restoring), a rep-scaled cross bucket join for boundary
    * candidates, exact-cosine verification of only the genuinely new
    * pairs from the staged rep vectors. Monotone id contract gated
    * loudly (every live A id below every live B id). */
  def mergeStores(spark: SparkSession, pathA: String, pathB: String,
                  dest: String): Unit = {
    val dA = DeltaStore.committedDeltas(spark, pathA)
    require(dA.nonEmpty, s"no committed deltas under $pathA")
    val dB = DeltaStore.committedDeltas(spark, pathB)
    require(dB.nonEmpty, s"no committed deltas under $pathB")
    def liveA(sub: String) = Store.live(spark, dA, sub)
    def liveB(sub: String) = Store.live(spark, dB, sub)
    val memA = liveA("members").cutLineage()
    val memB = liveB("members").cutLineage()
    // the id gate's two aggregations also yield the merged id range
    val range = Store.mergeRange(memA, memB, pathA, pathB)
    val repsA = liveA("reps").cutLineage()
    val repsB = liveB("reps").cutLineage()
    // plain `===` matches update()'s own equality (lines above: its
    // old-rep match and member join both use `===`): vk =
    // md5(to_json(v)) is non-null for every staged rep (update drops
    // null embeddings before keying), so null-safe and plain equality
    // coincide here — the DEDUP merge needs `<=>` because ITS key
    // md5(text) is genuinely null for null-text groups; each merge
    // pins its own update()'s semantics (= relation-identity to a
    // rebuild), see DedupStore.mergeStores.
    val matched = repsB.select(col("rep").as("old_rep"), col("vk").as("bk"))
      .join(repsA.select(col("rep").as("new_rep"), col("vk").as("ak")),
        col("bk") === col("ak"))
      .select(col("old_rep"), col("new_rep"))
      .cutLineage()
    val memBnew = Store.remap(memB, "rep", matched)
    val repsBnew = repsB
      .join(matched.select(col("old_rep").as("rep")), Seq("rep"), "left_anti")
      .cutLineage()
    val reps = repsA.unionByName(repsBnew)
    val bucketsA = liveA("buckets").cutLineage()
    val bucketsBnew = liveB("buckets")
      .join(repsBnew.select(col("rep").as("vec_id")), Seq("vec_id"), "left_semi")
      .cutLineage()
    val pairsA = liveA("pairs")
    val pairsB2 = Store.remapPairs(liveB("pairs"), "pairs", matched)
    val cross = bucketsBnew.as("b").join(bucketsA.as("a"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    val known = pairsA.select("vec_a", "vec_b")
      .unionByName(pairsB2.select("vec_a", "vec_b"))
    // single consumer (statsNew) — a cut here would be pure
    // block-persist overhead, not reuse
    val newCands = cross.join(known, Seq("vec_a", "vec_b"), "left_anti")
    val repVecs = reps.select(col("rep"), col("embedding"))
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("rep"), col("v"), col("nrm"))
    val statsNew = newCands
      .join(repVecs.select(col("rep").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(repVecs.select(col("rep").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("c_exact", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("c_exact") >= Threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c_exact"), 4).as("cos"))
    val pairs = pairsA.unionByName(pairsB2).unionByName(statsNew).distinct()
    // members/reps/buckets pass A's rows through the merge verbatim
    // (adoption renames B-side rows only); pairs always rewrite
    // (their union dedups across sides)
    Store.commitMerge(spark, dA, dest, range,
      carried = Seq(
        Carried("members", memA, memBnew, memA.unionByName(memBnew)),
        Carried("reps", repsA, repsBnew, reps),
        Carried("buckets", bucketsA, bucketsBnew, bucketsA.unionByName(bucketsBnew))),
      rewritten = Seq("pairs" -> pairs))
  }

  def members(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "members")
  def reps(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "reps")
  def pairs(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "pairs")

  /** [[Ann.lshCosinePairs]] served from the store: rep-level pairs by
    * lookup, then the two exact-copy expansions (cross-group via the
    * members map — identical values ⇒ identical cosine; within-group
    * pairs emit the staged selfcos, the exact value the live plan's
    * c_exact arithmetic produces for two copies of the value). */
  def cosinePairs(spark: SparkSession, path: String): DataFrame = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    cosineFrom(spark, deltas)
  }

  /** [[cosinePairs]] AS OF version `maxTag` — snapshot isolation on
    * the semantic pair substrate (the [[DedupStore
    * .verifiedNearDupsAt]] twin): the served pairs equal a fresh
    * build on the snapshot corpus. */
  def cosinePairsAt(spark: SparkSession, path: String,
                    maxTag: String): DataFrame =
    cosineFrom(spark, DeltaStore.visibleAt(spark, path, maxTag))

  /** (vec_a, vec_b, cos, change): SNAPSHOT DIFF of the cosine pair
    * relation between two pinned versions — [[DedupStore
    * .diffVersions]] on the embedding side (pairs this ingest ADDED /
    * that delete DROPPED, read before promoting a snapshot). Same
    * contract: sides resolve through the visible prefix exactly as
    * [[cosinePairsAt]] serves, anti-joins are pair-scaled, adjacent
    * versions give a delta-scaled answer; cosine is
    * pairwise-intrinsic, so an ingest-only diff equals the
    * full-corpus pair relation restricted to pairs touching the new
    * id range (the oracle's replay). */
  def diffVersions(spark: SparkSession, path: String,
                   tagA: String, tagB: String): DataFrame =
    RepGroupStore.pairDiff(
      cosineFrom(spark, DeltaStore.visibleAt(spark, path, tagA)),
      cosineFrom(spark, DeltaStore.visibleAt(spark, path, tagB)),
      Seq("vec_a", "vec_b"))

  private def cosineFrom(spark: SparkSession, deltas: Seq[String]): DataFrame = {
    val repPairs = Store.live(spark, deltas, "pairs")
    val mem = Store.withGroupSize(Store.live(spark, deltas, "members"))
    val ma = mem.select(col("rep").as("vec_a"), col("vec_id").as("a"))
    val mb = mem.select(col("rep").as("vec_b"), col("vec_id").as("b"))
    val cross = repPairs.join(ma, "vec_a").join(mb, "vec_b")
      .select(least(col("a"), col("b")).as("vec_a"),
        greatest(col("a"), col("b")).as("vec_b"), col("cos"))
    val memA = mem.filter(col("m") >= 2)
      .join(Store.live(spark, deltas, "reps").select(col("rep"), col("selfcos")), Seq("rep"))
      .select(col("rep"), col("vec_id").as("a"), col("selfcos"))
    val within = memA.as("x")
      .join(memA.as("y"), col("x.rep") === col("y.rep") && col("x.a") < col("y.a"))
      .select(col("x.a").as("vec_a"), col("y.a").as("vec_b"),
        col("x.selfcos").as("cos"))
    cross.unionByName(within)
  }

  /** [[Clustering.semanticClusters]] served from the store: CC over the
    * staged rep pairs, labels fanned to every value copy. */
  def semanticClusters(spark: SparkSession, path: String,
                       maxIter: Int = 20): DataFrame = {
    val repClusters = Dedup.propagateMinLabels(
      pairs(spark, path).select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      maxIter)
    Store.withGroupSize(members(spark, path))
      .join(repClusters.select(col("doc_id").as("rep"), col("cluster_id")),
        Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull || col("m") > 1)
      .select(col("vec_id"), coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** [[Clustering.semanticDrop]] served from the store (`embeddings`
    * supplies the surviving rows; the decision is staged-pair work). */
  def semanticDrop(embeddings: DataFrame, path: String): DataFrame = {
    val losers = semanticClusters(embeddings.sparkSession, path)
      .filter(col("vec_id") =!= col("cluster_id"))
      .select("vec_id")
    embeddings.filter(col("embedding").isNotNull)
      .join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label").cast("long").as("label"))
  }
}
