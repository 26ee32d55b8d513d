package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Lineage._

/** Materialized near-duplicate PAIR substrate — the staged form of the
  * work every near-dup decision shares. A production dedup pipeline
  * derives its signatures, LSH candidates and exact-verify
  * intersections ONCE and then serves every downstream decision
  * (pair report, clusters, keep/drop, containment) from the staged
  * relation — the same intermediate-persistence idea as the reference
  * pipeline, which writes its TF/IDF intermediates to MongoDB and
  * serves queries from the store (BatchBM25PreMain.java:106-122,
  * MongoTFSink.java) rather than re-running the corpus pass per
  * consumer. Before this store, the six wired dedup decisions each
  * re-derived the identical substrate from the raw corpus (~6× the
  * banding + verify cost — the largest redundant cluster in the
  * engine's benchmark).
  *
  * Store layout (delta-committed via [[graft.sources.DeltaStore]],
  * same atomic-rename protocol as [[Bm25Index]] / [[AnnIndex]]):
  *
  *   <path>/delta-<tag>/members  (doc_id, rep) — exact-collapse map:
  *       every doc → the min-doc_id representative of its identical-text
  *       group (null texts form one group, null-safe). Group size is
  *       DERIVED at serve time (count per rep), never stored — that is
  *       what lets incremental ingest stay append-only: a new copy of
  *       an old text appends one row instead of rewriting the group.
  *   <path>/delta-<tag>/reps     (rep, h, shingleable, n_sh) — one row
  *       per canonical doc: its text hash (the update path's group-match
  *       key), whether it shingles (≥ 3 raw tokens), and its distinct
  *       3-gram shingle count (the Jaccard/containment denominator)
  *   <path>/delta-<tag>/bands    (doc_id, band, bkey) — the rep's
  *       MinHash LSH band keys: an update bands ONLY its new reps and
  *       equi-joins them against this relation for new-vs-old candidates
  *   <path>/delta-<tag>/shingles (doc_id, sh) — md5 of every distinct
  *       3-gram shingle per rep: the verify-side index, the exact
  *       analogue of [[Bm25Index]]'s postings (corpus-token-scaled,
  *       hash-only — no text in the store), letting an update compute
  *       exact intersections for new-vs-old candidate pairs
  *   <path>/delta-<tag>/cands    (doc_a, doc_b) — the RAW LSH candidate
  *       pairs (banding collisions included, before any verify) — the
  *       substrate of the candidate-graph consumers (link prediction)
  *   <path>/delta-<tag>/pairs    (doc_a, doc_b, inter, na, nb) — for
  *       every candidate pair with a non-empty shingle intersection:
  *       exact intersection size and both set sizes. Jaccard
  *       (inter/(na+nb−inter)) and directional containment (inter/na,
  *       inter/nb) are both pure arithmetic over this row — one staged
  *       relation serves every decision family.
  *
  *   <path>/delta-<tag>/tombstones + rekeys — a DELETE delta
  *       ([[delete]]): the deleted doc_ids plus, per group whose rep
  *       died with survivors, the re-elected (old_rep, new_rep) row.
  *       Serving applies these as a rename+drop view
  *       ([[graft.sources.RepGroupStore.live]]); compaction
  *       materializes them and purges.
  *
  * Incremental ingest ([[update]]) is append-only and batch-scaled:
  * new texts hash-match old groups through `reps`, only genuinely new
  * reps are banded/shingled, and new candidate pairs (new×old and
  * new×new) verify against the staged shingle index. doc_ids must be
  * MONOTONE across batches (enforced loudly): the min-LIVE-id rep of
  * every group then never changes except by [[delete]]'s explicit
  * re-election, which is what keeps every staged relation
  * append-only. After any sequence of updates the union of deltas
  * equals a full rebuild on the union corpus (Round10Spec); after
  * any sequence of deletes the live view equals a rebuild on the
  * surviving corpus (Round14Spec).
  *
  * Serving is arithmetic + id joins: no tokenization, no signatures,
  * no shingle joins at query time.
  */
object DedupStore {

  import graft.sources.{DeltaStore, RepGroupStore}
  import graft.sources.RepGroupStore._

  /** The rep-group protocol over this store's six relations: live
    * view, tombstone + re-elect delete, monotone-id guard, compaction
    * and the merge's id gate and copy-through. */
  private[graft] val Store = RepGroupStore("doc_id", "dedup substrate", Seq(
    "members" -> Members,
    "reps" -> Reps,
    "bands" -> IdKeyed(Seq("band", "bkey"), Seq("band", "bkey")),
    "shingles" -> IdKeyed(Seq("doc_id"), Seq("doc_id", "sh")),
    "cands" -> Pair("doc_a", "doc_b"),
    "pairs" -> Pair("doc_a", "doc_b", swap = Some("na" -> "nb"))))

  /** Banding configuration baked into the staged pairs (the engine
    * default: S-curve midpoint ≈ 0.71, matching verify thresholds
    * ≥ 0.7). A different banding needs a different store. */
  val NumPerm = 16
  val RowsPerBand = 4

  /** Full (re)build: reset the store and ingest the corpus as the
    * first delta. */
  def build(docs: DataFrame, path: String): Unit = {
    DeltaStore.reset(docs.sparkSession, path)
    update(docs, path, "00000")
  }

  /** Ingest a document batch: exact-collapse against the store's
    * existing groups, band/shingle only the NEW reps, verify only the
    * NEW candidate pairs. Idempotent per `tag` (replayed tags skip);
    * re-ingesting an existing doc_id is rejected; batch ids must all
    * exceed every stored id (monotone-ingest contract — see the
    * class doc for why that keeps the store append-only). */
  def update(newDocs: DataFrame, path: String,
             tag: String = java.util.UUID.randomUUID().toString): Unit = {
    val spark = newDocs.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    val br @ (_, batchLo, batchHi) = DeltaStore.batchRange(newDocs, "doc_id")
    Store.admitBatch(spark, path, deltas, newDocs, br)
    val empty = deltas.isEmpty
    // matching/banding reads the LIVE view: a fully-deleted group's
    // text must match NOTHING (its re-ingest becomes a fresh rep),
    // a rekeyed group must hand out its CURRENT rep, and dead reps'
    // bands must not spawn candidate pairs
    def existing(sub: String): Option[DataFrame] =
      if (empty) None else Some(Store.live(spark, deltas, sub))

    val withH = newDocs.select(col("doc_id"), md5(col("text")).as("h"))
    // group the batch internally first (min id per hash)...
    val batchGroups = withH.groupBy("h")
      .agg(min("doc_id").as("brep"), count(lit(1)).as("bm"))
    // ...then null-safe match every batch group against the store's
    // existing groups: matched groups adopt the OLD rep (monotone ids
    // keep it the global min); unmatched ones become new reps
    val matched = existing("reps") match {
      case Some(oldReps) => batchGroups.join(
        oldReps.select(col("rep").as("old_rep"), col("h").as("oh")),
        col("h") <=> col("oh"), "left")
        .select(col("h"), col("brep"), coalesce(col("old_rep"), col("brep")).as("rep"))
      case None => batchGroups.select(col("h"), col("brep"), col("brep").as("rep"))
    }
    val members = withH.as("w")
      .join(matched.as("g"), col("w.h") <=> col("g.h"))
      .select(col("w.doc_id"), col("g.rep"))
      .cutLineage()
    // new reps: batch groups whose text the store has never seen
    val newRepIds = matched.filter(col("rep") === col("brep")).select(col("brep").as("doc_id"))
    val canonNew = newDocs.join(newRepIds, Seq("doc_id"), "left_semi").cutLineage()
    val shNew = Dedup.shingles(canonNew)
      .select(col("doc_id"), md5(col("shingle")).as("sh"))
      .cutLineage()
    val sizesNew = shNew.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val reps = canonNew
      .select(col("doc_id").as("rep"), md5(col("text")).as("h"),
        coalesce(size(graft.functions.Text.rawTokens(col("text"))) >= 3, lit(false))
          .as("shingleable"))
      .join(sizesNew.select(col("doc_id").as("rep"), col("n_sh")), Seq("rep"), "left")
      .select(col("rep"), col("h"), col("shingleable"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"))
    val bandsNew = Dedup.bandKeys(canonNew, NumPerm, RowsPerBand).cutLineage()
    // candidates touching the batch: new bands against (old ∪ new)
    // bands — old×old pairs already live in earlier deltas
    val allBands = existing("bands")
      .map(_.unionByName(bandsNew)).getOrElse(bandsNew)
    val cand = bandsNew.as("a").join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      .cutLineage()
    // verify: exact shingle intersections for the new candidate pairs,
    // reading the OLD side from the staged shingle index. The join is
    // PAIR-DRIVEN (cand → shingles(doc_a) → shingles(doc_b) on
    // (doc_b, sh)) so cost is Σ_pairs |shingles(doc_a)| — linear in the
    // candidate set. The alternative shCand ⋈ shCand co-shingle
    // self-join generates O(k²) rows for every boilerplate shingle
    // shared by k candidate DOCS even when few of those pairs are LSH
    // candidates — a skew amplifier this shape cannot exhibit.
    val allSh = existing("shingles").map(_.unionByName(shNew)).getOrElse(shNew)
    val allSizes = existing("reps")
      .map(_.select(col("rep"), col("n_sh")).unionByName(
        reps.select(col("rep"), col("n_sh"))))
      .getOrElse(reps.select(col("rep"), col("n_sh")))
    val stats = cand
      .join(allSh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(allSh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(allSizes.select(col("rep"), col("n_sh").as("na")),
        col("doc_a") === col("rep")).drop("rep")
      .join(allSizes.select(col("rep"), col("n_sh").as("nb")),
        col("doc_b") === col("rep")).drop("rep")
    val range = if (batchLo <= batchHi) Some((batchLo, batchHi)) else None
    DeltaStore.commit(spark, path, tag, range) { staging =>
      // six INDEPENDENT staged writes — submitted concurrently (guide
      // §2.6, the mergeStores discipline); shared upstream cuts
      // (members, canonNew, shNew, bandsNew, cand) materialize once
      // under whichever consumer gets there first
      graft.Jobs.inParallel(Seq(
        () => members.write.mode(SaveMode.Overwrite).parquet(s"$staging/members"),
        () => reps.write.mode(SaveMode.Overwrite).parquet(s"$staging/reps"),
        () => bandsNew.write.mode(SaveMode.Overwrite).parquet(s"$staging/bands"),
        () => shNew.write.mode(SaveMode.Overwrite).parquet(s"$staging/shingles"),
        () => cand.write.mode(SaveMode.Overwrite).parquet(s"$staging/cands"),
        () => stats.write.mode(SaveMode.Overwrite).parquet(s"$staging/pairs")))
    }
  }

  /** TOMBSTONE + RE-ELECT DELETE — the maintenance leg completing
    * the QUAD (build/update/delete/compact) on the pair substrate.
    * The store is min-live-id-rep-keyed, so deleting a doc is a
    * GROUP re-key, not a row drop: the delta records the deleted
    * doc_ids (`tombstones`) and, for every group whose rep died with
    * survivors left, the re-elected rep — the min SURVIVING member —
    * as one `rekeys` (old_rep, new_rep) row. Nothing else moves:
    * exact copies have identical text, so the survivor's hash,
    * shingle set, band keys and staged intersections are the dead
    * rep's bit-for-bit, and the serve-side live view
    * ([[graft.sources.RepGroupStore.live]]) RENAMES rather than
    * recomputes — O(group) delta, store-scaled only in the columnar
    * scans that find the group, never in what is written. Groups
    * deleted whole drop from every relation (their rep is tombstoned
    * and never re-keyed); physical purge is
    * [[compactDeltas]]'s job. Idempotent per `tag` (the caller-owned
    * tag makes a retried delete a no-op); every id must be LIVE —
    * a typo'd delete fails loudly instead of half-applying; deleted
    * ids stay reserved against re-ingest until compaction purges
    * them (the [[Bm25Index.delete]] contract throughout). */
  def delete(docIds: DataFrame, path: String, tag: String): Unit =
    Store.delete(docIds, path, tag)

  /** Fold all committed deltas into ONE delta — the small-files
    * maintenance leg ([[graft.sources.DeltaStore.compact]]'s
    * crash-atomic supersedes protocol; replayed ingest tags stay
    * no-ops through the cumulative tag history) — and PHYSICALLY
    * PURGE deletes: each relation is re-staged from its LIVE view
    * (tombstones applied, rekeys materialized into the rows) and the
    * tombstone/rekey sidecar relations are dropped, so the compacted
    * store is relation-identical to one built without the deleted
    * docs. With no deletes the fold is
    * the plain per-delta union it always was. Bands and shingles
    * re-cluster on their join keys so candidate generation and the
    * pair-driven verify recover row-group locality after many small
    * ingests. Serving is identical before and after by
    * construction. */
  def compactDeltas(spark: SparkSession, path: String): Unit =
    Store.compact(spark, path)

  /** SHARD MERGE — the pair-substrate member of the merge family
    * ([[Bm25Index.mergeStores]] / [[AnnIndex.mergeStores]]): fold two
    * independently built stores into one fresh store at `dest`,
    * relation-identical to a rebuild on the union of the live
    * corpora. Unlike the index stores, a pair substrate CANNOT merge
    * by union alone — near-dup pairs SPANNING the shard boundary
    * exist in neither store — so the merge re-runs exactly the
    * incremental tail of [[update]], but from STAGED state: no
    * document is re-shingled or re-minhashed on either side.
    *
    *  - exact unification: B groups whose text hash matches an A
    *    group adopt A's rep (one reps⋈reps hash join); the adopted
    *    groups' bands/shingles drop (copy symmetry — the A rep's are
    *    bit-identical) and their staged cands/pairs RENAME through
    *    the (b_rep → a_rep) map, the [[delete]] rekey discipline;
    *  - cross-shard candidates: A's staged bands × B's surviving-rep
    *    bands (band-key equijoin — the same banded shape as ingest,
    *    never all-pairs), then the pair-driven shingle verify for
    *    pairs not already verified on either side;
    *  - id contract: every live id in A must sit BELOW every live id
    *    in B (gated loudly) — the sharded form of the monotone-ingest
    *    contract, which is what keeps adopted reps the global group
    *    minimum and every renamed relation exact.
    *
    * Requires a single-writer window on `dest` (fresh store; sources
    * only read). Cost: rep-scaled band join + new-pair verification —
    * the cross-shard work a rebuild would pay anyway, minus all of
    * its per-document signature computation. */
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
    // exact unification: one hash join of two rep-scaled relations.
    // NULL-SAFE (`<=>`) BY DESIGN: h = md5(text) is NULL exactly for
    // null-text docs, and update() groups those into ONE store group
    // with the same `<=>` (its old-rep match and member join) — so two
    // shards' null-text groups MUST unify here or the merged store
    // would differ from a rebuild, which dedups all null texts
    // together. SemanticStore's merge uses plain `===` for the same
    // reason in mirror image: its vk = md5(to_json(v)) key is
    // non-null for every stored rep and its update() matches with
    // `===` — each store's merge pins ITS OWN update()'s equality
    // semantics, which is what relation-identity to a rebuild means.
    val matched = repsB.select(col("rep").as("old_rep"), col("h").as("bh"))
      .join(repsA.select(col("rep").as("new_rep"), col("h").as("ah")),
        col("bh") <=> col("ah"))
      .select(col("old_rep"), col("new_rep"))
      .cutLineage()
    val memBnew = Store.remap(memB, "rep", matched)
    val repsBnew = repsB
      .join(matched.select(col("old_rep").as("rep")), Seq("rep"), "left_anti")
      .cutLineage()
    val reps = repsA.unionByName(repsBnew)
    val bandsA = liveA("bands").cutLineage()
    val bandsBnew = liveB("bands")
      .join(repsBnew.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .cutLineage()
    val shinglesA = liveA("shingles")
    val shinglesBnew = liveB("shingles")
      .join(repsBnew.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    val allSh = shinglesA.unionByName(shinglesBnew).cutLineage()
    // staged candidates rename through the adoption map; the rekey
    // can shrink an id, so the canonical order is restored
    val candsB2 = Store.remapPairs(liveB("cands"), "cands", matched)
    val cross = bandsBnew.as("b").join(bandsA.as("a"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val cands = liveA("cands")
      .unionByName(candsB2).unionByName(cross).distinct().cutLineage()
    val pairsA = liveA("pairs")
    val pairsB2 = Store.remapPairs(liveB("pairs"), "pairs", matched)
    val known = pairsA.select("doc_a", "doc_b")
      .unionByName(pairsB2.select("doc_a", "doc_b"))
    // single consumer (statsNew) — a cut here would be pure
    // block-persist overhead, not reuse
    val newCands = cands.join(known, Seq("doc_a", "doc_b"), "left_anti")
    val allSizes = reps.select(col("rep"), col("n_sh"))
    // pair-driven verify of the genuinely new pairs — the update()
    // shape: cost Σ_pairs |shingles(doc_a)|, never a co-shingle blowup
    val statsNew = newCands
      .join(allSh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(allSh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(allSizes.select(col("rep").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(allSizes.select(col("rep").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"))
    val pairs = pairsA.unionByName(pairsB2).unionByName(statsNew).distinct()
    // members / reps / bands / shingles pass A's rows through the
    // merge verbatim (no rekey ever touches the A side); shingles and
    // members lose nothing under copy-through (doc ranges are
    // disjoint by the id gate, so per-shard doc_id clustering IS the
    // union's). cands/pairs always rewrite: their unions dedup via
    // distinct() across sides, which no file copy can express.
    Store.commitMerge(spark, dA, dest, range,
      carried = Seq(
        Carried("members", memA, memBnew, memA.unionByName(memBnew)),
        Carried("reps", repsA, repsBnew, reps),
        Carried("bands", bandsA, bandsBnew, bandsA.unionByName(bandsBnew)),
        Carried("shingles", shinglesA, shinglesBnew, allSh)),
      rewritten = Seq("cands" -> cands, "pairs" -> pairs))
  }

  def members(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "members")
  def reps(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "reps")
  def pairStats(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "pairs")
  def candidates(spark: SparkSession, path: String): DataFrame = Store.read(spark, path, "cands")

  /** Members with their group size (derived, never stored). */
  private def membersWithM(spark: SparkSession, path: String): DataFrame =
    Store.withGroupSize(members(spark, path))

  /** Same S-curve sanity gate as [[Dedup.verifiedNearDups]]: the staged
    * banding's candidate recall must cover the requested threshold. */
  private def requireThreshold(threshold: Double): Unit = {
    val bands = NumPerm / RowsPerBand
    val midpoint = math.pow(1.0 / bands, 1.0 / RowsPerBand)
    require(threshold >= midpoint - 0.05,
      f"verify threshold $threshold%.2f is far below the staged banding's " +
        f"S-curve midpoint $midpoint%.2f (numPerm=$NumPerm, rowsPerBand=$RowsPerBand): " +
        "the staged candidates would miss most boundary pairs — rebuild with more/narrower bands")
  }

  /** Rep-level verified pairs at `threshold` — pure arithmetic over the
    * staged stats ([[Dedup.ngramJaccard]]'s exact ratio and rounding). */
  private def repPairsAt(spark: SparkSession, path: String, threshold: Double): DataFrame =
    pairStats(spark, path)
      .withColumn("j_exact",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("j_exact") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j_exact"), 4).as("jaccard"))

  /** [[Dedup.verifiedNearDups]] served from the store: rep pairs by
    * arithmetic, then the two exact-copy expansions (cross-group via
    * the members map, within-group Jaccard-1.0 for shingleable reps). */
  def verifiedNearDups(spark: SparkSession, path: String,
                       threshold: Double = 0.8): DataFrame = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    verifiedFrom(spark, deltas, threshold)
  }

  /** [[verifiedNearDups]] AS OF version `maxTag` — snapshot isolation
    * on the pair substrate: a reader pins the exact dedup relation a
    * batch job was validated against while ingest/delete deltas keep
    * committing; the served pairs equal a fresh build on the snapshot
    * corpus (the incremental contract applied to a delta prefix). */
  def verifiedNearDupsAt(spark: SparkSession, path: String, maxTag: String,
                         threshold: Double = 0.8): DataFrame =
    verifiedFrom(spark, DeltaStore.visibleAt(spark, path, maxTag), threshold)

  /** (doc_a, doc_b, jaccard, change): SNAPSHOT DIFF of the verified
    * pair relation between two pinned versions — the review queue a
    * promotion decision reads on the dedup substrate ("which pairs
    * did this ingest ADD, which did that delete DROP"), completing
    * the diff verb on the pair stores (the [[Bm25Index
    * .diffVersions]] family). Both sides resolve through the visible
    * delta prefix exactly as [[verifiedNearDupsAt]] serves;
    * `change` is 'added' (in B, not A — jaccard from B) or
    * 'dropped' (in A, not B — jaccard from A); the anti-joins are
    * PAIR-scaled, and between adjacent versions the output is
    * delta-scaled (the pairs one batch introduced), never
    * corpus-scaled. Because verified pairs are PAIRWISE-INTRINSIC
    * (shingle sets and copy identity depend only on the two texts),
    * an ingest-only diff equals the full-corpus pair relation
    * restricted to pairs touching the new id range — the oracle
    * replays exactly that. */
  def diffVersions(spark: SparkSession, path: String,
                   tagA: String, tagB: String,
                   threshold: Double = 0.8): DataFrame =
    RepGroupStore.pairDiff(
      verifiedFrom(spark, DeltaStore.visibleAt(spark, path, tagA), threshold),
      verifiedFrom(spark, DeltaStore.visibleAt(spark, path, tagB), threshold),
      Seq("doc_a", "doc_b"))

  private def verifiedFrom(spark: SparkSession, deltas: Seq[String],
                           threshold: Double): DataFrame = {
    requireThreshold(threshold)
    val repPairs = Store.live(spark, deltas, "pairs")
      .withColumn("j_exact",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("j_exact") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j_exact"), 4).as("jaccard"))
    val mem = Store.withGroupSize(Store.live(spark, deltas, "members"))
    val ma = mem.select(col("rep").as("doc_a"), col("doc_id").as("a"))
    val mb = mem.select(col("rep").as("doc_b"), col("doc_id").as("b"))
    val cross = repPairs.join(ma, "doc_a").join(mb, "doc_b")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))
    val shingleableReps = Store.live(spark, deltas, "reps")
      .filter(col("shingleable")).select("rep")
    val memA = mem.filter(col("m") >= 2).join(shingleableReps, "rep")
      .select(col("rep"), col("doc_id").as("a"))
    val within = memA.as("x")
      .join(memA.as("y"), col("x.rep") === col("y.rep") && col("x.a") < col("y.a"))
      .select(col("x.a").as("doc_a"), col("y.a").as("doc_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** [[graft.operators.Graph.kcore]] of the doc-level verified
    * near-dup graph, computed at REP level with multiplicity-weighted
    * degrees — exact, because exact copies are structurally symmetric:
    * every copy of a text has the same degree
    * (intra = m−1 for shingleable groups, plus Σ m_s over verified
    * neighbor groups), so a peel round drops ALL copies of a group or
    * none, and the whole peel runs on the group graph. This is the
    * exact-collapse-first discipline applied to the peel itself: at
    * the 20× dup-skew probe the doc-level peel walks ~1M expanded
    * edges per round; this walks the rep pairs (thousands). Output is
    * identical to Graph.kcore(verifiedNearDups(...)) — the final
    * degrees expand through the members map; the shared oracle
    * replays the doc-level peel. */
  def kcoreDegrees(spark: SparkSession, path: String, k: Int = 2,
                   rounds: Int = 8, threshold: Double = 0.8): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got k=$k, rounds=$rounds")
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val cls = mem.groupBy("rep").agg(max("m").as("m"))
      .join(reps(spark, path).select("rep", "shingleable"), Seq("rep"), "left")
      .select(col("rep"), col("m"),
        when(coalesce(col("shingleable"), lit(false)) && col("m") >= 2, col("m") - 1)
          .otherwise(0L).cast("long").as("intra"))
    val e0 = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct()
    // classes present in the doc-level graph: an edge endpoint, or an
    // intra-clique group (m >= 2 copies of a shingleable text)
    val endpoints = e0.select(col("a").as("rep"))
      .union(e0.select(col("b").as("rep"))).distinct()
    var alive = cls.join(endpoints, Seq("rep"), "left_semi")
      .unionByName(cls.join(endpoints, Seq("rep"), "left_anti")
        .filter(col("intra") >= 1))
      .cutLineage()
    var e = e0.cutLineage()
    def weightedDegrees(): DataFrame = {
      val dir = e.select("a", "b")
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val nbrSum = dir
        .join(alive.select(col("rep").as("b"), col("m").as("mb")), "b")
        .groupBy("a").agg(sum("mb").as("nsum"))
      alive.join(nbrSum.select(col("a").as("rep"), col("nsum")), Seq("rep"), "left")
        .select(col("rep"), col("m"), col("intra"),
          (col("intra") + coalesce(col("nsum"), lit(0L))).as("degree"))
    }
    // early exit on a class-count fixed point is exact for the same
    // reason as Graph.kcore's edge-count exit: classes only ever drop
    var prev = alive.count()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      alive = weightedDegrees().filter(col("degree") >= k)
        .select("rep", "m", "intra").cutLineage()
      e = e.join(alive.select(col("rep").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("rep").as("b")), Seq("b"), "left_semi")
        .select("a", "b").cutLineage()
      val n = alive.count()
      converged = n == prev
      prev = n
      round += 1
    }
    // doc-level output keeps only nodes with at least one surviving
    // edge (degree >= 1); fan the class degree out to every copy
    mem.join(weightedDegrees().filter(col("degree") >= 1)
        .select("rep", "degree"), Seq("rep"))
      .select(col("doc_id"), col("degree"))
  }

  /** [[graft.operators.Graph.ktruss]] of the doc-level verified
    * near-dup graph, peeled at EDGE-CLASS level — the k-core treatment
    * ([[kcoreDegrees]]) extended to edges. Copy symmetry partitions
    * the doc-level edges into classes that peel together: INTRA(r)
    * (the C(m,2) pairs inside a shingleable copy group) and CROSS(r,s)
    * (the m_r·m_s pairs between verified rep neighbors). Every doc
    * edge of a class has the same triangle support, in closed form:
    *
    *   support(intra r)   = (m_r − 2) + Σ_{s : cross(r,s) alive} m_s
    *   support(cross r,s) = (m_r − 1)·[intra r alive]
    *                      + (m_s − 1)·[intra s alive]
    *                      + Σ_{t : cross(r,t), cross(s,t) alive} m_t
    *
    * so each peel round is one rep-level wedge join + two tiny
    * aggregations instead of a doc-level triangle enumeration over
    * copy cliques (~1M expanded edges at the 20× dup-skew probe).
    * Rounds correspond 1:1 with the doc-level peel; early exit on a
    * class-count fixed point is exact (classes only drop). The final
    * supports expand through the members map — output identical to
    * Graph.ktruss(verifiedNearDups(...)), shared doc-level oracle. */
  def ktrussEdges(spark: SparkSession, path: String, k: Int = 3,
                  rounds: Int = 4, threshold: Double = 0.8): DataFrame = {
    require(k >= 3 && rounds >= 1, s"need k >= 3, rounds >= 1; got k=$k, rounds=$rounds")
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val clsM = mem.groupBy("rep").agg(max("m").as("m")).cutLineage()
    var intra = clsM
      .join(reps(spark, path).filter(col("shingleable")).select("rep"), Seq("rep"), "left_semi")
      .filter(col("m") >= 2)
      .select("rep", "m").cutLineage()
    var cross = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct().cutLineage()
    def dirCross = cross.select(col("a").as("r"), col("b").as("s"))
      .union(cross.select(col("b").as("r"), col("a").as("s")))
    def intraSupports(): DataFrame = {
      val nbrSum = dirCross
        .join(clsM.select(col("rep").as("s"), col("m").as("ms")), "s")
        .groupBy("r").agg(sum("ms").as("xs"))
      intra.join(nbrSum.select(col("r").as("rep"), col("xs")), Seq("rep"), "left")
        .select(col("rep"), col("m"),
          (col("m") - 2 + coalesce(col("xs"), lit(0L))).cast("long").as("support"))
    }
    def crossSupports(): DataFrame = {
      val ia = intra.select(col("rep"), (col("m") - 1).cast("long").as("mi"))
      val common = cross.as("e")
        .join(dirCross.as("x"), col("e.a") === col("x.r"))
        .join(dirCross.as("y"),
          col("e.b") === col("y.r") && col("x.s") === col("y.s"))
        .join(clsM.select(col("rep").as("t"), col("m").as("mt")),
          col("x.s") === col("t"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(sum("mt").as("ct"))
      cross
        .join(ia.select(col("rep").as("a"), col("mi").as("mia")), Seq("a"), "left")
        .join(ia.select(col("rep").as("b"), col("mi").as("mib")), Seq("b"), "left")
        .join(common, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (coalesce(col("mia"), lit(0L)) + coalesce(col("mib"), lit(0L)) +
            coalesce(col("ct"), lit(0L))).as("support"))
    }
    var prev = intra.count() + cross.count()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val keepI = intraSupports().filter(col("support") >= k - 2)
        .select("rep", "m").cutLineage()
      val keepX = crossSupports().filter(col("support") >= k - 2)
        .select("a", "b").cutLineage()
      intra = keepI
      cross = keepX
      val n = intra.count() + cross.count()
      converged = n == prev
      prev = n
      round += 1
    }
    // expand final class supports to doc-level pairs; only classes
    // with support >= 1 carry a triangle, matching the doc-level
    // output (supports come off the final surviving class sets)
    val memA = mem.select(col("rep"), col("doc_id"))
    val intraOut = intraSupports().filter(col("support") >= 1)
      .join(memA.as("x"), Seq("rep"))
      .join(memA.as("y"), Seq("rep"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("support"))
    val crossOut = crossSupports().filter(col("support") >= 1)
      .join(memA.select(col("rep").as("a"), col("doc_id").as("da")), Seq("a"))
      .join(memA.select(col("rep").as("b"), col("doc_id").as("db")), Seq("b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("support"))
    intraOut.unionByName(crossOut)
  }

  /** Per-rep structural profile of the doc-level graph under copy
    * symmetry: multiplicity m, intra flag, weighted degree and the
    * exact per-copy triangle count
    *
    *   T(copy of r) = i_r·C(m_r−1, 2)                 (two other copies)
    *                + i_r·(m_r−1)·Σ_{s∈N(r)} m_s      (one copy + neighbor)
    *                + Σ_{s∈N(r)} i_s·C(m_s, 2)        (two copies of s)
    *                + Σ_{rep triangles (r,s,t)} m_s·m_t (distinct neighbors)
    *
    * where i_r = [r shingleable ∧ m_r ≥ 2]. One rep-level wedge join +
    * three small aggregations — the doc-level triangle enumeration
    * over copy cliques never happens. */
  private def repTriangleProfile(spark: SparkSession, path: String,
                                 threshold: Double): DataFrame = {
    val mem = membersWithM(spark, path)
    val clsM = mem.groupBy("rep").agg(max("m").as("m"))
      .join(reps(spark, path).select("rep", "shingleable"), Seq("rep"), "left")
      .select(col("rep"), col("m"),
        (coalesce(col("shingleable"), lit(false)) && col("m") >= 2).as("i"))
      .cutLineage()
    val e = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct().cutLineage()
    val dir = e.select(col("a").as("r"), col("b").as("s"))
      .union(e.select(col("b").as("r"), col("a").as("s")))
    val nbr = dir
      .join(clsM.select(col("rep").as("s"), col("m").as("ms"),
        when(col("i"), (col("m") * (col("m") - 1)) / 2).otherwise(0L).as("c2s")), "s")
      .groupBy("r").agg(sum("ms").as("nsum"), sum("c2s").as("nc2"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"), "left_semi")
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(clsM.select(col("rep").as("x"), col("m").as("mx")), "x")
      .join(clsM.select(col("rep").as("y"), col("m").as("my")), "y")
      .join(clsM.select(col("rep").as("z"), col("m").as("mz")), "z")
      .select(explode(array(
        struct(col("x").as("rep"), (col("my") * col("mz")).as("p")),
        struct(col("y").as("rep"), (col("mx") * col("mz")).as("p")),
        struct(col("z").as("rep"), (col("mx") * col("my")).as("p")))).as("e"))
      .groupBy(col("e.rep").as("rep")).agg(sum(col("e.p")).as("tsum"))
    clsM
      .join(nbr.select(col("r").as("rep"), col("nsum"), col("nc2")), Seq("rep"), "left")
      .join(tri, Seq("rep"), "left")
      .select(col("rep"), col("m"),
        (when(col("i"), col("m") - 1).otherwise(0L) +
          coalesce(col("nsum"), lit(0L))).cast("long").as("degree"),
        (when(col("i"), ((col("m") - 1) * (col("m") - 2)) / 2).otherwise(0L) +
          when(col("i"), col("m") - 1).otherwise(0L) * coalesce(col("nsum"), lit(0L)) +
          coalesce(col("nc2"), lit(0L)) +
          coalesce(col("tsum"), lit(0L))).cast("long").as("n_triangles"))
  }

  /** [[graft.operators.Graph.trianglesFrom]] of the doc-level verified
    * graph served from the store by copy-symmetry arithmetic — output
    * identical to the doc-level wedge enumeration (shared oracle). */
  def triangleCounts(spark: SparkSession, path: String,
                     threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    membersWithM(spark, path)
      .join(repTriangleProfile(spark, path, threshold)
        .filter(col("n_triangles") >= 1).select("rep", "n_triangles"), Seq("rep"))
      .select(col("doc_id"), col("n_triangles"))
  }

  /** [[graft.operators.Graph.egoSizes]] of the doc-level verified
    * graph served from the store by copy-symmetry arithmetic: every
    * copy of a rep has the same ego profile, so 1-hop reach is
    * (within-clique co-copies when the rep is shingleable with m ≥ 2)
    * + Σ members of neighbor reps, and 2-hop reach sums members over
    * the rep-level distance-≤2 closure (co-copies re-enter at hop 2
    * through any neighbor even when the clique itself has no within
    * edges). All joins are REP-graph-sized — the doc-level wedge
    * enumeration (20× probe: 15.8 s) never runs; output identical by
    * construction (staged==live spec-gated, shared oracle). */
  def egoProfiles(spark: SparkSession, path: String,
                  threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val clsM = mem.groupBy("rep").agg(max("m").as("m"))
      .join(reps(spark, path).select("rep", "shingleable"), Seq("rep"), "left")
      .select(col("rep"), col("m"),
        (coalesce(col("shingleable"), lit(false)) && col("m") >= 2).as("i"))
      .cutLineage()
    val e = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct().cutLineage()
    val dir = e.select(col("a").as("r"), col("b").as("s"))
      .union(e.select(col("b").as("r"), col("a").as("s")))
    val n1 = dir
      .join(clsM.select(col("rep").as("s"), col("m").as("ms")), "s")
      .groupBy("r").agg(sum("ms").as("n1sum"))
    // rep-level distance-<=2 closure, self excluded
    val reach2 = dir
      .union(dir.as("d1").join(dir.as("d2"), col("d1.s") === col("d2.r"))
        .select(col("d1.r").as("r"), col("d2.s").as("s")))
      .filter(col("r") =!= col("s"))
      .distinct()
    val n2 = reach2
      .join(clsM.select(col("rep").as("s"), col("m").as("ms")), "s")
      .groupBy("r").agg(sum("ms").as("n2sum"))
    val prof = clsM
      .join(n1.select(col("r").as("rep"), col("n1sum")), Seq("rep"), "left")
      .join(n2.select(col("r").as("rep"), col("n2sum")), Seq("rep"), "left")
      .select(col("rep"),
        (when(col("i"), col("m") - 1).otherwise(0L) +
          coalesce(col("n1sum"), lit(0L))).cast("long").as("n_1hop"),
        (when(col("i") || col("n1sum").isNotNull, col("m") - 1).otherwise(0L) +
          coalesce(col("n2sum"), lit(0L))).cast("long").as("n_2hop"),
        // a member is a graph node iff its clique has within edges or
        // its rep has at least one neighbor
        (col("i") || col("n1sum").isNotNull).as("inGraph"))
    mem.join(prof.filter(col("inGraph")), Seq("rep"))
      .select(col("doc_id"), col("n_1hop"), col("n_2hop"))
  }

  /** [[graft.operators.Graph.clusterDiameters]] of the doc-level
    * verified graph served from the store by copy symmetry: the BFS
    * runs on the REP graph only (thousands of nodes at the 20×
    * dup-skew probe vs ~1M expanded doc edges), and the expanded
    * component profile is closed-form —
    *
    *   - cross-copy distance d(copy(r), copy(s)) = d_rep(r, s): a rep
    *     path expands edge-for-edge to a doc path, and contracting
    *     copies never lengthens one;
    *   - co-copy distance is 1 whenever m ≥ 2: every in-graph rep is
    *     shingleable (pairs need a shingle intersection), so its copy
    *     group is a within-clique — which also means the ≥1 cross
    *     distance already dominates, so only ISOLATED m ≥ 2 groups
    *     contribute a diameter-1 component of their own;
    *   - cluster_id(copy of r) = min doc_id over r's hop-capped reach
    *     = min(r, min rep in R_maxD(r)), because the rep IS the min id
    *     of its group — identical for every copy, so the id is a pure
    *     rep-level function;
    *   - n_nodes sums multiplicities over the reps sharing a cluster_id.
    *
    * Same hop cap (and therefore the same >maxD-radius fragmentation
    * contract documented on the doc-level op); output identical to
    * Graph.clusterDiameters(verifiedNearDups(...)) — shared oracle,
    * staged==live spec-gated. */
  def clusterDiameters(spark: SparkSession, path: String,
                       threshold: Double = 0.8, maxD: Int = 8): DataFrame = {
    require(maxD >= 1, s"maxD must be >= 1, got $maxD")
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val clsM = mem.groupBy("rep").agg(max("m").as("m"))
      .join(reps(spark, path).select("rep", "shingleable"), Seq("rep"), "left")
      .select(col("rep"), col("m"),
        (coalesce(col("shingleable"), lit(false)) && col("m") >= 2).as("i"))
      .cutLineage()
    val e = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct()
    val nb = e.select(col("a").as("node"), col("b").as("nbr"))
      .union(e.select(col("b").as("node"), col("a").as("nbr")))
      .cutLineage()
    // hop-capped frontier BFS on the rep graph (Graph.clusterDiameters'
    // loop, rep-sized): dist = every (x, y) rep pair within maxD hops
    var dist = nb.select(col("node").as("x"), col("nbr").as("y"))
      .withColumn("d", lit(1L)).cutLineage()
    var frontier = dist
    var h = 2
    var done = false
    while (h <= maxD && !done) {
      val next = frontier
        .join(nb.select(col("node").as("y"), col("nbr").as("y2")), "y")
        .filter(col("y2") =!= col("x"))
        .select(col("x"), col("y2").as("y")).distinct()
        .join(dist, Seq("x", "y"), "left_anti")
        .withColumn("d", lit(h.toLong))
        .cutLineage()
      done = next.isEmpty
      if (!done) dist = dist.union(next).cutLineage()
      frontier = next
      h += 1
    }
    val reach = dist.groupBy("x")
      .agg(least(col("x"), min(col("y"))).as("cluster_id"), max("d").as("maxd"))
    val connected = clsM
      .join(reach.select(col("x").as("rep"), col("cluster_id"), col("maxd")), Seq("rep"))
      .select(col("rep"), col("m"), col("cluster_id"), col("maxd"))
    // isolated within-cliques: no rep neighbor, all C(m,2) doc pairs
    // at distance 1 — their own diameter-1 component
    val isolated = clsM.filter(col("i"))
      .join(reach.select(col("x").as("rep")), Seq("rep"), "left_anti")
      .select(col("rep"), col("m"), col("rep").as("cluster_id"),
        lit(1L).as("maxd"))
    connected.unionByName(isolated)
      .groupBy("cluster_id")
      .agg(sum("m").as("n_nodes"), max("maxd").as("diameter"))
  }

  /** [[graft.operators.Graph.bridgeEdges]] of the doc-level verified
    * graph served from the store by copy symmetry — the wedge work
    * drops to the rep graph because multiplicity closes triangles in
    * closed form:
    *
    *   - an intra-group edge (two copies of r) has support ≥ m−2 from
    *     the other copies and ≥ Σ m_s from any rep neighbor, so it is
    *     a bridge iff m = 2 AND r has no rep neighbor;
    *   - a cross edge (copy of r, copy of s) gains support m_r−1 and
    *     m_s−1 from co-copies, so it is a bridge iff m_r = m_s = 1 AND
    *     (r, s) share no rep-level common neighbor — one rep-graph
    *     wedge join instead of the doc-level Σ deg(w)² enumeration
    *     that costs O(m³) per m-copy clique.
    *
    * Output identical to Graph.bridgeEdges(verifiedNearDups(...)) —
    * shared oracle, staged==live spec-gated. */
  def bridgeEdges(spark: SparkSession, path: String,
                  threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val clsM = mem.groupBy("rep").agg(max("m").as("m"))
    val e = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct().cutLineage()
    val dir = e.select(col("a").as("r"), col("b").as("s"))
      .union(e.select(col("b").as("r"), col("a").as("s")))
    // rep pairs sharing at least one rep-level neighbor
    val wedged = dir.as("x").join(dir.as("y"),
        col("x.s") === col("y.s") && col("x.r") < col("y.r"))
      .select(col("x.r").as("a"), col("y.r").as("b"))
      .join(e, Seq("a", "b"), "left_semi")
      .distinct()
    val m1 = clsM.filter(col("m") === 1)
    val crossBridges = e
      .join(wedged, Seq("a", "b"), "left_anti")
      .join(m1.select(col("rep").as("a")), Seq("a"), "left_semi")
      .join(m1.select(col("rep").as("b")), Seq("b"), "left_semi")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val endpoints = e.select(col("a").as("rep"))
      .union(e.select(col("b").as("rep"))).distinct()
    val intraBridges = clsM.filter(col("m") === 2)
      .join(reps(spark, path).filter(col("shingleable")).select("rep"),
        Seq("rep"), "left_semi")
      .join(endpoints, Seq("rep"), "left_anti")
      .join(mem.groupBy("rep")
        .agg(min("doc_id").as("doc_a"), max("doc_id").as("doc_b")), Seq("rep"))
      .select("doc_a", "doc_b")
    crossBridges.unionByName(intraBridges)
  }

  /** [[graft.operators.Graph.clusteringCoef]] of the doc-level graph
    * served from the store by the same arithmetic. */
  def clusteringCoefs(spark: SparkSession, path: String,
                      threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    membersWithM(spark, path)
      .join(repTriangleProfile(spark, path, threshold)
        .filter(col("degree") >= 1).select("rep", "degree", "n_triangles"), Seq("rep"))
      .select(col("doc_id"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1)), 6)).otherwise(0.0).as("cc"))
  }

  /** The class profile the iterative rep-level graph servers share:
    * one row per IN-GRAPH copy class (rep, m, i, d) — multiplicity,
    * intra-clique flag (shingleable ∧ m ≥ 2), and the doc-level degree
    * every copy of the class has: d = i·(m−1) + Σ_{s ∈ N(r)} m_s.
    * In-graph ⇔ d ≥ 1. Also returns the directed rep edge relation
    * (r, s). Copy symmetry is what makes d a CLASS quantity: exact
    * copies have identical neighborhoods, so any per-node function of
    * the neighborhood (degree, rank, vote multiset) is identical
    * across a class — the theorem all four iterative servers below
    * lean on. */
  private val classGraphCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Double, Seq[String]),
      (org.apache.spark.SparkContext, (DataFrame, DataFrame))]()

  /** [[classGraphUncached]] memoized per (path, threshold, COMMITTED
    * DELTA SET) and JVM — the four iterative servers below all read
    * the same profile of the same read-only serve store, so it is
    * derived once and served many times (the prestage discipline).
    * Keying on the delta listing makes staleness impossible: any
    * update/compact/delete changes the committed set and misses the
    * cache. The cache is BOUNDED by eviction, not growth: computing
    * a new fingerprint for a (path, threshold) evicts every
    * superseded entry for it (a store's history of delta sets would
    * otherwise pin each one's localCheckpoint blocks for the JVM
    * lifetime), and each value records its owning SparkContext — a
    * hit from a stopped/replaced context recomputes instead of
    * returning checkpointed DataFrames that dangle. */
  private def classGraph(spark: SparkSession, path: String,
                         threshold: Double): (DataFrame, DataFrame) = {
    val fingerprint = DeltaStore.committedDeltas(spark, path)
      .map(d => new org.apache.hadoop.fs.Path(d).getName).sorted
    val key = (path, threshold, fingerprint)
    val sc = spark.sparkContext
    Option(classGraphCache.get(key)) match {
      case Some((ctx, v)) if (ctx eq sc) && !ctx.isStopped => v
      case _ => classGraphCache.synchronized {
        // re-probe under the lock (another thread may have built it)
        Option(classGraphCache.get(key)) match {
          case Some((ctx, v)) if (ctx eq sc) && !ctx.isStopped => v
          case _ =>
            classGraphCache.keySet.removeIf(k =>
              k._1 == path && k._2 == threshold)
            val v = classGraphUncached(spark, path, threshold)
            classGraphCache.put(key, (sc, v))
            v
        }
      }
    }
  }

  private def classGraphUncached(spark: SparkSession, path: String,
                                 threshold: Double): (DataFrame, DataFrame) = {
    val mem = membersWithM(spark, path)
    val clsM = mem.groupBy("rep").agg(max("m").as("m"))
      .join(reps(spark, path).select("rep", "shingleable"), Seq("rep"), "left")
      .select(col("rep"), col("m"),
        (coalesce(col("shingleable"), lit(false)) && col("m") >= 2).as("i"))
    val e = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct()
    val dir = e.select(col("a").as("r"), col("b").as("s"))
      .union(e.select(col("b").as("r"), col("a").as("s")))
      .cutLineage()
    val nbrSum = dir
      .join(clsM.select(col("rep").as("s"), col("m").as("ms")), "s")
      .groupBy("r").agg(sum("ms").as("nsum"))
    val cls = clsM
      .join(nbrSum.select(col("r").as("rep"), col("nsum")), Seq("rep"), "left")
      .select(col("rep"), col("m"), col("i"),
        (when(col("i"), col("m") - 1).otherwise(0L) +
          coalesce(col("nsum"), lit(0L))).cast("long").as("d"))
      .filter(col("d") >= 1)
      .cutLineage()
    (cls, dir)
  }

  /** [[graft.operators.Graph.pagerankFrom]] of the doc-level verified
    * graph served REP-LEVEL by copy symmetry: all copies of a text
    * have identical neighborhoods, hence identical rank at every
    * iteration, so the integer walk runs on the copy CLASSES —
    *
    *   insum(copy of r) = i_r·(m_r−1)·(R_r div d_r)       (co-copies)
    *                    + Σ_{s∈N(r)} m_s·(R_s div d_s)    (neighbors)
    *   R'_r = teleport + (85·insum) div 100
    *
    * — every quantity a class function, every step the same floor
    * arithmetic as the doc-level loop, so the expansion (copies
    * inherit their class rank; isolated docs keep the teleport mass)
    * is EXACT, not approximate. Per iteration the join+agg runs on
    * the rep graph (thousands of edges at the 20× dup-skew probe)
    * instead of the copy-expanded relation (~1.05 M edges there,
    * quadratic in copy multiplicity by construction) — the same
    * discipline as [[kcoreDegrees]]/[[clusterDiameters]]. Output
    * identical to Graph.pagerankFrom(verifiedNearDups(...), docs) —
    * shared unrolled-CTE oracle, staged==live spec-gated. */
  def pagerankRanks(spark: SparkSession, path: String, iterations: Int = 10,
                    threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val (cls, dir) = classGraph(spark, path, threshold)
    val n = mem.count()
    require(n > 0, "empty graph")
    val r0 = Graph.TotalMass / n
    val teleport = (15L * r0) / 100L
    var ranks = cls.select(col("rep"), lit(r0).as("rank"))
    for (it <- 1 to iterations) {
      // (measured, not cut: lineage-cutting contrib added per-iteration
      // block-persist work without reducing the job count — the two
      // consumers' recomputed broadcast join is cheaper than the cut)
      val contrib = cls.join(ranks, Seq("rep"))
        .select(col("rep"), col("m"), col("i"), expr("rank div d").as("c"))
      val crossSum = dir
        .join(contrib.select(col("rep").as("s"), (col("m") * col("c")).as("mc")), "s")
        .groupBy("r").agg(sum("mc").as("xs"))
      // contrib already carries (m, i, c) — re-joining cls here was one
      // redundant join per iteration (contrib = cls⋈ranks is 1:1 on rep)
      ranks = contrib
        .join(crossSum.select(col("r").as("rep"), col("xs")), Seq("rep"), "left")
        .select(col("rep"),
          (lit(teleport) + expr(
            "(85 * (IF(i, (m - 1) * c, CAST(0 AS BIGINT)) + coalesce(xs, CAST(0 AS BIGINT)))) div 100"))
            .as("rank"))
      ranks = ranks.cutLineage() // every iteration: lazy cuts are barrier-free, and
      // per-iteration truncation keeps each AQE stage replan on a
      // 1-iteration plan instead of a 3-iteration one. RETAINED-BLOCKS
      // COST (ADVICE r17): checkpoint blocks cannot be unpersisted, so
      // every iteration's rank relation stays pinned MEMORY_AND_DISK
      // for the query lifetime — iterations × |class table|. Fine at
      // rep-class cardinality (the point of serving rep-level); if a
      // future caller runs many iterations over a node-sized table,
      // restore a modulo cadence here.
    }
    val inGraph = mem.join(ranks, Seq("rep"))
      .select(col("doc_id").as("node"), col("rank"))
    val isolated = mem.join(cls.select("rep"), Seq("rep"), "left_anti")
      .select(col("doc_id").as("node"),
        lit(if (iterations == 0) r0 else teleport).as("rank"))
    inGraph.unionByName(isolated)
  }

  /** [[graft.operators.Graph.personalizedPagerankFrom]] served
    * rep-level. PPR refines the copy-symmetry classes ONE notch: the
    * %`seedMod` teleport gate splits each class into a seed and a
    * non-seed SUBCLASS (a seed copy and a non-seed copy of the same
    * text differ only in their teleport term, and a node's in-sum
    * excludes its own contribution symmetrically within a subclass),
    * so the walk carries two ranks per class —
    *
    *   T_r        = msd_r·(Rs_r div d_r) + mns_r·(Rn_r div d_r)
    *   insum_seed = i_r·(T_r − Rs_r div d_r) + Σ_{s∈N(r)} T_s
    *   insum_non  = i_r·(T_r − Rn_r div d_r) + Σ_{s∈N(r)} T_s
    *   Rs' = teleport + (85·insum_seed) div 100
    *   Rn' =            (85·insum_non)  div 100
    *
    * — still class-function arithmetic, still one rep-graph join+agg
    * per iteration. Non-seed isolated copies decay to 0, seed ones
    * keep the teleport floor. Output identical to the doc-level op —
    * shared oracle, staged==live spec-gated. */
  def pprRanks(spark: SparkSession, path: String, iterations: Int = 10,
               seedMod: Int = 7, threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val mem = membersWithM(spark, path)
    val (cls0, dir) = classGraph(spark, path, threshold)
    val seedCounts = mem.groupBy("rep").agg(
      sum(when(col("doc_id") % seedMod === 0, 1L).otherwise(0L)).as("msd"))
    val cls = cls0.join(seedCounts, Seq("rep"))
      .select(col("rep"), col("m"), col("i"), col("d"),
        col("msd"), (col("m") - col("msd")).as("mns"))
      .cutLineage()
    val nSeeds = mem.filter(col("doc_id") % seedMod === 0).count()
    require(nSeeds > 0, s"personalized pagerank: no seeds under mod $seedMod")
    val r0 = Graph.TotalMass / nSeeds
    val teleport = (15L * r0) / 100L
    var ranks = cls.select(col("rep"), lit(r0).as("rs"), lit(0L).as("rn"))
    for (it <- 1 to iterations) {
      val contrib = cls.join(ranks, Seq("rep"))
        .select(col("rep"), col("i"),
          expr("rs div d").as("cs"), expr("rn div d").as("cn"),
          expr("msd * (rs div d) + mns * (rn div d)").as("t"))
      val crossSum = dir
        .join(contrib.select(col("rep").as("s"), col("t")), "s")
        .groupBy("r").agg(sum("t").as("xs"))
      ranks = contrib
        .join(crossSum.select(col("r").as("rep"), col("xs")), Seq("rep"), "left")
        .select(col("rep"),
          (lit(teleport) + expr(
            "(85 * (IF(i, t - cs, CAST(0 AS BIGINT)) + coalesce(xs, CAST(0 AS BIGINT)))) div 100"))
            .as("rs"),
          expr("(85 * (IF(i, t - cn, CAST(0 AS BIGINT)) + coalesce(xs, CAST(0 AS BIGINT)))) div 100")
            .as("rn"))
      ranks = ranks.cutLineage() // every iteration: lazy cuts are barrier-free, and
      // per-iteration truncation keeps each AQE stage replan on a
      // 1-iteration plan instead of a 3-iteration one (retained-blocks
      // cost: see the pagerankRanks cut site — same trade, same
      // rep-class-cardinality bound)
    }
    val inGraph = mem.join(ranks, Seq("rep"))
      .select(col("doc_id").as("node"),
        when(col("doc_id") % seedMod === 0, col("rs")).otherwise(col("rn")).as("rank"))
    val isolated = mem.join(cls.select("rep"), Seq("rep"), "left_anti")
      .select(col("doc_id").as("node"),
        when(col("doc_id") % seedMod === 0,
          lit(if (iterations == 0) r0 else teleport)).otherwise(lit(0L)).as("rank"))
    inGraph.unionByName(isolated)
  }

  /** LP labels per in-graph copy class after `iterations` synchronous
    * rounds: (rep, m, i, d, lr, ln) where lr labels the REP copy and
    * ln the m−1 NON-REP copies (null when m = 1). Copy symmetry for
    * LP needs the one-notch refinement PPR needed: initial labels are
    * node ids, so the rep (whose id is the group min) and its co-copies
    * see different self-excluded neighborhoods — but WITHIN each
    * subclass the vote multiset is identical, inductively, so two
    * labels per class carry the whole state.
    *
    * Round 1 is closed-form (every initial label is distinct, every
    * vote count 1, so each node takes its MIN neighbor id): the rep
    * takes min(second-lowest member id [if m ≥ 2], min neighbor rep);
    * a non-rep copy takes min(rep, min neighbor rep). Rounds ≥ 2 run
    * the weighted vote (votes = neighbor COUNT per label, tie → lower
    * label) on a STATIC subclass vote-edge relation:
    *
    *   REP(r)    ← NONREP(r) w=m−1;  NONREP(r) ← REP(r) w=1,
    *   NONREP(r) ← NONREP(r) w=m−2                       (intra, i_r)
    *   X(r) ← REP(s) w=1, X(r) ← NONREP(s) w=m_s−1   (s ∈ N(r))
    *
    * — rep-graph-sized per round vs the doc-level neighbor join over
    * copy cliques. */
  private def lpRepLabels(spark: SparkSession, path: String,
                          iterations: Int, threshold: Double): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val mem = membersWithM(spark, path)
    val (cls, dir) = classGraph(spark, path, threshold)
    val nbrMin = dir.groupBy("r").agg(min("s").as("minN"))
    val sm = mem.filter(col("doc_id") =!= col("rep"))
      .groupBy("rep").agg(min("doc_id").as("sm"))
    var labels = cls
      .join(nbrMin.select(col("r").as("rep"), col("minN")), Seq("rep"), "left")
      .join(sm, Seq("rep"), "left")
      .select(col("rep"),
        least(when(col("i"), col("sm")), col("minN")).as("lr"),
        when(col("m") >= 2, least(col("rep"), col("minN"))).as("ln"))
      .cutLineage()
    if (iterations >= 2) {
      val repFromNon = cls.filter(col("m") >= 2)
        .select(col("rep").as("dr"), lit(0).as("dt"),
          col("rep").as("sr"), lit(1).as("st"), (col("m") - 1).cast("long").as("w"))
      val nonFromRep = cls.filter(col("m") >= 2)
        .select(col("rep").as("dr"), lit(1).as("dt"),
          col("rep").as("sr"), lit(0).as("st"), lit(1L).as("w"))
      val nonFromNon = cls.filter(col("m") >= 3)
        .select(col("rep").as("dr"), lit(1).as("dt"),
          col("rep").as("sr"), lit(1).as("st"), (col("m") - 2).cast("long").as("w"))
      val dstSub = cls.select(col("rep"), lit(0).as("dt"))
        .union(cls.filter(col("m") >= 2).select(col("rep"), lit(1).as("dt")))
      val srcSub = cls.select(col("rep"), lit(0).as("st"), lit(1L).as("w"))
        .union(cls.filter(col("m") >= 2)
          .select(col("rep"), lit(1).as("st"), (col("m") - 1).cast("long").as("w")))
      val crossVotes = dir
        .join(dstSub.select(col("rep").as("r"), col("dt")), "r")
        .join(srcSub.select(col("rep").as("s"), col("st"), col("w")), "s")
        .select(col("r").as("dr"), col("dt"), col("s").as("sr"), col("st"), col("w"))
      val voteEdges = repFromNon.unionByName(nonFromRep).unionByName(nonFromNon)
        .unionByName(crossVotes).cutLineage()
      for (_ <- 2 to iterations) {
        val sl = labels.select(col("rep"), lit(0).as("t"), col("lr").as("label"))
          .union(labels.filter(col("ln").isNotNull)
            .select(col("rep"), lit(1).as("t"), col("ln")))
        val win = voteEdges
          .join(sl.select(col("rep").as("sr"), col("t").as("st"), col("label")),
            Seq("sr", "st"))
          .groupBy(col("dr"), col("dt"), col("label"))
          .agg(sum("w").as("votes"))
          .groupBy(col("dr"), col("dt"))
          .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("best"))
          .select(col("dr").as("rep"), col("dt").as("t"), (-col("best.nl")).as("label"))
        labels = cls.select("rep")
          .join(win.filter(col("t") === 0).select(col("rep"), col("label").as("lr")),
            Seq("rep"), "left")
          .join(win.filter(col("t") === 1).select(col("rep"), col("label").as("ln")),
            Seq("rep"), "left")
          .cutLineage()
      }
    }
    cls.join(labels, Seq("rep"))
  }

  /** [[graft.operators.Graph.labelPropagation]] of the doc-level
    * verified graph served rep-level by [[lpRepLabels]]' subclass
    * symmetry; every copy inherits its subclass label, non-graph docs
    * keep their own id. Output identical to the doc-level op — shared
    * unrolled-CTE oracle, staged==live spec-gated. */
  def lpCommunities(spark: SparkSession, path: String, iterations: Int = 3,
                    threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val labels = lpRepLabels(spark, path, iterations, threshold)
    membersWithM(spark, path)
      .join(labels.select("rep", "lr", "ln"), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(when(col("doc_id") === col("rep"), col("lr")).otherwise(col("ln")),
          col("doc_id")).as("community"))
  }

  /** [[graft.operators.Graph.modularity]] served rep-level: Newman's
    * per-community Q terms are pure multiplicity arithmetic once the
    * LP labels are known per subclass —
    *
    *   m        = Σ_{i_r} C(m_r,2) + Σ_{(r,s)} m_r·m_s
    *   n_nodes  = Σ subclass sizes;  volume = Σ size·d_r
    *   intra(c) = Σ_{i_r, lr=ln=c} (m_r−1) + Σ_{i_r, ln=c} C(m_r−1,2)
    *            + Σ_{(r,s)} [1·[lr_r=lr_s] + (m_s−1)·[lr_r=ln_s]
    *                        + (m_r−1)·[ln_r=lr_s] + (m_r−1)(m_s−1)·[ln_r=ln_s]]
    *
    * with each bracketed term credited to its (equal) label. The two
    * float divisions mirror the doc-level spelling exactly. Output
    * identical to Graph.modularity(verifiedNearDups(...), docs) —
    * shared oracle, staged==live spec-gated. */
  def modularityDecomp(spark: SparkSession, path: String,
                       iterations: Int = 3, threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val lab = lpRepLabels(spark, path, iterations, threshold).cutLineage()
    val e = repPairsAt(spark, path, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .distinct()
    val labA = lab.select(col("rep").as("a"), col("m").as("ma"),
      col("lr").as("lra"), col("ln").as("lna"))
    val labB = lab.select(col("rep").as("b"), col("m").as("mb"),
      col("lr").as("lrb"), col("ln").as("lnb"))
    val ej = e.join(labA, "a").join(labB, "b").cutLineage()
    val mTot = lab.filter(col("i")).agg(
        coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("mi"))
      .crossJoin(ej.agg(coalesce(sum(col("ma") * col("mb")), lit(0L)).as("mx")))
      .select((col("mi") + col("mx")).as("m"))
    // subclass rows: (community, size, deg) — n_nodes/volume inputs
    val volRows = lab.select(col("lr").as("community"), lit(1L).as("sz"), col("d"))
      .union(lab.filter(col("m") >= 2)
        .select(col("ln"), (col("m") - 1).cast("long"), col("d")))
    val vol = volRows.groupBy("community")
      .agg(sum("sz").as("n_nodes"), sum(col("sz") * col("d")).as("volume"))
    // intra-edge credits: (community, w) terms, zero-weight dropped
    val intraGroup = lab.filter(col("i")).select(explode(array(
        struct(when(col("lr") === col("ln"), col("lr")).as("community"),
          (col("m") - 1).cast("long").as("w")),
        struct(col("ln").as("community"),
          expr("(m - 1) * (m - 2) div 2").cast("long").as("w")))).as("t"))
      .select(col("t.community"), col("t.w"))
    val intraCross = ej.select(explode(array(
        struct(when(col("lra") === col("lrb"), col("lra")).as("community"),
          lit(1L).as("w")),
        struct(when(col("lra") === col("lnb"), col("lra")).as("community"),
          (col("mb") - 1).cast("long").as("w")),
        struct(when(col("lna") === col("lrb"), col("lna")).as("community"),
          (col("ma") - 1).cast("long").as("w")),
        struct(when(col("lna") === col("lnb"), col("lna")).as("community"),
          ((col("ma") - 1) * (col("mb") - 1)).cast("long").as("w")))).as("t"))
      .select(col("t.community"), col("t.w"))
    val intra = intraGroup.unionByName(intraCross)
      .filter(col("community").isNotNull && col("w") >= 1)
      .groupBy("community").agg(sum("w").as("intra_edges"))
    vol.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mTot))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"), col("volume"),
        round(coalesce(col("intra_edges"), lit(0L)).cast("double") / col("m") -
          (col("volume").cast("double") / (col("m") * 2)) *
          (col("volume").cast("double") / (col("m") * 2)), 6).as("contrib"))
  }

  /** [[Dedup.nearDupClusters]] served from the store: connected
    * components over the rep-level verified pair graph (the only
    * iterative work — pair-sized, not corpus-sized), then the members
    * map fans labels out to every exact copy. */
  def nearDupClusters(spark: SparkSession, path: String,
                      threshold: Double = 0.8, maxIter: Int = 20): DataFrame = {
    requireThreshold(threshold)
    val canonClusters = Dedup.propagateMinLabels(
      repPairsAt(spark, path, threshold).select("doc_a", "doc_b"), maxIter)
    membersWithM(spark, path)
      .join(canonClusters.select(col("doc_id").as("rep"), col("cluster_id")),
        Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull || col("m") > 1)
      .select(col("doc_id"), coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** (cluster_size, n_clusters): the CLUSTER-SIZE HISTOGRAM of the
    * near-dup graph — the one-look "is duplication a few huge
    * boilerplate blobs or many small mirrors" triage that decides
    * between hub-excision and pairwise review (the cluster-level
    * complement of [[graft.operators.Graph]]'s degree distribution).
    * Two cluster-cardinality aggregations on top of the staged
    * [[nearDupClusters]] relation — no new pairwise work. */
  def clusterSizeHistogram(spark: SparkSession, path: String,
                           threshold: Double = 0.8): DataFrame =
    nearDupClusters(spark, path, threshold)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** [[Dedup.keepBest]] served from the store (`docs` supplies the
    * ranking feature n_chars; all pairwise work is staged). */
  def keepBest(docs: DataFrame, path: String, threshold: Double = 0.8): DataFrame = {
    val spark = docs.sparkSession
    val clusters = nearDupClusters(spark, path, threshold).cutLineage()
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val best = clusters
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("doc_id", "cluster_id")
    val loners = docs.join(clusters, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    best.unionByName(loners)
  }

  /** [[Dedup.dropDuplicates]] served from the store: the canonical
    * corpus minus every rep-level pair's doc_b. */
  def dropDuplicates(docs: DataFrame, path: String,
                     threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val spark = docs.sparkSession
    val canonCorpus = docs.join(
      members(spark, path).filter(col("doc_id") === col("rep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val losers = repPairsAt(spark, path, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    canonCorpus.join(losers, Seq("doc_id"), "left_anti")
  }

  /** [[Dedup.containmentPairs]] served from the store — the staged
    * stats carry both directions' denominators. */
  def containmentPairs(spark: SparkSession, path: String,
                       threshold: Double = 0.5): DataFrame =
    pairStats(spark, path)
      .withColumn("ca", col("inter").cast("double") / col("na"))
      .withColumn("cb", col("inter").cast("double") / col("nb"))
      .filter(col("ca") >= threshold || col("cb") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("ca"), 4).as("cont_a"), round(col("cb"), 4).as("cont_b"))

  /** (threshold, n_rep_pairs, n_rep_losers, n_pairs_expanded): the
    * DEDUP THRESHOLD CURVE — how aggressive each Jaccard cutoff would
    * be, across a grid, answered from the staged substrate by pure
    * arithmetic (the decision a pipeline owner makes BEFORE committing
    * to a drop threshold). Per threshold: surviving rep-level pairs,
    * distinct rep-level losers (the drop decision's doc_b set), and
    * the document-level pair volume — cross-group pairs expand as
    * m_a·m_b and identical-copy groups contribute C(m,2) Jaccard-1.0
    * pairs (threshold-independent for any t ≤ 1), so the expansion is
    * never materialized. One pass over the pair relation × a literal
    * grid; every threshold stays ≥ the banding S-curve gate. */
  def thresholdCurve(spark: SparkSession, path: String,
                     thresholds: Seq[Double] = Seq(0.7, 0.75, 0.8, 0.85, 0.9, 0.95)): DataFrame = {
    thresholds.foreach(requireThreshold)
    val mem = membersWithM(spark, path)
    val mm = mem.filter(col("doc_id") === col("rep")).select(col("rep"), col("m"))
    val pairs = pairStats(spark, path)
      .withColumn("j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .join(mm.select(col("rep").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(mm.select(col("rep").as("doc_b"), col("m").as("mb")), "doc_b")
    val within = reps(spark, path).filter(col("shingleable"))
      .join(mm, "rep").filter(col("m") >= 2)
      .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("w"))
    val grid = array(thresholds.map(lit): _*)
    pairs.crossJoin(broadcast(spark.range(1).select(explode(grid).as("threshold"))))
      .groupBy("threshold")
      .agg(sum(when(col("j") >= col("threshold"), 1L).otherwise(0L)).as("n_rep_pairs"),
        countDistinct(when(col("j") >= col("threshold"), col("doc_b"))).as("n_rep_losers"),
        sum(when(col("j") >= col("threshold"), col("ma") * col("mb")).otherwise(0L))
          .as("cross_exp"))
      .crossJoin(broadcast(within))
      .select(col("threshold"), col("n_rep_pairs"), col("n_rep_losers"),
        (col("cross_exp") + col("w")).as("n_pairs_expanded"))
  }

  /** (source_a, source_b, n_pairs): CROSS-SOURCE duplication matrix —
    * the verified near-dup pairs bucketed by the (unordered) source
    * pair of their endpoints, the provenance view that separates
    * within-crawl boilerplate from cross-source syndication (the pairs
    * dedup must catch BEFORE per-source quotas are trusted). Pair
    * relation from the store, two id-keyed source joins, one
    * source²-cardinality aggregate. */
  def crossSourceMatrix(docs: DataFrame, path: String,
                        threshold: Double = 0.8): DataFrame = {
    val spark = docs.sparkSession
    val src = docs.select(col("doc_id"), col("source"))
    verifiedNearDups(spark, path, threshold)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** (bin, n_pairs): the JACCARD HISTOGRAM of every staged candidate
    * pair with a non-empty shingle intersection, in 0.05-wide bins
    * (bin = floor(round(j,4)·20)) — the threshold-HEADROOM view the
    * scalar threshold curve can't give: mass piling just under the
    * cutoff means the next crawl will flip decisions; a clean bimodal
    * split means the threshold is safe. Pure arithmetic over the
    * staged pair relation, one 21-bucket rollup. */
  def jaccardHistogram(spark: SparkSession, path: String): DataFrame =
    pairStats(spark, path)
      .select(floor(round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4) * 20)
        .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))

  /** (source, n_docs, n_dropped, chars_total, chars_dropped,
    * savings_pct): the per-source DEDUP SAVINGS report — what the
    * keep/drop decision actually removes from each provenance slice,
    * the ROI number a pipeline owner reads before paying for more
    * aggressive thresholds (and the per-source view that catches one
    * crawl being mostly mirrors). Survivors from the staged
    * [[dropDuplicates]] decision; one left-semi-style join + one
    * source-cardinality rollup — no new pairwise work. */
  def dedupSavings(docs: DataFrame, path: String,
                   threshold: Double = 0.8): DataFrame = {
    val keep = dropDuplicates(docs, path, threshold)
      .select(col("doc_id"), lit(1L).as("kept"))
    docs.join(keep, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept").isNull, 1L).otherwise(0L)).as("n_dropped"),
        sum("n_chars").as("chars_total"),
        sum(when(col("kept").isNull, col("n_chars")).otherwise(0L))
          .as("chars_dropped"))
      .withColumn("savings_pct",
        round(col("chars_dropped").cast("double") * 100 / col("chars_total"), 4))
  }

  /** (doc_a, doc_b, jaccard, hk): deterministic REVIEW-QUEUE sample of
    * the verified near-dup pairs — `k` pairs drawn in md5("rq:a:b")
    * order (a content-free shuffle with no RNG state, the repo's
    * hash-sampling rule), the fixed audit slice a human QA loop reads
    * every ingest cycle to estimate dedup precision. Stable across
    * runs and engines by construction; pure arithmetic + one
    * TakeOrdered over the staged pair relation (no global window —
    * the hash key itself is the queue order). */
  def reviewQueue(spark: SparkSession, path: String, k: Int = 20,
                  threshold: Double = 0.8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    verifiedNearDups(spark, path, threshold)
      .withColumn("hk", md5(concat(lit("rq:"), col("doc_a").cast("string"),
        lit(":"), col("doc_b").cast("string"))))
      .orderBy(col("hk").asc)
      .limit(k)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("hk"))
  }

  /** [[Dedup.dropContained]] served from the store: the more-contained
    * (smaller-shingle-set) side of every clearing pair drops. */
  def dropContained(spark: SparkSession, path: String,
                    threshold: Double = 0.9): DataFrame = {
    val losers = pairStats(spark, path)
      .filter(col("inter").cast("double") / least(col("na"), col("nb")) >= threshold)
      .select(when(col("na") < col("nb"), col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    reps(spark, path).select(col("rep").as("doc_id"))
      .join(losers, Seq("doc_id"), "left_anti")
  }
}
