package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lineage._

/** The REP-GROUP store protocol shared by the pair substrates
  * ([[graft.operators.DedupStore]], [[graft.operators.SemanticStore]]),
  * on top of [[DeltaStore]]'s commit protocol. Such a store collapses
  * identical inputs into groups keyed by their min-live-id
  * representative (`rep`); every staged relation references reps, so
  * a delete is a GROUP re-key, not a row drop:
  *
  *  - a delete delta records the deleted ids (`tombstones`) and, per
  *    group whose rep died with survivors left, the re-elected min
  *    surviving member as one `rekeys` (old_rep, new_rep) row;
  *  - the live view ([[live]]) drops tombstoned members, RENAMES every
  *    rep reference through the resolved rekey map and drops rows of
  *    fully-dead groups. Copy symmetry is what makes the rekey a
  *    rename: a re-elected rep has the identical content, hence
  *    identical keys, signatures and pair statistics — so the live
  *    view equals a rebuild on the surviving corpus relation for
  *    relation, and with no delete delta it is the plain union;
  *  - compaction re-stages each relation from its live view and drops
  *    the tombstone/rekey relations (the physical purge).
  *
  * Ids must be MONOTONE across batches ([[admitBatch]]) and across
  * merged shards ([[mergeRange]]): the min-live-id rep of every group
  * then never changes except by an explicit re-election, which is
  * what keeps every staged relation append-only.
  *
  * A family declares its id column, a noun for error messages, and
  * each sub-relation's [[RepGroupStore.Shape]] — the one thing the
  * live view, compaction and merge need to know about it. */
final case class RepGroupStore(idCol: String, what: String,
                               subs: Seq[(String, RepGroupStore.Shape)]) {
  import RepGroupStore._

  private def shapeOf(sub: String): Shape =
    subs.collectFirst { case (`sub`, s) => s }
      .getOrElse(throw new IllegalArgumentException(s"undeclared sub-relation '$sub'"))

  /** The live view of `sub` over every committed delta of `path`. */
  def read(spark: SparkSession, path: String, sub: String): DataFrame = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    live(spark, deltas, sub)
  }

  /** One staged relation as the LIVE view over `deltas` (see the class
    * doc): the per-delta union with tombstones and rekeys applied by
    * the sub-relation's declared shape. */
  def live(spark: SparkSession, deltas: Seq[String], sub: String): DataFrame = {
    val base = DeltaStore.readSub(spark, deltas, sub)
      .getOrElse(throw new IllegalArgumentException(s"store holds no '$sub' relation"))
    tombState(spark, deltas) match {
      case None => base
      case Some((t, m)) =>
        // dead = tombstoned AND never re-keyed: the whole group died
        val dead = t.join(m.select(col("old_rep").as(idCol)), Seq(idCol), "left_anti")
        shapeOf(sub) match {
          case Members =>
            remap(base.join(t, Seq(idCol), "left_anti"), "rep", m)
          case Reps =>
            dropDead(remap(base, "rep", m), "rep", dead)
          case _: IdKeyed =>
            dropDead(remap(base, idCol, m), idCol, dead)
          case p @ Pair(a, b, _) =>
            // a rekey renames to a LARGER id (survivors outrank the
            // deleted min), so the pair order can flip
            inPairOrder(dropDead(dropDead(remap(remap(base, a, m), b, m), a, dead), b, dead),
              base.columns.toSeq, p)
        }
    }
  }

  /** The store's delete state across `deltas`: the tombstoned id set
    * and the RESOLVED rekey map (old_rep → final live rep). None when
    * no delete delta exists. A rekey chain (a re-elected rep later
    * deleted itself) grows by at most one link per delete delta, so
    * ceil(log2(#delete deltas)) self-composition (squaring) steps
    * reach the fixpoint deterministically — no convergence probe. */
  private def tombState(spark: SparkSession,
                        deltas: Seq[String]): Option[(DataFrame, DataFrame)] = {
    val dd = DeltaStore.havingSub(spark, deltas, "tombstones")
    if (dd.isEmpty) None
    else {
      val t = DeltaStore.readRelation(spark, dd.map(d => s"$d/tombstones"))
      var m = DeltaStore.readRelation(spark, dd.map(d => s"$d/rekeys"))
      val steps = if (dd.size <= 1) 0
        else 32 - Integer.numberOfLeadingZeros(dd.size - 1) // ceil(log2(n))
      for (_ <- 0 until steps)
        m = m.as("a")
          .join(m.select(col("old_rep").as("o2"), col("new_rep").as("n2")),
            col("a.new_rep") === col("o2"), "left")
          .select(col("a.old_rep"),
            coalesce(col("n2"), col("a.new_rep")).as("new_rep"))
      Some((t, m))
    }
  }

  /** Rename both sides of the pair relation `sub` (a [[Pair]] shape)
    * through the (old_rep, new_rep) map `m` — a merge's adoption map —
    * and restore the canonical pair order. */
  def remapPairs(df: DataFrame, sub: String, m: DataFrame): DataFrame = shapeOf(sub) match {
    case p @ Pair(a, b, _) => inPairOrder(remap(remap(df, a, m), b, m), df.columns.toSeq, p)
    case s => throw new IllegalArgumentException(s"'$sub' is $s, not a pair relation")
  }

  /** `cols` of `df` with each pair in canonical a <= b order, the
    * declared per-side columns swapped wherever the order flips. */
  private def inPairOrder(df: DataFrame, cols: Seq[String], p: Pair): DataFrame = {
    val Pair(a, b, swap) = p
    val flip = swap.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) }.toMap
    df.select(cols.map {
      case `a` => least(col(a), col(b)).as(a)
      case `b` => greatest(col(a), col(b)).as(b)
      case c => flip.get(c).fold(col(c))(o =>
        when(col(a) <= col(b), col(c)).otherwise(col(o)).as(c))
    }: _*)
  }

  /** Follow a (old_rep, new_rep) map on one rep-reference column. */
  def remap(df: DataFrame, key: String, m: DataFrame): DataFrame =
    df.join(m.withColumnRenamed("old_rep", key), Seq(key), "left")
      .withColumn(key, coalesce(col("new_rep"), col(key)))
      .drop("new_rep")

  /** Drop rows whose `key` names a DEAD rep (group fully deleted). */
  private def dropDead(df: DataFrame, key: String, dead: DataFrame): DataFrame =
    df.join(dead.withColumnRenamed(idCol, key), Seq(key), "left_anti")

  /** `df` in the declared physical clustering of `sub` (id-keyed
    * relations re-cluster on their join keys so lookups recover
    * row-group locality after many small ingests). */
  private def clustered(df: DataFrame, sub: String): DataFrame = shapeOf(sub) match {
    case IdKeyed(by, sortBy) if by.nonEmpty =>
      df.repartition(by.map(col): _*).sortWithinPartitions(sortBy.map(col): _*)
    case _ => df
  }

  /** MONOTONE-ID INGEST GUARD for a batch with range `br`
    * ([[DeltaStore.batchRange]]): reject re-ingested ids, and ids at
    * or below the stored maximum — such an id could become a group's
    * new minimum and silently invalidate every staged rep-keyed
    * relation. Both checks read RAW members (no live view): a
    * tombstoned id stays USED — re-ingesting it before compaction
    * purges it would resurrect rows the rekey map still references.
    * The maximum comes from the per-delta range sidecars when every
    * data delta carries one (O(#deltas) sidecar reads); otherwise one
    * store-scaled aggregate — never silently skipped. */
  def admitBatch(spark: SparkSession, path: String, deltas: Seq[String],
                 batch: DataFrame, br: (Boolean, Long, Long)): Unit = {
    val (batchEmpty, batchLo, _) = br
    if (deltas.nonEmpty && !batchEmpty) {
      val dataDeltas = DeltaStore.havingSub(spark, deltas, "members")
      DeltaStore.rejectDuplicateIds(spark, deltas, "members", idCol, batch, br, what)
      val fs = DeltaStore.fsOf(spark, path)
      val ranges = dataDeltas.map(d => DeltaStore.readRange(fs, d))
      val maxExisting: Option[Long] =
        if (ranges.forall(_.isDefined)) Some(ranges.flatten.map(_._2).max)
        else {
          val r = DeltaStore.readRelation(spark, dataDeltas.map(d => s"$d/members"))
            .agg(max(col(idCol))).collect()(0)
          if (r.isNullAt(0)) None else Some(r.getLong(0))
        }
      maxExisting.foreach(hi => require(batchLo > hi,
        s"batch ${idCol}s start at $batchLo but the store already holds ids up to " +
          s"$hi — the append-only substrate requires monotone ingest; rebuild instead"))
    }
  }

  /** TOMBSTONE + RE-ELECT DELETE (see the class doc): O(group) delta,
    * store-scaled only in the columnar scans that find the touched
    * groups, never in what is written. Idempotent per `tag`; every id
    * must be LIVE — a typo'd delete fails loudly instead of
    * half-applying; deleted ids stay reserved against re-ingest until
    * [[compact]] purges them. */
  def delete(ids0: DataFrame, path: String, tag: String): Unit = {
    val spark = ids0.sparkSession
    if (DeltaStore.isCommitted(spark, path, tag)) return // replayed batch
    val deltas = DeltaStore.committedDeltas(spark, path)
    require(deltas.nonEmpty, s"no committed deltas under $path")
    val ids = ids0.select(col(idCol)).distinct().cutLineage()
    // LIVE members once: the liveness gate, the affected-group scan
    // and the re-election all read this one relation
    val mem = live(spark, deltas, "members")
    val nMissing = ids.join(mem.select(idCol), Seq(idCol), "left_anti").count()
    require(nMissing == 0,
      s"delete batch names $nMissing ${idCol}s that are not live in the store " +
        "(absent, excluded at ingest, or already deleted) — refusing a " +
        "partially-effective delete")
    // per touched group: the min surviving member (null = group dies)
    // and whether the current rep itself is among the deleted
    val flagged = mem
      .join(ids.withColumn("del", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("rep"), coalesce(col("del"), lit(false)).as("del"))
    val touched = flagged
      .join(flagged.filter(col("del")).select("rep").distinct(), Seq("rep"), "left_semi")
    val rekeys = touched.groupBy("rep")
      .agg(min(when(!col("del"), col(idCol))).as("new_rep"),
        max(when(col("del") && col(idCol) === col("rep"), 1).otherwise(0)).as("rep_del"))
      .filter(col("rep_del") === 1 && col("new_rep").isNotNull)
      .select(col("rep").as("old_rep"), col("new_rep"))
    DeltaStore.commit(spark, path, tag, None) { staging =>
      // independent staged writes — overlap them (guide §2.6)
      graft.Jobs.inParallel(Seq(
        () => ids.write.mode(SaveMode.Overwrite).parquet(s"$staging/tombstones"),
        () => rekeys.write.mode(SaveMode.Overwrite).parquet(s"$staging/rekeys")))
    }
  }

  /** Fold all committed deltas into ONE ([[DeltaStore.compact]]'s
    * crash-atomic supersedes protocol; replayed ingest tags stay
    * no-ops through the cumulative tag history) and PHYSICALLY PURGE
    * deletes: every declared relation re-stages from its live view in
    * its declared clustering, and the tombstone/rekey relations are
    * dropped — the compacted store is relation-identical to one built
    * without the deleted ids. The rewrites are independent and are
    * submitted concurrently (guide §2.6). */
  def compact(spark: SparkSession, path: String): Unit =
    DeltaStore.compact(spark, path) { (deltas, staging) =>
      graft.Jobs.inParallel(subs.map { case (sub, _) =>
        () => clustered(live(spark, deltas, sub), sub).write.parquet(s"$staging/$sub")
      })
    }

  /** SHARD-MERGE ID GATE over the two shards' live members: each side
    * must hold unique ids, both must be non-empty, and every live id
    * of A must sit BELOW every live id of B — the sharded form of the
    * monotone-ingest contract, which keeps adopted reps the global
    * group minimum. The two aggregations run concurrently and also
    * yield the merged id range (min(A), max(B) under the gate — the
    * sides are disjoint, so per-side uniqueness IS union uniqueness),
    * so no third aggregation over the union is needed. */
  def mergeRange(memA: DataFrame, memB: DataFrame,
                 pathA: String, pathB: String): (Long, Long) = {
    val id = col(idCol)
    val hilo = new Array[Row](2)
    graft.Jobs.inParallel(Seq(
      () => hilo(0) = memA.agg(max(id), min(id), count(id), countDistinct(id)).collect()(0),
      () => hilo(1) = memB.agg(min(id), max(id), count(id), countDistinct(id)).collect()(0)))
    val (hiA, loB) = (hilo(0), hilo(1))
    Seq(("A", pathA, hiA), ("B", pathB, loB)).foreach { case (s, p, r) =>
      require(r.getLong(2) == r.getLong(3),
        s"shard $s ($p) holds ${r.getLong(2) - r.getLong(3)} duplicated " +
          s"${idCol}s — committing the merge would double-count them")
    }
    require(!hiA.isNullAt(0) && !loB.isNullAt(0),
      "shard merge requires two non-empty live stores")
    require(hiA.getLong(0) < loB.getLong(0),
      s"every live id in $pathA (max ${hiA.getLong(0)}) must sit below every " +
        s"live id in $pathB (min ${loB.getLong(0)}) — the sharded form of the " +
        "monotone-ingest contract; merge shards in id order")
    (hiA.getLong(1), loB.getLong(1))
  }

  /** Commit a shard merge as `dest`'s only delta, with the merged id
    * `range` from [[mergeRange]]. `carried` relations pass A's live
    * rows through unchanged (adoption renames B-side rows only);
    * `rewritten` ones are written as given.
    *
    * FILE-LEVEL COPY-THROUGH (guide §6): when shard A's live view is
    * the plain per-delta union (no delete deltas in `dA`), a carried
    * relation stages as a Spark write of just its B-new rows plus
    * byte copies of A's files ([[DeltaStore.copySubFiles]]) instead of
    * a full decode + shuffle + re-encode of the union. Relation
    * identity is untouched (a parquet relation is the union of its
    * files); the one physical difference is that a clustered relation
    * keeps per-shard clustering instead of re-clustering across the
    * boundary — the shards' own build-time layout, restored by the
    * next compaction. A delete delta on A falls back to writing each
    * carried relation's full union. All writes are independent and
    * submitted concurrently (guide §2.6): the merge's wall time is the
    * longest write chain, not their sum. Requires a single-writer
    * window on `dest`. */
  def commitMerge(spark: SparkSession, dA: Seq[String], dest: String,
                  range: (Long, Long), carried: Seq[Carried],
                  rewritten: Seq[(String, DataFrame)]): Unit = {
    val aPlain = DeltaStore.havingSub(spark, dA, "tombstones").isEmpty
    DeltaStore.reset(spark, dest)
    DeltaStore.commit(spark, dest, "00000", Some(range)) { staging =>
      def write(df: DataFrame, sub: String): Unit =
        df.write.mode(SaveMode.Overwrite).parquet(s"$staging/$sub")
      val carry: Seq[() => Unit] = carried.map { c =>
        if (aPlain) () => {
          write(clustered(c.bNew.select(c.a.columns.toSeq.map(col): _*), c.sub), c.sub)
          DeltaStore.copySubFiles(spark, dA, c.sub, staging, "a")
        }
        else () => write(clustered(c.union, c.sub), c.sub)
      }
      graft.Jobs.inParallel(carry ++ rewritten.map { case (sub, df) => () => write(df, sub) })
    }
  }

  /** Members with their group size — derived, never stored (the
    * append-only contract): one rep-keyed aggregation + join. */
  def withGroupSize(mem: DataFrame): DataFrame =
    mem.join(mem.groupBy("rep").agg(count(lit(1)).as("m")), Seq("rep"))
      .select(idCol, "rep", "m")
}

object RepGroupStore {

  /** How a staged sub-relation references ids, which fixes how the
    * live view applies tombstones and rekeys to it. */
  sealed trait Shape

  /** (id, rep): tombstoned ids drop, `rep` follows the rekey map. */
  case object Members extends Shape

  /** (rep, ...): one row per group; `rep` follows the rekey map and
    * fully-dead groups drop. */
  case object Reps extends Shape

  /** (id, ...) keyed on a rep's id: the id follows the rekey map and
    * fully-dead groups drop. Physically clustered by `by` and sorted
    * within partitions by `sortBy` when `by` is non-empty. */
  final case class IdKeyed(by: Seq[String] = Nil, sortBy: Seq[String] = Nil) extends Shape

  /** (a, b, ...) rep pairs in canonical a <= b order: both sides
    * follow the rekey map, pairs touching a dead group drop, and the
    * order is restored after a rename — swapping the `swap` columns
    * (per-side statistics) along with it. */
  final case class Pair(a: String, b: String, swap: Option[(String, String)] = None) extends Shape

  /** A merge relation passed through from shard A: A's live rows `a`,
    * the B-side rows new to the merge `bNew`, and their union. */
  final case class Carried(sub: String, a: DataFrame, bNew: DataFrame, union: DataFrame)

  /** (keys..., rest..., change): SNAPSHOT DIFF of two pair relations —
    * rows only in `b` are 'added', rows only in `a` 'dropped'. Both
    * sides are cut once (each is read by two anti-joins); the
    * anti-joins are pair-scaled. */
  def pairDiff(a0: DataFrame, b0: DataFrame, keys: Seq[String]): DataFrame = {
    val a = a0.cutLineage()
    val b = b0.cutLineage()
    val added = b.join(a.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("change", lit("added"))
    val dropped = a.join(b.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("change", lit("dropped"))
    added.unionByName(dropped)
  }
}
