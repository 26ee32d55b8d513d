package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The delta-directory commit protocol every staged store family
  * shares ([[graft.operators.Bm25Index]], [[graft.operators.AnnIndex]],
  * [[graft.operators.PqIndex]], [[graft.operators.DedupStore]],
  * [[graft.operators.SemanticStore]]): a store is a directory of
  * `delta-<tag>` subdirectories, each written in full under
  * `.staging-<tag>` and made visible with ONE directory rename — the
  * only mutation readers ever observe. A crash before the rename
  * leaves an invisible staging dir (cleared by the next writer); a
  * replayed tag is detected committed and skipped, which is what makes
  * streaming ingest exactly-once without a transaction log.
  *
  * Per-delta `<id>.range` sidecars record each batch's [min,max] id so
  * duplicate-id checks can skip every delta whose range cannot overlap
  * an incoming batch — batch-scaled maintenance on a long-running
  * store for the common monotone-id ingest pattern.
  *
  * This object also holds the TOMBSTONE-ONLY protocols the index
  * families share: the sub-relation existence filter and reader
  * ([[havingSub]] / [[readSub]]), the live view ([[liveSub]] /
  * [[livePair]]), the delete liveness gate ([[requireLive]]) and the
  * shard-merge disjointness gate ([[requireDisjoint]]). The rep-group
  * tombstone + rekey protocol of the pair substrates lives beside it
  * in [[RepGroupStore]]. The engine's one relation memo
  * ([[readRelation]]) and one build-once staging memo ([[stagedOnce]])
  * live here too: staging clears its path through [[reset]], so no
  * memoized relation outlives the files it names.
  */
object DeltaStore {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one per-(session, path-set) LAZY-RELATION memo, for committed
    * delta sub-relations and the testdata tables
    * ([[graft.sources.Tables.load]]) alike — the catalog role:
    * `spark.read.parquet` re-lists and re-reads parquet footers on
    * every call (~65 ms at bench SF), paid by every serve and nearly
    * every timed key on every invocation. Testdata dirs are generator
    * outputs never reset by an engine JVM, so the invalidation below
    * never fires for them. A COMMITTED delta dir is immutable by
    * the rename-commit protocol (writers stage under `.staging-*` and
    * rename once; sweeps only delete dirs that are already invisible),
    * but a delta PATH is not: [[reset]] deletes the store and a rebuild
    * re-commits the same tags (a merge dest's `delta-00000`, a stream's
    * `delta-batch-N`) over new part files, so the path set alone does
    * not identify the files. The memo is therefore invalidated where a
    * path's files change: [[reset]] drops every entry under the store
    * root, and [[commit]] every entry under the delta it makes visible
    * — for all sessions, on the qualified path form (callers pass both
    * `/tmp/…` and `file:/tmp/…`). Between mutations a hit is exact. No
    * rows are cached — consuming queries still plan, prune and scan
    * parquet themselves; this pins only the listing + footer schema
    * (guide §6). Callers must pass committed delta paths, never
    * staging paths. */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Seq[String]), DataFrame]()
  def readRelation(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val key = (spark, paths.map(p => qualified(fsOf(spark, p), p)).sorted)
    val hit = relCache.get(key)
    if (hit != null) hit
    else relCache.computeIfAbsent(key, k => spark.read.parquet(k._2: _*))
  }

  private def qualified(fs: FileSystem, path: String): String =
    fs.makeQualified(new Path(path)).toString

  /** Drop every memoized relation reading any path at or under `dir`. */
  private def forgetRelations(fs: FileSystem, dir: String): Unit = {
    val q = qualified(fs, dir)
    relCache.keySet.removeIf(_._2.exists(p => p == q || p.startsWith(q + "/")))
    ()
  }

  /** Raw delta listing plus the superseded (stale) name subset — the
    * ONE definition of visibility: readers hide what this says is
    * stale, writers sweep exactly the same set. Only compaction
    * writes `supersedes.list` and its tags always start with
    * "compact-", so only `delta-compact-*` dirs are probed —
    * visibility costs O(#compactions) sidecar reads, not O(#deltas)
    * round-trips on an object store. */
  private def deltaState(fs: FileSystem, path: String): (Seq[String], Set[String]) = {
    val p = new Path(path)
    if (!fs.exists(p)) (Seq.empty, Set.empty)
    else {
      val all = fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("delta-"))
        .map(_.getPath.toString)
      // a committed compaction lists the deltas it folded in a
      // `supersedes.list` sidecar; those inputs are INVISIBLE from the
      // moment the compact delta commits, so the swap is atomic for
      // readers even if the writer crashes before deleting them
      val stale = all
        .filter(d => new Path(d).getName.startsWith("delta-compact-"))
        .flatMap(d => readLines(fs, d, "supersedes.list")).toSet
      (all, stale)
    }
  }

  def committedDeltas(spark: SparkSession, path: String): Seq[String] = {
    val (all, stale) = deltaState(fsOf(spark, path), path)
    all.filterNot(d => stale.contains(new Path(d).getName))
  }

  /** The committed deltas visible AS OF snapshot `maxTag` — the one
    * tag-ordering contract every time-travel reader shares. Tag
    * strings only ORDER correctly when every committed tag has the
    * zero-padded numeric shape: a delete tag like `del-01` (or a
    * compact tag) sorts lexicographically AFTER every numeric
    * version, so a numeric-maxTag snapshot on a store holding such
    * deltas would silently RESURRECT deleted rows / skip folded
    * history. Time travel is therefore defined ONLY on update-only
    * (all-numeric-tag) stores and fails loudly otherwise — mutate a
    * snapshot store and the next as-of read tells you, instead of
    * serving a corrupt version (ADVICE r14). Compaction collapses
    * history as before: travel reaches only versions newer than the
    * last compaction. */
  def visibleAt(spark: SparkSession, path: String, maxTag: String): Seq[String] = {
    val deltas = committedDeltas(spark, path)
    val tags = deltas.map(d => new Path(d).getName.stripPrefix("delta-"))
    val nonNumeric = tags.filterNot(_.matches("[0-9]+"))
    require(nonNumeric.isEmpty,
      s"time travel requires numeric-only version tags, but $path holds " +
        s"deltas tagged ${nonNumeric.mkString("'", "', '", "'")} — " +
        "lexicographic order is undefined across delete/compact tags, and a " +
        "numeric-maxTag snapshot would silently resurrect deleted rows; " +
        "snapshot reads are supported on update-only stores")
    require(maxTag.matches("[0-9]+"),
      s"time travel version '$maxTag' is not a numeric tag")
    // Compare NUMERICALLY, not lexicographically: variable-width
    // numeric tags ('9' vs '10') pass the [0-9]+ guard yet misorder
    // as strings, which would silently include future deltas in a
    // snapshot (ADVICE r15). BigInt so no tag width can overflow.
    val maxV = BigInt(maxTag)
    val vis = deltas.filter(d =>
      BigInt(new Path(d).getName.stripPrefix("delta-")) <= maxV)
    require(vis.nonEmpty,
      s"no committed deltas at or before version $maxTag under $path " +
        "(compaction may have collapsed that history)")
    vis
  }

  /** Delete superseded delta dirs a crashed compaction left behind
    * (invisible to readers, but they double the store's footprint). */
  private def sweepStale(fs: FileSystem, path: String): Unit = {
    val (all, stale) = deltaState(fs, path)
    all.filter(d => stale.contains(new Path(d).getName))
      .foreach(d => dropDelta(fs, d))
  }

  /** Delete a superseded delta dir and every memoized relation over
    * it — a memo entry outliving its files would pin a `DataFrame`
    * over deleted paths for the rest of the session. */
  private def dropDelta(fs: FileSystem, delta: String): Unit = {
    fs.delete(new Path(delta), true)
    forgetRelations(fs, delta)
  }

  /** The memo keys currently held for `spark` — for specs asserting
    * that no memoized relation outlives the files it names. */
  private[graft] def memoKeys(spark: SparkSession): Seq[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    relCache.keySet.asScala.toSeq.filter(_._1 eq spark).map(_._2)
  }

  private def readLines(fs: FileSystem, dir: String, name: String): Seq[String] =
    readSidecar(fs, dir, name).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty)

  /** Has `tag` ever been committed to this store? True when its delta
    * dir exists OR when a compaction folded (and deleted) it — every
    * compact delta carries the CUMULATIVE `tags.history` of everything
    * it absorbed, so streaming checkpoint replays stay idempotent
    * across compactions instead of crash-looping on the duplicate-id
    * guard. */
  def isCommitted(spark: SparkSession, path: String, tag: String): Boolean = {
    val fs = fsOf(spark, path)
    fs.exists(new Path(s"$path/delta-$tag")) || {
      val (all, _) = deltaState(fs, path)
      // stale compact deltas are included deliberately: their history
      // is a subset of their successor's, and "was committed once" can
      // never become false
      all.filter(d => new Path(d).getName.startsWith("delta-compact-"))
        .exists(d => readLines(fs, d, "tags.history").contains(s"delta-$tag"))
    }
  }

  /** Reset the store (full rebuild entry point). The deleted files are
    * gone for every session, so every memoized relation under the
    * store goes with them. */
  def reset(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    fs.delete(new Path(path), true)
    forgetRelations(fs, path)
  }

  /** Collision-free directory tag for a raw identifier (an sf dir, a
    * stream key's parameters): the lossy `replaceAll("[^a-zA-Z0-9]", "_")`
    * form mapped distinct dirs like `sf0.1`/`sf0_1` to one path, letting
    * one run reset or clobber another's staging — an md5 of the RAW
    * string cannot collide that way. */
  private[graft] def pathTag(raw: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Build-once (per JVM) READ-ONLY staged layout under `path`: derived
    * copies of the testdata tables, prestaged serve stores and store
    * templates, stream keys' source slices and fitted artifacts. These
    * are one-off ETL / trained-artifact construction, not the
    * measurand; every later call returns `path` without rebuilding.
    * Stream keys re-drain the SAME staged source files with a fresh
    * checkpoint, which re-forms identical micro-batches
    * (maxFilesPerTrigger=1 + pinned mtime order), so what each query
    * COMPUTES is unchanged.
    * First touch in a JVM [[reset]]s the path before building, so a
    * stale dir from an earlier run (or a doc a testdata regen removed)
    * never leaks into the staging, and no memoized relation outlives
    * the files it named.
    *
    * TESTDATA-IMMUTABLE-PER-JVM INVARIANT (ADVICE r17): the memo key
    * is the staging PATH (a hash of the sf dir), not source content.
    * Regenerating testdata under the same dir while a JVM stays alive
    * would serve every staged artifact stale; the driver/bench
    * lifecycle never does this (testdata is generated before any JVM
    * starts), and a new JVM always rebuilds via the first-touch reset. */
  private val staged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def stagedOnce(spark: SparkSession, path: String)
                               (build: String => Unit): String = {
    // a plain monitor, not computeIfAbsent: build closures may stage
    // nested layouts REENTRANTLY (a compacted copy stages its landing
    // zone first), and a nested computeIfAbsent on one ConcurrentHashMap
    // throws "Recursive update" once the inner insert lands on a
    // resizing bin. A JVM monitor is reentrant for the owning thread;
    // concurrent first-callers serialize their builds.
    if (!staged.contains(path)) staged.synchronized {
      if (!staged.contains(path)) {
        reset(spark, path)
        build(path)
        staged.add(path)
      }
    }
    path
  }

  /** Write the small text sidecar `name` (parameters, listings) into
    * delta or staging dir `dir`. */
  def writeSidecar(spark: SparkSession, dir: String, name: String, text: String): Unit = {
    val out = fsOf(spark, dir).create(new Path(dir, name), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The trimmed text of sidecar `name` in `dir`, None when absent. */
  def readSidecar(fs: FileSystem, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim) finally in.close()
    }
  }

  /** A delta's [min, max] id range sidecar; None for a pre-range
    * delta, which is never pruned. */
  def readRange(fs: FileSystem, delta: String): Option[(Long, Long)] =
    readSidecar(fs, delta, "docid.range").map { t =>
      val Array(lo, hi) = t.split("\n")
      (lo.toLong, hi.toLong)
    }

  /** The union of the deltas' id-range sidecars; None when a delta
    * has none (its span is unknown) or `deltas` is empty. */
  def rangeUnion(fs: FileSystem, deltas: Seq[String]): Option[(Long, Long)] =
    deltas.map(readRange(fs, _)).reduceOption { (a, b) =>
      for ((aLo, aHi) <- a; (bLo, bHi) <- b) yield (math.min(aLo, bLo), math.max(aHi, bHi))
    }.flatten

  /** One batch-scaled aggregation: (isEmpty, lo, hi) of `idCol`. A
    * non-integral id type (or an all-NULL id column) yields lo > hi —
    * the "no range" marker, which disables pruning but never the
    * correctness checks that consume it. The same pass also REJECTS a
    * batch holding one id twice (NULL ids exempt — they carry no
    * identity): the store-vs-batch duplicate check can't see
    * within-batch copies, and committing them would double-count as
    * silently as re-ingesting would. */
  def batchRange(batch: DataFrame, idCol: String): (Boolean, Long, Long) = {
    val rangeable = batch.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    def requireUnique(nonNull: Long, distinct: Long): Unit =
      require(nonNull == distinct,
        s"batch holds ${nonNull - distinct} duplicated ${idCol}s within itself — " +
          "committing would double-count them; dedupe the batch first")
    if (rangeable) {
      val Array(r) = batch
        .agg(count(lit(1)).as("n"),
          count(col(idCol)).as("nn"), countDistinct(col(idCol)).as("nd"),
          min(col(idCol).cast("long")).as("lo"), max(col(idCol).cast("long")).as("hi"))
        .collect()
      requireUnique(r.getLong(1), r.getLong(2))
      if (r.getLong(0) == 0L) (true, 0L, -1L)
      else if (r.isNullAt(3) || r.isNullAt(4)) (false, 0L, -1L)
      else (false, r.getLong(3), r.getLong(4))
    } else {
      val Array(r) = batch
        .agg(count(lit(1)).as("n"),
          count(col(idCol)).as("nn"), countDistinct(col(idCol)).as("nd"))
        .collect()
      requireUnique(r.getLong(1), r.getLong(2))
      (r.getLong(0) == 0L, 0L, -1L)
    }
  }

  /** The deltas whose recorded id range can overlap [lo, hi]; with no
    * batch range (lo > hi) every delta is a candidate. */
  def overlappingDeltas(fs: FileSystem, deltas: Seq[String],
                        lo: Long, hi: Long): Seq[String] =
    if (lo > hi) deltas
    else deltas.filter { d =>
      readRange(fs, d).forall { case (dlo, dhi) => dlo <= hi && dhi >= lo }
    }

  /** Reject a batch that re-ingests ids already present in the store
    * (append-only maintenance would double-count them). `sub` is the
    * per-delta subdirectory holding one row per id (e.g. "doclen");
    * only the deltas carrying it whose id-range sidecar can overlap
    * the batch range `br` ([[batchRange]]) are read. A tombstoned id
    * stays rejected until compaction purges its rows: tombstoning
    * marks the row dead, it does not free the id. */
  def rejectDuplicateIds(spark: SparkSession, deltas: Seq[String],
                         sub: String, idCol: String, batch: DataFrame,
                         br: (Boolean, Long, Long), what: String): Unit = {
    val (empty, lo, hi) = br
    val candidates =
      if (empty || deltas.isEmpty) Nil
      else overlappingDeltas(fsOf(spark, deltas.head), havingSub(spark, deltas, sub), lo, hi)
    if (candidates.nonEmpty) {
      val existing = readRelation(spark, candidates.map(d => s"$d/$sub"))
        .select(col(idCol))
      val nDup = batch.select(idCol).join(existing, Seq(idCol), "left_semi").count()
      require(nDup == 0,
        s"update batch re-ingests $nDup existing ${idCol}s; append-only $what " +
          "maintenance would double-count them — upsert or rebuild instead")
    }
  }

  /** The deltas (from `deltas`) that carry sub-relation `sub` — data
    * deltas and delete deltas hold different sub-relations, so every
    * read filters by existence. */
  def havingSub(spark: SparkSession, deltas: Seq[String], sub: String): Seq[String] =
    if (deltas.isEmpty) Nil
    else {
      val fs = fsOf(spark, deltas.head)
      deltas.filter(d => fs.exists(new Path(s"$d/$sub")))
    }

  /** One sub-relation across every delta that has it (None when none
    * does), through the [[readRelation]] memo. */
  def readSub(spark: SparkSession, deltas: Seq[String], sub: String): Option[DataFrame] = {
    val present = havingSub(spark, deltas, sub)
    if (present.isEmpty) None
    else Some(readRelation(spark, present.map(d => s"$d/$sub")))
  }

  /** TOMBSTONE-ONLY LIVE VIEW of one sub-relation: its physical rows
    * minus every `idCol` named by a delete delta's `tombstones`; with
    * no delete delta, the plain per-delta union. */
  def liveSub(spark: SparkSession, deltas: Seq[String], sub: String,
              idCol: String): Option[DataFrame] =
    readSub(spark, deltas, sub).map(minusTombstones(spark, deltas, idCol))

  /** The live views of two sub-relations a store cannot serve without
    * (e.g. postings + doclen) — loud when either is absent. */
  def livePair(spark: SparkSession, deltas: Seq[String], idCol: String,
               a: String, b: String): (DataFrame, DataFrame) = {
    val live = minusTombstones(spark, deltas, idCol)
    def req(sub: String) = live(readSub(spark, deltas, sub)
      .getOrElse(throw new IllegalStateException(s"store holds no $sub")))
    (req(a), req(b))
  }

  /** Anti-join against the tombstone set (delete-scaled, broadcast-
    * sized in practice) — identity when no delete delta exists. */
  private def minusTombstones(spark: SparkSession, deltas: Seq[String],
                              idCol: String): DataFrame => DataFrame =
    readSub(spark, deltas, "tombstones").map(_.select(idCol)) match {
      case None => identity
      case Some(dead) => _.join(dead, Seq(idCol), "left_anti")
    }

  /** TOMBSTONE DELETE LIVENESS GATE: every id of `ids` must be LIVE —
    * present in a data delta's `sub` and not already tombstoned — or
    * the delete fails loudly instead of half-applying. Stays
    * BATCH-scaled on a long-running store: the presence side reads
    * only the deltas whose id-range sidecar can overlap the batch (the
    * [[rejectDuplicateIds]] discipline); the tombstone side is
    * delete-scaled by nature. */
  def requireLive(spark: SparkSession, deltas: Seq[String], ids: DataFrame,
                  idCol: String, sub: String): Unit = {
    val (empty, lo, hi) = batchRange(ids, idCol)
    if (!empty) {
      val candidates = overlappingDeltas(fsOf(spark, deltas.head),
        havingSub(spark, deltas, sub), lo, hi)
      val present =
        if (candidates.isEmpty) ids.limit(0)
        else ids.join(readRelation(spark, candidates.map(d => s"$d/$sub"))
          .select(idCol), Seq(idCol), "left_semi")
      val live = minusTombstones(spark, deltas, idCol)(present)
      val nMissing = ids.join(live, Seq(idCol), "left_anti").count()
      require(nMissing == 0,
        s"delete batch names $nMissing ${idCol}s that are not live in the store " +
          "(absent or already tombstoned) — refusing a partially-effective delete")
    }
  }

  /** SHARD-MERGE DISJOINTNESS GATE over two live id relations:
    * overlapping ids would double-count (the [[rejectDuplicateIds]]
    * rule across stores). The two range aggregations run
    * concurrently; the check is O(1) when both sides carry integral
    * id ranges that don't overlap (the shard layout by construction),
    * and only on range overlap does it pay one id semi-join. Returns
    * the merged id range for the destination's sidecar (None when
    * either side has none). */
  def requireDisjoint(a: DataFrame, b: DataFrame, idCol: String): Option[(Long, Long)] = {
    val br = new Array[(Boolean, Long, Long)](2)
    graft.Jobs.inParallel(Seq(
      () => br(0) = batchRange(a, idCol),
      () => br(1) = batchRange(b, idCol)))
    val ((eA, loA, hiA), (eB, loB, hiB)) = (br(0), br(1))
    val rangesDisjoint = loA <= hiA && loB <= hiB && (hiA < loB || hiB < loA)
    if (!eA && !eB && !rangesDisjoint) {
      val nShared = a.select(idCol).join(b.select(idCol), idCol).count()
      require(nShared == 0,
        s"stores share $nShared live ${idCol}s — shard merge requires " +
          "disjoint id spaces (re-key one side or delete the duplicates first)")
    }
    if (loA <= hiA && loB <= hiB) Some((math.min(loA, loB), math.max(hiA, hiB)))
    else None
  }

  /** FILE-LEVEL COPY-THROUGH for shard merges (guide §6 — move bytes,
    * don't recompute them): copy every data file of `sub` from the
    * given source deltas into `staging/sub`, per-delta-prefixed so
    * names cannot collide with each other or with files Spark writes
    * into the same staging sub-relation. A parquet relation is read
    * as the union of its directory's files, so copying a shard's
    * files verbatim stages exactly that shard's rows — byte-identical,
    * no decode/re-encode, no shuffle — which is what an LSM merge
    * does with untouched runs. ONLY sound when the source's live view
    * is the plain per-delta union (no tombstone/rekey deltas — the
    * caller gates); on an object store this is a server-side copy
    * instead of a full read+rewrite of the corpus-scale relation. */
  def copySubFiles(spark: SparkSession, deltas: Seq[String], sub: String,
                   staging: String, prefix: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dstDir = new Path(s"$staging/$sub")
    val dfs = dstDir.getFileSystem(conf)
    dfs.mkdirs(dstDir)
    deltas.zipWithIndex.foreach { case (d, i) =>
      val src = new Path(s"$d/$sub")
      val sfs = src.getFileSystem(conf)
      if (sfs.exists(src))
        sfs.listStatus(src).filter(_.isFile)
          .filterNot { st =>
            val n = st.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
          .foreach { st =>
            val dst = new Path(dstDir, s"$prefix$i-${st.getPath.getName}")
            if (!org.apache.hadoop.fs.FileUtil.copy(
                sfs, st.getPath, dfs, dst, false, conf))
              throw new java.io.IOException(
                s"copy-through failed: ${st.getPath} -> $dst")
          }
    }
  }

  /** Stage-and-commit: clear orphaned staging dirs AND any superseded
    * delta dirs a crashed compaction left behind (single-writer
    * contract — readers never mutate), run `stage` against the staging
    * path, optionally write the range / supersedes sidecars, then
    * commit with one rename. The caller has already handled the
    * replayed-tag case via [[isCommitted]]. */
  def commit(spark: SparkSession, path: String, tag: String,
             range: Option[(Long, Long)], supersedes: Seq[String] = Nil,
             history: Seq[String] = Nil)
            (stage: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (fs.exists(root)) {
      fs.listStatus(root).filter(_.getPath.getName.startsWith(".staging-"))
        .foreach(s => fs.delete(s.getPath, true))
      sweepStale(fs, path)
    }
    val staging = new Path(s"$path/.staging-$tag")
    stage(staging.toString)
    def writeList(name: String, lines: Seq[String]): Unit =
      writeSidecar(spark, staging.toString, name, lines.mkString("", "\n", "\n"))
    range.foreach { case (lo, hi) => writeList("docid.range", Seq(lo.toString, hi.toString)) }
    if (supersedes.nonEmpty) writeList("supersedes.list", supersedes)
    if (history.nonEmpty) writeList("tags.history", history)
    if (!fs.rename(staging, new Path(s"$path/delta-$tag")))
      throw new java.io.IOException(s"commit failed for $path/delta-$tag")
    forgetRelations(fs, s"$path/delta-$tag")
  }

  /** Compact all committed deltas into ONE: `restage` rewrites the
    * merged store content under the staging path; the commit carries
    * a `supersedes.list` naming the inputs, so from the commit instant
    * readers see ONLY the compacted delta — the subsequent input
    * deletion is pure housekeeping and a crash anywhere in between
    * never double-counts (stale dirs are invisible and swept by the
    * next writer). Merged id range = union of the data inputs'
    * ranges; tombstone-only (delete) inputs carry no range and are
    * left out of the union, since their ids are a subset of live ids
    * the data inputs already span. If ANY data input predates range
    * sidecars its span is unknown → omitted (never-pruned) rather
    * than wrong. Requires the store's single-writer maintenance
    * window. */
  def compact(spark: SparkSession, path: String)
             (restage: (Seq[String], String) => Unit): Unit = {
    val fs = fsOf(spark, path)
    // sweep a crashed earlier compaction's leftovers FIRST: they are
    // invisible below, so an early return must not strand them
    sweepStale(fs, path)
    val deltas = committedDeltas(spark, path)
    if (deltas.size <= 1) return
    val tag = "compact-" + java.util.UUID.randomUUID().toString
    val merged = rangeUnion(fs, deltas.diff(havingSub(spark, deltas, "tombstones")))
    val names = deltas.map(d => new Path(d).getName)
    // cumulative tag history: the folded deltas' names plus everything
    // THEY had already absorbed — keeps isCommitted true for every tag
    // ever ingested, however many compactions later
    val history = (names ++
      deltas.flatMap(d => readLines(fs, d, "tags.history"))).distinct
    commit(spark, path, tag, merged, supersedes = names, history = history) {
      staging => restage(deltas, staging)
    }
    deltas.foreach(d => dropDelta(fs, d))
  }
}
