package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The delta-directory commit protocol shared by the materialized
  * search indexes ([[graft.operators.Bm25Index]],
  * [[graft.operators.AnnIndex]]): a store is a directory of
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
  */
object DeltaStore {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-(session, path-set) LAZY-RELATION memo for committed delta
    * sub-relations — the [[graft.sources.Tables]] catalog discipline
    * applied to the stores: `spark.read.parquet` re-lists and re-reads
    * parquet footers on every call (~65 ms at bench SF), paid by every
    * serve on every invocation. A COMMITTED delta dir is immutable by
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
        .flatMap(d => readLines(fs, new Path(d, "supersedes.list"))).toSet
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
      .foreach(d => fs.delete(new Path(d), true))
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
      finally in.close()
    }

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
        .exists(d => readLines(fs, new Path(d, "tags.history")).contains(s"delta-$tag"))
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

  def writeRange(fs: FileSystem, dir: Path, lo: Long, hi: Long): Unit = {
    val out = fs.create(new Path(dir, "docid.range"), true)
    try out.write(s"$lo\n$hi\n".getBytes("UTF-8")) finally out.close()
  }

  def readRange(fs: FileSystem, delta: String): Option[(Long, Long)] = {
    val p = new Path(delta, "docid.range")
    if (!fs.exists(p)) None // pre-range delta: never pruned
    else {
      val in = fs.open(p)
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        Some((lines.head.toLong, lines(1).toLong))
      } finally in.close()
    }
  }

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
    * per-delta subdirectory holding one row per id (e.g. "doclen"). */
  def rejectDuplicateIds(spark: SparkSession, candidates: Seq[String],
                         sub: String, idCol: String, batch: DataFrame,
                         what: String): Unit =
    if (candidates.nonEmpty) {
      val existing = spark.read.parquet(candidates.map(d => s"$d/$sub"): _*)
        .select(col(idCol))
      val nDup = batch.select(idCol).join(existing, Seq(idCol), "left_semi").count()
      require(nDup == 0,
        s"update batch re-ingests $nDup existing ${idCol}s; append-only $what " +
          "maintenance would double-count them — upsert or rebuild instead")
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
    range.foreach { case (lo, hi) => writeRange(fs, staging, lo, hi) }
    def writeList(name: String, lines: Seq[String]): Unit = {
      val out = fs.create(new Path(staging, name), true)
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
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
    * next writer). Merged id range = union of the input ranges; if
    * ANY input predates range sidecars its span is unknown → omitted
    * (never-pruned) rather than wrong. Requires the store's
    * single-writer maintenance window. */
  def compact(spark: SparkSession, path: String)
             (restage: (Seq[String], String) => Unit): Unit = {
    val fs = fsOf(spark, path)
    // sweep a crashed earlier compaction's leftovers FIRST: they are
    // invisible below, so an early return must not strand them
    sweepStale(fs, path)
    val deltas = committedDeltas(spark, path)
    if (deltas.size <= 1) return
    val tag = "compact-" + java.util.UUID.randomUUID().toString
    val ranges = deltas.map(d => readRange(fs, d))
    val merged =
      if (ranges.forall(_.isDefined)) {
        val rs = ranges.flatten
        Some((rs.map(_._1).min, rs.map(_._2).max))
      } else None
    val names = deltas.map(d => new Path(d).getName)
    // cumulative tag history: the folded deltas' names plus everything
    // THEY had already absorbed — keeps isCommitted true for every tag
    // ever ingested, however many compactions later
    val history = (names ++
      deltas.flatMap(d => readLines(fs, new Path(d, "tags.history")))).distinct
    commit(spark, path, tag, merged, supersedes = names, history = history) {
      staging => restage(deltas, staging)
    }
    deltas.foreach(d => fs.delete(new Path(d), true))
  }
}
