package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DeltaStore

/** The delta-commit protocol invariants, including the compaction
  * crash window: a committed compact delta hides its inputs from
  * readers IMMEDIATELY (supersedes sidecar), so a crash between the
  * commit rename and the input deletion never double-counts. */
class DeltaStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def newStore(): String =
    java.nio.file.Files.createTempDirectory("deltastore").toString + "/store"

  private def writeDelta(path: String, tag: String, ids: Seq[Long]): Unit = {
    val df = ids.toDF("id")
    // route through batchRange exactly like the index update paths do
    // (it carries the intra-batch duplicate check)
    val (_, lo, hi) = DeltaStore.batchRange(df, "id")
    DeltaStore.commit(spark, path, tag, Some((lo, hi))) { staging =>
      df.write.parquet(s"$staging/rows")
    }
  }

  private def visibleIds(path: String): Seq[Long] = {
    val deltas = DeltaStore.committedDeltas(spark, path)
    if (deltas.isEmpty) Seq.empty
    else spark.read.parquet(deltas.map(d => s"$d/rows"): _*)
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("a committed compact delta hides its inputs even before they are deleted (crash window)") {
    val store = newStore()
    writeDelta(store, "00000", Seq(1L, 2L))
    writeDelta(store, "00001", Seq(3L, 4L))
    // simulate the crash: commit the compacted delta WITH the
    // supersedes sidecar but never delete the inputs (DeltaStore
    // .compact would; a crash right after the rename would not)
    val inputs = DeltaStore.committedDeltas(spark, store)
    DeltaStore.commit(spark, store, "compact-x", Some((1L, 4L)),
      supersedes = inputs.map(d => new org.apache.hadoop.fs.Path(d).getName)) { staging =>
      spark.read.parquet(inputs.map(d => s"$d/rows"): _*)
        .write.parquet(s"$staging/rows")
    }
    // the stale input dirs still exist on disk...
    val fs = DeltaStore.fsOf(spark, store)
    assert(inputs.forall(d => fs.exists(new org.apache.hadoop.fs.Path(d))))
    // ...but readers see each row exactly once
    assert(visibleIds(store) == Seq(1L, 2L, 3L, 4L))
    assert(DeltaStore.committedDeltas(spark, store).size == 1)
    // the next writer sweeps the stale dirs as part of its commit
    writeDelta(store, "00002", Seq(5L))
    assert(inputs.forall(d => !fs.exists(new org.apache.hadoop.fs.Path(d))),
      "stale superseded deltas were not swept by the next commit")
    assert(visibleIds(store) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("DeltaStore.compact end-to-end: one delta, union content, range merged") {
    val store = newStore()
    writeDelta(store, "a", Seq(10L))
    writeDelta(store, "b", Seq(20L))
    writeDelta(store, "c", Seq(30L))
    DeltaStore.compact(spark, store) { (deltas, staging) =>
      spark.read.parquet(deltas.map(d => s"$d/rows"): _*)
        .write.parquet(s"$staging/rows")
    }
    val remaining = DeltaStore.committedDeltas(spark, store)
    assert(remaining.size == 1)
    assert(visibleIds(store) == Seq(10L, 20L, 30L))
    assert(DeltaStore.readRange(DeltaStore.fsOf(spark, store), remaining.head)
      .contains((10L, 30L)))
  }

  test("a compaction with a delete delta among its inputs keeps the update deltas' id range") {
    import graft.operators.Bm25Index
    val store = newStore()
    val docs = (0L until 20L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    Bm25Index.build(docs.filter($"doc_id" < 10), store)
    Bm25Index.update(docs.filter($"doc_id" >= 10), store, "00001")
    // a delete delta commits with no range of its own
    Bm25Index.delete(Seq(3L, 12L).toDF("doc_id"), store, "del-01")
    Bm25Index.compactDeltas(spark, store)
    val Seq(folded) = DeltaStore.committedDeltas(spark, store)
    assert(DeltaStore.readRange(DeltaStore.fsOf(spark, store), folded).contains((0L, 19L)))
  }

  test("a tag folded away by compaction still reads as committed (streaming replay after compact)") {
    val store = newStore()
    writeDelta(store, "batch-00000", Seq(1L))
    writeDelta(store, "batch-00001", Seq(2L))
    DeltaStore.compact(spark, store) { (deltas, staging) =>
      spark.read.parquet(deltas.map(d => s"$d/rows"): _*)
        .write.parquet(s"$staging/rows")
    }
    // the tags' delta dirs are gone, but a checkpoint replay of either
    // batch must still be a no-op, not a duplicate-id crash loop
    assert(DeltaStore.isCommitted(spark, store, "batch-00000"))
    assert(DeltaStore.isCommitted(spark, store, "batch-00001"))
    assert(!DeltaStore.isCommitted(spark, store, "batch-00002"))
    // ...and the history survives a SECOND compaction
    writeDelta(store, "batch-00002", Seq(3L))
    DeltaStore.compact(spark, store) { (deltas, staging) =>
      spark.read.parquet(deltas.map(d => s"$d/rows"): _*)
        .write.parquet(s"$staging/rows")
    }
    assert(DeltaStore.isCommitted(spark, store, "batch-00000"))
    assert(DeltaStore.isCommitted(spark, store, "batch-00002"))
    assert(visibleIds(store) == Seq(1L, 2L, 3L))
    // end-to-end: the Bm25Index ingest path takes the replay no-op
    val idx = newStore()
    val docs = graft.sources.Tables.documents(spark, sf)
    graft.operators.Bm25Index.build(docs.filter(org.apache.spark.sql.functions.col("doc_id") < 100), idx)
    graft.operators.Bm25Index.update(docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 100), idx, "b1")
    graft.operators.Bm25Index.compactDeltas(spark, idx)
    graft.operators.Bm25Index.update(docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 100), idx, "b1") // replay: no-op, no throw
    val scored = graft.operators.Bm25Index.score(spark, idx).count()
    assert(scored > 0)
  }

  private def memoIds(paths: Seq[String]): Seq[Long] =
    DeltaStore.readRelation(spark, paths).collect().map(_.getLong(0)).toSeq.sorted

  test("reset then a same-tag re-commit invalidates the readRelation memo") {
    val store = newStore()
    writeDelta(store, "00000", Seq(1L, 2L))
    // both path forms callers pass: listed (file:/…) and constructed (/…)
    val listed = DeltaStore.committedDeltas(spark, store).map(d => s"$d/rows")
    val raw = Seq(s"$store/delta-00000/rows")
    assert(memoIds(listed) == Seq(1L, 2L))
    assert(memoIds(raw) == Seq(1L, 2L))
    // the rebuild: same root, same tag, same path set — new part files
    DeltaStore.reset(spark, store)
    writeDelta(store, "00000", Seq(7L, 8L, 9L))
    assert(DeltaStore.committedDeltas(spark, store).map(d => s"$d/rows") == listed)
    assert(memoIds(listed) == Seq(7L, 8L, 9L))
    assert(memoIds(raw) == Seq(7L, 8L, 9L))
  }

  test("a re-commit invalidates the memo for its delta even when the store was deleted outside reset") {
    val store = newStore()
    writeDelta(store, "00000", Seq(1L))
    writeDelta(store, "00001", Seq(2L))
    val paths = DeltaStore.committedDeltas(spark, store).map(d => s"$d/rows")
    assert(memoIds(paths) == Seq(1L, 2L))
    DeltaStore.fsOf(spark, store).delete(new org.apache.hadoop.fs.Path(store), true)
    writeDelta(store, "00000", Seq(3L))
    writeDelta(store, "00001", Seq(4L, 5L))
    assert(memoIds(paths) == Seq(3L, 4L, 5L))
  }

  /** Memo keys that name `deltas` or a path under them. */
  private def memoOver(deltas: Seq[String]): Seq[String] = {
    val fs = DeltaStore.fsOf(spark, deltas.head)
    val qs = deltas.map(d => fs.makeQualified(new org.apache.hadoop.fs.Path(d)).toString)
    DeltaStore.memoKeys(spark).flatten
      .filter(p => qs.exists(q => p == q || p.startsWith(q + "/")))
  }

  test("stagedOnce clears stale files and memoized relations on first touch, then builds once") {
    val path = newStore()
    writeDelta(path, "00000", Seq(1L))
    val stale = DeltaStore.committedDeltas(spark, path)
    assert(memoIds(stale.map(d => s"$d/rows")) == Seq(1L))
    assert(memoOver(stale).nonEmpty)
    var builds = 0
    def stage(): String = DeltaStore.stagedOnce(spark, path) { p =>
      builds += 1
      Seq(7L).toDF("id").write.parquet(s"$p/fresh")
    }
    assert(stage() == path)
    val fs = DeltaStore.fsOf(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stale.head)), "stale file survived first touch")
    assert(memoOver(stale).isEmpty, "a memoized relation outlived the files it named")
    assert(stage() == path)
    assert(builds == 1)
    assert(spark.read.parquet(s"$path/fresh").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("compaction and the stale sweep forget the memoized relations over the deltas they delete") {
    val store = newStore()
    writeDelta(store, "00000", Seq(1L))
    writeDelta(store, "00001", Seq(2L))
    val folded = DeltaStore.committedDeltas(spark, store)
    assert(memoIds(folded.map(d => s"$d/rows")) == Seq(1L, 2L))
    assert(memoIds(Seq(s"${folded.head}/rows")).size == 1)
    assert(memoOver(folded).nonEmpty)
    DeltaStore.compact(spark, store) { (deltas, staging) =>
      DeltaStore.readRelation(spark, deltas.map(d => s"$d/rows"))
        .write.parquet(s"$staging/rows")
    }
    assert(memoOver(folded).isEmpty,
      s"memo keys still name folded deltas: ${memoOver(folded)}")
    assert(visibleIds(store) == Seq(1L, 2L))
    // a crashed compaction's inputs are deleted by the next writer's
    // sweep — which must forget their memo entries too
    writeDelta(store, "00002", Seq(3L))
    val inputs = DeltaStore.committedDeltas(spark, store)
    assert(memoIds(inputs.map(d => s"$d/rows")) == Seq(1L, 2L, 3L))
    DeltaStore.commit(spark, store, "compact-x", Some((1L, 3L)),
      supersedes = inputs.map(d => new org.apache.hadoop.fs.Path(d).getName)) { staging =>
      spark.read.parquet(inputs.map(d => s"$d/rows"): _*).write.parquet(s"$staging/rows")
    }
    writeDelta(store, "00003", Seq(4L))
    assert(memoOver(inputs).isEmpty,
      s"memo keys still name swept deltas: ${memoOver(inputs)}")
    assert(visibleIds(store) == Seq(1L, 2L, 3L, 4L))
  }

  test("a batch holding the same id twice is rejected before commit") {
    val store = newStore()
    writeDelta(store, "ok", Seq(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      writeDelta(store, "dup", Seq(3L, 3L))
    }
    assert(e.getMessage.contains("within itself"), e.getMessage)
    // nothing was committed for the bad tag
    assert(!DeltaStore.isCommitted(spark, store, "dup"))
    assert(visibleIds(store) == Seq(1L, 2L))
  }

  test("boolean search tolerates duplicated must-terms (review fix)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val once = graft.operators.SearchExtras.booleanSearch(docs,
      must = Seq("spark"), any = Nil, none = Nil)
      .collect().map(_.getLong(0)).toSet
    val duped = graft.operators.SearchExtras.booleanSearch(docs,
      must = Seq("spark", "spark"), any = Nil, none = Nil)
      .collect().map(_.getLong(0)).toSet
    assert(once.nonEmpty && duped == once,
      "duplicated must-term changed the result set")
    // sanity: matches the direct containment check
    val expect = graft.operators.Bm25.tokenize(docs)
      .filter(col("term") === "spark").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(once == expect)
  }
}
