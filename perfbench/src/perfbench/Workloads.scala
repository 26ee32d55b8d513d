package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

import graft.operators.{Bm25, Bm25Index, DedupStore}
import graft.sources.{DeltaStore, Sinks}

/** File and input helpers shared by the workloads. */
object Io {
  def writeDocs(h: Harness, corpus: Corpus, ids: Seq[Long], path: String, parts: Int): Unit = {
    val spark = h.spark
    import spark.implicits._
    spark.sparkContext.parallelize(ids.map(id => (id, corpus.text(id))), parts)
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
  }

  private def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new File(dir))
  }
  /** Bytes of the data files under `dir` (checksums and markers excluded). */
  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum
  def files(dir: String): Int = dataFiles(dir).size

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  def deltaNames(store: String): Set[String] =
    Option(new File(store).listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("delta-")).toSet

  /** Traced-run probe of the store listing every op starts with. */
  def listProbe(h: Harness, store: String): Unit = h.probe { t =>
    val d = t.span("DeltaStore.committedDeltas")(DeltaStore.committedDeltas(h.spark, store))
    t.value("DeltaStore.live_deltas", d.size)
  }

  def tokenizeProbe(h: Harness, docs: => DataFrame): Unit = h.probe { t =>
    t.span("Text.tokenize")(Bm25.tf(docs).write.format("noop").mode("overwrite").save())
  }

  def ids(h: Harness, ids: Seq[Long]): DataFrame = {
    val spark = h.spark
    import spark.implicits._
    ids.toDF("doc_id")
  }

  def topRows(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Any]("doc_id").toString.toLong, r.getAs[Double]("score")))
}

/** Timed top-10 queries through `Bm25Index.blockMaxTopN`, each result
  * checked against an [[Okapi]] scorer of the same live documents. The
  * traced run also times the store listing, the live-view resolution
  * and the unpruned `searchTopN` on the same query. */
final class Queries(h: Harness, corpus: Corpus) {
  val pool: IndexedSeq[Seq[Int]] = corpus.queries(1, 256)
  private var next = 0

  def run(store: String, okapi: Okapi): Unit = {
    val q = pool(next % pool.size)
    next += 1
    val terms = q.map(corpus.vocab)
    Io.listProbe(h, store)
    h.probe { t =>
      t.span("Bm25Index.liveServe")(Bm25Index.liveServe(h.spark, store))
      t.span("Bm25Index.searchTopN")(Bm25Index.searchTopN(h.spark, store, terms, 10).collect())
    }
    h.op[Array[Row]]("query", _.length.toLong) {
      h.span("Bm25Index.blockMaxTopN")(Bm25Index.blockMaxTopN(h.spark, store, terms, 10).collect())
    }.foreach { rows =>
      okapi.check(q, 10, Io.topRows(rows)).foreach(e => h.check(false, s"query '${terms.mkString(" ")}': $e"))
    }
  }
}

/** `build`: per shard a dedup store, a BM25 store and an upsert of the
  * shard's tf profiles into one shared per-doc table; then a shard
  * merge of both store kinds, a delete of the near-duplicates the
  * merged dedup store verified, and queries on the merged index; and a
  * dedup build of a fixed probe corpus whose planted-pair recall is
  * held to the LSH S-curve. */
object BuildWorkload {
  val Shards = 2
  val ShardDocs = 500
  val QueriesPerRound = 3
  /** Jaccard at or above which the later doc of a verified pair is
    * deleted from the merged index. */
  val DropJaccard = 0.9
  def corpus(seed: Long) = new Corpus(seed, shardSize = ShardDocs, plantRate = 0.03,
    plantLimit = Shards.toLong * ShardDocs)

  /** The recall probe's corpus: two halves of 100 docs, half of them
    * planted near-duplicates of the other half. Its seed is fixed, so
    * the probe's outcome is the same whatever `--seed` is. */
  val ProbeDocs = 200
  val probeCorpus = new Corpus(0x5eed5eedL, shardSize = ProbeDocs / 2, plantRate = 0.5,
    plantLimit = ProbeDocs.toLong)
  /** The probe fails when the S-curve gives finding that few planted
    * pairs a chance below this. */
  val MinRecallChance = 1e-3
}

/** A dedup store found fewer planted pairs than MinHash LSH finds but
  * with the given chance. */
final class RecallBelowSCurve(found: Int, planted: Int, chance: Double)
  extends Exception(s"$found of $planted planted pairs found; S-curve chance $chance")

final class BuildWorkload(h: Harness, seed: Long) extends Workload {
  import BuildWorkload._
  private val spark = h.spark
  private val n = Shards * ShardDocs
  private val corpus = BuildWorkload.corpus(seed)
  private val queries = new Queries(h, corpus)
  private var okapi: Okapi = _
  private val input = s"${h.work}/build/input"
  private var inputBytes = 0L
  private var mergedDocs = 0L
  private var last: (String, String, String) = ("", "", "")
  private var lastBytes = 0L
  private var pairs: Array[(Long, Long, Long, Long, Long)] = Array.empty
  private val probe = BuildWorkload.probeCorpus
  private val probePairs: Seq[(Long, Long)] = (0L until ProbeDocs)
    .flatMap(d => probe.sourceOf(d).map(s => (math.min(d, s), math.max(d, s))))
  private val probeJaccards: Seq[Double] = probePairs.map { case (a, b) =>
    DedupCheck.jaccard(probe.trigrams(probe.tokens(a)), probe.trigrams(probe.tokens(b))) }
  /** (found, planted, S-curve chance of finding that few) of the last
    * recall probe. */
  private var recall: (Int, Int, Double) = (0, 0, 1.0)

  private def shardIds(i: Int) = (i.toLong * ShardDocs) until ((i + 1).toLong * ShardDocs)
  private def docs(i: Int): DataFrame = spark.read.parquet(s"$input/shard-$i")

  def setup(): Unit = {
    (0 until Shards).foreach(i => Io.writeDocs(h, corpus, shardIds(i), s"$input/shard-$i", 4))
    inputBytes = Io.bytes(input)
    Io.writeDocs(h, probe, 0L until ProbeDocs, s"$input/probe", 4)
  }

  /** A build job runs in a fresh session: its round is timed cold. */
  def warmup(): Unit = ()

  def round(r: Int): Unit = {
    val base = s"${h.work}/build/r$r"
    Io.delete(s"${h.work}/build/r${r - 1}")
    okapi = new Okapi(queries.pool.flatten.distinct)
    (0L until n).foreach(id => okapi.add(id, corpus.tokens(id)))
    val table = s"$base/perdoc"
    for (i <- 0 until Shards) {
      Io.tokenizeProbe(h, docs(i))
      val before = Io.bytes(table)
      h.op("shard") {
        h.span("DedupStore.build")(DedupStore.build(docs(i), s"$base/dedup-$i"))
        h.span("Bm25Index.build")(Bm25Index.build(docs(i), s"$base/bm25-$i"))
        h.span("Sinks.upsertParquet")(Sinks.upsertParquet(spark,
          Bm25.tfProfiles(docs(i)).withColumn("v", lit(r)), table, Seq("doc_id"), "v"))
      }
      h.probe { t =>
        val after = Io.bytes(table)
        if (after > before) t.value("Sinks.rewrite_bytes_per_new_byte", after.toDouble / (after - before))
      }
    }
    // pairwise merges in id order until one store of each kind is left
    var level = (0 until Shards).map(i => (s"$base/bm25-$i", s"$base/dedup-$i", ShardDocs.toLong))
    var m = 0
    while (level.size > 1) {
      level = level.grouped(2).map { case Seq(a, b) =>
        val dest = (s"$base/bm25-m$m", s"$base/dedup-m$m", a._3 + b._3)
        m += 1
        Io.listProbe(h, a._1)
        Io.listProbe(h, b._1)
        h.op("merge") {
          h.span("Bm25Index.mergeStores")(Bm25Index.mergeStores(spark, a._1, b._1, dest._1))
          h.span("DedupStore.mergeStores")(DedupStore.mergeStores(spark, a._2, b._2, dest._2))
        }.foreach(_ => if (h.timed) mergedDocs += dest._3)
        dest
      }.toVector
    }
    val (bm, dd, _) = level.head
    last = (bm, dd, table)
    // drop the later doc of every verified near-duplicate pair from the
    // merged index, then serve from it
    pairs = DedupStore.pairStats(spark, dd).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("inter"),
        r.getAs[Long]("na"), r.getAs[Long]("nb")))
    h.probe { t =>
      val cands = DedupStore.candidates(spark, dd).count()
      t.value("DedupStore.candidates", cands)
      if (cands > 0) t.value("DedupStore.verified_per_candidate",
        pairs.count { case (_, _, i, na, nb) => i.toDouble / (na + nb - i) >= 0.8 }.toDouble / cands)
    }
    val drop = pairs.filter { case (_, _, i, na, nb) => i.toDouble / (na + nb - i) >= DropJaccard }
      .map(_._2).distinct.toSeq
    h.check(drop.nonEmpty, "the merged dedup store verified no near-duplicate")
    if (drop.nonEmpty) {
      Io.listProbe(h, bm)
      h.op("delete")(Bm25Index.delete(Io.ids(h, drop), bm, "dedup")).foreach(_ => drop.foreach(okapi.remove))
    }
    (0 until QueriesPerRound).foreach(_ => queries.run(bm, okapi))
    lastBytes = Io.bytes(bm) + Io.bytes(dd) + Io.bytes(table)
    h.probe(t => t.value("DeltaStore.store_files", Io.files(bm) + Io.files(dd)))
    recallProbe(s"$base/probe")
  }

  /** Builds a dedup store of the probe corpus and fails when its
    * planted-pair recall falls below the S-curve of 16 permutations in
    * bands of 4 rows. */
  private def recallProbe(path: String): Unit = h.op("recall") {
    DedupStore.build(spark.read.parquet(s"$input/probe"), path)
    val found = DedupStore.pairStats(spark, path).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nFound = probePairs.count(found.contains)
    val chance = DedupCheck.recallPValue(nFound, probeJaccards,
      DedupStore.NumPerm / DedupStore.RowsPerBand, DedupStore.RowsPerBand)
    recall = (nFound, probePairs.size, chance)
    if (chance < MinRecallChance) throw new RecallBelowSCurve(nFound, probePairs.size, chance)
  }

  def finish(): Unit = checkLast()

  /** graft's 16 MinHash functions pick nearly the same shingle, so the
    * probe's recall is about the pairs' Jaccard, below the S-curve. */
  override def expectedFailures(rounds: Int): Map[(String, String), Int] =
    Map(("recall", "RecallBelowSCurve") -> rounds)

  override def info(): Seq[(String, String)] = Seq("probe_pairs" -> Json.obj(Seq(
    "found" -> recall._1.toString, "planted" -> recall._2.toString,
    "s_curve_chance" -> recall._3.toString)))

  /** Checks the last round's merged dedup store and per-doc table
    * against the generator (its queries were checked as they ran). */
  private def checkLast(): Unit = {
    val (_, _, table) = last
    val tri = mutable.LongMap.empty[Set[Long]]
    def t3(id: Long) = tri.getOrElseUpdate(id, corpus.trigrams(corpus.tokens(id)))
    pairs.foreach { case (a, b, inter, na, nb) =>
      val want = (t3(a).intersect(t3(b)).size.toLong, t3(a).size.toLong, t3(b).size.toLong)
      h.check((inter, na, nb) == want, s"dedup pair ($a, $b): (inter, na, nb) = ${(inter, na, nb)}, expected $want")
    }
    val profiles = spark.read.parquet(table).select("doc_id", "profile").collect()
    h.check(profiles.length == n, s"per-doc table holds ${profiles.length} rows, expected $n")
    profiles.foreach { r =>
      val id = r.getLong(0)
      val want = corpus.tokens(id).groupBy(identity).toSeq
        .map { case (t, xs) => (corpus.vocab(t), xs.length) }
        .sortBy { case (t, c) => (-c, t) }.map { case (t, c) => s"($t,$c)" }.mkString("\n")
      h.check(r.getString(1) == want, s"per-doc profile of doc $id differs")
    }
  }

  def metrics(): Seq[(String, Double, String)] = Seq(
    ("docs_per_cpu_s", h.count("shard") * ShardDocs / (h.cpuTotal("shard") / 1000), "docs/s"),
    ("merge_docs_per_cpu_s", mergedDocs / (h.cpuTotal("merge") / 1000), "docs/s"),
    ("query_cpu_ms", h.cpuP50("query"), "ms"),
    ("query_p50_ms", h.p50("query"), "ms"),
    ("delete_cpu_ms", h.cpuP50("delete"), "ms"),
    ("index_bytes_per_input_byte", lastBytes.toDouble / inputBytes, "B/B"))
}

/** `churn`: a stream commit, a tombstone delete, a compaction and a
  * rebuild in place, each followed by a query, against one store fed
  * by a long-running `Streams.indexIngest` query. */
final class ChurnWorkload(h: Harness, seed: Long) extends Workload {
  val BaseDocs = 1000
  val BatchDocs = 100
  val DeleteDocs = 25
  private val spark = h.spark
  private val corpus = new Corpus(seed)
  private val queries = new Queries(h, corpus)
  private val okapi = {
    val o = new Okapi(queries.pool.flatten.distinct)
    (0L until BaseDocs).foreach(id => o.add(id, corpus.tokens(id)))
    o
  }
  private val dir = s"${h.work}/churn"
  private val store = s"$dir/store"
  private val live = mutable.TreeSet.empty[Long] ++ (0L until BaseDocs)
  private var nextId = BaseDocs.toLong
  private var batchNo = 0
  private var lastBatch: Seq[Long] = Nil
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private var liveBytes = 0L
  private var committedDocs = 0L
  private var compactedDocs = 0L

  def setup(): Unit = {
    Io.writeDocs(h, corpus, 0L until BaseDocs, s"$dir/base", 4)
    Bm25Index.build(spark.read.parquet(s"$dir/base"), store)
  }

  def warmup(): Unit = {
    val schema = spark.read.parquet(s"$dir/base").schema
    new File(s"$dir/src").mkdirs()
    stream = graft.streaming.Streams.indexIngest(spark,
      spark.readStream.schema(schema).parquet(s"$dir/src"), store, s"$dir/ckpt")
    // a reader of the freshly built base store; this also memoizes the
    // delta-00000 listing that goes stale at every rebuild in place
    queries.run(store, okapi)
  }

  /** The stream's execution thread: it plans and commits each batch
    * while the client thread waits in `processAllAvailable`. */
  private lazy val streamThreads: Seq[Long] = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
    .filter(_.getName.startsWith("stream execution thread for")).map(_.getId).toSeq
      .ensuring(_.nonEmpty, "no stream execution thread")

  private def commit(): Unit = {
    val ids = nextId until nextId + BatchDocs
    nextId += BatchDocs
    batchNo += 1
    val staged = s"$dir/stage/b$batchNo"
    Io.writeDocs(h, corpus, ids, staged, 1)
    Io.tokenizeProbe(h, spark.read.parquet(staged))
    val part = new File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    val before = Io.deltaNames(store)
    Io.listProbe(h, store)
    h.op("commit", helpers = streamThreads) {
      // timed from the file's atomic arrival to its delta's commit, the
      // point where the batch is searchable
      java.nio.file.Files.move(part.toPath, new File(s"$dir/src/b$batchNo.parquet").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val limit = System.nanoTime() + 120L * 1000000000L
      stream.processAllAvailable()
      while ((Io.deltaNames(store) -- before).isEmpty) {
        require(System.nanoTime() < limit, s"batch $batchNo was not committed")
        Thread.sleep(1)
        stream.processAllAvailable()
      }
    }.foreach { _ =>
      ids.foreach(id => okapi.add(id, corpus.tokens(id)))
      live ++= ids
      lastBatch = ids
      if (h.timed) committedDocs += BatchDocs
    }
  }

  private def delete(): Unit = {
    val rnd = new java.util.Random(Corpus.mix(seed, batchNo))
    val ids = rnd.ints(0, lastBatch.size).distinct().limit(DeleteDocs).toArray.map(i => lastBatch(i)).toSeq
    val df = Io.ids(h, ids)
    Io.listProbe(h, store)
    h.op("delete")(Bm25Index.delete(df, store, s"del-$batchNo")).foreach { _ =>
      ids.foreach(okapi.remove)
      live --= ids
    }
  }

  def round(r: Int): Unit = {
    commit(); queries.run(store, okapi)
    delete(); queries.run(store, okapi)
    Io.listProbe(h, store)
    val nLive = live.size
    h.op("compact")(Bm25Index.compactDeltas(spark, store))
      .foreach(_ => if (h.timed) compactedDocs += nLive)
    queries.run(store, okapi)
    val liveDir = s"$dir/live-$r"
    Io.delete(s"$dir/live-${r - 1}")
    Io.writeDocs(h, corpus, live.toSeq, liveDir, 4)
    liveBytes = Io.bytes(liveDir)
    Io.listProbe(h, store)
    h.op("rebuild")(h.span("Bm25Index.build")(Bm25Index.build(spark.read.parquet(liveDir), store)))
    // fails while DeltaStore.readRelation serves the memoized listing of
    // the pre-rebuild delta-00000
    queries.run(store, okapi)
  }

  def finish(): Unit = {
    stream.stop()
    h.tracer.foreach(_.value("DeltaStore.store_files", Io.files(store)))
  }

  override def expectedFailures(rounds: Int): Map[(String, String), Int] =
    Map(("query", "SparkException[FAILED_READ_FILE.FILE_NOT_EXIST]") -> rounds)

  def metrics(): Seq[(String, Double, String)] = Seq(
    ("docs_per_cpu_s", committedDocs / (h.cpuTotal("commit") / 1000), "docs/s"),
    ("merge_docs_per_cpu_s", compactedDocs / (h.cpuTotal("compact") / 1000), "docs/s"),
    ("query_cpu_ms", h.cpuP50("query"), "ms"),
    ("query_p50_ms", h.p50("query"), "ms"),
    ("delete_cpu_ms", h.cpuP50("delete"), "ms"),
    ("index_bytes_per_input_byte", Io.bytes(store).toDouble / liveBytes, "B/B"))
}
