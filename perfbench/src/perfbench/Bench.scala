package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Bench --workload <build|churn|selftest>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <k>`.
  *
  * One client thread drives graft in a closed loop. After set-up
  * (inputs, base stores, warm-up) the workload repeats whole rounds of
  * the same ops until `--seconds` have passed. The last
  * stdout line is the result JSON; the line before it lists ops
  * attempted and failed per op type. */
object Bench {
  /** Op types the traced run reports per-layer engine numbers for. */
  val OpKinds = Seq("shard", "merge", "query", "commit", "delete", "compact")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    if (workload == "selftest") {
      val errs = Okapi.selfTest()
      errs.foreach(e => System.err.println(s"selftest: $e"))
      println(if (errs.isEmpty) "selftest ok" else s"selftest FAILED (${errs.size})")
      sys.exit(if (errs.isEmpty) 0 else 1)
    }
    val seed = a("seed").toLong
    if (workload == "describe") { describe(seed); sys.exit(0) }
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath
    val cores = a.getOrElse("cores", "4").toInt
    val code =
      try { run(workload, seed, seconds, trace, work, cores); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  /** The input make-up a seed yields, as the workloads generate it. */
  private def describe(seed: Long): Unit = {
    val c = BuildWorkload.corpus(seed)
    val docs = 0L until BuildWorkload.Shards * BuildWorkload.ShardDocs
    val planted = docs.flatMap(d => c.sourceOf(d).map(s => (d, s)))
    val js = planted.map { case (d, s) => DedupCheck.jaccard(c.trigrams(c.tokens(d)), c.trigrams(c.tokens(s))) }
    val qs = c.queries(1, 256)
    val head = qs.count(_.exists(_ < Corpus.HeadRank))
    println(Json.obj(Seq(
      "seed" -> seed.toString,
      "vocab_terms" -> c.vocab.length.toString,
      "mean_doc_tokens" -> (docs.map(c.tokens(_).length).sum.toDouble / docs.size).toString,
      "planted_share" -> (planted.size.toDouble / docs.size).toString,
      "planted_min_jaccard" -> (if (js.isEmpty) "null" else js.min.toString),
      "queries" -> qs.size.toString,
      "mean_query_terms" -> (qs.map(_.size).sum.toDouble / qs.size).toString,
      "head_term_share" -> (head.toDouble / qs.size).toString)))
  }

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String, cores: Int): Unit = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      // bounded status-store retention, so driver heap tracks the
      // program's own state rather than how many jobs a run fitted in
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = if (trace) Some(new Tracer(spark, cores)) else None
      val h = new Harness(spark, work, tracer)
      val wl: Workload = workload match {
        case "build" => new BuildWorkload(h, seed)
        case "churn" => new ChurnWorkload(h, seed)
        case other => sys.error(s"unknown workload '$other'")
      }
      // set-up, everything before the first timed op, is charged in
      // CPU seconds of the whole JVM since it started
      wl.setup()
      wl.warmup()
      val setupS = Cpu.nanos / 1e9
      System.err.println(f"perfbench: set-up $setupS%.2f CPU s; wall so far ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val m0 = System.nanoTime()

      tracer.foreach(_.measureStart())
      h.timed = true
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var rounds = 0
      do { wl.round(rounds); rounds += 1 } while (System.nanoTime() < deadline)
      h.timed = false
      tracer.foreach(_.measureEnd())
      System.err.println(f"perfbench: $rounds round(s) in ${(System.nanoTime() - m0) / 1e9}%.2f s")
      wl.finish()

      // full collections with pauses between them, so the context
      // cleaner drops blocks of RDDs the first collection freed
      for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
      val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      val e2e: Seq[(String, Double, String)] =
        Seq(("setup_s", setupS, "s")) ++ wl.metrics() ++ Seq(("heap_retained_mb", heapMb, "MB"))
      val metrics: Seq[(String, Double, String)] = tracer match {
        case None => e2e
        case Some(t) =>
          println("traced-end-to-end " + Json.obj(e2e.map { case (n, v, u) => n -> Json.metric(v, u) }))
          t.stop()
          val s = t.summary()
          Layers.all.map { case (n, u) => (n, s.getOrElse(n, 0.0), u) }
      }
      metrics.foreach { case (n, v, _) => h.check(!v.isNaN && !v.isInfinite, s"metric $n is $v") }
      val attempted = h.attempted.values.sum
      val failed = h.failed.values.sum
      h.check(attempted > 0, "no op was attempted")
      // every failure must be one the workload expects, as often as it
      // expects it; a fault that is mended fails nothing
      val expected = wl.expectedFailures(rounds)
      for ((kind, errs) <- h.errors; (cls, n) <- errs)
        h.check(expected.get((kind, cls)).contains(n),
          s"$n failed '$kind' op(s) with $cls; expected ${expected.getOrElse((kind, cls), 0)}")
      println("ops " + Json.obj(h.attempted.keys.toSeq.map { k =>
        k -> Json.obj(Seq("attempted" -> h.attempted(k).toString,
          "p50_ms" -> (if (h.count(k) > 0) h.p50(k).toString else "null"),
          "cpu_p50_ms" -> (if (h.count(k) > 0) h.cpuP50(k).toString else "null"),
          "failed" -> h.failed.getOrElse(k, 0).toString,
          "errors" -> Json.obj(h.errors.getOrElse(k, mutable.Map.empty).toSeq.map { case (e, n) => e -> n.toString })))
      } ++ Seq("rounds" -> rounds.toString,
        "expected_failed" -> Json.obj(wl.expectedFailures(rounds).toSeq.map { case ((k, c), n) => s"$k $c" -> n.toString }))
        ++ wl.info()))
      h.problems.take(20).foreach(p => System.err.println(s"perfbench check failed: $p"))
      println(Json.obj(Seq(
        "correct" -> h.problems.isEmpty.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.metric(if (v.isNaN || v.isInfinite) 0.0 else v, u) }))))
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
    }
  }
}

/** CPU time of the whole benchmark JVM: driver, task threads, JIT and
  * GC; `setup_s` is charged in it. Unlike wall time it does not count
  * time the host gives other tenants' work (CPU steal). */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nanos: Long = os.getProcessCpuTime
}

/** Shared state of one run: op timing and failure accounting, checks,
  * and the optional tracer. */
final class Harness(val spark: SparkSession, val work: String, val tracer: Option[Tracer]) {
  var timed = false
  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
  private val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) taskCpuNs.addAndGet(m.executorDeserializeCpuTime + m.executorCpuTime)
    }
  })

  /** CPU nanoseconds spent so far on the program's own work: the client
    * thread's, the `helpers` threads' and every finished Spark task's.
    * JIT compilation, garbage collection and idle background threads
    * are left out. */
  private def workNanos(helpers: Seq[Long]): Long = {
    PerfbenchBus.drain(spark.sparkContext)
    threadMx.getCurrentThreadCpuTime + helpers.map(id => math.max(0L, threadMx.getThreadCpuTime(id))).sum +
      taskCpuNs.get
  }
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val cpuMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = mutable.LinkedHashMap.empty[String, Int]
  val failed = mutable.LinkedHashMap.empty[String, Int]
  val errors = mutable.LinkedHashMap.empty[String, mutable.Map[String, Int]]
  val problems = mutable.ArrayBuffer.empty[String]

  /** Run one op. Timed ops count toward attempted/failed and their wall
    * milliseconds and work CPU milliseconds ([[workNanos]], with
    * `helpers` the ids of threads that do the op's work while the client
    * thread waits) are kept; a failure is recorded with its exception
    * class and Spark error condition and yields None. */
  def op[A](kind: String, resultRows: A => Long = (_: A) => 0L, helpers: Seq[Long] = Nil)(f: => A): Option[A] = {
    val c0 = workNanos(helpers)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    val cpu = (workNanos(helpers) - c0) / 1e6
    if (timed) {
      attempted(kind) = attempted.getOrElse(kind, 0) + 1
      res match {
        case Right(a) =>
          latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
          cpuMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += cpu
          tracer.foreach(_.window(kind, w0, w1, resultRows(a)))
        case Left(e) =>
          failed(kind) = failed.getOrElse(kind, 0) + 1
          val cls = e.getClass.getSimpleName + (e match {
            case st: org.apache.spark.SparkThrowable if st.getCondition != null => s"[${st.getCondition}]"
            case _ => ""
          })
          val m = errors.getOrElseUpdate(kind, mutable.LinkedHashMap.empty)
          m(cls) = m.getOrElse(cls, 0) + 1
      }
    }
    res.toOption
  }

  def span[A](name: String)(f: => A): A = tracer match {
    case Some(t) if timed => t.span(name)(f)
    case _ => f
  }

  /** Work done only in the measured phase of the traced run, outside
    * every timed op. A probe that fails (as the one before churn's
    * post-rebuild query does, on the same stale listing) records
    * nothing. */
  def probe(f: Tracer => Unit): Unit =
    if (timed) tracer.foreach(t => try f(t) catch { case NonFatal(_) => () })

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def p50(kind: String): Double =
    latencies.get(kind).filter(_.nonEmpty).map(Stats.median(_)).getOrElse(Double.NaN)
  def cpuP50(kind: String): Double =
    cpuMs.get(kind).filter(_.nonEmpty).map(Stats.median(_)).getOrElse(Double.NaN)
  def cpuTotal(kind: String): Double = cpuMs.get(kind).map(_.sum).getOrElse(0.0)
  def count(kind: String): Int = latencies.get(kind).map(_.size).getOrElse(0)
}

trait Workload {
  /** Build inputs and base stores. */
  def setup(): Unit
  /** Untimed work before the first round. */
  def warmup(): Unit
  /** One whole round of timed ops. */
  def round(r: Int): Unit
  /** Checks that need the final state, after the last round. */
  def finish(): Unit
  def metrics(): Seq[(String, Double, String)]
  /** Failures the program's known faults cause in `rounds` rounds, by
    * (op type, error class). */
  def expectedFailures(rounds: Int): Map[(String, String), Int] = Map.empty
  /** Extra (name, JSON value) pairs for the ops line. */
  def info(): Seq[(String, String)] = Nil
}

/** Per-layer metric names and units (the traced run's output). */
object Layers {
  val all: Seq[(String, String)] =
    Bench.OpKinds.flatMap(k => Seq(s"$k.jobs" -> "count", s"$k.tasks" -> "count",
      s"$k.task_cpu_ms" -> "ms", s"$k.task_gc_ms" -> "ms", s"$k.driver_gap_ms" -> "ms",
      s"$k.slot_busy" -> "ratio", s"$k.input_bytes" -> "B", s"$k.shuffle_bytes" -> "B",
      s"$k.output_bytes" -> "B", s"$k.spill_bytes" -> "B")) ++ Seq(
      "Text.tokenize_ms" -> "ms",
      "DedupStore.build_ms" -> "ms", "DedupStore.candidates" -> "count",
      "DedupStore.verified_per_candidate" -> "ratio", "DedupStore.merge_ms" -> "ms",
      "Bm25Index.build_ms" -> "ms", "Bm25Index.merge_ms" -> "ms",
      "Bm25Index.resolve_ms" -> "ms", "Bm25Index.rows_read_per_result" -> "ratio",
      "Bm25Index.exact_ms" -> "ms", "Bm25Index.prune_gain" -> "ratio",
      "Sinks.upsert_ms" -> "ms", "Sinks.rewrite_bytes_per_new_byte" -> "ratio",
      "DeltaStore.list_ms" -> "ms", "DeltaStore.live_deltas" -> "count",
      "DeltaStore.store_files" -> "count",
      "Streams.plan_ms" -> "ms", "Streams.source_ms" -> "ms", "Streams.wal_ms" -> "ms",
      "Streams.add_batch_ms" -> "ms",
      "jvm.gc_ms" -> "ms")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** Values are already-rendered JSON. */
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metric(v: Double, unit: String): String = obj(Seq("value" -> v.toString, "unit" -> str(unit)))
}
