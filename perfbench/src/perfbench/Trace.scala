package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Task numbers come from
  * `SparkListenerTaskEnd` task metrics (not SQL-metric accumulators);
  * jobs and tasks are attributed to the timed op whose wall-clock
  * window holds the job's submission, which is exact because ops run
  * one at a time. Spans around the benchmark's calls into graft and the
  * streaming progress reports are kept in memory and summarized when
  * the run ends. */
final class Tracer(spark: SparkSession, slots: Int) {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                                cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
                                shuffleBytes: Long, outBytes: Long, spillBytes: Long)
  private final case class Window(kind: String, t0: Long, t1: Long, resultRows: Long)

  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val windows = mutable.ArrayBuffer.empty[Window]
  private val spans = mutable.ArrayBuffer.empty[(String, Double)]
  private val progress = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()
  private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobSubmit.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (measuring && e.progress.numInputRows > 0) progress.add(e.progress.durationMs)
  }
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gcAtStart = 0L
  private var gcAtEnd = 0L
  @volatile private var measuring = false
  def measureStart(): Unit = { gcAtStart = gcMs; measuring = true }
  def measureEnd(): Unit = { gcAtEnd = gcMs; measuring = false }

  def window(kind: String, t0: Long, t1: Long, resultRows: Long): Unit =
    synchronized { windows += Window(kind, t0, t1, resultRows) }

  /** Time one call into a layer. */
  def span[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally synchronized { spans += name -> (System.nanoTime() - t0) / 1e6 }
  }

  /** Record one observation of a per-layer value (a count or ratio). */
  def value(name: String, v: Double): Unit =
    synchronized { values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Every per-layer metric; a layer a workload does not exercise
    * reads 0. */
  def summary(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ws = synchronized(windows.toVector).sortBy(_.t0)
    val t0s = ws.map(_.t0).toArray
    def windowOf(t: Long): Option[Int] = {
      val i = java.util.Arrays.binarySearch(t0s, t)
      val j = if (i >= 0) i else -i - 2
      if (j >= 0 && t <= ws(j).t1) Some(j) else None
    }
    val jobWin = jobSubmit.asScala.flatMap { case (j, t) => windowOf(t).map(j -> _) }
    val jobsPer = Array.fill(ws.size)(0)
    jobWin.values.foreach(w => jobsPer(w) += 1)
    val tasksPer = Array.fill(ws.size)(mutable.ArrayBuffer.empty[Task])
    tasks.asScala.foreach { t =>
      Option(stageJob.get(t.stage)).flatMap(j => jobWin.get(j.intValue)).foreach(w => tasksPer(w) += t)
    }
    for (kind <- Bench.OpKinds) {
      val idx = ws.indices.filter(i => ws(i).kind == kind)
      val n = idx.size.toDouble
      def mean(f: Int => Double): Double = if (n == 0) 0.0 else idx.map(f).sum / n
      def sumT(i: Int, f: Task => Double): Double = tasksPer(i).map(f).sum
      val wall = idx.map(i => (ws(i).t1 - ws(i).t0).toDouble).sum
      out(s"$kind.jobs") = mean(i => jobsPer(i).toDouble)
      out(s"$kind.tasks") = mean(i => tasksPer(i).size.toDouble)
      out(s"$kind.task_cpu_ms") = mean(i => sumT(i, _.cpuNs / 1e6))
      out(s"$kind.task_gc_ms") = mean(i => sumT(i, _.gcMs.toDouble))
      out(s"$kind.driver_gap_ms") = mean(i => driverGap(ws(i), tasksPer(i)))
      out(s"$kind.slot_busy") =
        if (wall == 0) 0.0 else idx.map(i => sumT(i, _.runMs.toDouble)).sum / (wall * slots)
      out(s"$kind.input_bytes") = mean(i => sumT(i, _.inBytes.toDouble))
      out(s"$kind.shuffle_bytes") = mean(i => sumT(i, _.shuffleBytes.toDouble))
      out(s"$kind.output_bytes") = mean(i => sumT(i, _.outBytes.toDouble))
      out(s"$kind.spill_bytes") = mean(i => sumT(i, _.spillBytes.toDouble))
    }
    val sp = synchronized(spans.toVector).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def med(name: String): Double = sp.get(name).map(Stats.median).getOrElse(0.0)
    def vmean(name: String): Double =
      synchronized(values.get(name)).filter(_.nonEmpty).map(v => v.sum / v.size).getOrElse(0.0)
    out("Text.tokenize_ms") = med("Text.tokenize")
    out("DedupStore.build_ms") = med("DedupStore.build")
    out("DedupStore.candidates") = vmean("DedupStore.candidates")
    out("DedupStore.verified_per_candidate") = vmean("DedupStore.verified_per_candidate")
    out("DedupStore.merge_ms") = med("DedupStore.mergeStores")
    out("Bm25Index.build_ms") = med("Bm25Index.build")
    out("Bm25Index.merge_ms") = med("Bm25Index.mergeStores")
    out("Bm25Index.resolve_ms") = med("Bm25Index.liveServe")
    val queryIdx = ws.indices.filter(i => ws(i).kind == "query")
    val rowsRead = queryIdx.map(i => tasksPer(i).map(_.inRecords.toDouble).sum).sum
    val rowsOut = queryIdx.map(i => ws(i).resultRows.toDouble).sum
    out("Bm25Index.rows_read_per_result") = if (rowsOut == 0) 0.0 else rowsRead / rowsOut
    out("Bm25Index.exact_ms") = med("Bm25Index.searchTopN")
    val bm = med("Bm25Index.blockMaxTopN")
    out("Bm25Index.prune_gain") = if (bm == 0) 0.0 else med("Bm25Index.searchTopN") / bm
    out("Sinks.upsert_ms") = med("Sinks.upsertParquet")
    out("Sinks.rewrite_bytes_per_new_byte") = vmean("Sinks.rewrite_bytes_per_new_byte")
    out("DeltaStore.list_ms") = med("DeltaStore.committedDeltas")
    out("DeltaStore.live_deltas") = vmean("DeltaStore.live_deltas")
    out("DeltaStore.store_files") = vmean("DeltaStore.store_files")
    val prog = progress.asScala.toVector
    def pmed(keys: String*): Double =
      if (prog.isEmpty) 0.0
      else Stats.median(prog.map(m => keys.map(k => Option(m.get(k)).map(_.toDouble).getOrElse(0.0)).sum))
    out("Streams.plan_ms") = pmed("queryPlanning")
    out("Streams.source_ms") = pmed("latestOffset", "getBatch")
    out("Streams.wal_ms") = pmed("walCommit")
    out("Streams.add_batch_ms") = pmed("addBatch")
    out("jvm.gc_ms") = (gcAtEnd - gcAtStart).toDouble
    out.toMap
  }

  /** Op wall time during which none of its tasks was running. */
  private def driverGap(w: Window, ts: scala.collection.Seq[Task]): Double = {
    val iv = ts.map(t => (math.max(t.launch, w.t0), math.min(t.finish, w.t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (w.t1 - w.t0 - covered).toDouble
  }
}

object Stats {
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val i = pos.toInt
    if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)
}
