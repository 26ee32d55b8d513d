package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only measurement harness for the optimization rounds: for each
  * named query, dump `.explain("formatted")` to a file and time the
  * computation against the noop sink (guide §1.4), reporting the
  * number of Spark jobs the query launches (at bench SF the data is
  * tiny, so job count ≈ sequential barrier count is the cost model).
  *
  * Usage: runMain graft.PlanDump <outDir> <key1> [key2 ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val keys = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)   // sum of task run times
    val gcMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (te.taskMetrics != null) {
          taskMs.addAndGet(te.taskMetrics.executorRunTime)
          gcMs.addAndGet(te.taskMetrics.jvmGCTime)
        }
        ()
      }
    })
    new java.io.File(outDir).mkdirs()
    // same untimed warmup as Bench so staged stores exist
    Bench.warmup(spark, sfDir)
    keys.foreach { k =>
      SparkEntry.queries.get(k) match {
        case None => println(s"NOKEY $k")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(k)
          // pass 1: timed noop-sink run with job count
          jobs.set(0)
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            df.write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            val n1 = jobs.get()
            // pass 2 (min-of-two, same as Bench methodology), with
            // task-level metrics: wall vs Σ task run time tells
            // scheduling/driver overhead from real executor work
            jobs.set(0); tasks.set(0); taskMs.set(0L); gcMs.set(0L)
            val t1 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val dt2 = (System.nanoTime() - t1) / 1e9
            val (nj2, nt2, tm2, gc2) = (jobs.get(), tasks.get(), taskMs.get(), gcMs.get())
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/$k.txt"),
              plan.getBytes("UTF-8"))
            println(f"PLANDUMP $k%-28s t1=$dt%7.2f s  t2=$dt2%7.2f s  jobs=$n1%4d  jobs2=$nj2%4d tasks2=$nt2%5d taskSec2=${tm2 / 1e3}%8.2f gcSec2=${gc2 / 1e3}%6.2f  plan=$outDir/$k.txt")
          } catch { case e: Throwable =>
            println(s"PLANDUMP $k FAILED: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          }
          spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
