package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Bm25Index}
import graft.sources.Tables
import Bm25Fixtures._

/** The staged serves on stores whose ids all sit in one 1,024-id block
  * (the sf0.001 corpus): `blockMaxTopN`, the name the benchmark calls,
  * runs `searchTopN`'s exact single plan (no doc_id range literal, no
  * more Spark jobs than `searchTopN`), and the pinned and batch serves
  * push no range literal either. Every case compares rows with the
  * corpus-derived `Bm25.searchTopN` / `Bm25.batchSearch` on the same
  * live corpus. */
class BlockMaxRouteSpec extends AnyFunSuite with SuiteTempDir {
  import SparkTestSession._

  /** True when the plan pushes a doc_id range literal
    * (`GreaterThanOrEqual(doc_id,lo)`, `LessThan(doc_id,hi)`). */
  private def hasRangeLiteral(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LessThan(doc_id,") || plan.contains("GreaterThanOrEqual(doc_id,")
  }

  /** Spark jobs started by `run` (DataFrame construction included):
    * the jobs of a job group set on this thread for `run` alone, so a
    * job some other thread submits meanwhile is not counted. Threads
    * `run` starts inherit the group. A listener sees job starts in
    * submission order, so once the group's end-marker job arrives
    * every job of `run` has been seen. */
  private def jobsOf(run: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "route-spec-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          seen.put(props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "route-spec-run")
    try {
      run
      sc.setJobDescription("route-spec-end")
      sc.parallelize(Seq(1), 1).count()
      var jobs = 0
      var done = false
      while (!done) {
        val d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, "the end marker job never reached the listener")
        if (d == "route-spec-end") done = true else jobs += 1
      }
      jobs
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("one-block store: exact single plan, no range literal, no more jobs than searchTopN") {
    val docs = Tables.documents(spark, sf)
    assert(docs.agg(max("doc_id")).head.getLong(0) < 1024L)
    val p = tmp("bmr1")
    Bm25Index.build(docs, p)
    val served = Bm25Index.blockMaxTopN(spark, p)
    assert(rows(served) === rows(Bm25.searchTopN(docs)))
    assert(rows(Bm25Index.searchTopN(spark, p)) === rows(Bm25.searchTopN(docs)))
    assert(!hasRangeLiteral(served), "a one-block store has no block to gate")
    val exactJobs = jobsOf(Bm25Index.searchTopN(spark, p).collect())
    val routedJobs = jobsOf(Bm25Index.blockMaxTopN(spark, p).collect())
    assert(exactJobs > 0)
    assert(routedJobs <= exactJobs,
      s"blockMaxTopN ran $routedJobs jobs, searchTopN $exactJobs")
  }

  test("one-block store with an update delta and a tombstone delete serves the live top-k") {
    val docs = docsAt((0L until 40L) ++ (600L until 640L))
    val p = tmp("bmr2")
    Bm25Index.build(docs.filter(col("doc_id") < 600), p)
    Bm25Index.update(docs.filter(col("doc_id") >= 600), p, "00001")
    val dead = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    Bm25Index.delete(dead, p, "del-01")
    val live = docs.join(dead, Seq("doc_id"), "left_anti")
    val served = Bm25Index.blockMaxTopN(spark, p, terms)
    assert(rows(served) === rows(Bm25.searchTopN(live, terms)))
    assert(rows(Bm25Index.searchTopN(spark, p, terms)) === rows(Bm25.searchTopN(live, terms)))
    assert(!hasRangeLiteral(served))
  }

  test("one-block pinned snapshot through searchTopNAt") {
    val docs = Tables.documents(spark, sf)
    val p = tmp("bmr3")
    val v0 = docs.filter(col("doc_id") % 5 =!= 0)
    Bm25Index.build(v0, p)
    Bm25Index.update(docs.filter(col("doc_id") % 5 === 0), p, "00001")
    val pinned = Bm25Index.searchTopNAt(spark, p, "00000")
    assert(rows(pinned) === rows(Bm25.searchTopN(v0)))
    assert(!hasRangeLiteral(pinned))
    assert(rows(Bm25Index.searchTopNAt(spark, p, "00001")) === rows(Bm25.searchTopN(docs)))
  }

  test("one-block store: batchSearch serves the corpus batch search's rows") {
    val docs = Tables.documents(spark, sf)
    val p = tmp("bmr4")
    Bm25Index.build(docs, p)
    val demo = queries(Bm25.DemoQueries: _*)
    val served = Bm25Index.batchSearch(spark, p, demo)
    assert(brows(served) === brows(Bm25.batchSearch(docs, demo)))
    assert(!hasRangeLiteral(served))
  }
}
