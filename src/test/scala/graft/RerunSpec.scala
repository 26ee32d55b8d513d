package graft

import org.scalatest.funsuite.AnyFunSuite

/** The store protocol's "reruns in one JVM" claim, on the keys that
  * rebuild a store in place: a merge into a fixed dest (reset, then a
  * re-commit of `delta-00000`), and a fresh template copy followed by
  * an ingest or a stream drain (a re-commit of `delta-00001` /
  * `delta-batch-N`). The second run must read the files it wrote, not
  * the first run's, and return the same rows. The block-max serve keys
  * run here too: their route is chosen from the store's id-range
  * sidecars on every call, and a rerun must take it to the same rows. */
class RerunSpec extends AnyFunSuite {
  import SparkTestSession._

  private val rerunKeys = Seq(
    "q_index_merge", "q_dedup_merge", "q_semantic_merge", "q_ann_merge",
    "q_ann_index_incremental", "q_stream_pq",
    "q_index_blockmax", "q_index_asof_blockmax", "q_index_batch_search")

  private def rows(key: String): Map[String, Int] =
    SparkEntry.queries(key)(spark, sf).collect().toSeq
      .groupBy(_.toString).map { case (r, rs) => r -> rs.size }

  rerunKeys.foreach { key =>
    test(s"$key returns the same rows when run twice in one JVM") {
      val first = rows(key)
      val second = rows(key)
      assert(first.nonEmpty, s"$key returned no rows")
      assert(second == first, s"$key: the rerun returned different rows")
    }
  }
}
