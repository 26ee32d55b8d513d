package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Headline queries surfaced inline in the benchmark JSON line. The
    * FULL per-query map goes to `bench_out.json` (path in the line's
    * "file" field) — two rounds of tail-capture mangling proved a long
    * stdout line is not machine-recoverable, so the line stays a short
    * summary (driver captures ≈2000 chars incl. sbt's "[success]"
    * trailer) and the file is the structured record; `value` still
    * totals EVERY query so a regression anywhere moves the headline.
    */
  private val headline: Seq[String] = Seq(
    "q_agg", "q_bm25_score", "q_dedup_minhash", "q_ann_ivf",
    "q_knn_classify", "q_dedup_embcos", "q_stream_search", "q_seq_pack",
    "q_semantic_drop", "q_dedup_spans")

  /** Untimed warmup: JVM/codegen/parquet-footer costs land here, not
    * in the first timed query, and the one-time derived layouts (serve
    * index, z-order/bucketed/format-export copies) are staged so layout
    * queries time the SCAN, not the one-off ETL write. Never lets a
    * failure kill the run. */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
      SparkEntry.prestage(spark, sfDir)
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)
    // optional args = query-name filter for targeted local timing; the
    // driver passes none and times the full surface
    val keep: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet
    val picked = SparkEntry.queries.filter(q => keep(q._1)).toSeq.sortBy(_._1)
    // one timed execution: a FAILED query must surface as an error, not
    // as a fast fake timing — a swallowed analysis error once hid 14
    // broken keys behind "0.07 s" entries
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); ((System.nanoTime() - t0) / 1e9, None) }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(160)
        ((System.nanoTime() - t0) / 1e9, Some(s"${e.getClass.getSimpleName}: $msg"))
      }
    }
    // two full passes, per-query MIN: a one-off 20-s load spike on one
    // query cannot swing the round-over-round signal by 2×. Every query
    // is re-runnable (staged stores delete-and-rebuild), so pass 2 is
    // a plain repeat.
    val pass1 = picked.map { case (n, fn) => n -> runOnce(fn) }.toMap
    val pass2 = picked.map { case (n, fn) => n -> runOnce(fn) }.toMap
    // both-pass failures live ONLY in `errors` (a -1 placeholder in
    // the queries map would break sum(queries) == value); a one-pass
    // failure still times the good pass but leaves a warning trace
    val results: Seq[(String, Double)] = picked.flatMap { case (n, _) =>
      val times = Seq(pass1(n), pass2(n)).collect { case (t, None) => t }
      if (times.nonEmpty) Some(n -> times.min) else None
    }
    val errors: Seq[(String, String)] = picked.flatMap { case (n, _) =>
      (pass1(n)._2, pass2(n)._2) match {
        case (Some(e), Some(_)) => Some(n -> e) // errored BOTH passes
        case _ => None
      }
    }
    val warnings: Seq[(String, String)] = picked.flatMap { case (n, _) =>
      (pass1(n)._2, pass2(n)._2) match {
        case (Some(e), None) => Some(n -> s"pass1: $e")
        case (None, Some(e)) => Some(n -> s"pass2: $e")
        case _ => None
      }
    }
    // Two-run confirmation protocol: full-board timings flap — three
    // rounds running, a DIFFERENT trio of mid-size keys read 1.5-2x on
    // the full board and flat when re-measured alone (disk/CPU spikes
    // on a 32-thread box are additive and land on whoever is running).
    // So any key whose board read exceeds the drift gate's flag line
    // vs the committed baseline gets ONE more timed run here — same
    // JVM, end of board, nothing else in flight — and the gate
    // (tools/bench_drift.py) flags only if BOTH readings breach. The
    // candidate cut (1.4x, vs the gate's 1.5x) is deliberately wider
    // so border keys carry a confirmation reading too.
    val baselineQs: Map[String, Double] = {
      val p = java.nio.file.Paths.get("tools/bench_baseline.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // Bound the scan to the queries OBJECT: a baseline refreshed
        // verbatim from a bench_out.json carries a queries_rerun block
        // whose isolated (lower) readings would otherwise overwrite
        // board timings via toMap last-wins (ADVICE r15).
        val fromQ = txt.drop(math.max(0, txt.indexOf("\"queries\"")))
        val rerunAt = fromQ.indexOf("\"queries_rerun\"")
        val qsBlock = if (rerunAt >= 0) fromQ.take(rerunAt) else fromQ
        """"(q_\w+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(qsBlock)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val resultsMapForRerun = results.toMap
    val sharedRatios = resultsMapForRerun.collect {
      case (k, t) if baselineQs.getOrElse(k, 0.0) > 0.3 && t > 0.3 =>
        t / baselineQs(k)
    }.toSeq.sorted
    val boardMedian =
      if (sharedRatios.isEmpty) 1.0 else sharedRatios(sharedRatios.size / 2)
    val normDiv = math.max(boardMedian, 1.0)
    val rerunKeys = results.collect {
      case (k, t) if baselineQs.get(k).exists(b =>
        b > 0 && t > 0.3 && (t / b) / normDiv > 1.4) => k
    }
    val fnByName = picked.toMap
    val reruns: Seq[(String, Double)] = rerunKeys.flatMap { k =>
      runOnce(fnByName(k)) match {
        case (t, None) => Some(k -> t)
        case _ => None
      }
    }
    // Settle-pass (r15 verdict task 3): a rerun that reads AT OR
    // ABOVE its board time is the contended-rerun-window signature —
    // a clean isolated measure of the same code runs at or below its
    // full-board time, so a slower rerun means the load spike spanned
    // the rerun window too and the reading cannot CONFIRM anything
    // (the r15 driver board: seven untouched keys re-read 1.2-2.1x
    // their board times). Each such key gets ONE more reading after
    // the whole rerun pass, behind a settle gap + GC, recorded as
    // queries_rerun2 — tools/bench_drift.py adjudicates suspect keys
    // on this reading (breach → confirmed, flat → flap) instead of
    // trusting the contaminated one.
    val suspectKeys = reruns.collect {
      case (k, t) if resultsMapForRerun.get(k).exists(t >= _) => k
    }
    val reruns2: Seq[(String, Double)] =
      if (suspectKeys.isEmpty) Seq.empty
      else {
        System.gc()
        Thread.sleep(3000)
        suspectKeys.flatMap { k =>
          runOnce(fnByName(k)) match {
            case (t, None) => Some(k -> t)
            case _ => None
          }
        }
      }
    val total = results.map(_._2).sum
    // locale-pinned formatting: the scala f-interpolator uses the JVM
    // default locale, which renders 0.603 as "0,603" under e.g. de_DE
    // — invalid JSON for both the file and the printed line
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val errJson = errors.map { case (k, v) => s""""$k":${Verify.jstr(v)}""" }
      .mkString("{", ",", "}")
    val warnJson = warnings.map { case (k, v) => s""""$k":${Verify.jstr(v)}""" }
      .mkString("{", ",", "}")
    // the complete structured record: every query's seconds, written
    // where the driver (and regression tracking) can always read it.
    // TARGETED runs (an explicit key filter) write bench_targeted.json
    // instead — the r14 driver artifact's full per-key map was lost
    // because a post-round 5-key isolated re-measure overwrote
    // bench_out.json before it was archived; a partial run must never
    // clobber the full-board record the next round's baseline needs
    val outName = if (args.isEmpty) "bench_out.json" else "bench_targeted.json"
    val outFile = java.nio.file.Paths.get(outName).toAbsolutePath
    val fullQs = results
      .map { case (k, v) => s""""$k":${sec(v)}""" }.mkString("{", ",", "}")
    val rerunQs = reruns
      .map { case (k, v) => s""""$k":${sec(v)}""" }.mkString("{", ",", "}")
    val rerun2Qs = reruns2
      .map { case (k, v) => s""""$k":${sec(v)}""" }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"errors":$errJson,"warnings":$warnJson,"queries":$fullQs,"queries_rerun":$rerunQs,"queries_rerun2":$rerun2Qs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(outFile, fullJson.getBytes("UTF-8"))
    // when run with an explicit filter, show exactly what was timed;
    // the driver's unfiltered run shows the fixed headline subset
    val resultMap = results.toMap
    val shown =
      if (args.isEmpty) headline.flatMap(n => resultMap.get(n).map(n -> _))
      else results
    val qs = shown.map { case (k, v) => s""""$k":${sec(v)}""" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"queries":$qs,"sf":"$sfDir","file":"$outFile"}"""
    spark.stop()
    // print LAST so the line sits at the very end of the captured tail
    println(line)
  }
}
