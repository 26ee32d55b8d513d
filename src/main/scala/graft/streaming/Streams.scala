package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Bm25
import graft.sources.DeltaStore.{pathTag, stagedOnce}
import graft.Lineage._

/** Structured Streaming re-expression of the reference's streaming
  * jobs: the socket-windowed word count (reference
  * backup/SocketWindowWordCount.java — 5s tumbling windows over a
  * text stream) and the running global IDF state (reference
  * backup/StreamingJob.java:330-358 — union + reduce folding df/N
  * across micro-batches).
  *
  * The batch-facing entry points below run a REAL streaming query
  * (file source → watermarked windowed agg → memory sink), block until
  * the source drains, and return the final result so the driver's
  * DuckDB oracle can check it against the batch-equivalent SQL. At
  * scale the same plans run unchanged on an unbounded source: state is
  * keyed by (window, key) / term, watermarks bound it, and the shuffle
  * keys match the batch design (SURVEY.md §5).
  */
object Streams {

  /** Recursively delete `path` on ITS OWN filesystem — resolved from
    * the path scheme + the session's Hadoop conf, so tmp dirs clear
    * correctly whether the default FS is file://, hdfs:// or an object
    * store (a driver-local java.io.File delete silently no-ops on any
    * non-local default FS, leaving stale batch/checkpoint state that
    * double-merges on the next run). */
  private def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fs.makeQualified(p), true)
    ()
  }

  /** Serializes the shuffle-partition pin below: two concurrent
    * drains could otherwise interleave set/restore and leave the
    * session pinned at 8 (the restore would capture the OTHER call's
    * pin as "previous"). */
  private val drainLock = new Object

  /** Run `query` (a streaming DataFrame) to a memory sink until the
    * source is drained; return the sink contents as a batch frame.
    * The memory sink holds the full result on the driver, so it is
    * materialized and DROPPED before returning — otherwise every
    * drained stream would pin its result in the session catalog for
    * the session's lifetime. Results here are aggregates/alerts
    * (bounded), never a corpus. */
  private def drainToMemory(spark: SparkSession, query: DataFrame,
                            mode: OutputMode): DataFrame = {
    val name = "graft_sink_" + UUID.randomUUID().toString.replace("-", "")
    // stateful operators keep one state store per shuffle partition per
    // batch; a drained local stream doesn't need the batch session's
    // partition count, so pin a small one while the plan is resolved
    // (pinned into the query at start()) and restore right after.
    // Other threads planning on the same session during this window
    // would see the pin — the documented single-driver-thread contract
    // of these drain-style entry points.
    val sq = drainLock.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        query.writeStream.format("memory").queryName(name).outputMode(mode).start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    try sq.processAllAvailable()
    finally sq.stop()
    val rows = spark.table(name).collect().toSeq
    val schema = spark.table(name).schema
    spark.catalog.dropTempView(name)
    // slice so no task closure exceeds ~task-warn size: parallelize
    // ships each slice INSIDE its task, and a single-slice drain of a
    // large result (e.g. per-session rows at bench scale) was the
    // bench's 9.5 MiB oversized task. Slices are contiguous chunks of
    // the original order, so collect() order is unchanged.
    val numSlices = math.max(1, (rows.size + 4095) / 4096)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, numSlices), schema)
  }

  /** Events as a file-source stream with an event-time column. `ts`
    * is normalized to epoch-nanos long whatever the parquet layout
    * (TIMESTAMP(NANOS)-as-long or timestamp[us]) — same contract as
    * [[graft.sources.Tables.events]], applied on the streaming frame. */
  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // single-file layout: a glob path makes the file source accept it
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events.parque[t]")
    graft.sources.Tables.normalizeEventTs(raw)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
  }

  /** (win_start_ms, event_type, n): 1-hour tumbling-window counts over
    * the event stream — the engine's SocketWindowWordCount: stream →
    * event-time window → keyed count. Complete mode here because the
    * memory sink must hold the full result for the batch-equivalence
    * check; on an unbounded production stream the SAME aggregation
    * runs in append/update mode, where the watermark actually evicts
    * closed windows and bounds state. */
  def windowedWordCount(spark: SparkSession, dir: String): DataFrame = {
    val counts = eventStream(spark, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    drainToMemory(spark, counts, OutputMode.Complete())
      .select(unix_millis(col("win.start")).as("win_start_ms"), col("event_type"), col("n"))
  }

  /** (term, df, idf): document-frequency state folded across the
    * document stream (streaming agg in complete mode = the ref's
    * union/reduce running state), idf finished against the final doc
    * count. One streaming aggregation keyed by term — the same single
    * shuffle as the batch plan. PRECONDITION: one row per doc_id
    * (df counts rows holding a term, the batch oracle counts DISTINCT
    * docs — they agree only on a doc_id-unique corpus; the staged
    * -index ingest path enforces this, Bm25Index.update rejects
    * re-ingested ids). */
  def runningIdf(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).parquet(s"$dir/documents.parque[t]")
    // distinct terms per doc computed row-locally (array_distinct before
    // explode) so df is ONE streaming aggregation — chained streaming
    // aggs are not allowed, and this keeps the state keyed by term only.
    val docTerms = docs.select(col("doc_id"),
      explode(array_distinct(filter(graft.functions.Text.rawTokens(col("text")),
        t => graft.functions.Text.keepToken(t)))).as("term"))
    val dfPerTerm = docTerms.groupBy("term").agg(count(lit(1)).as("df"))
    val finalDf = drainToMemory(spark, dfPerTerm, OutputMode.Complete())
    val n = Bm25.docLengths(spark.read.parquet(s"$dir/documents.parquet"))
      .agg(count(lit(1)).as("n_docs"))
    finalDf.crossJoin(broadcast(n))
      .select(col("term"), col("df"),
        round(log(col("n_docs").cast("double") / (col("df") + lit(1))), 6).as("idf"))
  }

  /** (user_id, start_ms, end_ms, n_events): streaming sessionization
    * via `session_window` — Spark's native gap-merged session windows,
    * the streaming counterpart of the batch lag/cumulative-flag
    * [[graft.operators.Relational.sessionize]]. Events of one user
    * merge while consecutive gaps stay UNDER the 30-minute gap
    * (session_window's merge rule); the window end is last-event +
    * gap. State is keyed by (user_id, merged window) and bounded by
    * the watermark on an unbounded stream. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val sessions = eventStream(spark, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(session_window(col("event_time"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    drainToMemory(spark, sessions, OutputMode.Complete())
      .select(col("user_id"), unix_millis(col("win.start")).as("start_ms"),
        unix_millis(col("win.end")).as("end_ms"), col("n_events"))
  }

  /** (text_md5): streaming exact deduplication — `dropDuplicates` on
    * the content hash, the streaming form of
    * [[graft.operators.Dedup.exact]]. Emits each distinct content
    * exactly once in append mode; state is one hash per distinct
    * content (on an unbounded stream, `dropDuplicatesWithinWatermark`
    * is the bounded-state variant when duplicates cluster in time —
    * here the drained finite source keeps full state). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).parquet(s"$dir/documents.parque[t]")
    val distinctHashes = docs.select(md5(col("text")).as("text_md5"))
      .dropDuplicates("text_md5")
    drainToMemory(spark, distinctHashes, OutputMode.Append())
  }

  /** (day, n_events, src): LAMBDA HANDOFF — the batch history (days
    * before the 4/5 cut) and the streaming tail (days at/after it)
    * composed into one seam-free daily series, each side labeled. The
    * backfill pattern every migration to streaming runs through: the
    * cut is pure integer day arithmetic on the data's own bounds, the
    * two sides aggregate independently (batch scan vs one watermarked
    * streaming count), and disjointness of their day ranges is
    * guaranteed by the shared predicate — union, not reconciliation. */
  def backfillHandoff(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000000L
    val ev = graft.sources.Tables.events(spark, dir)
    val b = ev.agg(min(expr(s"ts div ${day}L")), max(expr(s"ts div ${day}L"))).collect()(0)
    require(!b.isNullAt(0), "backfillHandoff: events table is empty — no days to cut")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cut = lo + (hi - lo) * 4 / 5
    val hist = ev.filter(expr(s"ts div ${day}L") < cut)
      .groupBy(expr(s"ts div ${day}L").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("src", lit("batch"))
    val tailCounts = eventStream(spark, dir)
      .filter(expr(s"ts div ${day}L") >= cut)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 day").as("win"))
      .agg(count(lit(1)).as("n_events"))
    val tail = drainToMemory(spark, tailCounts, OutputMode.Complete())
      .select((unix_millis(col("win.start")) / 86400000L).cast("long").as("day"),
        col("n_events"))
      .withColumn("src", lit("stream"))
    hist.select("day", "n_events", "src").union(tail.select("day", "n_events", "src"))
  }

  /** (win_start_ms, n_name, n_events, value_micros): STREAM-STATIC
    * enrichment — the arriving event stream joined to the (small)
    * customer→nation dimension and rolled up per hour per nation.
    * The dimension rides BROADCAST into every micro-batch (a
    * stream-static join is stateless — no watermark bookkeeping on
    * the static side), so the streaming plan stays one windowed
    * aggregation; value folds as exact micros. The canonical "tag
    * each event with its account's region at ingest" pipeline stage. */
  def enrichedNationRate(spark: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(
      spark.read.parquet(s"$dir/customer.parquet")
        .join(spark.read.parquet(s"$dir/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    val counts = eventStream(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour").as("win"), col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000000.0).cast("long")).as("value_micros"))
    drainToMemory(spark, counts, OutputMode.Complete())
      .select(unix_millis(col("win.start")).as("win_start_ms"), col("n_name"),
        col("n_events"), col("value_micros"))
  }

  /** (win_start_ms, event_type, n, ema6): exponentially-weighted
    * per-type event rate over the hourly stream — the windowed count
    * is the ONE streaming aggregation (same plan as
    * [[windowedWordCount]]); the 6-bucket truncated EWMA (weights
    * 2⁻ᵏ over the trailing calendar hours present) is a bucket-keyed
    * rollup on the drained, hours-sized result, in the explode-
    * contribution shape — no ordered window, no second stateful
    * operator. Weights are exact binary, so numerator/denominator
    * fold as EXACT integers (n·2^(5−k)) and the single final division
    * is engine-portable. */
  def emaRate(spark: SparkSession, dir: String): DataFrame = {
    val counts = eventStream(spark, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val drained = drainToMemory(spark, counts, OutputMode.Complete())
      .select(unix_millis(col("win.start")).as("win_start_ms"), col("event_type"), col("n"))
      .cutLineage()
    val contrib = drained
      .select(col("win_start_ms"), col("event_type"), col("n"),
        explode(sequence(lit(0), lit(5))).as("k"))
      .select((col("win_start_ms") + col("k").cast("long") * 3600000L).as("tgt"),
        col("event_type").as("etype"),
        (col("n") * expr("shiftleft(CAST(1 AS BIGINT), CAST(5 - k AS INT))")).as("num"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(5 - k AS INT))").as("den"))
      .groupBy(col("tgt"), col("etype"))
      .agg(sum("num").as("num"), sum("den").as("den"))
    drained.join(contrib,
        col("win_start_ms") === col("tgt") && col("event_type") === col("etype"))
      .select(col("win_start_ms"), col("event_type"), col("n"),
        round(col("num").cast("double") / col("den"), 6).as("ema6"))
  }

  /** (win_start_ms, n_users): per-hour DISTINCT user counts over the
    * event stream — exact streaming cardinality via keyed dedup state,
    * not a sketch: `dropDuplicates` on (window, user_id) holds one
    * state row per distinct pair and the 1-hour watermark evicts each
    * window's state once it closes, so state is live-windows × users
    * bounded, never stream-length. The window rollup runs on the
    * drained sink (a second stateful agg in the same streaming query
    * would be the multi-stateful-operator trap); countDistinct there
    * keeps the result exact even under micro-batch replay. */
  def streamDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventStream(spark, dir)
      .withWatermark("event_time", "1 hour")
      .select(window(col("event_time"), "1 hour").as("win"), col("user_id"))
      .dropDuplicates("win", "user_id")
    drainToMemory(spark, deduped, OutputMode.Append())
      .groupBy(unix_millis(col("win.start")).as("win_start_ms"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** (source, n_docs, avg_tokens, n_ok): the streaming form of the
    * corpus-triage rollup ([[graft.operators.TextAnalysis
    * .qualityBySource]]) — per-document quality metrics are a pure map
    * over the arriving stream; the per-source running aggregate is
    * keyed state (bounded by |sources|) emitted in Complete mode. The
    * ingest-side quality dashboard: the same plan on an unbounded
    * source keeps per-source counts current batch over batch, and the
    * drained result equals the batch rollup (shared oracle). */
  def streamQualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).parquet(s"$dir/documents.parque[t]")
    val agg = docs
      .withColumn("toks", graft.functions.Text.rawTokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 6).as("avg_tokens"),
        sum(when(col("n_tokens") >= 10 && col("n_tokens") <= 10000 &&
          col("n_distinct").cast("double") / col("n_tokens") >= 0.2, 1L)
          .otherwise(0L)).as("n_ok"))
    drainToMemory(spark, agg, OutputMode.Complete())
  }

  /** (user_id, a_event_id, a_ts_ms, b_event_id, b_ts_ms, c_event_id,
    * c_ts_ms, span_ms): STREAMING CEP — the signup→click→purchase
    * pattern of [[graft.operators.Relational.cepMatch]] detected
    * incrementally with flatMapGroupsWithState (the capability Flink
    * CEP owns; this is its Structured-Streaming re-expression, and it
    * matches the batch operator row-for-row — shared oracle). Per-user
    * state is two small lists: anchors awaiting their first click, and
    * (anchor, click) pairs awaiting their first purchase — every
    * pending anchor binds the SAME earliest follower, which is exactly
    * the batch forward-window semantics. State is BOUNDED by the match
    * window: once event time passes anchor_ts + within, no future
    * completion can satisfy the span filter, so the entry evicts —
    * the CEP equivalent of watermark eviction. Event-time order across
    * micro-batches comes from the mtime-ordered staging (a partitioned
    * changelog's per-key order); in-batch, rows sort per user. */
  def cepStream(spark: SparkSession, dir: String, nBatches: Int = 3,
                withinMs: Long = 86400000L): DataFrame = {
    import spark.implicits._
    val withinNs = withinMs * 1000000L
    val tag = pathTag(dir + "|cep|" + nBatches)
    val events = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val src = stagedOnce(spark,
        sys.props("java.io.tmpdir") + s"/graft_cep_stream_src_$tag") { sp =>
      val (lo, hi) = events.agg(min("ts"), max("ts")).as[(Long, Long)].collect()(0)
      val width = (hi - lo) / nBatches + 1
      val mtimeBase = 1000000000000L
      val root = new java.io.File(sp)
      (0 until nBatches).foreach { b =>
        events.filter(col("ts") >= lo + b * width && col("ts") < lo + (b + 1) * width)
          .coalesce(1).write.mode(if (b == 0) "overwrite" else "append").parquet(sp)
        Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
          if (f.lastModified() > mtimeBase + nBatches * 60000L) {
            // the stream==batch row-order contract rides on micro-batch
            // file order = this pinned mtime order; fail loudly if the
            // filesystem refuses rather than degrade into flakiness
            require(f.setLastModified(mtimeBase + b * 60000L),
              s"setLastModified failed for $f — mtime-ordered micro-batching unavailable")
          }
        }
      }
    }
    val s = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(Long, Long, Long, String)]
    val matches = s.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (user: Long, rows: Iterator[(Long, Long, Long, String)],
       state: GroupState[(Seq[(Long, Long)], Seq[(Long, Long, Long, Long)])]) =>
        var (openA, openAB) = state.getOption.getOrElse(
          (Seq.empty[(Long, Long)], Seq.empty[(Long, Long, Long, Long)]))
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long, Long, Long)]
        rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, eid, tpe) =>
          // horizon eviction: a completion after this point would fail
          // the span filter anyway — state stays window-bounded
          openA = openA.filter { case (aTs, _) => ts <= aTs + withinNs }
          openAB = openAB.filter { case (aTs, _, _, _) => ts <= aTs + withinNs }
          tpe match {
            case "signup" => openA :+= ((ts, eid))
            case "click" =>
              openAB ++= openA.map { case (aTs, aId) => (aTs, aId, ts, eid) }
              openA = Seq.empty
            case "purchase" =>
              openAB.foreach { case (aTs, aId, bTs, bId) =>
                if (ts - aTs <= withinNs)
                  out += ((user, aId, aTs / 1000000L, bId, bTs / 1000000L,
                    eid, ts / 1000000L, (ts - aTs) / 1000000L))
              }
              openAB = Seq.empty
            case _ =>
          }
        }
        state.update((openA, openAB))
        out.result().iterator
    }
    drainToMemory(spark, matches.toDF("user_id", "a_event_id", "a_ts_ms",
      "b_event_id", "b_ts_ms", "c_event_id", "c_ts_ms", "span_ms"),
      OutputMode.Append())
  }

  /** (win_start_ms, n_events, psi): streaming POPULATION-STABILITY
    * drift monitor — per 1-day event-time window, the PSI of the
    * window's event-type mix against the whole-corpus reference mix
    * (PSI = Σ (p_w − p_r)·ln(p_w/p_r), the industry drift metric; a
    * day whose traffic mix shifts from the baseline scores high and
    * pages the pipeline). The streaming side is ONE windowed keyed
    * count (the same shuffle any windowed agg pays, watermark-evicted
    * in production update mode); the reference mix is a static batch
    * aggregate joined in AFTER the drain, types-cardinality-sized.
    * Missing types Laplace-smooth with +1 on both mixes so the log
    * stays finite — smoothing replayed identically by the oracle.
    * round(·,4) absorbs ln association noise. */
  def psiDriftStream(spark: SparkSession, dir: String): DataFrame = {
    val counts = eventStream(spark, dir)
      .withWatermark("event_time", "1 day")
      .groupBy(window(col("event_time"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val winCounts = drainToMemory(spark, counts, OutputMode.Complete())
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("event_type"), col("c"))
    // batch reference mix + (window x type) grid so absent types smooth
    val ref = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("cr"))
    val refTot = ref.agg(sum("cr").as("nr"), count(lit(1)).as("t"))
    val wins = winCounts.groupBy("win_start_ms").agg(sum("c").as("nw"))
    wins.crossJoin(broadcast(ref))
      .join(winCounts, Seq("win_start_ms", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(refTot))
      .withColumn("pw", (col("c") + 1).cast("double") / (col("nw") + col("t")))
      .withColumn("pr", (col("cr") + 1).cast("double") / (col("nr") + col("t")))
      .groupBy("win_start_ms")
      .agg(min("nw").as("n_events"),
        round(sum((col("pw") - col("pr")) * log(col("pw") / col("pr"))), 4)
          .as("psi"))
  }

  /** (user_id, purchase_event_id, click_event_id): stream-stream
    * interval join — every click of the same user in the hour BEFORE
    * (inclusive) each purchase. Both sides are watermarked streams;
    * the time-bound condition lets Spark evict join state past the
    * watermark, so state stays bounded on an unbounded stream — the
    * streaming form of the batch as-of/interval join
    * ([[graft.operators.Relational.asOfJoin]]). */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "1 hour")
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_event_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_time") <= col("purchase_time") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR"))
    drainToMemory(spark, joined, OutputMode.Append())
      .select("user_id", "purchase_event_id", "click_event_id")
  }

  /** Continuously upsert a keyed aggregate into a parquet store — the
    * reference's streaming Mongo-upsert sink (backup/BMStream.java,
    * MongoIDFSink: per-window IDF upserts). Each micro-batch merges
    * last-wins into the store via [[graft.sources.Sinks.upsertParquet]];
    * `versionCol` orders duplicate keys across batches. Returns the
    * started query; caller awaits/stops. */
  def upsertSink(spark: SparkSession, keyed: DataFrame, storePath: String,
                 keyCols: Seq[String], versionCol: String,
                 tieCols: Seq[String] = Nil,
                 checkpoint: Option[String] = None,
                 mode: OutputMode = OutputMode.Update()): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = keyed.writeStream.outputMode(mode)
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sinks.upsertParquet(spark, batch, storePath, keyCols, versionCol, tieCols)
      }
      .start()
  }

  /** (user_id, event_id, ts_ms, v_micros): streaming anomaly alerts
    * via flatMapGroupsWithState — the custom-state API that emits
    * ZERO-OR-MORE rows per key per batch (mapGroupsWithState emits
    * exactly one; an alert stream needs the general form). State per
    * user is two longs (count + exact micro-sum); an event alerts when
    * v·n > 3·Σprior — pure integer arithmetic, so the streaming result
    * is bit-identical to the batch window-frame oracle. Rows are
    * processed in (ts, event_id) order within each batch, so with
    * time-ordered batch boundaries the alert stream is deterministic
    * at any parallelism: state is keyed by user, and 100 TB of users
    * shard across executors with two longs each. */
  def anomalyAlerts(spark: SparkSession, dir: String): DataFrame =
    anomalyAlertsFrom(spark, eventStream(spark, dir))

  /** The detector over any streaming frame with (user_id, event_id,
    * ts, value) — split out so tests can drive custom micro-batch
    * boundaries and prove state carries across batches. */
  private[graft] def anomalyAlertsFrom(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val stream = events
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * lit(1000000.0)).cast("long").as("v"))
      .as[(Long, Long, Long, Long)]
    val alerts = stream.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (user: Long, rows: Iterator[(Long, Long, Long, Long)],
       state: GroupState[(Long, Long)]) =>
        var (n, s) = state.getOption.getOrElse((0L, 0L))
        val out = Seq.newBuilder[(Long, Long, Long, Long)]
        // the in-batch (ts, event_id) sort buffers THIS USER'S rows of
        // THIS MICRO-BATCH (cross-batch state stays two longs) — the
        // per-key-per-batch volume is the real bound, kept honest by
        // micro-batch sizing at scale
        // multiplyExact: v*n and 3*s on a pathological history would
        // wrap silently in Java; the DuckDB oracle ERRORS on BIGINT
        // overflow, so fail the same way instead of diverging
        rows.toArray.sortBy(r => (r._3, r._2)).foreach { case (_, eventId, ts, v) =>
          if (n > 0L && java.lang.Math.multiplyExact(v, n) >
                java.lang.Math.multiplyExact(3L, s))
            out += ((user, eventId, ts / 1000000L, v))
          n += 1L
          s += v
        }
        state.update((n, s))
        out.result().iterator
    }
    drainToMemory(spark, alerts.toDF("user_id", "event_id", "ts_ms", "v_micros"),
      OutputMode.Append())
  }

  /** Streaming INDEX ingest: every micro-batch of documents is
    * incrementally committed to a staged BM25 index via
    * [[graft.operators.Bm25Index.update]] — the end-to-end shape of
    * the reference's streaming pipeline (stream in, maintain the
    * search index's TF/DF/length state, serve queries from the store).
    * Per-batch cost scales with the batch. Exactly-once REQUIRES the
    * durable checkpoint: it makes batch ids and their contents stable
    * across restarts, the batch id is the delta tag, each delta
    * commits with ONE atomic rename, and a replayed tag is a no-op —
    * so a restart neither loses nor double-counts a batch. (Without a
    * durable checkpoint, a restarted query renumbers batches from 0
    * with different contents, and a colliding tag would silently skip
    * new data — hence the parameter is required.) Returns the started
    * query; caller awaits/stops. */
  def indexIngest(spark: SparkSession, docs: DataFrame, indexPath: String,
                  checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Bm25Index.update(batch.toDF(), indexPath, f"batch-$batchId%05d")
      }
      .start()

  /** Streaming ANN-index maintenance — the vector-side sibling of
    * [[indexIngest]]: each micro-batch of (vec_id, embedding) rows is
    * committed to the staged ANN store as one atomic delta, tagged by
    * batch id so checkpoint replays are exactly-once. Sound for LSH
    * because bucket ids come from literal hyperplanes (no trained
    * state to drift); after the stream drains, a staged search equals
    * the live search over everything ingested. */
  def annIndexIngest(spark: SparkSession, vectors: DataFrame, indexPath: String,
                     checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.AnnIndex.update(batch.toDF(), indexPath, f"batch-$batchId%05d")
      }
      .start()

  /** Streaming PQ-index maintenance — the TRAINED-index sibling of
    * [[annIndexIngest]]: each micro-batch of (vec_id, embedding) rows
    * is encoded UNDER THE STORE'S FROZEN CODEBOOKS
    * ([[graft.operators.PqIndex.update]] — the add-to-trained-index
    * contract; codebook drift is a rebuild) and committed as one
    * atomic delta tagged by batch id, so checkpoint replays are
    * exactly-once. Blocks until the file-backed source drains; after
    * the drain a staged search equals the batch build-then-update
    * result over the same split (shared frozen-codebook oracle). */
  def pqIngestStream(spark: SparkSession, srcDir: String, indexPath: String,
                     maxFilesPerTrigger: Option[Int] = None): Unit = {
    val ckpt = indexPath + "_ckpt"
    deleteRecursive(spark, ckpt)
    val schema = spark.read.parquet(srcDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val vecs = reader.parquet(srcDir)
    val sq = vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.PqIndex.update(batch.toDF(), indexPath, f"batch-$batchId%05d")
      }
      .start()
    try sq.processAllAvailable()
    finally sq.stop()
  }

  /** Streaming DELETE feed — the GDPR/takedown-queue shape: a stream
    * of doc_ids to forget, each micro-batch committed to the staged
    * BM25 index as one tombstone delta
    * ([[graft.operators.Bm25Index.delete]]), tagged by batch id so
    * checkpoint replays are exactly-once (a replayed delete tag is a
    * no-op through the store's cumulative tag history, across
    * compactions). Deletes take effect at the NEXT search after their
    * batch commits — the serve side anti-joins live rows, no
    * compaction needed on the read path; physical reclamation stays a
    * maintenance call. Blocks until the file-backed source drains.
    *
    * The checkpoint is KEPT across invocations (true exactly-once
    * replay): the file source's committed file→batch mapping is what
    * guarantees a rerun re-forms IDENTICAL batches, so a committed
    * `del-<batchId>` tag can only ever collide with its own content —
    * deleting the checkpoint each run would let a rerun partition the
    * directory into differently-composed batches whose committed tags
    * silently skip different ids. It lives INSIDE the store (ignored
    * by the delta listing, which only reads `delta-*`), so a store
    * rebuild ([[graft.sources.DeltaStore.reset]] deletes the whole
    * path) retires the checkpoint with the deltas it indexed — a
    * stale checkpoint can never mark a fresh store's feed as already
    * consumed. If the SOURCE directory is regenerated under a kept
    * checkpoint, the new files replay as new batches and
    * [[graft.operators.Bm25Index.delete]]'s liveness `require` fails
    * loudly on the already-tombstoned ids — never a silent drop. */
  def deleteStream(spark: SparkSession, delDir: String, indexPath: String,
                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val ckpt = indexPath + "/_delckpt"
    val schema = spark.read.parquet(delDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val ids = reader.parquet(delDir)
    val sq = ids.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Bm25Index.delete(batch.toDF(), indexPath, f"del-$batchId%05d")
      }
      .start()
    try sq.processAllAvailable()
    finally sq.stop()
  }

  /** [[deleteStream]]'s twin on the SEMANTIC pair substrate — the
    * takedown queue for the embedding side: vec_ids stream in, each
    * micro-batch commits one tombstone+re-elect delta
    * ([[graft.operators.SemanticStore.delete]] — value identity makes
    * the group rekey a rename), tagged by batch id so checkpoint
    * replays are exactly-once. Deletes COMPOSE across batches: each
    * batch's re-election runs against the then-live members, so after
    * the drain the served all-pairs relation equals the one-shot
    * delete of the whole slice (shared oracle). Same kept-checkpoint
    * durability contract as [[deleteStream]] (checkpoint lives INSIDE
    * the store, retired with it on rebuild; a regenerated source
    * under a kept checkpoint fails loudly on the liveness require). */
  def semanticDeleteStream(spark: SparkSession, delDir: String,
                           storePath: String,
                           maxFilesPerTrigger: Option[Int] = None): Unit = {
    val ckpt = storePath + "/_delckpt"
    val schema = spark.read.parquet(delDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val ids = reader.parquet(delDir)
    val sq = ids.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.SemanticStore.delete(batch.toDF(), storePath, f"del-$batchId%05d")
      }
      .start()
    try sq.processAllAvailable()
    finally sq.stop()
  }

  /** Streaming per-document file sink — the reference's BMStream is
    * EXACTLY this shape (backup/BMStream.java:30-35 reworks the batch
    * per-doc tf dump as a dataStream): documents stream in, and each
    * micro-batch writes its own docs' "(term,tf)" profile files
    * through the bounded idempotent [[graft.sources.Sinks
    * .perDocFiles]] writer. Sound per-batch with ZERO cross-batch
    * state because a doc's profile depends on that doc alone (tf is
    * doc-local); a replayed batch rewrites identical bytes
    * (create-overwrite), so the sink is effectively exactly-once.
    * Blocks until the file-backed stream drains. */
  def perDocStream(spark: SparkSession, docsDir: String, outDir: String,
                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val schema = spark.read.parquet(docsDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val docs = reader.parquet(docsDir)
    val ckpt = outDir + "_ckpt"
    deleteRecursive(spark, outDir)
    deleteRecursive(spark, ckpt)
    val sq = docs.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // emptiness probes the RAW batch (one cheap scan), not the
        // profile relation — probing profiles ran the whole
        // tokenize+profile chain a THIRD time per micro-batch (guard
        // agg + write are the other two consumers, via the cut inside
        // perDocFiles). Output-identical: tfProfiles of an empty batch
        // is empty, and perDocFiles of an empty relation writes
        // nothing (its guards pass trivially, foreachPartition sees no
        // rows) — a non-empty batch of token-less docs lands on that
        // same no-op path either way.
        if (!batch.isEmpty) {
          val profiles = graft.operators.Bm25.tfProfiles(batch.toDF())
          graft.sources.Sinks.perDocFiles(profiles, outDir, "doc_id", "profile")
          ()
        }
      }
      .start()
    try sq.processAllAvailable()
    finally sq.stop()
  }

  /** Streaming word count over a socket text source — the engine's
    * literal SocketWindowWordCount (reference backup/
    * SocketWindowWordCount.java): lines → tokenize → running counts in
    * complete mode. Caller starts the returned streaming frame. */
  def socketWordCount(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .select(explode(graft.functions.Text.rawTokens(col("value"))).as("term"))
      .filter(graft.functions.Text.keepToken(col("term")))
      .groupBy("term").agg(count(lit(1)).as("n"))

  /** Per-key running totals via explicit state — the
    * mapGroupsWithState form of the ref's reduce loop. Exposed for
    * tests/users who need custom state transitions rather than a
    * streaming agg. */
  def runningCountsWithState(spark: SparkSession, words: DataFrame): DataFrame = {
    import spark.implicits._
    val updated = words.as[String].groupByKey(identity).mapGroupsWithState(
      GroupStateTimeout.NoTimeout()) {
      (word: String, rows: Iterator[String], state: GroupState[Long]) =>
        val next = state.getOption.getOrElse(0L) + rows.size
        state.update(next)
        (word, next)
    }
    updated.toDF("term", "n")
  }

  /** Running totals SEEDED with initial per-key counts — the
    * reference's UnionTest pattern (an init stream unioned into the
    * socket stream before the keyed reduce, backup/UnionTest.java:
    * 64-99). Structured Streaming expresses the seed as
    * mapGroupsWithState initial state rather than a stream union. */
  def runningCountsSeeded(spark: SparkSession, words: DataFrame,
                          initial: DataFrame): DataFrame = {
    import spark.implicits._
    val init = initial.select(col("term"), col("n"))
      .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
    val updated = words.as[String].groupByKey(identity).mapGroupsWithState(
      GroupStateTimeout.NoTimeout(), init) {
      (word: String, rows: Iterator[String], state: GroupState[Long]) =>
        val next = state.getOption.getOrElse(0L) + rows.size
        state.update(next)
        (word, next)
    }
    updated.toDF("term", "n")
  }

  /** (query_id, doc_id, score, rk): a STREAM of search queries served
    * against the staged inverted index — the reference's whole serving
    * loop (BMStream.java: query arrives, TF/IDF fetched from Mongo,
    * scored, top-N out) as stream-in/results-out. Each micro-batch of
    * queries is scored via [[graft.operators.Bm25Index.batchSearch]]
    * (per-query ranking is a windowed top-k, which streaming cannot
    * run inline — foreachBatch is the standard serving form); results
    * append to the output store. The index is STATIC during serving;
    * per batch, cost is a term-pruned postings scan — no corpus pass,
    * state zero. Returns all results after the query stream drains. */
  def searchStream(spark: SparkSession, queriesDir: String, indexPath: String,
                   k: Int = 10, maxFilesPerTrigger: Option[Int] = None,
                   onBatch: Long => Unit = _ => ()): DataFrame = {
    val schema = spark.read.parquet(queriesDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val qs = reader.parquet(queriesDir)
    // sink path FIXED per (queries, index) pair and cleared on entry,
    // so repeated serving runs reuse one directory instead of leaking
    // a tempdir per call (the previous run's lazily-read DataFrame is
    // dead by then — single-writer serving contract, like the store's)
    val tag = pathTag(queriesDir + "|" + indexPath)
    val outRoot = sys.props("java.io.tmpdir") + s"/graft_search_stream_$tag"
    // the index is STATIC during serving (scaladoc above, single-writer
    // contract): resolve the live (postings, doclen) pair ONCE before
    // the drain instead of re-listing committed deltas + re-opening the
    // parquet relations inside every micro-batch plan (guide §2.4 —
    // share one resolution; term pruning still pushes per batch)
    val tfDl = graft.operators.Bm25Index.liveServe(spark, indexPath)
    serveStream(spark, qs, outRoot, onBatch) { batch =>
      graft.operators.Bm25Index.batchSearchFrom(tfDl, batch, k)
    }
  }

  /** The drain-and-serve skeleton shared by [[searchStream]] and
    * [[annStream]]: run the query stream to completion, scoring each
    * micro-batch with `score` into a per-batch parquet sink, and
    * return everything served.
    *
    * Results land in per-batch dirs, NOT a driver buffer: each
    * micro-batch OVERWRITES its own batch-<id> dir, so a retried batch
    * (foreachBatch is at-least-once) replaces rather than appends —
    * idempotent — and driver memory stays O(1) however large the query
    * stream is. The checkpoint (under outRoot, which the caller owns
    * and clears) makes batch ids stable across restarts of the same
    * stream. No shuffle-partitions pin here: the scoring plans are
    * built inside foreachBatch on the OUTER session per micro-batch,
    * so a pin around start() would not reach them (and racily mutating
    * shared session conf from the stream thread is worse than the
    * session's own partition setting). The final read is a GLOB, not a
    * driver-local directory listing — it resolves on whatever
    * filesystem outRoot lives on (basePath keeps the batch-N dirs from
    * being treated as partition columns). */
  private def serveStream(spark: SparkSession, queries: DataFrame, outRoot: String,
                          onBatch: Long => Unit = _ => ())
                         (score: DataFrame => DataFrame): DataFrame = {
    deleteRecursive(spark, outRoot)
    @volatile var sawBatch = false
    val sq =
      queries.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$outRoot/_checkpoint")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          onBatch(batchId)
          sawBatch = true
          score(batch.toDF()).write.mode("overwrite").parquet(s"$outRoot/batch-$batchId")
          ()
        }
        .start()
    try sq.processAllAvailable()
    finally sq.stop()
    require(sawBatch, s"query stream produced no micro-batches (sink $outRoot)")
    spark.read.option("basePath", outRoot).parquet(s"$outRoot/batch-*")
  }

  /** [[serveStream]] for UNBOUNDED sources: the same idempotent
    * per-batch parquet sink, but the drain stops once at least
    * `minRows` SOURCE rows have been served (or `timeoutSec` passes)
    * instead of waiting for source exhaustion — which never comes on a
    * live feed. Only batch dirs whose write COMPLETED are read back,
    * so a stop() landing mid-write cannot poison the result with a
    * partial file. */
  private def serveStreamUntil(spark: SparkSession, stream: DataFrame, outRoot: String,
                               minRows: Long, timeoutSec: Int = 60)
                              (score: DataFrame => DataFrame): DataFrame = {
    deleteRecursive(spark, outRoot)
    @volatile var served = 0L
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sq =
      stream.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$outRoot/_checkpoint")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val dir = s"$outRoot/batch-$batchId"
          val n = batch.count()
          if (n > 0) { // rate ticks can deliver empty batches — skip
            score(batch.toDF()).write.mode("overwrite").parquet(dir)
            done.add(dir)
            served += n
          }
          ()
        }
        .start()
    val deadline = System.nanoTime() + timeoutSec * 1e9.toLong
    try {
      while (served < minRows && System.nanoTime() < deadline) Thread.sleep(100)
    } finally sq.stop()
    require(served >= minRows,
      s"unbounded source served only $served/$minRows rows in ${timeoutSec}s (sink $outRoot)")
    import scala.jdk.CollectionConverters._
    spark.read.option("basePath", outRoot).parquet(done.asScala.toSeq.sorted: _*)
  }

  /** (bucket, n_events): the serving skeleton fed by the built-in
    * UNBOUNDED `rate` source — the engine's analogue of the
    * reference's live socket loop (reference
    * backup/SocketWindowWordCount.java:80-120, an unbounded text feed
    * into windowed counts). Each micro-batch buckets the monotonically
    * increasing `value` column (value % nBuckets — the wordcount
    * stand-in for a source with no text) and counts; the read-back
    * sums per bucket. Row count is deterministic (exactly nBuckets
    * buckets once ≥ minRows consecutive values have flowed) even
    * though per-bucket totals are wall-clock dependent — hence a
    * rows-only gate + shape spec, no value oracle. */
  def rateSmoke(spark: SparkSession, rowsPerSecond: Int = 1000,
                nBuckets: Int = 10, minRows: Long = 200): DataFrame = {
    require(minRows >= nBuckets.toLong * 2,
      s"minRows=$minRows cannot guarantee all $nBuckets buckets appear")
    val tag = pathTag(s"rate|$rowsPerSecond|$nBuckets|$minRows")
    val outRoot = sys.props("java.io.tmpdir") + s"/graft_rate_smoke_$tag"
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
    val perBatch = serveStreamUntil(spark, src, outRoot, minRows) { batch =>
      batch.select((col("value") % nBuckets).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }
    perBatch.groupBy("bucket").agg(sum("n").as("n_events"))
  }

  /** (term, n): the serving skeleton fed by Spark's built-in `socket`
    * TEXT source — the literal re-expression of the reference's live
    * socket loop (reference backup/SocketWindowWordCount.java:40-80:
    * TCP text feed → tokenize → keyed counts). Each micro-batch
    * tokenizes its lines and partially counts; the read-back folds
    * the per-batch partials, the same two-level aggregation as
    * [[rateSmoke]]. Spec-gated only (StreamsSpec spins up a local
    * ServerSocket feeding a known script): the socket source is
    * non-replayable and wall-clock shaped, so there is no oracle —
    * what the spec pins is the serving skeleton (unbounded drain,
    * idempotent per-batch sink, completed-dirs-only read-back) over
    * the true `socket` source rather than its `rate` stand-in. */
  def socketServeSmoke(spark: SparkSession, host: String, port: Int,
                       minRows: Long, timeoutSec: Int = 60): DataFrame = {
    val tag = pathTag(s"socket|$host|$port|$minRows")
    val outRoot = sys.props("java.io.tmpdir") + s"/graft_socket_smoke_$tag"
    val src = spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
    val perBatch = serveStreamUntil(spark, src, outRoot, minRows, timeoutSec) { batch =>
      batch.select(explode(graft.functions.Text.rawTokens(col("value"))).as("term"))
        .filter(graft.functions.Text.keepToken(col("term")))
        .groupBy("term").agg(count(lit(1)).as("n"))
    }
    perBatch.groupBy("term").agg(sum("n").as("n"))
  }

  /** (query_id, vec_id, cos, rk): a STREAM of query VECTORS served
    * against the static embedding store — the vector-search sibling of
    * [[searchStream]] (the reference's BMStream serving loop, with the
    * inverted index swapped for the embedding corpus). Query vectors
    * are staged one file per trigger; each micro-batch is scored by
    * [[graft.operators.Ann.batchTopKFrom]] (query batch broadcast, one
    * corpus pass per batch) into an idempotent per-batch parquet sink —
    * same O(1)-driver-memory, retry-safe shape as searchStream. Rows
    * equal [[graft.operators.Ann.batchTopK]] on the same query ids
    * (shared oracle). */
  def annStream(spark: SparkSession, dir: String,
                queryIds: Seq[Long] = Seq(0L, 1L, 2L), k: Int = 10): DataFrame = {
    val tag = pathTag(dir + "|" + queryIds.mkString(","))
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_ann_stream_out_$tag"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    // one file per query id → maxFilesPerTrigger=1 proves multi-batch.
    // Written id-by-id: a sampled range partitioner (or a hash
    // repartition) can co-locate ids / leave empty partitions, which
    // would silently collapse the multi-batch demonstration
    val src = stagedOnce(spark, s"$tmp/graft_ann_stream_src_$tag") { p =>
      queries.filter(col("query_id") === queryIds.head).coalesce(1)
        .write.mode("overwrite").parquet(p)
      queryIds.drop(1).foreach { id =>
        queries.filter(col("query_id") === id).coalesce(1)
          .write.mode("append").parquet(p)
      }
    }
    val qs = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, qs, outRoot)(batch =>
      graft.operators.Ann.batchTopKFrom(emb, batch, k))
  }

  /** (vec_id, cluster_id, d2): the embedding corpus streamed through
    * micro-batches and assigned against a k-means centroid table
    * fitted ONCE from the static corpus — the curation serving shape:
    * the quantizer is a fitted artifact, arriving vectors are labeled
    * by a PURE MAP against its plan-literal centroids (zero per-batch
    * shuffles, zero driver sync after the fit). Batches are staged by
    * vec_id mod `nBatches` with maxFilesPerTrigger=1, so the
    * multi-batch path is genuinely exercised; the union of batch
    * outputs equals [[graft.operators.Clustering.kmeans]] on the same
    * corpus exactly (same centroids, same integer arithmetic — shared
    * oracle). */
  def kmeansStream(spark: SparkSession, dir: String, nBatches: Int = 3): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val tag = pathTag(dir + "|kmeans|" + nBatches)
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_kmeans_stream_out_$tag"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the fitted centroid table is a TRAINED ARTIFACT (scaladoc above:
    // "fitted ONCE from the static corpus") — staged once like the PQ
    // codebooks, reloaded as exact-integer literals per run
    val centsPath = stagedOnce(spark, s"$tmp/graft_kmeans_stream_cents_$tag") { p =>
      import spark.implicits._
      graft.operators.Clustering.fit(emb).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "center").coalesce(1).write.mode("overwrite").parquet(p)
    }
    val cents = spark.read.parquet(centsPath).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Long](1).toArray)
    val src = stagedOnce(spark, s"$tmp/graft_kmeans_stream_src_$tag") { p =>
      (0 until nBatches).foreach { b =>
        emb.filter(col("vec_id") % nBatches === b).coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(p)
      }
    }
    val s = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, s, outRoot)(batch =>
      graft.operators.Clustering.assignVectors(batch, cents))
  }

  /** (doc_a, doc_b): documents streamed through micro-batches and
    * MinHash-LSH-matched against the STATIC corpus — the streaming
    * ingest-dedup shape: the corpus's band-bucket relation is a
    * persisted index artifact, each arriving micro-batch bands its
    * own docs row-locally (the fused native signature pass works
    * unchanged on a streaming frame) and pays ONE equi-join on
    * (band, bkey) against it — never a corpus pass per batch. Pairs
    * keep the static side as doc_a with doc_a < doc_b, so every
    * near-dup pair is emitted exactly once, when its higher id
    * arrives; the union of batch outputs equals
    * [[graft.operators.Dedup.minhashCandidates]] on the same corpus
    * (shared oracle). At 100 TB the static band relation is the
    * staged LSH store ([[graft.operators.AnnIndex]]'s shape) rather
    * than a recompute; here it is computed once and persisted across
    * the run's micro-batches. */
  def minhashDedupStream(spark: SparkSession, dir: String, nBatches: Int = 3): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val tag = pathTag(dir + "|mhdedup|" + nBatches)
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_mhdedup_stream_out_$tag"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    // the static band relation is the PERSISTED INDEX ARTIFACT the
    // scaladoc declares ("at 100 TB ... the staged LSH store rather
    // than a recompute") — staged once, read per batch
    val bandsPath = stagedOnce(spark, s"$tmp/graft_mhdedup_stream_bands_$tag") { p =>
      graft.operators.Dedup.bandKeys(docs)
        .write.mode("overwrite").parquet(p)
    }
    val staticBands = spark.read.parquet(bandsPath)
    val src = stagedOnce(spark, s"$tmp/graft_mhdedup_stream_src_$tag") { p =>
      (0 until nBatches).foreach { b =>
        docs.filter(col("doc_id") % nBatches === b).coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(p)
      }
    }
    val s = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, s, outRoot)(batch =>
      graft.operators.Dedup.bandKeys(batch).as("b")
        .join(staticBands.as("a"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct())
  }

  /** (doc_id, n_probes, n_shingles): documents streamed through
    * micro-batches and screened against a STATIC contamination probe
    * index — the INGEST GATE shape: benchmark/eval suites are
    * shingled ONCE into a persisted index artifact
    * ([[graft.operators.TextAnalysis.contaminationFromIndex]]), each
    * arriving micro-batch shingles only its own documents and pays one
    * broadcast join against it — never a probe-set pass per batch.
    * Per-doc aggregates group within the batch that carries the doc
    * (each doc arrives exactly once), so the union of batch outputs
    * equals batch [[graft.operators.TextAnalysis.contamination]] on
    * the same corpus row-for-row (shared oracle). */
  def contaminationStream(spark: SparkSession, dir: String, nBatches: Int = 3): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val tag = pathTag(dir + "|contam|" + nBatches)
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_contam_stream_out_$tag"
    val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    // the probe shingle index is the PERSISTED ARTIFACT the scaladoc
    // declares ("shingled ONCE into a persisted index artifact") —
    // staged once, read per batch
    val probePath = stagedOnce(spark, s"$tmp/graft_contam_stream_probe_$tag") { p =>
      graft.operators.Dedup.shingles(d.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id").as("probe_id"), col("shingle"))
        .write.mode("overwrite").parquet(p)
    }
    val probeSh = spark.read.parquet(probePath)
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val src = stagedOnce(spark, s"$tmp/graft_contam_stream_src_$tag") { p =>
      (0 until nBatches).foreach { b =>
        train.filter(col("doc_id") % nBatches === b).coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(p)
      }
    }
    val s = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, s, outRoot)(batch =>
      graft.operators.TextAnalysis.contaminationFromIndex(batch, probeSh))
  }

  /** (vec_id, probe_id, cos): STREAMING SEMANTIC decontamination — the
    * embedding-space ingest gate (the [[contaminationStream]] twin one
    * level up the contamination ladder): corpus vectors arrive as
    * micro-batches and each batch runs the cross-relation LSH screen
    * against the STATIC probe (eval-set) relation. A corpus vector's
    * matches depend only on itself and the probes — no cross-batch
    * state — so the union over batches equals the batch
    * `q_contamination_semantic` result exactly (shared all-pairs
    * oracle). The probe side is small and persisted once; per batch
    * the work is batch-buckets × probe-buckets co-occupancy plus the
    * exact verify on candidates. */
  def semanticContaminationStream(spark: SparkSession, dir: String,
                                  nBatches: Int = 3): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val tag = pathTag(dir + "|semcontam|" + nBatches)
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_semcontam_stream_out_$tag"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // the probe relation is the STATIC persisted side the scaladoc
    // declares ("the probe side is small and persisted once") —
    // staged once, read per batch
    val probePath = stagedOnce(spark, s"$tmp/graft_semcontam_stream_probe_$tag") { p =>
      e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    val probes = spark.read.parquet(probePath)
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
    val src = stagedOnce(spark, s"$tmp/graft_semcontam_stream_src_$tag") { p =>
      (0 until nBatches).foreach { b =>
        corpus.filter(col("vec_id") % nBatches === b).coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(p)
      }
    }
    val s = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, s, outRoot)(batch =>
      graft.operators.Ann.semanticContamination(batch, probes))
  }

  /** (doc_id, source): the STREAMING budget sampler — one epoch of
    * the [[graft.operators.TextAnalysis.tokenBudget]] mixture plan
    * applied to ARRIVING documents. The plan is corpus-global state
    * fixed BEFORE the drain (a mixture is planned against full-corpus
    * token statistics, exactly like the static probe relation of the
    * semantic screen); each micro-batch then joins the broadcast plan
    * and keeps docs whose deterministic md5 uniform clears the
    * per-source rate — a doc's membership depends only on itself and
    * the plan, so union-over-batches == the batch sample is a theorem
    * here (no cross-batch state), and the shared oracle checks it
    * anyway. */
  def budgetSampleStream(spark: SparkSession, dir: String,
                         nBatches: Int = 3): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val tag = pathTag(dir + "|budget|" + nBatches)
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_budget_stream_out_$tag"
    val docs = graft.sources.Tables.documents(spark, dir)
    // the mixture plan is corpus-global state FIXED BEFORE the drain
    // (scaladoc above — "exactly like the static probe relation") —
    // staged once, read per batch
    val planPath = stagedOnce(spark, s"$tmp/graft_budget_stream_plan_$tag") { p =>
      graft.operators.TextAnalysis.budgetPlan(docs)
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    val plan = spark.read.parquet(planPath)
    val slices = docs.select("doc_id", "source")
    val src = stagedOnce(spark, s"$tmp/graft_budget_stream_src_$tag") { p =>
      (0 until nBatches).foreach { b =>
        slices.filter(col("doc_id") % nBatches === b).coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(p)
      }
    }
    val s = spark.readStream.schema(slices.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, s, outRoot)(batch =>
      graft.operators.TextAnalysis.budgetSampleFrom(batch, plan))
  }

  /** (vec_id, dim_idx, w): STREAMING diagonal whitening — the
    * embedding stream transformed per micro-batch under the
    * PRE-DRAIN corpus-global statistics (the budget-sampler
    * precedent: [[graft.operators.Vectors.whitenStats]] is fixed
    * before the first trigger and baked into each batch's plan as
    * literals; in production the stats come from the previous corpus
    * snapshot exactly like the sampler's mixture plan). Because
    * [[graft.operators.Vectors.whitenWith]] is a STATELESS pure map,
    * the union over micro-batches equals the batch whitening row for
    * row (theorem, not luck) — shared oracle with q_emb_whiten. */
  def whitenStream(spark: SparkSession, dir: String,
                   nBatches: Int = 3): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val tag = pathTag(dir + "|whiten|" + nBatches)
    val tmp = sys.props("java.io.tmpdir")
    val outRoot = s"$tmp/graft_whiten_stream_out_$tag"
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // corpus-global whitening statistics fixed BEFORE the drain
    // (scaladoc: "in production the stats come from the previous
    // corpus snapshot") — staged once as exact binary doubles,
    // reloaded as plan literals per run
    val statsPath = stagedOnce(spark, s"$tmp/graft_whiten_stream_stats_$tag") { p =>
      import spark.implicits._
      graft.operators.Vectors.whitenStats(emb).toSeq
        .toDF("j", "mu", "sd").coalesce(1).write.mode("overwrite").parquet(p)
    }
    val stats = spark.read.parquet(statsPath).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val slices = emb.select("vec_id", "embedding")
    val src = stagedOnce(spark, s"$tmp/graft_whiten_stream_src_$tag") { p =>
      (0 until nBatches).foreach { b =>
        slices.filter(col("vec_id") % nBatches === b).coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(p)
      }
    }
    val s = spark.readStream.schema(slices.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    serveStream(spark, s, outRoot)(batch =>
      graft.operators.Vectors.whitenWith(batch, stats))
  }

  /** (user_id, last_type, last_value, last_ts_ms): the event stream
    * upserted per micro-batch into a keyed parquet store — the
    * reference's STREAMING Mongo sink (MongoTFSink.java /
    * MongoIDFSink.java: findOneAndUpdate(upsert=true) per record, as
    * a batched merge). Events arrive in several micro-batches (the
    * source is staged into time-ranged files, one per trigger);
    * every batch merges into the store via [[upsertSink]] keyed on
    * user_id with (ts, event_id) as the version order — so the final
    * store equals the batch last-wins result REGARDLESS of batch
    * arrival order (version-ordered merge, not arrival-ordered), and
    * version TIES resolve exactly like [[graft.operators.Upsert
    * .lastWins]] and the oracle (event_id desc), not by row hash.
    * Store cost per batch scales with store size here; the
    * partitioned upsert ([[graft.sources.Sinks
    * .upsertPartitionedParquet]]) is the 100 TB form. */
  def upsertStream(spark: SparkSession, dir: String, nBatches: Int = 4): DataFrame = {
    val tag = pathTag(dir)
    val tmp = sys.props("java.io.tmpdir")
    val store = s"$tmp/graft_stream_upsert_store_$tag"
    val ckpt = s"$tmp/graft_stream_upsert_ckpt_$tag"
    // fresh store/checkpoint per run: this query demonstrates the
    // sink converging from empty; stale state would double-merge
    Seq(store, ckpt).foreach(p => deleteRecursive(spark, p))
    // ts-normalized load: the staged src files then carry long nanos,
    // so the streaming re-read below needs no second normalization
    val events = graft.sources.Tables.events(spark, dir)
    val src = stagedOnce(spark, s"$tmp/graft_stream_upsert_src_$tag") { p =>
      events.repartitionByRange(nBatches, col("ts"))
        .write.mode("overwrite").parquet(p)
    }
    val qs = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val sq = upsertSink(spark, qs, store, keyCols = Seq("user_id"),
      versionCol = "ts", tieCols = Seq("event_id"),
      checkpoint = Some(ckpt), mode = OutputMode.Append())
    try sq.processAllAvailable()
    finally sq.stop()
    spark.read.parquet(store)
      .select(col("user_id"), col("event_type").as("last_type"),
        round(col("value"), 6).as("last_value"),
        expr("ts div 1000000").as("last_ts_ms"))
  }

  /** (from_type, to_type, n, p): STREAMING Markov transitions — each
    * user's state is the last (ts, event_id, type) seen, so every
    * arriving event emits exactly one (prev → this) pair through
    * flatMapGroupsWithState and cross-batch continuity costs O(1)
    * state per user. Batches are staged time-RANGED and mtime-ordered
    * (the per-key in-order delivery a partitioned changelog gives in
    * production); the drained pair multiset then aggregates to
    * exactly the batch [[graft.operators.Relational
    * .eventTransitions]] matrix — shared oracle, and the cross-batch
    * pairs (a user's last event of batch b joined to their first of
    * b+1) only exist because the state survived the batch boundary. */
  def transitionsStream(spark: SparkSession, dir: String, nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val tag = pathTag(dir + "|trans|" + nBatches)
    val events = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    // the file source orders batches by modification time — pin each
    // slice's part files to a distinct synthetic mtime tick instead
    // of sleeping between writes (fixed PAST base: freshly-written
    // files carry a current mtime far above it, which is how the
    // not-yet-pinned ones are recognized after each append)
    val src = stagedOnce(spark,
        sys.props("java.io.tmpdir") + s"/graft_trans_stream_src_$tag") { sp =>
      val (lo, hi) = events.agg(min("ts"), max("ts")).as[(Long, Long)].collect()(0)
      val width = (hi - lo) / nBatches + 1
      val mtimeBase = 1000000000000L
      val root = new java.io.File(sp)
      (0 until nBatches).foreach { b =>
        events.filter(col("ts") >= lo + b * width && col("ts") < lo + (b + 1) * width)
          .coalesce(1).write.mode(if (b == 0) "overwrite" else "append").parquet(sp)
        Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
          if (f.lastModified() > mtimeBase + nBatches * 60000L) {
            // the stream==batch row-order contract rides on micro-batch
            // file order = this pinned mtime order; fail loudly if the
            // filesystem refuses rather than degrade into flakiness
            require(f.setLastModified(mtimeBase + b * 60000L),
              s"setLastModified failed for $f — mtime-ordered micro-batching unavailable")
          }
        }
      }
    }
    val s = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(Long, Long, Long, String)]
    val pairs = s.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (_: Long, rows: Iterator[(Long, Long, Long, String)],
       state: GroupState[(Long, Long, String)]) =>
        // in-batch (ts, event_id) sort buffers this user's batch rows
        // only; cross-batch state is one (ts, event_id, type) triple
        val out = Seq.newBuilder[(String, String)]
        var prev = state.getOption
        rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, eid, tpe) =>
          prev.foreach { case (_, _, pt) => out += ((pt, tpe)) }
          prev = Some((ts, eid, tpe))
        }
        prev.foreach(state.update)
        out.result().iterator
    }
    val drained = drainToMemory(spark,
      pairs.toDF("from_type", "to_type"), OutputMode.Append())
    val trans = drained.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type").as("ft")).agg(sum("n").as("n_from"))
    trans.join(broadcast(totals), col("from_type") === col("ft"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from"), 6).as("p"))
  }

  /** (user_id, last_value_micros, n_ops): STREAMING CDC apply — the
    * event changelog reduced to final table state as it arrives,
    * matching [[graft.operators.Relational.cdcApply]] row-for-row
    * (shared oracle). One streaming aggregation keyed by user_id:
    * max_by picks the (ts, event_id)-latest op incrementally (state
    * per key = one op row + a count — O(1), watermark-evictable on an
    * unbounded changelog), so arrival order across micro-batches
    * cannot change the winner; 'error' tombstones ride the state like
    * any op and keys whose LAST op is a delete drop at emission —
    * the compacted-changelog contract (Kafka log compaction,
    * Debezium → table materialization). */
  def cdcStream(spark: SparkSession, dir: String): DataFrame = {
    val state = eventStream(spark, dir)
      .groupBy("user_id")
      .agg(
        max_by(struct(col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_ops"))
    drainToMemory(spark, state, OutputMode.Complete())
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"),
        floor(col("last.value") * 1000000.0).cast("long").as("last_value_micros"),
        col("n_ops"))
  }

  /** (win_start_ms, event_type, n, rk): top-3 event kinds per 1-hour
    * window over the event stream. The streaming stage is the same
    * watermarked windowed count as [[windowedWordCount]] (keyed state,
    * bounded by the watermark); the per-window RANKING runs on the
    * drained result — ranking inside an open window is undefined until
    * the watermark closes it, so the batch rank over closed windows is
    * the semantically honest (and cheap: #windows × #kinds rows)
    * placement. */
  def windowedTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // the streaming stage IS windowedWordCount — one definition of the
    // watermark/window/count; only the closed-window ranking is added
    val drained = windowedWordCount(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start_ms").orderBy(col("n").desc, col("event_type").asc)
    drained.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
