package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming jobs over the `events` shape. The reference itself
  * is batch-only (SURVEY §2.10) — its "incremental" loads are idempotent
  * batch MERGEs — so these are the capability extension for continuous
  * ingestion: the streaming twins of the batch queries in
  * graft.queries.Events, sharing semantics so a user can switch modes.
  *
  * All jobs take a streaming DataFrame (readStream-sourced) and return the
  * transformed streaming DataFrame; sinks/triggers are the caller's choice.
  * State is bounded by watermarks (windows) / timeouts (sessions) — the
  * 100 TB/day concern is state size, not throughput.
  */
object Streams {

  /** Launch-shape session configs for CORPUS-SCALE stateful streams
    * (curateStream's two dedup stores, sessionizeStream, dedupStream).
    * The default HDFS-backed state store keeps every live state row ON
    * THE EXECUTOR HEAP — fine for watermark-bounded windows, but a
    * fingerprint-dedup horizon over a 100 TB/day stream holds hundreds of
    * millions of keys per executor and outgrows any heap. RocksDB keeps
    * state off-heap on local disk (memtable + SST files) with the same
    * exactly-once checkpoint contract; changelog checkpointing uploads
    * per-batch deltas instead of full snapshots, which is what keeps
    * commit latency flat as state grows. Set these on the session BEFORE
    * the query starts (the provider is fixed per query at start):
    *
    * {{{
    * Streams.rocksDbStateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    * val q = Streams.curateStream(docs, "doc_id", "text").writeStream...
    * }}}
    *
    * Output is batch-equivalent under either provider (StreamsSpec runs
    * the gate under RocksDB against the same batch oracle); rocksdbjni
    * ships with Spark, so there is no extra deployment dependency. Sizing
    * rule in docs/DEPLOY.md.
    */
  val rocksDbStateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Typed event for stateful APIs. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long, session_value: Double)

  /** Internal per-user session accumulator (public: the state encoder's
    * generated code instantiates it reflectively).
    */
  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Tumbling-window aggregation with late-data watermark — the streaming
    * twin of q18_event_window.
    */
  def windowedCounts(events: DataFrame,
                     window_ : String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"), col("approx_users"))

  /** Per-type volume moments trained on a BATCH history frame — exact
    * integer sums over the hourly grid (count, Σn, Σn²), the same
    * deterministic-moment discipline as the q52 batch entry. Output:
    * (event_type, cnt, sn, sn2) — a dim-sized frame [anomalyStream]
    * broadcasts against the live windows.
    */
  def anomalyStats(history: DataFrame): DataFrame =
    history
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("n")).as("sn"),
        sum(col("n") * col("n")).as("sn2"))

  /** Streaming twin of q52_anomaly, in the production shape: moments are
    * trained OFFLINE ([anomalyStats]) and joined as a static broadcast
    * dim; the stream pays one watermarked tumbling-window count, and each
    * completed window is z-scored against its type's history. No
    * streaming state beyond the window aggregation itself.
    */
  def anomalyStream(events: DataFrame, stats: DataFrame,
                    window_ : String = "1 hour",
                    watermark: String = "10 minutes",
                    zThreshold: Double = 2.0): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(stats), "event_type")
      .withColumn("mean", col("sn").cast("double") / col("cnt"))
      .withColumn("sd",
        sqrt(col("sn2").cast("double") / col("cnt") - col("mean") * col("mean")))
      .withColumn("z",
        when(col("sd") > 0, round((col("n") - col("mean")) / col("sd"), 6))
          .otherwise(lit(0.0)))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("z"), (abs(col("z")) > zThreshold).as("is_anomaly"))

  /** Per-user session transition function (public for direct unit testing
    * with TestGroupState). Emits a closed session when the gap exceeds
    * `gapMs` (on the next event) or when the state times out.
    */
  def sessionFn(gapMs: Long, useTimeout: Boolean)(
      userId: Long, evs: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator(SessionOut(userId, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.last), s.n, s.total))
    }
    val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var out = Vector.empty[SessionOut]
    var cur = state.getOption
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last > gapMs =>
          out :+= SessionOut(userId, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.last), s.n, s.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case Some(s) if s.start - t > gapMs =>
          // cross-batch DEEP-late event, a full gap earlier than the open
          // session: it can never merge with anything still to come (the
          // open session already sits ≥ gap after it) — emit it as its own
          // closed singleton, matching what the batch sort would produce
          out :+= SessionOut(userId, new java.sql.Timestamp(t),
            new java.sql.Timestamp(t), 1, e.value)
        case Some(s) =>
          // within-gap late events extend the session BACKWARD too —
          // session_start must match the batch twin's min event time
          cur = Some(s.copy(start = math.min(s.start, t),
            last = math.max(s.last, t), n = s.n + 1, total = s.total + e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    cur.foreach { s =>
      state.update(s)
      if (useTimeout) state.setTimeoutDuration(gapMs)
    }
    out.iterator
  }

  /** Gap-based sessionization with per-key state — the streaming twin of
    * q20_sessionize. With `useTimeout` (production default) open sessions
    * also close after `gapSeconds` of processing-time silence; pair it with
    * a real trigger interval (the no-delay test trigger would busy-loop
    * empty micro-batches while waiting on the clock).
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 useTimeout: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeout = if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        sessionFn(gapSeconds * 1000, useTimeout))
  }

  /** Streaming exact dedup on a content key within the watermark horizon —
    * the streaming twin of Dedup.exactByFingerprint: any later row with the
    * same key is dropped while the first occurrence is inside the watermark,
    * regardless of its timestamp. `dropDuplicatesWithinWatermark` keys state
    * on `keyCols` alone and evicts entries once they age past the watermark
    * — bounded state without `ts` leaking into the dedup key (keying on
    * (key, ts) would only drop identical-timestamp duplicates).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming near-dup dedup at the token-multiset level: rows whose
    * simhash64 collides within the watermark horizon are dropped — that is,
    * documents with IDENTICAL token multisets (reordered sentences,
    * re-whitespaced or shuffled text), the first rung of the near-dup
    * ladder above byte-exact fingerprints. Full hamming-ball near-dedup
    * (Dedup.simhashPairs, distance ≤ 3) needs cross-key candidate joins and
    * stays batch: a streaming hamming ball would shard each doc into 4
    * chunk-keyed state groups whose votes must be re-joined per row —
    * a second stateful stage with no bounded-state formulation.
    */
  def simhashDedupStream(docs: DataFrame, textCol: String, tsCol: String = "ts",
                         watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("__simhash",
      graft.functions.Expressions.simhash64(col(textCol)))
    // null-text rows have no content to collide on — they bypass the dedup
    // state entirely (dropDuplicates* treats null keys as EQUAL, so routing
    // them through would silently discard every null-text doc after the
    // first within the horizon)
    val deduped = hashed.filter(col("__simhash").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__simhash")
    deduped.unionByName(hashed.filter(col("__simhash").isNull)).drop("__simhash")
  }

  /** Streaming front-gate of the curation pipeline (the arrival-time twin
    * of Curation.stages 1-3): canonicalize (NFC + PII scrub) → row-local
    * quality gates → in-horizon content dedup (exact fingerprint, then
    * token-multiset SimHash), emitting the canonical text plus the
    * quality/langid columns a downstream batch run reads. Everything
    * before the dedup state is a stateless map (scales with input, no
    * shuffle); the dedup state is two watermark-pruned hash sets of
    * 8-byte keys. This is the "wash at the door" deployment: a daily
    * [graft.pipeline.Curation.curateDelta] batch still runs the
    * corpus-aware stages (near-dup vs corpus, decontamination, packing)
    * that need an index no stream can hold.
    */
  /** The STATELESS prefix of [curateStream] — canon scrub → quality/token
    * gates → optional blocklist gate. Factored out (one definition) so the
    * throughput probe can price exactly the shipped chain's stateless part
    * against the full gate: the delta attributes cost to the stateful
    * dedup stores rather than a guess, and the stateless prefix is the
    * only part of the gate a continuous (no-micro-batch) trigger can run
    * at all — Spark's continuous mode supports stateless maps/filters
    * only, so `dropDuplicatesWithinWatermark` pins the full gate to
    * micro-batch execution by construction.
    */
  private[graft] def curateGatePrefix(docs: DataFrame, textCol: String,
                                      minTokens: Int, minQuality: Double,
                                      blockTerms: Seq[String],
                                      blockMaxRatio: Double): DataFrame = {
    import graft.functions.{TextFns, Expressions}
    // BOTH expensive projections are fenced with Expressions.barrier: a
    // stream has no persist/checkpoint to materialize the canon column,
    // and without the fence predicate pushdown substitutes the FULL
    // scrub∘NFC subtree into every reference of the gate predicate —
    // measured 14.7 s/M (the nested shape) vs 2.9 s/M fenced, and the
    // sustained stream rate moves accordingly. The batch pipeline gets
    // the same property from its per-stage persist; the fence is the
    // stream's equivalent, at zero runtime cost (identity passthrough).
    val canon = docs.withColumn(textCol,
      Expressions.barrier(graft.pipeline.Curation.canonicalText(col(textCol))))
    // quality is computed ONCE, before the gate, and carried through as a
    // column: the gate filters on it and the output reports it — the
    // previous shape recomputed the full regex ensemble after the dedup
    // operators (stateful boundaries defeat subexpression elimination)
    val gated0 = canon
      .withColumn("quality", Expressions.barrier(TextFns.qualityScore(col(textCol))))
      .filter(TextFns.tokenCount(col(textCol)) >= minTokens &&
        col("quality") >= minQuality)
    // optional blocklist ratio gate — a stateless map
    // (Blocklist.keepPredicate), so it streams as-is
    if (blockTerms.isEmpty) gated0
    else gated0.filter(graft.operators.Blocklist.keepPredicate(
      col(textCol), blockTerms, blockMaxRatio))
  }

  def curateStream(docs: DataFrame, idCol: String, textCol: String,
                   tsCol: String = "ts",
                   minTokens: Int = 20, minQuality: Double = 0.5,
                   watermark: String = "1 hour",
                   blockTerms: Seq[String] = Nil,
                   blockMaxRatio: Double = 0.1): DataFrame = {
    import graft.functions.{TextFns, Expressions}
    val gated = curateGatePrefix(docs, textCol, minTokens, minQuality,
      blockTerms, blockMaxRatio)
    // exact-content dedup first (formatting-noise-insensitive fingerprint),
    // then the SimHash multiset guard — same order as the batch stages.
    // ONE watermark serves both stateful operators (a stream's watermark
    // cannot be redefined); no null-key branches needed here: the quality
    // gate already rejected null/empty text, so both hashes are non-null
    // by construction.
    gated
      .withColumn("__fp", TextFns.fingerprint64(col(textCol)))
      .withColumn("__simhash", Expressions.simhash64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .dropDuplicatesWithinWatermark("__simhash")
      .drop("__fp", "__simhash")
      .withColumn("lang", TextFns.LangId.langId(col(textCol)))
  }

  /** Stream-static enrichment: join each micro-batch against a slowly
    * changing dimension (the streaming twin of the silver pipeline's
    * zone/holiday lookups). The dimension is broadcast — per micro-batch,
    * executors probe a replicated hash map; the stream side never
    * shuffles, which is the only stream-static plan that holds up when the
    * stream is the 100 TB/day side. Left join so unmatched events survive
    * (dimension gaps must not drop facts).
    */
  def enrichStream(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Watermarked stream-stream equi-join with a bounded time skew: rows of
    * the two streams pair when their keys match AND the right timestamp is
    * within [-withinBefore, +withinAfter] of the left one. The time bound +
    * both-side watermarks are what make the state PRUNABLE (Spark evicts
    * buffered rows once the watermark passes their join range); an
    * unbounded stream-stream join would buffer both streams forever.
    * Timestamp columns must be pre-renamed distinct (`lTs` / `rTs`).
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keys: Seq[String],
                          lTs: String, rTs: String,
                          withinBefore: String = "10 minutes",
                          withinAfter: String = "10 minutes",
                          watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(lTs, watermark)
    val r = right.withWatermark(rTs, watermark)
    val joined = l.join(r, keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rTs) >= l(lTs) - expr(s"interval $withinBefore") &&
      r(rTs) <= l(lTs) + expr(s"interval $withinAfter"))
    // expression joins keep BOTH sides' key columns; drop the right copies
    // (inner join → they're equal) so downstream key references resolve
    keys.foldLeft(joined)((d, k) => d.drop(r(k)))
  }

  /** Micro-batch upsert sink: maintains a keyed parquet snapshot by applying
    * Upsert.keyedUpsert per micro-batch (foreachBatch) — the streaming
    * continuation of the reference's idempotent MERGE loads.
    */
  def upsertSink(batch: DataFrame, batchId: Long, targetPath: String, keys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(targetPath)
    val next = new org.apache.hadoop.fs.Path(targetPath + "_next")
    val old = new org.apache.hadoop.fs.Path(targetPath + "_old")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a missing target with a committed _next means a
    // previous batch died mid-swap after the old snapshot was retired —
    // finish its rename before reading
    if (!fs.exists(path) && fs.exists(next)) fs.rename(next, path)
    // Absent target = first batch. Only genuine absence may start a fresh
    // snapshot — a transient read failure (IO error) must propagate, or the
    // sink would silently rebuild state from this batch alone and lose
    // everything merged before it.
    val target = if (fs.exists(path)) spark.read.parquet(targetPath) else batch.limit(0)
    val merged = graft.operators.Upsert.keyedUpsert(target, batch, keys)
    // write-once then RENAME-swap: the previous read-back + overwrite both
    // doubled the snapshot write AND deleted the only readable copy before
    // the rewrite committed (a crash there wedged the stream). Renames are
    // atomic on HDFS/posix; the crash windows leave either the old target
    // or a committed _next, both of which the recovery above handles.
    merged.write.mode("overwrite").parquet(next.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(path)) fs.rename(path, old)
    fs.rename(next, path)
    fs.delete(old, true)
  }
}
