package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming jobs over the events stream (§2.F).
  *
  * The same logical transformations as the batch twins in
  * [[graft.operators.EventOps]] — `stream_window_agg` ≙ [[windowedAgg]],
  * `sessionize` ≙ [[sessionized]] — expressed against an unbounded source:
  * event-time windows bounded by watermarks, custom session state via
  * `flatMapGroupsWithState`. Sinks are writeStream targets chosen by the
  * caller; tests drive a MemoryStream source and memory sink.
  *
  * Scale: watermark + window aggregation is incremental (state is one
  * entry per open (window, type) group); sessionization keeps O(users)
  * state, evicted by processing-time timeout.
  */
object EventStreams {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionAssignment(event_id: Long, user_id: Long, session_id: Long)

  final case class SessionState(sessionId: Long, lastTsUs: Long)

  /** Tumbling 1-hour window × event_type counts + value sums, late data
    * bounded by a 2-hour watermark. Streaming twin of `stream_window_agg`
    * — including the exact decimal sum: a raw sum(double) accumulates in
    * nondeterministic partition/merge order and could never bit-match
    * the batch twin.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.Exact.dsum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming mergeable histogram sketch — the stream twin of
    * `quantile_sketch_merge`'s daily stage: per (1-day tumbling window ×
    * event type), the same 32-bin equi-width value histogram (width 16,
    * clamped to [0, 512)) as 32 conditional counts inside ONE streaming
    * aggregate (mergeable by addition, so late data within the 2-hour
    * watermark folds into the same state), with p50/p95 read from the
    * finished histogram at nearest-bin resolution in the post-agg
    * projection. State per key is 32 longs — constant at any event
    * rate, the property that makes the sketch viable as standing
    * streaming state where a per-value quantile buffer is not.
    */
  def histogramSketch(events: DataFrame): DataFrame = {
    val bin = when(col("value") < 0, lit(0L))
      .when(col("value") >= 512, lit(31L))
      .otherwise(floor(col("value") / 16).cast("bigint"))
    val binCols = (0 until 32).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    events
      .withWatermark("ts", "2 hours")
      .withColumn("bin", bin)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(binCols.head, binCols.tail: _*)
      .select(col("window.start").as("window_start"), col("event_type"),
        array((0 until 32).map(b => col(s"c$b")): _*).as("bins"))
      .withColumn("total", expr("aggregate(bins, 0L, (a, x) -> a + x)"))
      .withColumn("cum", expr(
        "transform(sequence(0, 31), b -> " +
          "aggregate(slice(bins, 1, b + 1), 0L, (a, x) -> a + x))"))
      .withColumn("p50_bin", expr(
        "cast(filter(sequence(0, 31), b -> element_at(cum, b + 1) * 2 >= total)[0] as bigint)"))
      .withColumn("p95_bin", expr(
        "cast(filter(sequence(0, 31), b -> element_at(cum, b + 1) * 20 >= total * 19)[0] as bigint)"))
      .drop("cum")
  }

  private val SessionGapUs = 30L * 60 * 1000 * 1000

  /** Streaming DAU bitmap words — the stream twin of the batch
    * `stickiness_dau_mau` bitmap stage: per (1-day tumbling window ×
    * user_id÷32 word), the OR of the 32-bit membership words inside ONE
    * streaming aggregate. bit_or is idempotent and mergeable, so late
    * data within the 2-hour watermark folds into the same word and a
    * replayed user is absorbed, not double-counted — the property that
    * lets the words stand in for a windowed COUNT DISTINCT as standing
    * state (one BIGINT per live (day, word) key, \|users\|/32-scale).
    * DAU is Σ popcount over a day's words; the trailing-28-day MAU
    * union is the downstream read over the materialized words, exactly
    * as in the batch operator — the StreamingSpec agreement test
    * reconstructs dau/mau/stickiness from these words and matches the
    * batch output row-for-row.
    */
  def dauWordsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"),
        expr("user_id div 32").as("word_idx"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 32 as int)))").as("word"))
      .select(col("window.start").as("window_start"), col("word_idx"),
        col("word"), bit_count(col("word")).cast("bigint").as("n_users"))

  /** Epoch-microseconds of a Timestamp — getTime() alone truncates to
    * ms, and the batch twin (EventOps.sessionize) computes gaps and tie
    * order at µs precision, so ms-truncated state would flip session
    * assignments near the 30-min boundary (the round-1 sessionize
    * failure class, in streaming form).
    */
  private def epochMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L

  /** Gap-based sessionization with explicit state: per-user session
    * counter + last-seen event time (µs); a >30 min gap opens a new
    * session. Streaming twin of the batch `sessionize` (lag + running
    * sum) — same µs gap arithmetic and (time, event_id) tie order.
    */
  def sessionized(events: Dataset[Event]): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssignment](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          // Events within a micro-batch are not time-ordered; order them
          // before applying the gap rule. In production add an event-time
          // timeout to evict idle users' state (ProcessingTimeTimeout makes
          // the engine schedule perpetual empty batches, which stalls
          // processAllAvailable-style draining).
          val sorted = batch.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = sorted.map { e =>
            val t = epochMicros(e.ts)
            val newSession = st.lastTsUs == Long.MinValue || t - st.lastTsUs > SessionGapUs
            // same non-regression rule as closedSessions: a within-gap
            // event from a later micro-batch extends the session without
            // moving its frontier backwards (a regressed frontier would
            // split sessions the globally-sorted batch rule keeps)
            st = SessionState(if (newSession) st.sessionId + 1 else st.sessionId,
              if (newSession) t else math.max(st.lastTsUs, t))
            SessionAssignment(e.event_id, userId, st.sessionId)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class SessRollState(
      sessionId: Long, lastTsUs: Long, firstTsUs: Long, nEv: Long)

  final case class ClosedSession(
      user_id: Long, session_id: Long, n_ev: Long, day_ord: Long)

  private val DayUs = 86400000000L

  /** Closed-session rollup — the stream stage under a streaming
    * `bounce_rate`: the [[sessionized]] gap state machine extended with
    * per-session (first_ts, event count), emitting one ClosedSession row
    * the moment a >30-min gap CLOSES a session (only then is "did it
    * bounce?" final — an open session's single event may yet gain a
    * second). Sessions still open when the stream drains are therefore
    * unreported by design; the batch twin restricted to each user's
    * non-final sessions is the exact-agreement surface the
    * StreamingSpec pins. Same µs gap arithmetic and (time, event_id)
    * within-batch tie order as the batch `sessionize`. Cross-batch
    * late data never REGRESSES the state (the frontier takes
    * max(lastTs, t), the session start min(firstTs, t)), but exact
    * split-for-split agreement with the globally-sorted batch
    * sessionize still requires per-user in-order arrival ACROSS
    * micro-batches: an already-emitted close cannot be retracted if
    * late data would have bridged the gap.
    *
    * CONTRACT: the gap rule here must stay identical to
    * `EventOps.sessionAssigned` (the canonical batch frame bounce_rate
    * derives from) — the StreamingSpec agreement test compares against
    * that frame directly, so a one-sided change to either fold fails
    * the suite rather than silently forking the session semantics.
    */
  def closedSessions(events: Dataset[Event]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessRollState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessRollState]) =>
          val sorted = batch.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(
            SessRollState(0L, Long.MinValue, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          sorted.foreach { e =>
            val t = epochMicros(e.ts)
            if (st.lastTsUs == Long.MinValue)
              st = SessRollState(1L, t, t, 1L)
            else if (t - st.lastTsUs > SessionGapUs) {
              out += ClosedSession(userId, st.sessionId, st.nEv,
                st.firstTsUs / DayUs)
              st = SessRollState(st.sessionId + 1, t, t, 1L)
            } else st = st.copy(
              // cross-batch late data must not REGRESS the state: an
              // event from a later micro-batch with t < lastTsUs (but
              // within the gap) extends the session without moving its
              // frontier backwards. It may move the session START
              // earlier — but only within one gap of the current start
              // (that is what the batch view would record); a stray
              // event older than that belongs to some ALREADY-CLOSED
              // session in the batch view, so it must count into the
              // open session (the stream cannot reopen the past)
              // WITHOUT re-dating its day attribution
              lastTsUs = math.max(st.lastTsUs, t),
              firstTsUs = if (st.firstTsUs - t <= SessionGapUs)
                math.min(st.firstTsUs, t) else st.firstTsUs,
              nEv = st.nEv + 1)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming bounce rate per first-event day over CLOSED sessions
    * ([[closedSessions]] under a downstream aggregation — append-mode
    * flatMapGroupsWithState composes): share of finished sessions with
    * a single event, exact integer ppm like the batch twin.
    */
  def bounceRateStream(events: Dataset[Event]): DataFrame =
    closedSessions(events)
      .groupBy(col("day_ord"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_ppm", expr("(n_bounces * 1000000) div n_sessions"))

  final case class DebounceState(lastKeptUs: Long)
  final case class KeptEvent(
      event_id: Long, user_id: Long, event_type: String, t_us: Long)

  /** Default debounce window — matches the batch event_debounce (6 h). */
  val DebounceGapUs: Long = 21600000000L

  /** Stateful KEPT-CHAINING debounce: an event survives iff it is more
    * than `gapUs` after the last event this (user, type) key KEPT — the
    * semantics the batch `event_debounce` deliberately does NOT have
    * (its lag-against-raw-predecessor rule is one stateless window
    * pass; chaining needs a running fold, i.e. real state — this).
    * One DebounceState (a single timestamp) per live key; in
    * production add an event-time timeout to evict idle keys.
    *
    * Chaining keeps a SUPERSET of the batch rule's survivors: the last
    * KEPT event is never later than the raw predecessor, so any event
    * clearing the raw gap clears the chained gap too — the containment
    * StreamingSpec pins.
    */
  def debounced(events: Dataset[Event],
      gapUs: Long = DebounceGapUs): Dataset[KeptEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceState, KeptEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), batch: Iterator[Event],
            state: GroupState[DebounceState]) =>
          val sorted = batch.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var last = state.getOption.map(_.lastKeptUs).getOrElse(Long.MinValue)
          val out = sorted.flatMap { e =>
            val t = epochMicros(e.ts)
            if (last == Long.MinValue || t - last > gapUs) {
              last = t
              Some(KeptEvent(e.event_id, key._1, key._2, t))
            } else None
          }
          state.update(DebounceState(last))
          out.iterator
      }
  }

  /** Streaming deduplication: drop repeated event_ids within the
    * watermark horizon — exactly-once-ish semantics over an at-least-once
    * source. State is one entry per id inside the watermark window,
    * evicted as event time advances.
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** File-based streaming source over an events parquet directory —
    * production entry point (tests use MemoryStream instead).
    */
  def fromParquetDir(spark: SparkSession, path: String): DataFrame = {
    val schema = graft.sources.Sinks.readParquet(spark, path).schema
    spark.readStream.schema(schema).parquet(path)
  }

  /** [[Event]]-shaped stream from an SF dir's events table (the stored
    * `ts` — epoch-nanos bigint or µs timestamp, normalized through the
    * same [[graft.Tables.normalizeEventTs]] contract as the batch
    * loader — becomes a µs timestamp, the grain every streaming op here
    * states its semantics in). The bench entry point: feeds the
    * windowed-agg and funnel jobs with the same rows their batch twins
    * read.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // same defensive conf as Tables.events: a session built outside
    // this library must still be able to read nanos-precision files
    graft.Tables.ensureNanosReadable(spark)
    // the SF layout stores each table as one FILE — the file-stream
    // source wants a directory, so stream the dir with a glob filter
    val schema =
      graft.sources.Sinks.readParquet(spark, s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    graft.Tables.normalizeEventTs(raw)
      .select(col("event_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** Streaming MERGE sink: every micro-batch upserts into the parquet
    * target by key ([[graft.sources.Sinks.upsertParquet]] under
    * foreachBatch). This is what turns Structured Streaming's
    * at-least-once file-sink delivery into an effectively-exactly-once
    * TABLE: a replayed batch (restart without checkpoint, source retry,
    * reprocessed backfill) re-merges rows it already wrote — a no-op —
    * where the stock parquet sink would append duplicates. The streaming
    * twin of the warehouse loader's idempotence contract
    * (create_collaboration_graph.cql:3 MERGE).
    */
  def upsertSink(df: DataFrame, path: String, keys: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sinks.upsertParquet(batch.toDF(), path, keys): Unit
    }

  /** Streaming CDC apply — the standing twin of the batch
    * [[graft.sources.Ingest.cdcApply]]: each micro-batch of changelog
    * events folds into a parquet state table by latest-LSN-wins with
    * delete tombstones. Correctness across batches leans on two
    * properties the batch fold already has: (1) the winner is an
    * associative struct-max, so folding (state ∪ batch) per batch
    * equals folding the whole log at once — out-of-order arrivals
    * ACROSS batches (a late update older than an applied tombstone)
    * resolve identically; (2) tombstones are RETAINED in the table
    * (last_op = 'D') precisely so that late lower-LSN updates cannot
    * resurrect a deleted key — [[cdcCurrentState]] is the read view
    * that hides them. Replay-safe via the in-table last_batch_id
    * watermark (the [[noveltyToTable]] idiom): a re-delivered batch id
    * is a no-op, and the watermark commits atomically with the state
    * through the swap-recovery sink.
    */
  def cdcToTable(events: Dataset[Event], path: String): StreamingQuery =
    events.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldCdcBatch(batch, batchId, path); ()
      }
      .start()

  /** One [[cdcToTable]] fold — exposed so the spec can drive replay. */
  private[graft] def foldCdcBatch(batch: DataFrame, batchId: Long,
      path: String): Unit = {
    val spark = batch.sparkSession
    val existing = graft.sources.Sinks.readParquetIfExists(spark, path)
    val applied = existing.flatMap(df =>
      Option(df.agg(max(col("last_batch_id"))).head.get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(_ >= batchId)) return
    val delta = graft.sources.Ingest.cdcCollapse(batch)
    val merged = existing
      .map { df =>
        df.select(col("user_id"), col("last_lsn"), col("last_op"),
            col("value_cents"), col("n_changes"))
          .unionByName(delta)
          .groupBy(col("user_id"))
          .agg(sum(col("n_changes")).as("n_changes"),
            max(struct(col("last_lsn"), col("last_op"), col("value_cents")))
              .as("last"))
          .select(col("user_id"), col("last.last_lsn").as("last_lsn"),
            col("last.last_op").as("last_op"),
            col("last.value_cents").as("value_cents"), col("n_changes"))
      }
      .getOrElse(delta)
      .withColumn("last_batch_id", lit(batchId))
    graft.sources.Sinks.replaceParquet(merged, path)
  }

  /** Streaming source-mix drift monitor — the ingest-time DQ gate the
    * batch `drift_tvd` runs after the fact: every micro-batch folds
    * per-(day, event_type) counts ADDITIVELY into a parquet day table,
    * and each write re-derives the day's mix shares and its total-
    * variation distance against a fixed REFERENCE profile (yesterday's
    * accepted mix in production; injected here) in exact ppm — the
    * alarm reads `tvd_ppm` per day as data lands, instead of
    * discovering a source flip in tomorrow's batch profile. Additive
    * counts make replay idempotence the only hard part, and the
    * in-table last_batch_id watermark (the [[noveltyToTable]] idiom)
    * closes it: counts and watermark commit atomically in the sink's
    * single-rename swap. Reference types missing from a day still
    * contribute |0 − ref| to the TVD through the outer join with the
    * reference frame, so a VANISHED source raises the alarm too.
    */
  def driftToTable(events: Dataset[Event], refPpm: Map[String, Long],
      path: String): StreamingQuery =
    events.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldDriftBatch(batch, batchId, refPpm, path); ()
      }
      .start()

  /** One [[driftToTable]] fold — exposed so the spec can drive replay. */
  private[graft] def foldDriftBatch(batch: DataFrame, batchId: Long,
      refPpm: Map[String, Long], path: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val existing = graft.sources.Sinks.readParquetIfExists(spark, path)
    val applied = existing.flatMap(df =>
      Option(df.agg(max(col("last_batch_id"))).head.get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(_ >= batchId)) return
    val deltas = batch
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"))
    val counts = existing
      .map(_.select(col("day"), col("event_type"), col("n_events"))
        .unionByName(deltas)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n_events")).as("n_events")))
      .getOrElse(deltas)
    val ref = refPpm.toSeq.toDF("event_type", "ref_ppm")
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day"))
    // TVD per day over the UNION of observed and reference types:
    // observed rows carry |share − ref|; reference types with zero
    // observations for a day have no row, so their mass enters as
    // (refTotal − Σ seen ref) — each absent type contributes
    // |0 − ref| = ref.
    val refTotal = refPpm.values.sum
    val merged = counts.join(broadcast(ref), Seq("event_type"), "left")
      .select(col("day"), col("event_type"), col("n_events"),
        coalesce(col("ref_ppm"), lit(0L)).as("ref_ppm"))
      .withColumn("day_total", sum(col("n_events")).over(wDay))
      .withColumn("share_ppm", expr("(n_events * 1000000) div day_total"))
      .withColumn("seen_ref_ppm", sum(col("ref_ppm")).over(wDay))
      .withColumn("tvd_ppm",
        expr(s"(sum(abs(share_ppm - ref_ppm)) over " +
          s"(partition by day) + ($refTotal - seen_ref_ppm)) div 2"))
      .drop("day_total", "seen_ref_ppm")
      .withColumn("last_batch_id", lit(batchId))
    graft.sources.Sinks.replaceParquet(merged, path)
  }

  /** The queryable face of [[cdcToTable]]'s state table: current rows
    * only — tombstones stay in the table (they are load-bearing for
    * late-arrival correctness) but never in the view.
    */
  def cdcCurrentState(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sinks.readParquet(spark, path)
      .filter(col("last_op") =!= "D")
      .select(col("user_id"), col("last_op"), col("value_cents"),
        col("last_lsn"), col("n_changes"))

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks in the preceding 30 minutes. Watermarks on BOTH sides
    * bound the join state (clicks retire once no purchase can still
    * reach back to them). Streaming twin of the batch
    * `purchase_attribution` query.
    */
  def attribution(events: DataFrame): DataFrame =
    attributionJoined(events, "inner")

  /** Stream-stream LEFT OUTER interval join — [[attribution]]'s missing
    * half (r15 verdict directive 7): every purchase appears exactly
    * once per matching click, and a purchase with NO click in its
    * 30-minute lookback is still emitted — with null click columns — at
    * WATERMARK EXPIRY, when the engine can prove no late click inside
    * the 1-hour watermark could still match it. That's the row a
    * marketing pipeline needs for "unattributed conversion" accounting;
    * the inner form silently drops it. Same state bound as the inner
    * join (both sides' watermarks retire state); the only addition is
    * the deferred null emission, which is why outer results trail the
    * data by up to the watermark delay — the contract, not a bug.
    */
  def attributionOuter(events: DataFrame): DataFrame =
    attributionJoined(events, "left_outer")

  private def attributionJoined(events: DataFrame, how: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user")
        && col("click_ts") <= col("purchase_ts")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      how)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("value"), col("click_id"), col("click_ts"))
  }

  /** Shared with the batch twin — equivalence requires one constant. */
  private val FunnelWindowUs = graft.operators.EventOps.FunnelWindowUs

  final case class FirstTouch(
      user_id: Long, first_ts: java.sql.Timestamp, delta: Long)

  /** Exact inverse of [[epochMicros]] — reconstructs the Timestamp a
    * stored µs state value came from, so a correction row retracts
    * precisely the first-touch that was emitted.
    */
  private def tsOfMicros(us: Long): java.sql.Timestamp = {
    val millis = java.lang.Math.floorDiv(us, 1000L)
    val t = new java.sql.Timestamp(millis)
    t.setNanos((java.lang.Math.floorMod(millis, 1000L) * 1000000L
      + java.lang.Math.floorMod(us, 1000L) * 1000L).toInt)
    t
  }

  /** Per-user novelty state, as a VERSIONED struct. The version field
    * exists so state-meaning changes fail LOUD at restart instead of
    * silently misreading: pre-r12 checkpoints stored a bare LongType
    * (originally a seen-flag, then first-touch µs) — resuming one of
    * those against this struct schema fails Spark's state-schema
    * compatibility check immediately (a fresh checkpoint dir is
    * required across that boundary), and any future SAME-SCHEMA
    * semantic change must bump [[NoveltyStateVersion]] so old rows trip
    * the version require in the fold rather than degrade corrections.
    */
  final case class NoveltyState(version: Int, first_us: Long)
  private val NoveltyStateVersion = 1

  /** The first-touch CHANGELOG behind [[noveltyStream]] /
    * [[noveltyToTable]]: per-user state records the earliest event time
    * seen (µs), each micro-batch's group folds over its (ts, id)-SORTED
    * events (a bare dropDuplicates would keep the first event in
    * PROCESSING order — partition-order-dependent; the sort makes the
    * pick deterministic WITHIN a micro-batch, same as the MG fold).
    * State is one tiny row per DISTINCT user — identity-scale and
    * unbounded by design: "new EVER" needs the full identity set.
    *
    * Cross-batch late data IS corrected: each first-touch row carries a
    * signed `delta`, and when an event with a STRICTLY earlier event
    * time arrives in a later micro-batch the fold emits a −1 retraction
    * for the previously-reported first_ts plus a +1 for the corrected
    * one — any downstream additive consumer then converges to the batch
    * twin's counts under ANY arrival order (a replay-absorbing
    * changelog, the same discipline as the MG candidates).
    */
  private[graft] def noveltyFirsts(events: Dataset[Event]): Dataset[FirstTouch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[NoveltyState, FirstTouch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[NoveltyState]) =>
          val first = batch.minBy(e => (epochMicros(e.ts), e.event_id))
          val t = epochMicros(first.ts)
          state.getOption match {
            case None =>
              state.update(NoveltyState(NoveltyStateVersion, t))
              Iterator.single(FirstTouch(userId, first.ts, 1L))
            case Some(s) =>
              require(s.version == NoveltyStateVersion,
                s"noveltyFirsts: state version ${s.version} from an older " +
                  s"checkpoint (expected $NoveltyStateVersion) — restart " +
                  "from a fresh checkpoint dir; silently reinterpreting " +
                  "old state would disable late-data corrections")
              if (t < s.first_us) {
                state.update(NoveltyState(NoveltyStateVersion, t))
                Iterator(FirstTouch(userId, tsOfMicros(s.first_us), -1L),
                  FirstTouch(userId, first.ts, 1L))
              } else Iterator.empty
          }
      }
  }

  /** Streaming new-user counter — the stream twin of the batch
    * `daily_novelty` first-touch fold: the [[noveltyFirsts]] changelog
    * aggregated into 1-day tumbling new-user counts
    * (flatMapGroupsWithState in append mode composes with a downstream
    * aggregation). A day whose corrections net to zero reports
    * n_new = 0 rather than disappearing — complete-mode aggregations
    * cannot retract whole groups.
    */
  def noveltyStream(events: Dataset[Event]): DataFrame =
    noveltyFirsts(events)
      .groupBy(window(col("first_ts"), "1 day"))
      .agg(sum(col("delta")).as("n_new"))
      .select(col("window.start").as("window_start"), col("n_new"))

  /** The retraction CONSUMER contract for [[noveltyFirsts]], wired end
    * to end: each micro-batch's signed first-touch rows fold additively
    * into a persistent per-day new-user parquet table via the
    * idempotent-upsert sink, so the lake table (not just an in-memory
    * aggregation) converges to the batch twin's counts under late data.
    *
    * Exactly-once despite foreachBatch's at-least-once delivery: every
    * row of the rewritten table carries `last_batch_id`, and a batch
    * whose id is ≤ the table's watermark is skipped — the watermark and
    * the folded counts commit ATOMICALLY because the upsert sink swaps
    * the whole table in with one filesystem rename (Sinks.commitSwap,
    * crash windows covered by its recovery path). A replayed batch
    * therefore either sees none of its fold (and redoes it) or all of
    * it (and skips) — never half.
    *
    * The day table is bound to ONE streaming-checkpoint lineage:
    * restarting the query from a FRESH checkpoint dir resets epoch ids
    * to 0, which the table's watermark would silently skip — pair a new
    * checkpoint dir with a new (or deleted) table path.
    */
  def noveltyToTable(events: Dataset[Event], path: String): StreamingQuery =
    noveltyFirsts(events).toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldNoveltyBatch(batch, batchId, path); ()
      }
      .start()

  /** One [[noveltyToTable]] fold — exposed so the spec can drive the
    * replay-skip path directly.
    */
  private[graft] def foldNoveltyBatch(batch: DataFrame, batchId: Long,
      path: String): Unit = {
    val spark = batch.sparkSession
    // the existence probe MUST run the swap recovery first: between the
    // sink's two commit renames the only full copy sits at <path>.old,
    // and a bare exists() there would read "no table", skip the
    // watermark, and let this batch's bare deltas REPLACE the
    // accumulated counts on replay
    val existing = graft.sources.Sinks.readParquetIfExists(spark, path)
    val applied = existing.flatMap(df =>
      Option(df.agg(max(col("last_batch_id"))).head.get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(_ >= batchId)) return
    val deltas = batch
      .groupBy(window(col("first_ts"), "1 day"))
      .agg(sum(col("delta")).as("n_new"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("n_new"))
    val merged = existing
      .map(_.select(col("day"), col("n_new")).unionByName(deltas)
        .groupBy(col("day")).agg(sum(col("n_new")).as("n_new")))
      .getOrElse(deltas)
      .withColumn("last_batch_id", lit(batchId))
    // merged IS the complete next state (every existing day re-folded),
    // so the write is an atomic replace — an upsert's key-merge would
    // re-read the table a third time only to discover it has no work
    graft.sources.Sinks.replaceParquet(merged, path)
  }

  final case class MgState(counters: Map[Long, Long], nSeen: Long)

  final case class MgCandidates(
      event_type: String, n_seen: Long, user_id: Long, lower_bound: Long)

  private val MgK = 8

  /** Streaming Misra-Gries heavy hitters per event type — the
    * bounded-state top-user tracker (the batch `heavy_hitters` CMS probe
    * as STANDING stream state): at most [[MgK]] counters per key
    * regardless of stream length, updated with the classic
    * decrement-on-overflow rule, so any user with frequency
    * > n/(k+1) is GUARANTEED present and every counter underestimates
    * its true count by at most n/(k+1) — the spec checks both bounds
    * against an exact batch recount. Per micro-batch the group fold
    * runs over the (time, id)-sorted batch so replays and partition
    * order cannot reorder the decrements (MG results are
    * order-sensitive; the sort is the determinism treatment).
    * Emits the surviving candidates with their lower-bound counts in
    * update mode.
    */
  def heavyHittersStream(events: Dataset[Event]): Dataset[MgCandidates] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MgState, MgCandidates](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[Event], state: GroupState[MgState]) =>
          val sorted = batch.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(MgState(Map.empty, 0L))
          sorted.foreach { e =>
            val c = st.counters
            val next =
              if (c.contains(e.user_id)) c.updated(e.user_id, c(e.user_id) + 1)
              else if (c.size < MgK) c.updated(e.user_id, 1L)
              else {
                // decrement all; drop zeros (the Misra-Gries step)
                c.view.mapValues(_ - 1).filter(_._2 > 0).toMap
              }
            st = MgState(next, st.nSeen + 1)
          }
          state.update(st)
          st.counters.toSeq.sortBy { case (u, n) => (-n, u) }
            .map { case (u, n) => MgCandidates(etype, st.nSeen, u, n) }
            .iterator
      }
  }

  final case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)

  final case class FunnelProgress(
      user_id: Long, t_view: Option[Long], t_click: Option[Long],
      t_purchase: Option[Long], funnel_level: Int)

  /** Streaming conversion funnel — the stateful twin of the batch
    * `window_funnel` (view → first later click → first later purchase
    * within 7 days of the view): one FunnelState per user advanced by a
    * mapGroupsWithState state machine, the CURRENT per-user progress
    * emitted every batch (Update output mode).
    *
    * Equivalence with the batch twin holds under in-event-time-order
    * delivery (the watermark assumption every funnel product makes): the
    * first view seen IS the minimum view time, so each step latches
    * exactly the value the batch conditional-MIN formulation selects.
    * Within a micro-batch events are sorted by (time, event_id) first,
    * like [[sessionized]].
    *
    * Scale: state is three longs per user — O(users), the same bound as
    * sessionization; add an event-time timeout to retire completed or
    * stale funnels in production.
    */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val Unset = Long.MinValue
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = batch.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
          sorted.foreach { e =>
            val t = epochMicros(e.ts)
            e.event_type match {
              case "view" if st.tView == Unset =>
                st = st.copy(tView = t)
              case "click" if st.tView != Unset && st.tClick == Unset
                  && t > st.tView =>
                st = st.copy(tClick = t)
              case "purchase" if st.tClick != Unset && st.tPurchase == Unset
                  && t > st.tClick && t <= st.tView + FunnelWindowUs =>
                st = st.copy(tPurchase = t)
              case _ =>
            }
          }
          state.update(st)
          def opt(v: Long): Option[Long] = if (v == Unset) None else Some(v)
          val level =
            if (st.tPurchase != Unset) 3
            else if (st.tClick != Unset) 2
            else if (st.tView != Unset) 1
            else 0
          FunnelProgress(userId, opt(st.tView), opt(st.tClick), opt(st.tPurchase), level)
      }
  }

  /** Streaming JSONL ingestion — the streaming twin of
    * [[graft.sources.Ingest.readDocumentsJsonl]] (the reference's
    * line-by-line loader as an unbounded source): new JSONL files landing
    * in a directory stream through the same pinned schema with
    * DROPMALFORMED routing; bad lines never stall the stream. Pair with
    * `writeStream` to parquet for a continuously-materializing corpus.
    */
  def documentsJsonlStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(graft.sources.Ingest.documentsSchema)
      .option("mode", "DROPMALFORMED")
      .json(path)

  /** Log ingestion — the reference's Logstash pipeline
    * (src/logstash/pipeline/logstash.conf: tail the airflow log tree →
    * daily Elasticsearch index). Spark-first: a text file stream over
    * the log directory, parsed by regex into (ts, level, logger,
    * message) + a date partition column; the caller lands it with
    * `writeStream.partitionBy("log_date")` — date-partitioned columnar
    * data gives the same per-day pruning the ES index provided.
    */
  def logIngest(spark: SparkSession, logDir: String): DataFrame = {
    val line = "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) \\[(\\w+)\\] (\\S+): (.*)$"
    spark.readStream.text(logDir)
      .select(
        regexp_extract(col("value"), line, 1).as("ts_raw"),
        regexp_extract(col("value"), line, 2).as("level"),
        regexp_extract(col("value"), line, 3).as("logger"),
        regexp_extract(col("value"), line, 4).as("message"))
      .filter(col("ts_raw") =!= "")
      .withColumn("ts", to_timestamp(col("ts_raw"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("log_date", date_format(col("ts"), "yyyy-MM-dd"))
      .drop("ts_raw")
  }
}
