package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has no stream semantics
  * (SURVEY.md §2.8) — these are the engine's additions for continuous
  * ingestion of the image/event firehose: identical transforms run in batch
  * and streaming (unified Dataset API), so every streaming query is
  * batch-checkable.
  */
object Streams {

  case class Event(user_id: Long, event_type: String, ts: java.sql.Timestamp, value: Double)
  case class Session(user_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp,
                     n_events: Int, sum_value: Double)
  case class SessionState(startMs: Long, lastMs: Long, n: Int, total: Double)

  /** Tumbling event-time window aggregation; works unchanged on batch and
    * streaming inputs. Streaming callers add `withWatermark` upstream.
    */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String): DataFrame =
    df.groupBy(col(keyCol), window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col(keyCol), col("window.start").as("window_start"),
        col("n"), col("min_value"), col("max_value"))

  /** Streaming exact dedup for continuous ingestion: keep the first
    * ARRIVAL per key; a duplicate arriving within `delay` (event time) of
    * the original is dropped, and per-key state is evicted once the
    * watermark passes it — bounded state, the firehose analogue of
    * `Dedup.exactCanonical`. Batch frames get the deterministic replay
    * canonicalization: earliest EVENT TIME per key.
    *
    * Contract (StreamsSpec pins both halves): the two paths return the
    * SAME rows whenever each key's duplicates arrive in event-time order
    * — which ordered-log replays satisfy — and always agree on the KEY
    * set. Under out-of-order arrival of NON-identical duplicates they may
    * keep different representatives: the streaming side's first-arrival
    * pick is what bounded state can decide at arrival time (choosing the
    * min-event-time row instead would mean emitting NOTHING until the
    * watermark passes the key — a hold-everything-back latency profile
    * that belongs to a different operator), while the batch side must not
    * depend on partition order, so it canonicalizes by event time.
    */
  def dedupeStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   delay: String): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)
    else {
      // plain dropDuplicates keeps whichever row a partition surfaces
      // first — nondeterministic across runs; the window form is the
      // replay-deterministic canonicalization. Equal-timestamp duplicates
      // are exact dupes in practice; among them the pick is arbitrary but
      // value-identical for the dedup contract.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Streaming source over a parquet directory (file-arrival stream). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.io.ParquetTable.schema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Event-time gap sessionization via flatMapGroupsWithState — the custom
    * per-key state operator (KeyValueGroupedDataset). Emits a session when
    * the gap between consecutive events exceeds `gapMs`. Works in batch
    * (whole group at once) and streaming (state carries across triggers;
    * with `idleFlush` an EVENT-TIME timeout — watermark passes
    * last_event + gap — flushes idle sessions, so the flush schedule is a
    * pure function of the data and a replay of the same input produces
    * identical sessions, trigger boundaries and wall clock notwithstanding;
    * asserted in StreamsSpec).
    *
    * Hot-key hardening (batch): the input is hash-repartitioned on user_id
    * and sorted (user_id, ts) WITHIN partitions up front, which already
    * satisfies the state operator's required distribution and key ordering
    * — EnsureRequirements inserts no further exchange or sort (asserted in
    * StreamsSpec), so the group iterator arrives time-ordered and the
    * function streams it with O(1) memory per group. A user with 10^8
    * events costs the sort's spillable shuffle, never a task-memory
    * materialization. The streaming path keeps the per-trigger sort: a
    * micro-batch group is bounded by the trigger, and GroupState updates
    * must happen before the function returns, which rules out a fully lazy
    * iterator there.
    */
  def sessionize(ds: Dataset[Event], gapMs: Long, streaming: Boolean,
                 idleFlush: Boolean = false,
                 watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    import ds.sparkSession.implicits._

    def finish(uid: Long, st: SessionState): Session =
      Session(uid, new java.sql.Timestamp(st.startMs), new java.sql.Timestamp(st.lastMs),
        st.n, st.total)

    def step(cur: Option[SessionState], e: Event): (Option[Session], SessionState) = {
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastMs <= gapMs =>
          // merge with min/max, NOT (start, t): a cross-trigger out-of-order
          // but non-late event (t < lastMs, inside the watermark) used to
          // REGRESS lastMs — the session could report end < start and a
          // following event measured its gap from the stale smaller value,
          // wrongly closing the session. Batch is (ts)-pre-sorted, so there
          // min/max degenerates to the old behavior exactly.
          (None, SessionState(math.min(s.startMs, t), math.max(s.lastMs, t),
            s.n + 1, s.total + e.value))
        case Some(s) => (Some(finish(e.user_id, s)), SessionState(t, t, 1, e.value))
        case None => (None, SessionState(t, t, 1, e.value))
      }
    }

    val fn: (Long, Iterator[Event], GroupState[SessionState]) => Iterator[Session] =
      (uid, events, state) => {
        if (state.hasTimedOut) {
          val out = state.getOption.map(finish(uid, _)).iterator
          state.remove()
          out
        } else if (!streaming) {
          // batch: events arrive (user_id, ts)-sorted from the pre-sort —
          // stream the group lazily, never materializing it
          new Iterator[Session] {
            private var cur: Option[SessionState] = None
            private var pending: Option[Session] = None
            private var done = false
            private def advance(): Unit = {
              while (pending.isEmpty && events.hasNext) {
                val (closed, next) = step(cur, events.next())
                pending = closed
                cur = Some(next)
              }
              if (pending.isEmpty && !events.hasNext && !done) {
                pending = cur.map(finish(uid, _)) // group complete: flush open
                cur = None
                done = true
              }
            }
            def hasNext: Boolean = { advance(); pending.isDefined }
            def next(): Session = {
              advance()
              val p = pending.getOrElse(throw new NoSuchElementException)
              pending = None
              p
            }
          }
        } else {
          val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val (c, next) = step(cur, e)
            c.foreach(closed += _)
            cur = Some(next)
          }
          cur.foreach(state.update)
          // event-time timeout: fire when the WATERMARK passes the session's
          // idle deadline (clamped above the current watermark — a session
          // already idle past it flushes on the very next trigger)
          if (idleFlush) cur.foreach(st => state.setTimeoutTimestamp(
            math.max(st.lastMs + gapMs, state.getCurrentWatermarkMs() + 1)))
          closed.result().iterator
        }
      }

    val timeout =
      if (streaming && idleFlush) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val pre =
      if (streaming) {
        if (idleFlush) ds.withWatermark("ts", watermarkDelay) else ds
      } else ds.repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts"), col("event_type"))
    // column-keyed grouping (NOT groupByKey(_.user_id), which appends a
    // fresh key attribute the pre-partitioning could never satisfy and
    // would force a second exchange + order-destroying sort)
    pre.groupBy(col("user_id")).as[Long, Event]
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  /** Stream-static geospatial enrichment: tag each point of a (streaming or
    * batch) frame with every containing boundary polygon and its
    * web-mercator tile at `tileZ` — the firehose analogue of the marquee
    * spatial join. The static polygon side is collected into the broadcast
    * [[graft.index.FlatRtree]] ONCE at plan-build time and probed by the
    * codegen'd `RtreeProbeExpr` per micro-batch row: no stream-side
    * shuffle, no state store, no join machinery at all — the plan is a
    * stateless projection, so it runs in append mode at source rate and a
    * 1000-executor cluster adds zero cross-node traffic (same argument as
    * the batch plan's; see SpatialJoin.broadcastRtreeJoin).
    *
    * Polygon updates are a query restart by design: Structured Streaming
    * re-resolves the plan (and therefore re-collects + re-broadcasts the
    * polygon table) on every start, which is the standard slowly-changing-
    * dimension pattern for stream-static enrichment.
    */
  def enrichPoints(points: DataFrame, lonCol: String, latCol: String,
                   polygons: DataFrame, idCol: String, ringCol: String,
                   tileZ: Int): DataFrame =
    graft.tiles.Tiles.assignPoint(
      graft.join.SpatialJoin.broadcastRtreeJoin(
        points, lonCol, latCol, polygons, idCol, ringCol),
      lonCol, latCol, tileZ)

  /** Per-region ingest rate: [[enrichPoints]] → event-time tumbling window
    * count per polygon. Watermarked, so state is bounded and late points
    * past `delay` are dropped — the monitoring aggregation a 100 TB ingest
    * pipeline hangs dashboards off. Works identically on batch frames
    * (watermark is a no-op there).
    */
  def regionRates(points: DataFrame, tsCol: String, lonCol: String, latCol: String,
                  polygons: DataFrame, idCol: String, ringCol: String,
                  windowLen: String, delay: String): DataFrame =
    enrichPoints(points, lonCol, latCol, polygons, idCol, ringCol, tileZ = 12)
      .withWatermark(tsCol, delay)
      .groupBy(col("polygon_id"), window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n"))
      .select(col("polygon_id"), col("window.start").as("window_start"), col("n"))
}
