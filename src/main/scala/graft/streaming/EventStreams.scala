package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Exact

/** Structured-Streaming surface over the `events` table: the same
  * transformations run identically on a batch DataFrame and on a
  * `readStream` source — the specs assert batch/stream equivalence, and
  * the watermark bounds state for unbounded runs.
  */
object EventStreams {

  /** The on-disk schema of events.parquet: the declaration the batch
    * reader uses too ([[graft.queries.Tables.schemas]]), so building a
    * stream reads no file and the two readers cannot disagree on a type.
    * The generator has changed the physical `ts` type before
    * (TIMESTAMP(NANOS) -> TIMESTAMP_MICROS/NTZ); `SchemaCanarySpec`
    * compares the declaration with the file's inferred schema, so such a
    * regen fails there by name.
    */
  val sourceSchema: StructType = graft.queries.Tables.schema("events")

  /** Streaming source over the events parquet file (the file-stream source
    * requires a directory path, so the table file is selected by glob).
    */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    normalize(spark.readStream.schema(sourceSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))

  /** `ts` -> TimestampType via the SAME rule as the batch reader
    * (graft.queries.Tables.normalizeTs) — one normalization point, so
    * batch and streaming cannot diverge on a testdata type regen.
    */
  def normalize(df: DataFrame): DataFrame = graft.queries.Tables.normalizeTs(df)

  /** Tumbling 1-hour windows per event type; 2-hour watermark bounds state.
    * Works identically on batch and streaming inputs.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sv"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"), col("sv"))

  /** Sliding windows: 1-hour windows every 15 minutes. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))

  /** Session windows: 30-minute-gap sessions per user. The session
    * BOUNDS ride along (as in [[hourlyAgg]]/[[slidingAgg]]): without
    * them, a user's distinct equal-sized sessions are indistinguishable
    * duplicate rows and a downstream `distinct()` would silently
    * collapse real sessions. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))

  /** Stream-stream interval join: each click joins purchases of the same
    * user within the preceding hour. Both sides carry watermarks so the
    * join state is bounded: a buffered click/purchase can be dropped once
    * the other side's watermark passes its interval. Works identically on
    * batch frames (where it is a plain range join).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Stream-static enrichment join: attach dimension attributes to each
    * event from a (small) static table, broadcast to every task — the
    * standard streaming-ingest enrichment shape. No watermark is needed:
    * the static side is not stateful, and Spark re-plans (re-reads) it
    * per micro-batch, so a dimension refresh on disk is picked up by the
    * next trigger. LEFT join: an event with no dimension row keeps NULL
    * attributes rather than vanishing. Identical semantics on batch
    * frames (where it is a plain broadcast left join).
    */
  def enrich(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame = {
    // frame-qualified keys: an unqualified col(eventKey) === col(dimKey)
    // throws AMBIGUOUS_REFERENCE in the most common shape where the
    // dimension key shares the event key's name. When the names collide,
    // the redundant dim key column is dropped from the output (it equals
    // the event key on matches and is NULL otherwise).
    val d = broadcast(dim)
    val joined = events.join(d, events(eventKey) === d(dimKey), "left")
    if (eventKey == dimKey) joined.drop(d(dimKey)) else joined
  }

  /** Exact streaming dedup on key columns within the watermark horizon:
    * the built-in `dropDuplicatesWithinWatermark` keeps one row per key
    * and drops duplicates arriving within the watermark delay; a key's
    * state is evicted once the event-time watermark passes it, so state
    * is bounded by the keys ACTIVE inside the horizon, never the stream
    * history — the streaming mirror of `Dedup.exact` for at-scale
    * ingestion (duplicate deliveries cluster in time; an unbounded-state
    * plain `dropDuplicates` would OOM on an infinite stream). Spark
    * rejects the operator on batch frames outright, so the batch path
    * dispatches to its batch-equivalent `dropDuplicates` (one surviving
    * row per key — the same contract a finite input observes).
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String]): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Input/output records for the custom-state operator. */
  final case class EvIn(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String)
  final case class EvFirst(user_id: Long, event_type: String,
      event_id: Long, ts: java.sql.Timestamp)

  /** Stateful streaming dedup via `flatMapGroupsWithState` — the
    * custom-state surface that windowed aggregations cannot express: emit
    * only the FIRST event per (user, event_type), tracking a seen-flag in
    * keyed state. State is dropped once the event-time watermark passes
    * the first event plus the dedup horizon (EventTimeTimeout), so state
    * size is bounded by the number of ACTIVE keys inside the watermark,
    * not the stream history.
    *
    * Semantics note: in STREAMING execution, "first" is first-SEEN —
    * within one micro-batch ties break by min (ts, event_id), but append
    * mode cannot retract an emitted row, so a later micro-batch
    * delivering an earlier-timestamped event (still inside the watermark)
    * does not replace the winner. This is the standard streaming-dedup
    * contract. In BATCH execution (state starts empty, one invocation per
    * key) it reduces exactly to min-by-(ts, id) per key — which is what
    * the DuckDB oracle checks; the batch/stream equivalence spec holds
    * for sources consumed in event-time order or in one micro-batch.
    *
    * The within-batch tie-break compares FULL MICROSECOND timestamps
    * (`Timestamp.getTime` alone truncates to milliseconds — two events
    * in the same millisecond would tie on ms and resolve by id, while
    * the DuckDB oracle and the naive reference order by the full
    * microsecond ts first). `horizonMs` feeds BOTH the watermark delay
    * and the state-eviction deadline from one value, so the two cannot
    * drift apart.
    */
  def firstPerKey(events: DataFrame,
      horizonMs: Long = 2L * 3600 * 1000): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // decided OUTSIDE the closure: batch execution has no watermark and no
    // timeouts (setting one throws); a blanket try/catch inside the
    // closure would also swallow REAL streaming failures silently
    val streaming = events.isStreaming
    def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[EvIn]
      .groupByKey(e => (e.user_id, e.event_type))
      // state = the key's eviction deadline (first event time + horizon):
      // Spark CLEARS a group's timeout on every invocation, so the
      // deadline must be stored and RE-ARMED whenever a duplicate arrives
      // — a fire-and-forget timeout set only on first sight would be
      // erased by the first duplicate and the key's state never dropped
      .flatMapGroupsWithState[Long, EvFirst](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key, rows, state) => {
          def arm(deadline: Long): Unit =
            // the timeout must sit strictly above the current watermark;
            // a deadline at/behind it fires at the next trigger anyway
            state.setTimeoutTimestamp(
              math.max(deadline, state.getCurrentWatermarkMs() + 1))
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            if (streaming) arm(state.get)
            Iterator.empty
          } else {
            val f = rows.minBy(e => (micros(e.ts), e.event_id))
            val deadline = f.ts.getTime + horizonMs
            state.update(deadline)
            if (streaming) arm(deadline)
            Iterator.single(EvFirst(key._1, key._2, f.event_id, f.ts))
          }
        })
      .toDF()
  }

  /** Run a streaming DataFrame to completion against the (finite) file
    * source and return the materialized result from a memory sink.
    */
  def runToBatch(streamed: DataFrame, queryName: String,
      outputMode: String = "complete"): DataFrame = {
    val spark = streamed.sparkSession
    val q = streamed.writeStream
      .format("memory").queryName(queryName).outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
