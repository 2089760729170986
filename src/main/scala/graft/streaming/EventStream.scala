package graft.streaming

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

final case class UserEvent(user_id: Long, event_type: String,
    ts: java.sql.Timestamp, value: Double)
final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)
final case class EwmaState(ewma: Double, n: Long)
final case class UserEwma(user_id: Long, n_events: Long, ewma: Double)
final case class OpenSession(start_us: Long, last_us: Long, n: Long, total: Double)
final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
    n_events: Long, total_value: Double)

/** Structured Streaming surface over the `events` shape.
  *
  * The reference is batch-only (SURVEY.md §2.11), so this module is the
  * forward-looking half of the engine: the SAME aggregation logic runs over
  * a stream or a table — `tumblingTypeCounts` is used both by the streaming
  * entry point here and by the oracled batch query (w3_tumbling_window),
  * which is how its semantics are checked.
  *
  * Scale notes: watermarking bounds state (late events beyond the watermark
  * are dropped, state for closed windows is evicted); the windowed agg is a
  * standard partial-aggregable shuffle keyed on (window, type); the
  * stateful per-user stream keeps one small state row per active user,
  * sharded by the groupBy key.
  */
object EventStream {

  /** Event-time tumbling-window counts per event type. Works identically on
    * a streaming or batch frame with a `ts` timestamp column.
    */
  def tumblingTypeCounts(events: DataFrame, windowLength: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sv"))

  /** Streaming variant with a watermark so window state is bounded. */
  def streamingTypeCounts(events: DataFrame, windowLength: String,
      watermark: String): DataFrame =
    tumblingTypeCounts(events.withWatermark("ts", watermark), windowLength)

  /** Streaming exact deduplication — the stream face of d1_dedup_exact:
    * an at-least-once source (Kafka redeliveries, replayed files) becomes
    * exactly-once downstream. dropDuplicatesWithinWatermark keeps one state
    * row per key only until the watermark passes it (bounded state), unlike
    * plain dropDuplicates on a stream, whose state grows forever. Batch
    * face: dropDuplicates(keys) — the parity EventStreamSpec checks.
    */
  def dedupedStream(events: DataFrame, watermarkDelay: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: each micro-batch joins against a static
    * dimension snapshot. The dimension is broadcast — no stream-side
    * shuffle, no streaming state at all (unlike stream-stream joins).
    */
  def enrichedStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Streaming DDSketch maintenance — the stream face of a18: per
    * (event_type, geometric bucket) counts kept by the streaming
    * aggregation, so the query's state IS the mergeable sketch (bounded
    * by bucket count, never event count — the property that makes a
    * quantile sketch the right streaming aggregate where an exact
    * percentile would need unbounded state). The emitted table merges
    * with any other sketch by vector addition, and DdSketchSpec's
    * stream==batch test pins that the drained stream state equals
    * DdSketch.sketch of the same events as a batch.
    */
  def streamingSketch(events: DataFrame, gamma: Double): DataFrame =
    events.filter(col("value") > 0)
      .groupBy(col("event_type"),
        graft.operators.DdSketch.bucket(col("value"), gamma).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** File-source incremental processing — the production shape of "run the
    * streaming pipeline over whatever landed since last time": a parquet
    * directory is read AS A STREAM, aggregated with the same watermarked
    * tumbling logic as the live path, and written append-mode to a parquet
    * sink with a checkpoint. `Trigger.AvailableNow` drains everything
    * currently available then stops, and the checkpoint records which
    * files were consumed — re-running after new files land processes ONLY
    * the new ones and appends only newly-closed windows (exactly-once
    * across runs, FileStreamSpec). At 100 TB this is how a batch cadence
    * and a streaming cadence share one pipeline definition.
    */
  def processFilesOnce(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      destDir: String, checkpointDir: String, windowLength: String,
      watermark: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Sources.parquetSchema(spark, srcDir)
    val q = streamingTypeCounts(
        spark.readStream.schema(schema).parquet(srcDir), windowLength, watermark)
      .writeStream.format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-STREAM inner join with an event-time interval condition — the
    * attribution join: each purchase pairs with the same user's clicks from
    * the preceding `attributionSeconds`. BOTH sides carry a watermark and
    * the join condition bounds the time delta in BOTH directions; together
    * those let the engine evict each side's buffered rows once the
    * watermark passes their interval. An unbounded stream-stream join
    * buffers forever — the time bound IS the scale story. (Contrast
    * `enrichedStream`: a static dimension needs no state at all.)
    *
    * Inputs need (user_id, ts, event_id[, value]); output is one row per
    * (click, purchase) pair inside the window.
    */
  def attributedPurchases(clicks: DataFrame, purchases: DataFrame,
      watermarkDelay: String, attributionSeconds: Long): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases.select(col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"),
        col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(p,
        col("user_id") === col("p_user_id")
          && col("purchase_ts") >= col("click_ts")
          && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $attributionSeconds SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming sessionization via flatMapGroupsWithState with EVENT-TIME
    * timeout: state is the single open session per user; a batch whose
    * events jump the gap closes sessions immediately, and an idle user's
    * open session is closed by the watermark passing last_event + gap
    * (state is then removed — bounded state, the session-window streaming
    * contract). Emits each CLOSED session exactly once (Append mode).
    *
    * All interval arithmetic is at MICROSECOND grain (round 17): the
    * events fixture carries real sub-millisecond components, and a
    * `Timestamp.getTime`-based (ms-truncating) gap compare can flip a
    * boundary decision against the full-precision batch `session_window`
    * — two events 1799.9995 s apart truncate to exactly 1800000 ms when
    * their sub-ms fractions straddle a millisecond edge, splitting a
    * session the batch engine merges. st6_stream_session hash-oracles
    * this function against w4's gaps-and-islands SQL, which compares at
    * native precision.
    */
  def closedSessions(events: Dataset[UserEvent], gapMs: Long,
      watermarkDelay: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode

    val gapUs = gapMs * 1000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def stamp(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def toClosed(uid: Long, s: OpenSession): ClosedSession =
      ClosedSession(uid, stamp(s.start_us), s.n, s.total)

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val closed = toClosed(uid, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val sorted = batch.toSeq.sortBy(e => micros(e.ts))
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              val t = micros(e.ts)
              open match {
                // late events (in-watermark, BEFORE the open session) must
                // not corrupt the interval: a bare `t - last < gap` check
                // is trivially true for any old event and would drag
                // last_us backwards, breaking the event-time timeout.
                case Some(s) if t < s.start_us - gapUs =>
                  // beyond the gap before the session: its own session,
                  // emitted closed immediately (single-open-session state;
                  // an exact multi-open implementation would buffer it)
                  closed += ClosedSession(uid, stamp(t), 1, e.value)
                case Some(s) if t - s.last_us < gapUs =>
                  // inside the session or within the gap on either side:
                  // merge and WIDEN — start may move back, last never does
                  open = Some(OpenSession(math.min(s.start_us, t),
                    math.max(s.last_us, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += toClosed(uid, s)
                  open = Some(OpenSession(t, t, 1, e.value))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // timeout is ms-grained: round UP so the watermark must
              // truly pass last + gap before the session force-closes
              state.setTimeoutTimestamp(
                Math.floorDiv(s.last_us + gapUs + 999L, 1000L))
            }
            closed.result().iterator
          }
      }
  }

  /** Arbitrary stateful processing (the mapGroupsWithState surface): a
    * running per-user event count + value total, updated per micro-batch.
    *
    * State here is deliberately UNBOUNDED (NoTimeout): one row per user
    * ever seen, which is the semantics of an all-time running total. That
    * is only safe when the key space is bounded (registered users, not
    * anonymous session ids) — for unbounded keys, add an event-time or
    * processing-time timeout and eviction like `closedSessions` does.
    */
  /** Streaming per-user EWMA — the stream face of the batch `w11_ewma`
    * query: state is one (ewma, n) pair per user; each micro-batch folds
    * its events in event-time order into the carried value, so after any
    * prefix of the stream the state equals the batch fold over that
    * prefix (parity pinned by EventStreamSpec). Seed = first value, the
    * same seeding as the batch fold and DuckDB's list_reduce. Like
    * `runningUserTotals`, state is deliberately unbounded (an all-time
    * recurrence over a bounded key space); add a timeout for unbounded
    * keys. Within-batch ordering is the FULL-RESOLUTION event time —
    * (millis, nanos-within-second), not Timestamp.getTime alone, which
    * truncates at millisecond grain and let sub-millisecond siblings
    * fold in nondeterministic order while the batch w11 fold orders by
    * full nanos. Events colliding at the exact same nanosecond are the
    * one remaining ambiguity — UserEvent carries no id, so callers whose
    * streams can produce identical-ts events per user must disambiguate
    * upstream, exactly as the batch query tie-breaks by (ts, event_id).
    */
  def runningEwma(events: Dataset[UserEvent], alpha: Double): Dataset[UserEwma] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, UserEwma](GroupStateTimeout.NoTimeout) {
        case (uid, batch, state: GroupState[EwmaState]) =>
          val next = batch.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos))
            .foldLeft(state.getOption.getOrElse(EwmaState(0.0, 0L))) {
              (acc, e) =>
                if (acc.n == 0L) EwmaState(e.value, 1L)
                else EwmaState((1 - alpha) * acc.ewma + alpha * e.value, acc.n + 1)
            }
          state.update(next)
          UserEwma(uid, next.n, next.ewma)
      }
  }

  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        case (uid, batch, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserRunning(uid, acc.n_events + 1, acc.total_value + e.value)
          }
          state.update(next)
          next
      }
  }
}
