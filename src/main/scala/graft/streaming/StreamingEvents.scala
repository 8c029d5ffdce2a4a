package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Structured Streaming forms of the event analytics (north-star
  * stretch; the reference itself has no streaming surface, SURVEY
  * §2.10). The batch operators in graft.operators.Events share the
  * same expressions — `window()` aggregates behave identically in
  * both modes, which is the point of building them Spark-first.
  *
  * Scale posture: watermark + windowed aggregation is incremental
  * state keyed by (window, type); the ordered and sessionization folds
  * keep per-user state through StreamFold. At 100 TB/day both
  * shard across executors by their group key — no driver state.
  */
object StreamingEvents {

  /** File-source stream over an events directory (requires the
    * declared catalog schema — streaming reads cannot infer).
    * NB the testdata events.parquet stores naive micros timestamps
    * (TIMESTAMP(MICROS, isAdjustedToUTC=false)), so the declared field
    * must be TIMESTAMP_NTZ; normalization to the session TimestampType
    * is shared with the batch reader via Tables.normalizeEventTs.
    */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Tables.schemas("events").fields.map {
        case f if f.name == "ts" =>
          f.copy(dataType = org.apache.spark.sql.types.TimestampNTZType)
        case f => f
      })
    Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(path))
  }

  /** Watermarked tumbling-window counts — the streaming twin of
    * Events.tumblingHourly.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Watermarked streaming dedup: exactly-once per (user_id,
    * event_type) within the watermark horizon — the streaming twin of
    * the batch exact-dedup operators. State holds one entry per key
    * and is evicted once the watermark passes (bounded state at
    * 100 TB/day, unlike an unbounded dropDuplicates).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  case class SessionInput(user_id: Long, event_id: Long, ts_ms: Long, value: Double)
  case class SessionOut(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                        n_events: Long, session_value: Double)

  case class OrdState(seq: Int, runMicros: Long)
  case class OrdOut(user_id: Long, event_id: Long, ts_ms: Long, seq: Int,
                    gap_ms: Option[Long], running_value: Double)

  /** Streaming twin of the ordered window analytics (q58), causal
    * subset: per-user seq / gap to the previous event / running value.
    * `lead`-style columns are anti-causal (they need the NEXT event)
    * and are deliberately absent — a streaming system can only emit
    * them one event late, which changes the output contract.
    *
    * A StreamFold.inOrder fold over (ts_ms, event_id): a late event is
    * dropped, the same late-data stance as the windowed aggregates
    * above. For frontier-respecting input the streamed rows equal the
    * batch window exactly. The running sum accumulates in integer
    * micro-units with the same scale-6 HALF_UP rounding as the batch
    * form's DECIMAL(18,6), so streamed values equal the batch window
    * exactly (asserted in StreamingSpec). State per user is two
    * scalars — bounded regardless of history.
    */
  def orderedAnalytics(events: Dataset[SessionInput]): Dataset[OrdOut] = {
    import events.sparkSession.implicits._
    StreamFold.inOrder(events)(_.user_id, r => (r.ts_ms, r.event_id)) {
      (prev: Option[(StreamFold.Pos, OrdState)], r: SessionInput) =>
        val micros = BigDecimal(r.value)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .underlying.movePointRight(6).longValueExact
        val st = prev.fold(OrdState(1, micros)) { case (_, s) =>
          OrdState(s.seq + 1, s.runMicros + micros) }
        val gap = prev.map { case ((lastTs, _), _) => r.ts_ms - lastTs }
        (st, Some(OrdOut(r.user_id, r.event_id, r.ts_ms, st.seq, gap,
          st.runMicros.toDouble / 1e6)))
    }
  }

  /** Stateful sessionization, a StreamFold.gapSessions fold: a session
    * closes when a later event crosses the gap, or when the
    * processing-time timeout fires after `gapMs` of silence.
    */
  def sessionize(events: Dataset[SessionInput], gapMs: Long,
                 idleTimeout: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    StreamFold.gapSessions(events, gapMs, idleTimeout)(
      _.user_id, r => (r.ts_ms, r.event_id))(_.value)(
      (value, r) => value + r.value,
      (user, s) => SessionOut(user, s.start, s.last, s.n, s.state))
  }
}
