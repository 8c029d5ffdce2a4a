package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q354's burst compaction
  * (`operators.Events.burstCompaction`): the same per-(user, type)
  * gap-island chaining, as O(1) keyed state — a burst is (kept id,
  * start, last ts, count), an event within `gapMs` of the LAST event
  * extends it (the island semantics, stated in the batch scaladoc),
  * a farther one CLOSES it (emitting the kept row with its
  * absorbed/dropped ledger) and opens the next. State never holds
  * more than one open burst per (user, type) regardless of history —
  * the debounce a 100 TB ingest runs at the edge, emitting only
  * burst heads downstream.
  *
  * A StreamFold.gapSessions fold: rows sort within the micro-batch by
  * (ts_ms, event_id); for replayed frontier-ordered input the emitted
  * CLOSED bursts equal the batch q354 rows exactly, minus each key's
  * final still-open burst (spec-asserted both ways). Idle-timeout
  * flushing is ProcessingTime-based and therefore OFF in
  * deterministic tests.
  */
object StreamingBurst {

  case class BurstInput(user_id: Long, event_id: Long, ts_ms: Long,
                        event_type: String)
  case class BurstOut(user_id: Long, event_type: String,
                      kept_event_id: Long, burst_start_ms: Long,
                      burst_end_ms: Long, n_absorbed: Long, n_dropped: Long)

  def compact(events: Dataset[BurstInput], gapMs: Long = 60000L,
              idleTimeout: Boolean = true): Dataset[BurstOut] = {
    import events.sparkSession.implicits._
    // state: the kept (first) event id of the open burst
    StreamFold.gapSessions(events, gapMs, idleTimeout)(
      e => (e.user_id, e.event_type), r => (r.ts_ms, r.event_id))(_.event_id)(
      (keptId, _) => keptId,
      { case ((user, typ), s) =>
        BurstOut(user, typ, s.state, s.start, s.last, s.n, s.n - 1) })
  }
}
