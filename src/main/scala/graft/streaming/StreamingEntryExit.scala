package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q246's entry/exit session analytics
  * (`operators.Events.entryExit`): the same 30-minute-gap sessionizer
  * as StreamingEvents.sessionize, with the session state widened to
  * carry the ENTRY event type (frozen at session open) and the
  * current LAST type (the exit when the session closes). Closed
  * sessions emit (user, entry, exit, n_events); the tiny
  * (entry, exit) aggregate that turns emissions into q246's
  * bounce/top-exit table is an ordinary downstream groupBy — state
  * size stays O(1) per active user, never per event.
  *
  * A StreamFold.gapSessions fold: within a micro-batch events sort by
  * (ts_ms, event_id) — the batch operator's exact window order — so a
  * replayed log emits the identical session tuples the batch q246
  * derives (spec-bound).
  * Idle-timeout flushing is ProcessingTime-based and therefore OFF in
  * deterministic tests.
  */
object StreamingEntryExit {

  case class EEInput(user_id: Long, event_id: Long, ts_ms: Long,
                     event_type: String)
  case class EEState(entry: String, exit: String)
  case class EEOut(user_id: Long, entry_type: String, exit_type: String,
                   n_events: Long)

  def sessions(events: Dataset[EEInput], gapMs: Long,
               idleTimeout: Boolean = true): Dataset[EEOut] = {
    import events.sparkSession.implicits._
    StreamFold.gapSessions(events, gapMs, idleTimeout)(
      _.user_id, r => (r.ts_ms, r.event_id))(r => EEState(r.event_type, r.event_type))(
      (s, r) => s.copy(exit = r.event_type),
      (user, s) => EEOut(user, s.state.entry, s.state.exit, s.n))
  }
}
