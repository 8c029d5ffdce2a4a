package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q92's event-transition pairs: per user, the
  * state is ONLY the last folded (ts, event_id, type) — O(1) per user,
  * never a journey buffer — and each arriving event emits one
  * (from_type, to_type) pair against it. The |types|²-bounded count
  * aggregate that turns pairs into q92's matrix (and q242's entropy)
  * is an ordinary downstream groupBy.
  *
  * A StreamFold.inOrder fold over (ts_ms, event_id), the batch window
  * order, so a replayed log emits exactly the batch lead() pairs
  * (spec-bound). A late or duplicate event — at or below the user's
  * frontier — is dropped: it emits no pair and leaves the state where
  * it was (the StreamingEvents.orderedAnalytics stance).
  */
object StreamingTransitions {

  case class TrInput(user_id: Long, event_id: Long, ts_ms: Long,
                     event_type: String)
  case class TrOut(user_id: Long, from_type: String, to_type: String)

  def pairs(events: Dataset[TrInput]): Dataset[TrOut] = {
    import events.sparkSession.implicits._
    // state: the last folded event's type
    StreamFold.inOrder(events)(_.user_id, r => (r.ts_ms, r.event_id)) {
      (prev: Option[(StreamFold.Pos, String)], r: TrInput) =>
        (r.event_type, prev.map { case (_, from) => TrOut(r.user_id, from, r.event_type) })
    }
  }
}
