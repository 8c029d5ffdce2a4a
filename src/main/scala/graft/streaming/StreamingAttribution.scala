package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the last-touch attribution (q91,
  * operators.Events.lastTouchAttribution): per user, remember the most
  * recent prior touch (click/view) and stamp each purchase with it as
  * it arrives — attribution-on-ingest instead of a nightly batch
  * window. The batch form's window frame ("all prior rows") collapses
  * to ONE string of state per user, which is the entire point of the
  * streaming shape: the as-of lookup is O(1) per event with bounded
  * state, no matter how long the user's history grows.
  *
  * A StreamFold.inOrder fold over (ts_ms, event_id): a late event is
  * dropped. For frontier-respecting input the emitted attributions
  * equal the batch window's per-purchase channels exactly (asserted in
  * StreamingSpec against q91's operator).
  */
object StreamingAttribution {

  case class TouchInput(user_id: Long, event_id: Long, ts_ms: Long,
                        event_type: String, value: Double)
  case class Attribution(user_id: Long, event_id: Long, ts_ms: Long,
                         channel: String, value: Double)

  val TouchTypes: Set[String] = Set("click", "view")

  def attribute(events: Dataset[TouchInput]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val touches = events
      .filter(e => TouchTypes.contains(e.event_type) || e.event_type == "purchase")
    // state: the last touch type, "" until a touch is seen ("direct")
    StreamFold.inOrder(touches)(_.user_id, r => (r.ts_ms, r.event_id)) {
      (prev: Option[(StreamFold.Pos, String)], r: TouchInput) =>
        val lastTouch = prev.fold("")(_._2)
        val out = Option.when(r.event_type == "purchase")(
          Attribution(r.user_id, r.event_id, r.ts_ms,
            if (lastTouch.isEmpty) "direct" else lastTouch, r.value))
        (if (TouchTypes.contains(r.event_type)) r.event_type else lastTouch, out)
    }
  }
}
