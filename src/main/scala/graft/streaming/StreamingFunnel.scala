package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the ordered funnel (q84, operators.Events.funnel):
  * per user, the earliest signup, the earliest click STRICTLY AFTER
  * it, and the earliest purchase strictly after that — tracked as
  * events arrive. The batch form's three progressive min-aggregates
  * collapse to THREE timestamps of state per user (the progressive
  * frontier is monotone: once a step is reached its timestamp never
  * changes), so funnel position is O(1) per event with bounded state
  * regardless of history length — the same collapse
  * StreamingAttribution applies to q91's window.
  *
  * A StreamFold.inOrder fold over (ts_ms, event_id): a late event is
  * dropped. For frontier-respecting input the LAST emitted update per
  * user equals the batch q84 row exactly (asserted in RobustOpsSpec).
  */
object StreamingFunnel {

  case class FunnelInput(user_id: Long, event_id: Long, ts_ms: Long,
                         event_type: String)
  case class FunnelState(tSignup: Option[Long], tClick: Option[Long],
                         tPurchase: Option[Long])
  case class FunnelUpdate(user_id: Long, t_signup: Long,
                          t_click: Option[Long], t_purchase: Option[Long],
                          stage: Int)

  private val Steps: Set[String] = Set("signup", "click", "purchase")

  def track(events: Dataset[FunnelInput]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    StreamFold.inOrder(events.filter(e => Steps.contains(e.event_type)))(
        _.user_id, r => (r.ts_ms, r.event_id)) {
      (prev: Option[(StreamFold.Pos, FunnelState)], r: FunnelInput) =>
        val st = prev.fold(FunnelState(None, None, None))(_._2)
        val next = r.event_type match {
          case "signup" if st.tSignup.isEmpty => st.copy(tSignup = Some(r.ts_ms))
          case "click" if st.tClick.isEmpty && st.tSignup.exists(r.ts_ms > _) =>
            st.copy(tClick = Some(r.ts_ms))
          case "purchase" if st.tPurchase.isEmpty && st.tClick.exists(r.ts_ms > _) =>
            st.copy(tPurchase = Some(r.ts_ms))
          case _ => st
        }
        // a step is reached only after its predecessor, so the number
        // of reached steps is the stage
        (next, for (signup <- next.tSignup if next != st) yield
          FunnelUpdate(r.user_id, signup, next.tClick, next.tPurchase,
            Seq(next.tSignup, next.tClick, next.tPurchase).count(_.isDefined)))
    }
  }
}
