package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the q132 session-path miner: emits one record per
  * completed event-type TRIGRAM taken consecutively inside a session
  * (per-user 30-min-gap contract, same as the batch operator). A
  * downstream count over (e1, e2, e3) equals the batch trigram
  * multiset for frontier-respecting input — asserted in StreamingSpec
  * against `Events.sessionPaths`'s support column.
  *
  * State per user is the sliding pair of predecessor types — bounded
  * regardless of history; no session buffer is kept because a trigram
  * is emittable the moment its third event arrives. A gap break only
  * clears the predecessor pair (the q132 contract: trigrams never
  * cross a session boundary), so no timeout is needed — nothing
  * pending ever has to flush on silence, unlike the sessionize twin.
  *
  * A StreamFold.inOrder fold over (ts_ms, event_id): a late event is
  * dropped.
  */
object StreamingPaths {

  case class PathInput(user_id: Long, event_id: Long, ts_ms: Long,
                       event_type: String)
  case class PathState(prev1: String, prev2: String)
  case class PathOut(user_id: Long, e1: String, e2: String, e3: String)

  def sessionTrigrams(events: Dataset[PathInput],
                      gapMs: Long = 30L * 60000L): Dataset[PathOut] = {
    import events.sparkSession.implicits._
    StreamFold.inOrder(events)(_.user_id, r => (r.ts_ms, r.event_id)) {
      (prev: Option[(StreamFold.Pos, PathState)], r: PathInput) =>
        // the pair survives only within the session: a gap break (or
        // the series head) starts it empty
        val pair = prev.collect {
          case ((lastTs, _), st) if r.ts_ms - lastTs <= gapMs => st }
        val out = pair.collect { case PathState(p1, p2) if p1 != null && p2 != null =>
          PathOut(r.user_id, p1, p2, r.event_type) }
        (PathState(pair.map(_.prev2).orNull, r.event_type), out)
    }
  }
}
