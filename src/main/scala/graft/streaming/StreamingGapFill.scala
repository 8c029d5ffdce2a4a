package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the LOCF calendar gap-fill (q194,
  * operators.Temporal.gapFillLocf): per user, remember the last
  * observed (day, value); when a later daily observation arrives, emit
  * the intervening gap days carrying the remembered value (with rising
  * `gap_age`) and then the new observed day. Fill-on-ingest instead of
  * a nightly grid rebuild: the batch form's per-user `sequence()`
  * explode + carry window collapses to ONE (day, value) pair of state
  * per user, and each arriving observation does O(gap) work — bounded
  * by the retention window, independent of history length.
  *
  * Contract vs batch: for in-order daily input the emitted rows equal
  * `gapFillLocf`'s exactly (asserted in StreamingSpec on a shared
  * fixture). A StreamFold.inOrder fold over the day: a duplicate or
  * late day is dropped — the batch twin's input (a daily aggregate)
  * cannot contain one. Trailing gaps are not emitted, matching the
  * batch grid which ends at each user's last observation; a
  * production variant would add an event-time timeout to flush
  * "stale as of today" rows, which the batch twin has no analogue of.
  */
object StreamingGapFill {

  case class DayInput(user_id: Long, day: Long, v_obs: Double)
  case class FillOut(user_id: Long, day: Long, v_filled: Double,
                     is_observed: Boolean, gap_age: Long)

  def fill(daily: Dataset[DayInput]): Dataset[FillOut] = {
    import daily.sparkSession.implicits._
    // state: the last observed value
    StreamFold.inOrder(daily)(_.user_id, r => (r.day, 0L)) {
      (prev: Option[(StreamFold.Pos, Double)], r: DayInput) =>
        val gap = prev.toSeq.flatMap { case ((lastDay, _), lastVal) =>
          (lastDay + 1 until r.day).map(d =>
            FillOut(r.user_id, d, lastVal, is_observed = false, d - lastDay)) }
        (r.v_obs, gap :+ FillOut(r.user_id, r.day, r.v_obs, is_observed = true, 0L))
    }
  }
}
