package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the EWMA control chart (q173,
  * operators.Events.ewmaControl): per event type, fold each arriving
  * daily total into the same scaled-integer recurrence the batch
  * chart uses — ewma' = (v + 4·ewma) div 5, all in e6-scaled BIGINTs —
  * and emit the chart row the moment the day closes, instead of
  * refolding the whole series nightly. State per type is three
  * integers (last EWMA, deviation count, running |dev| sum): O(1)
  * per key, independent of history length.
  *
  * Contract vs batch: for in-order daily input, `v_e6`, `ewma_e6` and
  * `dev_e6` equal q173's columns EXACTLY (the recurrence is causal —
  * asserted in StreamingSpec on a shared fixture). The alert flag is
  * the one honest divergence: the batch chart thresholds |dev|
  * against 3× the mean |dev| of the WHOLE series, which no causal
  * operator can know mid-stream — the twin thresholds against the
  * running mean |dev| up to and including the current day
  * (`alert_running`), the standard on-line control-chart form. A
  * StreamFold.inOrder fold over the day: a duplicate or late day is
  * dropped, matching the batch input's daily-aggregate uniqueness.
  */
object StreamingEwma {

  case class DailyInput(event_type: String, day: Long, v_e6: Long)
  case class EwmaState(ewmaE6: Long, nDev: Long, sumAbs: Long)
  case class EwmaOut(event_type: String, day: Long, v_e6: Long, ewma_e6: Long,
                     dev_e6: Option[Long], alert_running: Option[Int])

  def chart(daily: Dataset[DailyInput]): Dataset[EwmaOut] = {
    import daily.sparkSession.implicits._
    StreamFold.inOrder(daily)(_.event_type, r => (r.day, 0L)) {
      (prev: Option[(StreamFold.Pos, EwmaState)], r: DailyInput) => prev match {
        case None =>
          // series head: EWMA seeds at the observed value, no dev
          (EwmaState(r.v_e6, 0L, 0L),
            Some(EwmaOut(r.event_type, r.day, r.v_e6, r.v_e6, None, None)))
        case Some((_, st)) =>
          val dev = r.v_e6 - st.ewmaE6
          val nDev = st.nDev + 1
          val sumAbs = st.sumAbs + math.abs(dev)
          val alert = if (math.abs(dev) * nDev > sumAbs * 3) 1 else 0
          // batch uses Spark's `div`. For BIGINT operands Spark div
          // TRUNCATES toward zero (it is floor only for nonnegative
          // numerators), so mirror with Long./ — negative daily
          // totals take the same truncated quotient on both paths
          val ewmaFloor = (r.v_e6 + 4 * st.ewmaE6) / 5
          (EwmaState(ewmaFloor, nDev, sumAbs),
            Some(EwmaOut(r.event_type, r.day, r.v_e6, ewmaFloor, Some(dev), Some(alert))))
      }
    }
  }
}
