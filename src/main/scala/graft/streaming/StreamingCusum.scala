package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the two-sided CUSUM chart (q364,
  * operators.Events.cusumChart): per event type, fold each arriving
  * daily total into the same scaled-integer recurrence the batch
  * chart uses — S⁺' = max(0, S⁺ + v − μ − k), S⁻' = max(0, S⁻ + μ −
  * v − k), all in e6-scaled BIGINTs — and emit the chart row the
  * moment the day closes. State per type is two integers (S⁺, S⁻)
  * beside the day frontier: O(1) per key, independent of history
  * length.
  *
  * Calibration contract: the batch chart derives μ (series mean) and
  * d (mean absolute deviation; k = d div 2, h = 5d) from the WHOLE
  * series, which no causal operator can know mid-stream. Per standard
  * control-chart practice the twin takes (μ_e6, d_e6) per type as
  * CALIBRATION PARAMETERS — computed on an in-control reference
  * window and broadcast — and with parameters equal to the batch
  * stats its v/S⁺/S⁻/alert columns equal q364's EXACTLY for in-order
  * daily input (asserted in StreamingSpec on a shared fixture,
  * across a micro-batch boundary). A StreamFold.inOrder fold over
  * the day: a duplicate or late day is dropped, matching the batch
  * daily-aggregate uniqueness.
  */
object StreamingCusum {

  case class DailyInput(event_type: String, day: Long, v_e6: Long)
  case class CusumState(sHi: Long, sLo: Long)
  case class CusumOut(event_type: String, day: Long, v_e6: Long,
                      s_hi: Long, s_lo: Long, is_alert: Int)

  /** @param params per-type calibration (μ_e6, d_e6); types absent
    *               from the map are dropped (uncalibrated = unmonitored,
    *               never silently mis-thresholded). */
  def chart(daily: Dataset[DailyInput],
            params: Map[String, (Long, Long)]): Dataset[CusumOut] = {
    import daily.sparkSession.implicits._
    StreamFold.inOrder(daily.filter(r => params.contains(r.event_type)))(
        _.event_type, r => (r.day, 0L)) {
      (prev: Option[(StreamFold.Pos, CusumState)], r: DailyInput) =>
        val (mu, d) = params(r.event_type)
        // batch uses Spark `div` on BIGINTs (truncation); d is a
        // mean |dev| so non-negative — Long./ matches exactly
        val k = d / 2
        val h = 5 * d
        val st = prev.fold(CusumState(0L, 0L))(_._2)
        val sHi = math.max(0L, st.sHi + r.v_e6 - mu - k)
        val sLo = math.max(0L, st.sLo + mu - r.v_e6 - k)
        (CusumState(sHi, sLo), Some(CusumOut(r.event_type, r.day, r.v_e6,
          sHi, sLo, if (sHi > h || sLo > h) 1 else 0)))
    }
  }
}
