package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the Page–Hinkley drift detector (q432,
  * operators.Events.pageHinkley): per event type, fold each closed
  * day's total into the same recurrence the batch relation states —
  * running mean over the prefix, 6dp-rounded deviation term
  * accumulated exactly (e6-scaled BIGINT, the decimal-sum twin),
  * running minimum of the cumulative deviation, alarm when
  * m_t − min m exceeds λ. State per type is four integers beside the
  * day frontier: O(1) per key, independent of history length.
  *
  * PH's running mean is CAUSAL (unlike q364's whole-series μ), so the
  * only calibration parameter is λ — the batch derives λ = 3σ from
  * the whole series, which no online operator can know; the twin
  * takes λ per type (computed on a reference window and broadcast,
  * the StreamingCusum contract). With λ equal to the batch value the
  * per-day ph/alarm stream folds EXACTLY to q432's summary row
  * (asserted in StreamingSpec on a shared fixture across a
  * micro-batch boundary).
  *
  * Input contract: the DENSE daily series (zero days included) in
  * day order per type — the batch relation zero-fills its calendar
  * spine, so a twin fed only active days would disagree by design.
  * A StreamFold.inOrder fold over the day: a duplicate or late day is
  * dropped.
  */
object StreamingPageHinkley {

  case class DailyInput(event_type: String, day: Long, v: Long)
  case class PhState(t: Long, s: Long, mE6: Long, runminE6: Long)
  case class PhOut(event_type: String, day: Long, v: Long, ph: Double,
                   is_alarm: Int)

  /** Spark's round(x, 6): BigDecimal HALF_UP — bit-identical to the
    * batch plan's term rounding. Returned e6-scaled (exact). */
  private def round6E6(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** @param lambdas per-type λ (the batch 3σ, 6dp-rounded); types
    *                absent from the map are dropped (uncalibrated =
    *                unmonitored, the StreamingCusum contract). */
  def detect(daily: Dataset[DailyInput],
             lambdas: Map[String, Double]): Dataset[PhOut] = {
    import daily.sparkSession.implicits._
    StreamFold.inOrder(daily.filter(r => lambdas.contains(r.event_type)))(
        _.event_type, r => (r.day, 0L)) {
      (prev: Option[(StreamFold.Pos, PhState)], r: DailyInput) =>
        val st = prev.fold(PhState(0L, 0L, 0L, Long.MaxValue))(_._2)
        val t = st.t + 1
        val s = st.s + r.v
        val mE6 = st.mE6 + round6E6(r.v.toDouble - s.toDouble / t.toDouble)
        val runminE6 = math.min(st.runminE6, mE6)
        val ph = (mE6 - runminE6) / 1e6
        (PhState(t, s, mE6, runminE6), Some(PhOut(r.event_type, r.day, r.v, ph,
          if (ph > lambdas(r.event_type)) 1 else 0)))
    }
  }
}
