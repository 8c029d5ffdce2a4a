package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the pinball quantile backtest (q369,
  * operators.Events.pinballBacktest): per event type, keep the
  * trailing `window` daily totals as keyed state and, the moment a
  * new day closes with a FULL window behind it, emit that day's
  * type-1 empirical-quantile forecasts and pinball losses — the same
  * integer rank pick and 6dp loss rounding the batch relation grades,
  * evaluated online instead of re-scanned nightly. State per type is
  * a bounded 28-slot list: O(window), independent of history length.
  *
  * Contract vs batch: for DENSE in-order daily input (the batch
  * densifies on the calendar spine; this operator expects the feed
  * already gap-filled — q194's LOCF/zero-fill twin runs upstream),
  * the per-day (quantile, v, f, loss) rows equal the batch relation's
  * pre-aggregation rows exactly, so the aggregated means/coverages
  * match q369 (asserted in StreamingSpec on a shared fixture across a
  * micro-batch boundary). A StreamFold.inOrder fold over the day: a
  * duplicate or late day is dropped.
  */
object StreamingPinball {

  case class DailyInput(event_type: String, day: Long, v: Double)
  case class PbOut(event_type: String, day: Long, quantile: Double,
                   v: Double, f: Double, loss: Double)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def losses(daily: Dataset[DailyInput], window: Int = 28,
             quantiles: Seq[Double] = Seq(0.5, 0.9)): Dataset[PbOut] = {
    import daily.sparkSession.implicits._
    val idxs = quantiles.map(q => q -> math.ceil(q * window).toInt)
    // state: the trailing `window` daily totals, oldest first
    StreamFold.inOrder(daily)(_.event_type, r => (r.day, 0L)) {
      (prev: Option[(StreamFold.Pos, Seq[Double])], r: DailyInput) =>
        val hist = prev.fold(Seq.empty[Double])(_._2)
        val out = if (hist.length < window) Nil else {
          val hs = hist.sorted
          idxs.map { case (q, i) =>
            val f = hs(i - 1)
            PbOut(r.event_type, r.day, q, r.v, f,
              round6(math.max(q * (r.v - f), (q - 1) * (r.v - f))))
          }
        }
        ((hist :+ r.v).takeRight(window), out)
    }
  }
}
