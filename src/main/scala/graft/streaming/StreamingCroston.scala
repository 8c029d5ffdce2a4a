package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of Croston's intermittent-demand method (q496,
  * operators.Temporal.crostonDemand): per part, fold each arriving
  * DEMAND WEEK into the same two α = 1/2 dyadic smoothers the batch
  * operator runs — ẑ' = (z + ẑ)/2 on the demand size, p̂' = (gap + p̂)/2
  * on the inter-demand interval — and emit the refreshed forecast the
  * moment the week closes, instead of refolding the whole history
  * nightly. State per part is four scalars (last week, week count,
  * ẑ, p̂): O(1) per key, independent of history length.
  *
  * Contract vs batch: the batch fold is causal and head-seeded, so
  * for in-order weekly input ẑ, p̂ and ẑ/p̂ equal q496's columns
  * EXACTLY once both sides round at 6dp (the halvings are IEEE-exact
  * doubles; asserted across a micro-batch boundary in
  * Round12OpsSpec4 on a shared fixture). A StreamFold.inOrder fold
  * over the week: a duplicate or late week is dropped, matching the
  * batch input's weekly-aggregate uniqueness; the demand-class
  * quadrant needs full-series moments and stays batch-only.
  */
object StreamingCroston {

  case class WeeklyDemand(part: Long, week: Long, z: Double)
  /** pHat is None until a second demand week gives an interval. */
  case class CrostonState(nWk: Long, zHat: Double, pHat: Option[Double])
  case class CrostonOut(part: Long, week: Long, n_wk: Long,
                        z_hat: Double, p_hat: Option[Double],
                        croston: Option[Double])

  def forecasts(weekly: Dataset[WeeklyDemand]): Dataset[CrostonOut] = {
    import weekly.sparkSession.implicits._
    StreamFold.inOrder(weekly)(_.part, r => (r.week, 0L)) {
      (prev: Option[(StreamFold.Pos, CrostonState)], r: WeeklyDemand) => prev match {
        case None =>
          // series head: ẑ seeds at the first demand, no interval yet
          (CrostonState(1L, r.z, None), Some(CrostonOut(r.part, r.week, 1L, r.z, None, None)))
        case Some(((lastWeek, _), st)) =>
          val gap = (r.week - lastWeek).toDouble
          val zHat = (r.z + st.zHat) / 2
          val pHat = st.pHat.fold(gap)(p => (gap + p) / 2)
          (CrostonState(st.nWk + 1, zHat, Some(pHat)),
            Some(CrostonOut(r.part, r.week, st.nWk + 1, zHat, Some(pHat), Some(zHat / pHat))))
      }
    }
  }
}
