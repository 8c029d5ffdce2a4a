package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The two keyed fold contracts of the stateful streaming twins, each
  * written once: the `groupByKey` → `flatMapGroupsWithState` scaffold,
  * the sort within the micro-batch, the late-row frontier and the
  * idle-session flush live here, and a twin supplies only its key, its
  * position and its per-row logic. State stays O(1) (or O(window)) per
  * key and shards across executors by the group key — no driver state.
  *
  * Late data is a pipeline policy, not per-operator code:
  *  - `inOrder` drops every row at or below its key's last folded
  *    position. The position is `(ts_ms, event_id)` compared
  *    LEXICOGRAPHICALLY (an equal-ts event with a lower id arriving in a
  *    later micro-batch is late too, not mis-sequenced after its
  *    tiebreak predecessor), or `(day, 0)` for a daily series, where a
  *    duplicate day is dropped. For frontier-respecting input the folded
  *    rows equal the batch window exactly.
  *  - `gapSessions`' frontier is the open session's last ts: a row
  *    strictly below it is dropped (it would move the session backwards),
  *    a row at it extends the session. Within a micro-batch rows sort
  *    first, so replayed in-order input equals the batch gap islands.
  *
  * State-schema note: a twin's checkpointed state is this object's
  * wrapper (`Folded` or `Session`) around the twin's own state type.
  * Changing either invalidates existing checkpoints: a restart after
  * such a change needs a fresh checkpoint directory.
  */
object StreamFold {

  /** A row's place in its key's series, ordered lexicographically. */
  type Pos = (Long, Long)

  /** `inOrder`'s state: the key's last folded position and the twin's state. */
  case class Folded[S](ts: Long, id: Long, state: S)

  /** `gapSessions`' state: the open session's first and last ts, its
    * event count and the twin's state. */
  case class Session[S](start: Long, last: Long, n: Long, state: S)

  /** Ordered fold with a frontier: per key, rows sort by `pos` within
    * the micro-batch, rows at or below the key's last folded position
    * are dropped, and every other row goes through `step` with the
    * previous position and state (`None` at the series head). `step`
    * returns the new state and the rows it emits.
    */
  def inOrder[R, K: Encoder, S: TypeTag, O: Encoder](rows: Dataset[R])(
      key: R => K, pos: R => Pos)(
      step: (Option[(Pos, S)], R) => (S, IterableOnce[O])): Dataset[O] = {
    implicit val folded: Encoder[Folded[S]] = Encoders.product[Folded[S]]
    rows.groupByKey(key)
      .flatMapGroupsWithState[Folded[S], O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, batch: Iterator[R], state: GroupState[Folded[S]]) =>
          var last = state.getOption.map(f => ((f.ts, f.id), f.state))
          val out = Seq.newBuilder[O]
          batch.toSeq.sortBy(pos).foreach { r =>
            val p = pos(r)
            if (last.forall { case (frontier, _) => Ordering[Pos].gt(p, frontier) }) {
              val (s, emitted) = step(last, r)
              out ++= emitted
              last = Some((p, s))
            }
          }
          last.foreach { case ((ts, id), s) => state.update(Folded(ts, id, s)) }
          out.result().iterator
      }
  }

  /** Gap sessions: per key, rows sort by `pos` within the micro-batch;
    * a row below the open session's last ts is dropped, one within
    * `gapMs` of it extends it, a farther one closes it (emitting
    * `close`) and opens the next.
    * With `idleTimeout` a session idle for `gapMs` of processing time
    * is flushed too — without it an idle key's last session sits in
    * state until its next row (flatMapGroupsWithState only runs for a
    * key on new data or a timeout). Tests turn it off: wall-clock
    * timeouts make the emission timing nondeterministic.
    */
  def gapSessions[R, K: Encoder, S: TypeTag, O: Encoder](rows: Dataset[R],
      gapMs: Long, idleTimeout: Boolean)(key: R => K, pos: R => Pos)(
      open: R => S)(extend: (S, R) => S, close: (K, Session[S]) => O): Dataset[O] = {
    implicit val session: Encoder[Session[S]] = Encoders.product[Session[S]]
    val timeout =
      if (idleTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(key)
      .flatMapGroupsWithState[Session[S], O](OutputMode.Append, timeout) {
        (k: K, batch: Iterator[R], state: GroupState[Session[S]]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(close(k, _))
            state.remove()
            out.iterator
          } else {
            var cur = state.getOption
            val out = Seq.newBuilder[O]
            batch.toSeq.sortBy(pos).foreach { r =>
              val ts = pos(r)._1
              cur match {
                case Some(s) if ts < s.last => // late: dropped
                case Some(s) if ts - s.last <= gapMs =>
                  cur = Some(Session(s.start, ts, s.n + 1, extend(s.state, r)))
                case closed =>
                  closed.foreach(s => out += close(k, s))
                  cur = Some(Session(ts, ts, 1L, open(r)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (idleTimeout) state.setTimeoutDuration(gapMs)
            }
            out.result().iterator
          }
      }
  }
}
