package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** One per-key stream maintainer, written once: the grouping key, the
  * in-batch replay order, and the pure transition
  * `(key, prior state, batch events) => (next state, outputs)`.
  *
  * `order` is the total order the batch's events are replayed in before
  * `step` sees them; `None` declares the fold commutative (any arrival
  * order and any batch split give the same standings, so no sort is
  * paid). Ordered folds are exact across micro-batches only under
  * per-key in-order delivery in that order. `step` returns `None` as
  * the next state to leave the key's stored state as it was (a key that
  * has seen nothing state-worthy keeps no row).
  *
  * [[KeyedFold.fmgws]] and [[KeyedFold.tws]] serve every fold on the two
  * keyed-state APIs; the fold itself never touches a state handle, so
  * the two paths cannot drift. */
final case class KeyedFold[K, E, S, O](key: E => K, order: Option[Ordering[E]])(
    val step: (K, Option[S], Iterator[E]) => (Option[S], Iterator[O])) {

  def apply(k: K, prior: Option[S], events: Iterator[E]): (Option[S], Iterator[O]) =
    step(k, prior, order.fold(events)(o => events.toVector.sorted(o).iterator))
}

object KeyedFold {

  /** The fold on `flatMapGroupsWithState`. This is the only path that
    * runs on the default (HDFS-backed) state store — transformWithState
    * requires RocksDB — so it stays beside [[tws]]. No timeout, no TTL:
    * state lives as long as the checkpoint. */
  def fmgws[K: Encoder, E, S: Encoder, O: Encoder](
      events: Dataset[E], f: KeyedFold[K, E, S, O], mode: OutputMode): Dataset[O] =
    events.groupByKey(f.key)
      .flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[E], state: GroupState[S]) =>
          val (next, out) = f(k, state.getOption, it)
          next.foreach(state.update)
          out
      }

  /** The fold on `transformWithState` (RocksDB state store): one
    * ValueState per key. A `ttl` makes the store expire a key idle for
    * that much processing time (and so selects TimeMode.ProcessingTime);
    * `initial` seeds keys before their first live batch.
    *
    * On a session built by [[graft.LocalSession]] the store commits each
    * micro-batch as a per-partition changelog of the keys it wrote, takes
    * snapshots in background maintenance, and recovers by replaying the
    * last snapshot plus the changelogs after it, so a commit costs the
    * batch's writes, not the whole state. */
  def tws[K: Encoder, E, S: Encoder, O: Encoder](
      events: Dataset[E], f: KeyedFold[K, E, S, O], mode: OutputMode,
      ttl: Option[java.time.Duration] = None,
      initial: Option[Dataset[(K, S)]] = None): Dataset[O] = {
    val proc = new KeyedFoldProcessor(f, implicitly[Encoder[S]],
      ttl.fold(TTLConfig.NONE)(TTLConfig(_)))
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    val grouped = events.groupByKey(f.key)
    initial match {
      case None => grouped.transformWithState(proc, timeMode, mode)
      case Some(init) => grouped.transformWithState(proc, timeMode, mode,
        init.groupByKey(_._1).mapValues(_._2))
    }
  }
}

/** [[KeyedFold.tws]]'s processor: the fold over ONE ValueState per key.
  * The TTL, when set, is enforced by the state store itself — `exists()`
  * answers false once a row's processing-time TTL has lapsed. */
class KeyedFoldProcessor[K, E, S, O](f: KeyedFold[K, E, S, O],
                                     stateEncoder: Encoder[S], ttl: TTLConfig)
    extends StatefulProcessorWithInitialState[K, E, O, S] {

  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[S]("state", stateEncoder, ttl)

  override def handleInitialState(key: K, initial: S, tv: TimerValues): Unit =
    st.update(initial)

  override def handleInputRows(key: K, rows: Iterator[E],
                               tv: TimerValues): Iterator[O] = {
    val (next, out) = f(key, if (st.exists()) Some(st.get()) else None, rows)
    next.foreach(st.update)
    out
  }
}
