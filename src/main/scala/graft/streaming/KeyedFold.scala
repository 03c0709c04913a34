package graft.streaming

import scala.collection.IndexedSeqView
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A per-key fold over a live stream: scespet's "one expression applies
  * to every key", run on Spark's per-key state store. A fold is only its
  * semantics — how rows are keyed, the initial state, the row order and
  * a `step` per row — and [[KeyedFold.run]] owns the whole protocol.
  *
  * Per key and micro-batch the runner loads the key's state (or `init`),
  * stable-sorts the key's rows by `ordering`, calls `step` per row and
  * `flush` after each cycle with the cycle's rows, then stores the state; a
  * null state is no state (`init = null` stores nothing until a row sets
  * one).
  *
  * Ordering contract (every fold): within one micro-batch a key's rows
  * fold in `ordering`, ties in arrival order (the sort is stable, so a
  * `minBy`-style "first row wins" tie-break holds); across micro-batches
  * arrival order must respect that order per key — the per-key-ordered
  * source, e.g. a keyed Kafka topic.
  */
abstract class KeyedFold[K, I, S, O](
    val key: I => K, val ordering: Ordering[I], val init: S) extends Serializable {

  def step(k: K, s: S, row: I, emit: O => Unit): S

  /** Rows with equal `cycle` that are adjacent in `ordering` form one
    * cycle (scespet's atomic cycle: everything that fires together); the
    * default makes the whole micro-batch one cycle.
    */
  def cycle(row: I): Any = ()

  /** Called after the last row of each cycle, with the cycle's rows in
    * `ordering` (a view over the sorted micro-batch).
    */
  def flush(k: K, s: S, rows: IndexedSeqView[I], emit: O => Unit): S = s
}

/** The one eviction kind: an EVENT-TIME idle TTL. The watermark is taken
  * on the input's `ts` column with `delay`, and `eventMs` reads a row's
  * event time. A key's timeout refreshes on every micro-batch it appears
  * in to `max(maxEventTs + ttlMs, watermark + 1)` (the floor keeps a late
  * row from registering an already-expired timer); when the watermark
  * passes it, the key's state is removed and nothing is emitted. See
  * [[KeepFirst.withTtl]] for why event time and not wall clock.
  */
final case class IdleTtl[I](ttlMs: Long, delay: String, eventMs: I => Long)

object KeyedFold {

  /** `groupByKey` → `flatMapGroupsWithState` in Append mode on the
    * session's state store, driving `fold` per key (see [[KeyedFold]]).
    */
  def run[K: Encoder, I, S: Encoder, O: Encoder](
      rows: Dataset[I],
      fold: KeyedFold[K, I, S, O],
      ttl: Option[IdleTtl[I]] = None): Dataset[O] = {
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    ttl.fold(rows)(t => rows.withWatermark("ts", t.delay))
      .groupByKey(fold.key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeout) {
        (k: K, it: Iterator[I], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = ArrayBuffer.from(it).sortInPlace()(fold.ordering)
            val out = ArrayBuffer.empty[O]
            val emit: O => Unit = out += _
            var s = state.getOption.getOrElse(fold.init)
            var start = 0
            var i = 0
            while (i < batch.length) {
              val row = batch(i)
              s = fold.step(k, s, row, emit)
              if (i + 1 == batch.length || fold.cycle(batch(i + 1)) != fold.cycle(row)) {
                s = fold.flush(k, s, batch.view.slice(start, i + 1), emit)
                start = i + 1
              }
              i += 1
            }
            if (s != null) state.update(s) else if (state.exists) state.remove()
            ttl.foreach { t =>
              state.setTimeoutTimestamp(math.max(
                batch.iterator.map(t.eventMs).max + t.ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }
}
