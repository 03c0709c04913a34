package graft.streaming

import scala.collection.IndexedSeqView
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.namedAgg

/** Structured Streaming execution of the graft operator semantics.
  *
  * scespet is a push-graph CEP engine; its streaming analog in Spark is
  * Structured Streaming (SURVEY §1.2, §4.2): event-time columns +
  * watermarks for time slices, per-key folds ([[KeyedFold]]) for
  * count/trigger slices and multi-input buckets. The batch kernel
  * (WindowKernel) and these operators share semantics — the conformance
  * spec runs the same data through both and asserts identical buckets.
  */
object Streams {

  /** Tumbling event-time aggregation (scespet `Duration` slices on a
    * stream): built-in `window()` + watermark — fully incremental,
    * partial-agg + state-store backed, scales per key across executors.
    *
    * `ts` is epoch-micros (the graft stream contract); `width`/`delay`
    * are SQL interval strings (e.g. "1 day", "10 minutes").
    */
  def tumblingAgg(
      events: DataFrame,
      keys: Seq[String],
      width: String,
      delay: String,
      aggs: (String, Column)*): DataFrame = {
    val withTime = events
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", delay)
    namedAgg(withTime.groupBy(window(col("event_time"), width) +: keys.map(col): _*),
      "tumblingAgg", aggs)
  }
}

/** SLICED hopping/sliding event-time aggregation — the stream-slicing
  * optimization (Scotty/Cutty lineage: overlapping windows share their
  * non-overlapping "slices", so the stream aggregates once per slice and
  * overlapping windows are COMPOSED from slice partials).
  *
  * Spark's direct `window(t, width, step)` form expands every event to
  * its width/step covering windows before the state store: state rows,
  * shuffled rows, and per-row state-put work all scale with the OVERLAP
  * FACTOR. The sliced form keeps the in-stream aggregation tumbling at
  * `step` granularity (overlap factor 1 — each event touches exactly one
  * state row) and merges the factor-many slice partials per emitted hop
  * OUTSIDE the stateful path, on the slice-sized (not event-sized)
  * output. At a 24h/1h sliding spec that is 24× less state and 24× fewer
  * state-store puts; the composition join is over windows×keys rows —
  * noise next to the event volume. The in-stream leg is
  * [[Streams.tumblingAgg]] at `step` width (output: window struct, keys,
  * the named partials).
  *
  * Contract: `width = h × step` (exact multiple), aggregates must be
  * MERGEABLE with the supplied merge expressions (count→sum, sum→sum,
  * min→min, max→max; avg via sum+count). Emission parity with the direct
  * append-mode form: a hop [w, w+width) is final iff w+width ≤ the
  * query's final WATERMARK — pass the watermark Spark itself reported
  * ([[finalWatermarkUs]]) to [[SlicedHopping.compose]]; a hop appears
  * iff it has ≥1 event, exactly like the direct form (absent slices are
  * empty, contributing nothing).
  */
object SlicedHopping {

  /** The post-sink composition: explode each slice to the hops it
    * covers (hop starts `slice_start − i·step`, i ∈ [0, h)), keep hops
    * finalized by `watermarkUs`, and merge partials with the supplied
    * merge expressions (applied over the grouped partial columns).
    * `sink` is the memory/file sink table of the in-stream leg,
    * [[Streams.tumblingAgg]] at `step` width — slice-sized, so this is a
    * narrow batch job regardless of event volume.
    */
  def compose(
      sink: DataFrame,
      keys: Seq[String],
      widthUs: Long,
      stepUs: Long,
      watermarkUs: Long,
      merges: (String, Column)*): DataFrame = {
    require(widthUs > 0 && stepUs > 0 && widthUs % stepUs == 0,
      s"width ($widthUs) must be a positive multiple of step ($stepUs)")
    val h = (widthUs / stepUs).toInt
    val withStart = sink.withColumn("slice_start", unix_micros(col("window.start")))
    val exploded = withStart.withColumn("wstart",
      explode(array((0 until h).map(i =>
        col("slice_start") - lit(i.toLong * stepUs)): _*)))
      .filter(col("wstart") + lit(widthUs) <= lit(watermarkUs))
    namedAgg(exploded.groupBy(col("wstart") +: keys.map(col): _*), "compose", merges)
  }

  /** The query's own final event-time watermark in epoch-µs (what the
    * direct form's append finalization compared window ends against),
    * read from the last StreamingQueryProgress — no data re-read.
    */
  def finalWatermarkUs(sq: org.apache.spark.sql.streaming.StreamingQuery): Long = {
    val wm = Option(sq.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .getOrElse(sys.error("no watermark in query progress"))
    val i = java.time.Instant.parse(wm)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Typed stream element for the stateful operators (the scespet
  * `(ts, seq, key, value)` event shape).
  */
final case class KeyedEvent(k: String, ts: Long, seq: Long, v: Double)

/** A closed (or final partial) count-window bucket. */
final case class CountBucket(
    k: String, windowId: Long, n: Long, sum: Double, mn: Double, mx: Double)

/** The one streaming slice state, shared by [[CountSlices]],
  * [[TriggerSlices]] and [[GatedWindows]]: the open bucket's id and its
  * running count, sum, min and max.
  */
private final case class CountSliceState(
    windowId: Long, n: Long, sum: Double, mn: Double, mx: Double) {
  def add(v: Double): CountSliceState =
    CountSliceState(windowId, n + 1, sum + v, math.min(mn, v), math.max(mx, v))
  def bucket(k: String): CountBucket = CountBucket(k, windowId, n, sum, mn, mx)
  def next: CountSliceState =
    CountSliceState(windowId + 1, 0L, 0.0, Double.MaxValue, Double.MinValue)
}

private object CountSliceState {
  val First = CountSliceState(0L, 0L, 0.0, Double.MaxValue, Double.MinValue)
}

/** Count-based slicing on a live stream (scespet `Events(n)` /
  * `group(3.events).reduce`, SliceTriggerSpec.scala:53-56): no Spark
  * built-in exists, so a per-key fold counts events in (ts, seq) order
  * and emits a bucket each time N accumulate. Batch twin:
  * `WindowKernel.withWindowId(Slice.Count(n))`.
  */
object CountSlices {

  def apply(events: Dataset[KeyedEvent], n: Int): Dataset[CountBucket] = {
    require(n > 0, s"CountSlices needs a positive slice size, got n = $n")
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, KeyedEvent, CountSliceState, CountBucket](
        _.k, Ordering.by(e => (e.ts, e.seq)), CountSliceState.First) {
        def step(k: String, s: CountSliceState, e: KeyedEvent,
                 emit: CountBucket => Unit): CountSliceState = {
          val a = s.add(e.v)
          if (a.n == n) { emit(a.bucket(k)); a.next } else a
        }
      })
  }
}

/** Per-event EWMA emission (scespet's CUMULATIVE emit mode for the
  * order-dependent EWMA cell, ReduceFuncs.scala:33-47) on a live stream:
  * a [[KeyedFold]] whose state is ONE double per key (null until the
  * key's first event) and whose flush folds the micro-batch's rows,
  * each event producing `λ·v + (1−λ)·prev`.
  *
  * Emissions are PACKED per key per micro-batch as parallel primitive
  * arrays (VERDICT r12 #4): the sink carries ~|keys| rows per batch
  * instead of ~|events| typed objects — at sf1 the 5M-row typed
  * emission was 4.5 s of the query's 7.5 s — while every per-event
  * (ts, seq, ewma) triple is still present, in (ts, seq) order, so
  * [[EwmaScan.exploded]] recovers the row-for-row CUMULATIVE contract
  * post-sink with one columnar generate (primitive arrays encode via
  * Spark's fast array encoders, no per-element InternalRow).
  * Batch twin: `functions.Reducers.ewma` per prefix.
  */
final case class EwmaBatchOut(
    k: String, ts: Array[Long], seq: Array[Long], ewma: Array[Double])

object EwmaScan {
  def apply(events: Dataset[KeyedEvent], lambda: Double): Dataset[EwmaBatchOut] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, KeyedEvent, java.lang.Double, EwmaBatchOut](
        _.k, Ordering.by(e => (e.ts, e.seq)), null) {
        def step(k: String, s: java.lang.Double, e: KeyedEvent,
                 emit: EwmaBatchOut => Unit): java.lang.Double = s
        override def flush(k: String, s: java.lang.Double, rows: IndexedSeqView[KeyedEvent],
                           emit: EwmaBatchOut => Unit): java.lang.Double = {
          val n = rows.length
          val ts = new Array[Long](n)
          val sq = new Array[Long](n)
          val ew = new Array[Double](n)
          var has = s != null
          var prev = if (has) s.doubleValue else 0.0
          var i = 0
          while (i < n) {
            val e = rows(i)
            prev = if (has) lambda * e.v + (1 - lambda) * prev else { has = true; e.v }
            ts(i) = e.ts; sq(i) = e.seq; ew(i) = prev
            i += 1
          }
          emit(EwmaBatchOut(k, ts, sq, ew))
          prev
        }
      })
  }

  /** Recover the per-event CUMULATIVE rows (k, ts, seq, ewma) from the
    * packed sink table — one columnar generate, batch-land.
    */
  def exploded(packed: DataFrame): DataFrame =
    packed
      .select(col("k"),
        explode(arrays_zip(col("ts"), col("seq"), col("ewma"))).as("r"))
      .select(col("k"), col("r.ts").as("ts"), col("r.seq").as("seq"),
        col("r.ewma").as("ewma"))
}

/** Trigger-stream slicing on a live stream (scespet's stream-as-trigger
  * slices, SliceTriggerSpec.scala:57-73): per-key state folds events in
  * (ts, seq) order; an event whose `gate` is set closes the bucket.
  * `Align.After` semantics: the triggering event JOINS the closing bucket
  * (end-inclusive, SliceAfterBucket.scala:13-16); `before = true` gives
  * end-exclusive (the trigger event opens the new bucket). The trigger
  * predicate is evaluated in the PLAN (any Column over the source row
  * lands in `gate`), so it can reference columns the typed event doesn't
  * carry. Batch twin: `WindowKernel.withWindowId(Slice.TriggerCol(…))`.
  */
object TriggerSlices {

  def tagged(
      events: Dataset[GatedEvent],
      before: Boolean = false): Dataset[CountBucket] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, GatedEvent, CountSliceState, CountBucket](
        _.k, Ordering.by(e => (e.ts, e.seq)), CountSliceState.First) {
        def step(k: String, s: CountSliceState, e: GatedEvent,
                 emit: CountBucket => Unit): CountSliceState = {
          def close(c: CountSliceState) = {
            if (c.n > 0) emit(c.bucket(k))
            c.next
          }
          if (!e.gate) s.add(e.v)
          else if (before) close(s).add(e.v)
          else close(s.add(e.v))
        }
      })
  }
}

/** Boolean-gated windows on a live stream (scespet `window(stream[Boolean])`,
  * MacroTerm.scala:242-259): a bucket opens on a false→true gate edge and
  * closes on true→false; the closing (gate=false) event is EXCLUDED
  * (close precedence, WindowedReduce.scala:55-58). The fold is the count
  * slices' state: a window is open exactly when it holds an event
  * (`n > 0`), and session ids start at 1, as the batch twin's do:
  * `KStream.window(gate)` (`session_id` from `WindowKernel.withSessions`).
  */
final case class GatedEvent(k: String, ts: Long, seq: Long, v: Double, gate: Boolean)

object GatedWindows {

  def apply(events: Dataset[GatedEvent]): Dataset[CountBucket] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, GatedEvent, CountSliceState, CountBucket](
        _.k, Ordering.by(e => (e.ts, e.seq)), CountSliceState.First.next) {
        def step(k: String, s: CountSliceState, e: GatedEvent,
                 emit: CountBucket => Unit): CountSliceState =
          if (e.gate) s.add(e.v)
          else if (s.n > 0) { emit(s.bucket(k)); s.next } // close edge excludes its event
          else s
      })
  }
}

/** Streaming either-fires zip join (scespet `join`, MacroTerm.scala:190-204):
  * per-key state holds the latest value of each side (`side` 0 = right,
  * 1 = left); rows fold in (ts, side, seq) order and every ts cycle emits
  * the current pair ONCE, after the whole cycle (rendezvous: both sides in
  * one cycle emit one pair with both values). Batch twin:
  * [[graft.core.AsOf.zip]].
  */
final case class ZipEvent(k: String, ts: Long, seq: Long, side: Int, v: Double)
final case class ZipOut(k: String, ts: Long, left: Option[Double], right: Option[Double])
private final case class ZipState(left: Option[Double], right: Option[Double])

object ZipJoin {
  def apply(events: Dataset[ZipEvent]): Dataset[ZipOut] =
    run(events, emitOnRightOnly = true)

  private[streaming] def run(
      events: Dataset[ZipEvent],
      emitOnRightOnly: Boolean): Dataset[ZipOut] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, ZipEvent, ZipState, ZipOut](
        _.k, Ordering.by(e => (e.ts, e.side, e.seq)), ZipState(None, None)) {
        def step(k: String, s: ZipState, e: ZipEvent, emit: ZipOut => Unit): ZipState =
          if (e.side == 0) s.copy(right = Some(e.v)) else s.copy(left = Some(e.v))
        override def cycle(e: ZipEvent): Any = e.ts
        // side 1 sorts last in its cycle: the cycle has a left row iff
        // its last row is one
        override def flush(k: String, s: ZipState, rows: IndexedSeqView[ZipEvent],
                           emit: ZipOut => Unit): ZipState = {
          val last = rows.last
          if (emitOnRightOnly || last.side == 1) emit(ZipOut(k, last.ts, s.left, s.right))
          s
        }
      })
  }
}

/** Streaming left-fires as-of (scespet `take`/`sample`, MacroTerm.scala:
  * 209-230): emit the pair ONLY when the left side fires; right events
  * just update state. Batch twin: [[graft.core.AsOf.take]].
  */
object TakeJoin {
  def apply(events: Dataset[ZipEvent]): Dataset[ZipOut] =
    ZipJoin.run(events, emitOnRightOnly = false)
}

/** Streaming MinHash near-dup detection — the streaming twin of the batch
  * LSH pipeline (`dedup_minhash_lsh`): documents arrive on a stream, their
  * banded signatures hash-route them to LSH buckets, and per-bucket state
  * holds the signatures seen so far. An arriving document compares against
  * ONLY its bucket's history (bounded by the banding, never all-pairs) and
  * emits a pair when ≥ `minEq` of the H minhash components agree.
  * Documents fold in docId order.
  *
  * This is dedup-against-history for an ingest pipeline, and its state is
  * BOUNDED (the r2 unbounded-`Seq` gap): per-bucket history is a FIFO
  * capped at `maxPerBucket` entries — the oldest signature evicts when a
  * new arrival would exceed the cap. On an infinite stream total state is
  * therefore ≤ activeBuckets × maxPerBucket × sigBytes regardless of
  * runtime; the banding keeps real bucket occupancy far below the cap
  * (more bands/rows is the production lever), so eviction only bites on
  * pathological mega-buckets — exactly where dropping the deep tail of
  * ancient near-dup candidates is the right trade.
  *
  * Pairs are emitted as (min,max) so the result is insensitive to arrival
  * interleaving across buckets; the same pair surfacing from two bands
  * deduplicates downstream (signature equality count is band-independent).
  */
final case class BandDoc(band: Int, bh: Long, docId: Long, sig: Seq[Long])
final case class NearDupPair(idA: Long, idB: Long, nEq: Int)
private final case class BucketSigs(entries: Seq[(Long, Seq[Long])])

object StreamNearDup {

  /** Default per-bucket history cap — far above the occupancy a sound
    * banding produces, small enough to bound a mega-bucket.
    */
  val DefaultMaxPerBucket = 256

  /** `history` plus `x`, keeping only the newest `cap` entries. */
  private[streaming] def fifo[T](history: Seq[T], x: T, cap: Int): Seq[T] = {
    val h = history.toVector :+ x
    if (h.size > cap) h.drop(h.size - cap) else h
  }

  def apply(
      docs: Dataset[BandDoc],
      minEq: Int,
      maxPerBucket: Int = DefaultMaxPerBucket): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    require(maxPerBucket > 0, "maxPerBucket must be positive")
    KeyedFold.run(docs,
      new KeyedFold[(Int, Long), BandDoc, BucketSigs, NearDupPair](
        d => (d.band, d.bh), Ordering.by(_.docId), BucketSigs(Seq.empty)) {
        def step(k: (Int, Long), s: BucketSigs, d: BandDoc,
                 emit: NearDupPair => Unit): BucketSigs = {
          s.entries.foreach { case (id, sig) =>
            if (id != d.docId) {
              val nEq = sig.iterator.zip(d.sig.iterator).count { case (a, b) => a == b }
              if (nEq >= minEq)
                emit(NearDupPair(math.min(id, d.docId), math.max(id, d.docId), nEq))
            }
          }
          BucketSigs(fifo(s.entries, d.docId -> d.sig, maxPerBucket))
        }
      })
  }
}

/** Streaming CEP sequence-with-negation — the streaming twin of the batch
  * `ev_cep_pattern` query (SASE-style SEQ(click → purchase) WITHIN w AND
  * NOT error BETWEEN; reference scespet routes such patterns through its
  * push-graph listeners). For this pattern class the NFA collapses to
  * THREE timestamp registers per key — the latest click, and the two most
  * recent DISTINCT error timestamps — so per-key state is O(1) REGARDLESS
  * of stream length: the 100 TB shape is exactly this (no event
  * buffering, no match-set explosion).
  *
  * Two error registers, not one: the veto needs `max error ts STRICTLY
  * below p_t`, and an error in the purchase's own cycle (ts == p_t,
  * processed first by kind order) lands in `err1` — with a single
  * register it would MASK an earlier in-interval error (caught by the
  * random-stream property law in StreamingSpec). Since processing is
  * ts-ordered, the strictly-below maximum is always err1 or err2.
  *
  * Last-match SEQ semantics: a purchase matches the LATEST click within
  * `winUs`, and is vetoed iff an error falls strictly between that click
  * and the purchase. Rows fold in (ts, kind, seq) order, so clicks sort
  * before purchases within a cycle and a same-cycle click is visible to
  * its purchase — identical to the batch oracle's (t, side, event_id)
  * window order. (The catalog query feeds time-split halves to prove
  * cross-batch register carry.)
  */
final case class CepEvent(k: String, ts: Long, seq: Long, kind: Int) // 0=click 1=error 2=purchase
final case class CepMatch(k: String, eventId: Long, pT: Long, clickT: Long)
private final case class CepState(lastClick: Long, err1: Long, err2: Long)

object CepPattern {

  private val None_ = Long.MinValue

  /** The (ts, kind, seq) row order the CEP folds share. */
  private[streaming] val order: Ordering[CepEvent] = Ordering.by(e => (e.ts, e.kind, e.seq))

  def apply(events: Dataset[CepEvent], winUs: Long): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, CepEvent, CepState, CepMatch](
        _.k, order, CepState(None_, None_, None_)) {
        def step(k: String, s: CepState, e: CepEvent,
                 emit: CepMatch => Unit): CepState = e.kind match {
          case 0 => s.copy(lastClick = e.ts)
          case 1 => if (e.ts > s.err1) s.copy(err1 = e.ts, err2 = s.err1) else s
          case _ =>
            val lastErrBelow = if (s.err1 < e.ts) s.err1 else s.err2
            if (s.lastClick != None_ && e.ts - s.lastClick <= winUs &&
              lastErrBelow <= s.lastClick)
              emit(CepMatch(k, e.seq, e.ts, s.lastClick))
            s
        }
      })
  }
}

/** Streaming CEP Kleene-closure count — the streaming twin of the batch
  * `ev_cep_kleene` (clicks since the previous purchase, per purchase).
  * The iteration count of SEQ(click+ → purchase) needs exactly ONE
  * counter register per key: click increments, purchase emits-and-resets.
  * O(1) state forever, same row order as [[CepPattern]].
  */
final case class KleeneMatch(k: String, eventId: Long, nClicks: Long)

object CepKleene {

  def apply(events: Dataset[CepEvent]): Dataset[KleeneMatch] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, CepEvent, Long, KleeneMatch](_.k, CepPattern.order, 0L) {
        def step(k: String, c: Long, e: CepEvent, emit: KleeneMatch => Unit): Long =
          e.kind match {
            case 0 => c + 1
            case 2 => emit(KleeneMatch(k, e.seq, c)); 0L
            case _ => c
          }
      })
  }
}

/** Streaming funnel tracking — the streaming twin of the batch
  * `ev_funnel` (view → click-after → purchase-after). Per-key state is
  * three timestamp registers (first view, first click strictly after it,
  * first purchase strictly after that) — O(1) forever; each register's
  * first set emits a stage-completion event, so the funnel counts are a
  * trivial rollup of the emission stream. Strict-inequality stage gates
  * make same-timestamp ordering irrelevant (same argument as
  * [[CepPattern]]).
  */
final case class FunnelStage(k: String, stage: Int, ts: Long)
private final case class FunnelState(t1: Long, t2: Long, t3: Long)

object FunnelTracker {

  private val None_ = Long.MinValue

  /** kinds: 0 = view, 1 = click, 2 = purchase (ordered stages). */
  def apply(events: Dataset[CepEvent]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, CepEvent, FunnelState, FunnelStage](
        _.k, CepPattern.order, FunnelState(None_, None_, None_)) {
        def step(k: String, s: FunnelState, e: CepEvent,
                 emit: FunnelStage => Unit): FunnelState = e.kind match {
          case 0 if s.t1 == None_ =>
            emit(FunnelStage(k, 1, e.ts)); s.copy(t1 = e.ts)
          case 1 if s.t1 != None_ && s.t2 == None_ && e.ts > s.t1 =>
            emit(FunnelStage(k, 2, e.ts)); s.copy(t2 = e.ts)
          case 2 if s.t2 != None_ && s.t3 == None_ && e.ts > s.t2 =>
            emit(FunnelStage(k, 3, e.ts)); s.copy(t3 = e.ts)
          case _ => s
        }
      })
  }
}

/** Streaming gap-sessionization with PATH accumulation — the streaming
  * twin of the batch `ev_session_paths` (sessionize → ordered path
  * concat). Per-key state is the one OPEN session (last event ts + the
  * ordered event-type path); an event arriving beyond `gapUs` CLOSES the
  * session and emits its path. State is bounded by the session itself
  * (a session ends after `gapUs` of silence by definition), and each
  * user's live trailing session stays in state — the oracle keeps
  * exactly the sessions that have a successor.
  */
final case class SessionPath(k: String, sessionStart: Long, path: String)
private final case class SessState(start: Long, last: Long, path: List[String])

object SessionPaths {

  def apply(events: Dataset[CepEvent2], gapUs: Long): Dataset[SessionPath] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, CepEvent2, SessState, SessionPath](
        _.k, Ordering.by(e => (e.ts, e.seq)), null) {
        def step(k: String, s: SessState, e: CepEvent2,
                 emit: SessionPath => Unit): SessState =
          if (s == null) SessState(e.ts, e.ts, List(e.etype))
          else if (e.ts - s.last > gapUs) {
            emit(SessionPath(k, s.start, s.path.reverse.mkString(">")))
            SessState(e.ts, e.ts, List(e.etype))
          } else SessState(s.start, e.ts, e.etype :: s.path)
      })
  }
}

/** String-typed event for path-building stateful operators. */
final case class CepEvent2(k: String, ts: Long, seq: Long, etype: String)

/** Streaming cohort retention — the streaming twin of the batch
  * `ev_cohort_retention`. Per-key state is the user's cohort week (set by
  * the FIRST event — under the ts-ordered-source contract that IS the min
  * week) plus the set of week-offsets already emitted; each new offset
  * emits one (cohort, offset) hit, so the retention matrix is a plain
  * count over the emission stream. State is bounded by the number of
  * distinct weeks the key was ever active in.
  */
final case class CohortHit(k: String, cohortW: Long, offsetW: Long)
private final case class CohortState(cohortW: Long, seen: Set[Long])

object CohortTracker {

  def apply(events: Dataset[KeyedEvent], widthUs: Long): Dataset[CohortHit] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, KeyedEvent, CohortState, CohortHit](
        _.k, Ordering.by(e => (e.ts, e.seq)), null) {
        def step(k: String, s: CohortState, e: KeyedEvent,
                 emit: CohortHit => Unit): CohortState = {
          val w = Math.floorDiv(e.ts, widthUs)
          if (s == null) {
            emit(CohortHit(k, w, 0L))
            CohortState(w, Set(0L))
          } else {
            val off = w - s.cohortW
            if (s.seen(off)) s
            else {
              emit(CohortHit(k, s.cohortW, off))
              s.copy(seen = s.seen + off)
            }
          }
        }
      })
  }
}

/** Streaming FIRST-WINS dedup with deterministic tie-break — the exact
  * streaming twin of the batch keep-min-id dedup (`row_number() OVER
  * (PARTITION BY h ORDER BY id) = 1`). Spark's own `dropDuplicates` keeps
  * an ARBITRARY row within a micro-batch (partition order), which
  * diverges from the batch oracle whenever duplicate keys carry different
  * payloads (the sf0.1 corpus has identical texts under different lang
  * labels); this operator folds each key's rows in (ord, lang) order
  * (ties in arrival order) and emits the first row per key exactly once
  * across the stream's lifetime. State is one boolean per seen key — the
  * dedup-registry shape, same as `dropDuplicates` itself holds.
  */
final case class KeyedDoc(h: Long, ord: Long, lang: String, nTokens: Long)

/** [[KeepFirst.withTtl]]'s input: KeyedDoc plus the event time the
  * watermark (and with it the TTL) advances on.
  */
final case class TsKeyedDoc(
    h: Long, ord: Long, lang: String, nTokens: Long, ts: java.sql.Timestamp)

object KeepFirst {

  private def firstWins[I](h: I => Long, ord: I => (Long, String), doc: I => KeyedDoc) =
    new KeyedFold[Long, I, Boolean, KeyedDoc](h, Ordering.by(ord), false) {
      def step(k: Long, seen: Boolean, d: I, emit: KeyedDoc => Unit): Boolean = {
        if (!seen) emit(doc(d))
        true
      }
    }

  def apply(docs: Dataset[KeyedDoc]): Dataset[KeyedDoc] = {
    import docs.sparkSession.implicits._
    KeyedFold.run(docs, firstWins[KeyedDoc](_.h, d => (d.ord, d.lang), identity))
  }

  /** Registry-TTL variant (VERDICT r8 #8): without eviction the seen-key
    * registry grows with distinct keys forever — the one streaming state
    * family the FIFO-cap proofs cannot bound. The TTL is EVENT-TIME,
    * watermark-driven ([[IdleTtl]]), and the semantics change is
    * documented: "first-wins" becomes "first within any ttl of the key's
    * last sighting ON THE EVENT TIMELINE" — the timeout refreshes on
    * every duplicate (sliding idle-TTL, the dedup-registry convention), a
    * key whose last sighting falls ttl behind the watermark evicts, and a
    * later duplicate re-emits. State is bounded by the keys active inside
    * any ttl window regardless of stream length (soak-proven in
    * tools.StateSoak).
    *
    * Event-time, NOT processing-time, deliberately: eviction then
    * depends only on the data and the micro-batch composition —
    * deterministic and testable without wall-clock sleeps — and timers
    * are swept by ordinary data batches. A ProcessingTimeTimeout
    * registry was measured to LIVE-LOCK `processAllAvailable`: each
    * expiring wall-clock timer constructs another micro-batch,
    * continuously re-arming while data keeps arriving, so `noNewData`
    * never latches (thousands of back-to-back empty batches in the
    * soak harness before the design was replaced).
    */
  def withTtl(docs: Dataset[TsKeyedDoc], ttlMs: Long,
              delay: String = "0 seconds"): Dataset[KeyedDoc] = {
    import docs.sparkSession.implicits._
    require(ttlMs > 0, "ttlMs must be positive (use apply() for no TTL)")
    KeyedFold.run(docs,
      firstWins[TsKeyedDoc](_.h, d => (d.ord, d.lang),
        d => KeyedDoc(d.h, d.ord, d.lang, d.nTokens)),
      Some(IdleTtl[TsKeyedDoc](ttlMs, delay, _.ts.getTime)))
  }
}

/** TTL-bounded per-key hit counting — the eviction-capable form of the
  * decontamination registry (stream_decontaminate's per-doc hit counts
  * accumulate via a streaming agg whose state grows with distinct docs
  * forever; that is fine for a bounded corpus and exact, which is why
  * the gated query keeps it). On an infinite ingest the deployment shape
  * is this operator: per-key running counts, one emission per key and
  * micro-batch, with a sliding EVENT-TIME idle-TTL ([[IdleTtl]]) — a key
  * whose last hit falls ttl behind the watermark drops its count (a later
  * hit restarts from 1, the documented semantics change), so state is
  * bounded by the keys active within any ttl window regardless of stream
  * length. Soak-proven bounded in tools.StateSoak; exactness law (ttl off
  * ≡ batch counts) and the restart semantics pinned in StreamingSpec.
  */
final case class TsKeyHit(k: Long, ts: java.sql.Timestamp)
final case class KeyCount(k: Long, n: Long)

object TtlCounter {

  def apply(hits: Dataset[TsKeyHit], ttlMs: Long = 0L,
            delay: String = "0 seconds"): Dataset[KeyCount] = {
    import hits.sparkSession.implicits._
    KeyedFold.run(hits,
      new KeyedFold[Long, TsKeyHit, Long, KeyCount](_.k, Ordering.by(_.ts.getTime), 0L) {
        def step(k: Long, n: Long, h: TsKeyHit, emit: KeyCount => Unit): Long = n + 1
        override def flush(k: Long, n: Long, rows: IndexedSeqView[TsKeyHit],
                           emit: KeyCount => Unit): Long = {
          emit(KeyCount(k, n))
          n
        }
      },
      if (ttlMs > 0) Some(IdleTtl[TsKeyHit](ttlMs, delay, _.ts.getTime)) else None)
  }
}

/** STREAMING SCD2 compaction — the streaming twin of the batch `ord_scd2`
  * gaps-and-islands build: a change-log stream folds into validity
  * intervals LIVE, in (ts, seq) order. Per-key state is the one OPEN
  * interval (value, valid_from, valid_to, count, island ordinal) — O(1)
  * per key forever; a value change CLOSES the open interval (emitted) and
  * opens the next. The open tail interval stays in state (a live
  * dimension's current version is by definition not yet closed), so the
  * batch oracle keeps exactly the islands that have a successor.
  */
final case class ScdEvent(k: String, ts: Long, seq: Long, value: String)
final case class ScdInterval(
    k: String, island: Long, value: String, validFrom: Long, validTo: Long, n: Long)
private final case class ScdState(
    island: Long, value: String, from: Long, to: Long, n: Long)

object ScdCompact {

  def apply(events: Dataset[ScdEvent]): Dataset[ScdInterval] = {
    import events.sparkSession.implicits._
    KeyedFold.run(events,
      new KeyedFold[String, ScdEvent, ScdState, ScdInterval](
        _.k, Ordering.by(e => (e.ts, e.seq)), null) {
        def step(k: String, s: ScdState, e: ScdEvent,
                 emit: ScdInterval => Unit): ScdState =
          if (s == null) ScdState(1L, e.value, e.ts, e.ts, 1L)
          else if (e.value == s.value) s.copy(to = e.ts, n = s.n + 1)
          else {
            emit(ScdInterval(k, s.island, s.value, s.from, s.to, s.n))
            ScdState(s.island + 1, e.value, e.ts, e.ts, 1L)
          }
      })
  }
}

/** STREAMING SemDeDup — semantic dedup-against-history. Arriving vectors
  * are routed to their coarse k-means cell (the codebook is a constant of
  * the query, like the LSH planes); per-cell state holds the vector
  * history, and an arrival (in id order) emits a pair for every
  * historical cell-mate with cosine >= theta. The cell bound is the same
  * lever as the batch operator's: comparisons are per-cell, never
  * corpus-wide, and the cell count tracks the corpus.
  *
  * State is BOUNDED like [[StreamNearDup]]: per-cell FIFO capped at
  * `maxPerCell`. The quantized cosine (floor 1e-6) is emitted so the pair
  * set is engine-comparable; the double itself is the same left-to-right
  * fold both `dotd` and the oracle compute.
  */
final case class CellVec(cell: Long, id: Long, v: Seq[Double], n2: Double)
final case class SemDupPair(idA: Long, idB: Long, qcos: Long)
private final case class CellHistory(entries: Seq[(Long, Seq[Double], Double)])

object StreamSemDedup {

  /** Default per-cell history cap — sized like StreamNearDup's: far above
    * sound-codebook occupancy, small enough to bound a mega-cell.
    */
  val DefaultMaxPerCell = 1024

  /** Target mean per-cell occupancy for [[codebookCells]]. */
  val TargetOccupancy = 256L

  /** Codebook sizing rule: cells = max(8, n / 256) for an n-vector
    * corpus, so expected per-cell occupancy — and with it both the
    * dedup-against-history scan per arrival and the bounded state —
    * stays O(256) as the corpus grows (proven linear by the
    * `stream_semdedup_cells` scale op, SCALE.md r8). Keeps cells far
    * below [[DefaultMaxPerCell]], so the FIFO cap never bites a
    * well-sized codebook.
    */
  def codebookCells(n: Long): Long = math.max(8L, n / TargetOccupancy)

  // identical op sequence to dotd / the oracle's list_reduce fold
  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = a.length
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  def apply(
      vecs: Dataset[CellVec],
      theta: Double,
      maxPerCell: Int = DefaultMaxPerCell): Dataset[SemDupPair] = {
    import vecs.sparkSession.implicits._
    require(maxPerCell > 0, "maxPerCell must be positive")
    KeyedFold.run(vecs,
      new KeyedFold[Long, CellVec, CellHistory, SemDupPair](
        _.cell, Ordering.by(_.id), CellHistory(Seq.empty)) {
        def step(k: Long, s: CellHistory, d: CellVec,
                 emit: SemDupPair => Unit): CellHistory = {
          s.entries.foreach { case (id, v, n2) =>
            if (id != d.id) {
              val cos = dot(v, d.v) / (math.sqrt(n2) * math.sqrt(d.n2))
              if (cos >= theta)
                emit(SemDupPair(math.min(id, d.id), math.max(id, d.id),
                  math.floor(cos * 1000000L).toLong))
            }
          }
          CellHistory(StreamNearDup.fifo(s.entries, (d.id, d.v, d.n2), maxPerCell))
        }
      })
  }
}

/** One packable item on the wire: pre-sharded (the shard function is the
  * pipeline's choice — the catalog uses the cross-engine md5 hash). */
final case class PackItem(shard: Int, id: Long, len: Int)

/** An item's bin assignment with its start offset inside the bin. */
final case class PackAssigned(shard: Int, bin: Long, id: Long, len: Int, start: Int)

private final case class PackFillState(bin: Long, fill: Int)

/** ARRIVAL-ORDER next-fit sequence packing on a live stream — the
  * training-batch construction step running at ingest time (the batch
  * twin is `operators.Packing`, which additionally sorts len-desc inside
  * each shard; a stream cannot sort the future, so the streaming form
  * packs in arrival order, i.e. id order per shard). Per-shard state is
  * O(1) FOREVER: the open bin's id and fill — bins close implicitly when
  * the next item does not fit, so no bin contents are ever buffered.
  */
object StreamPacking {

  def nextFit(items: Dataset[PackItem], capacity: Int): Dataset[PackAssigned] = {
    import items.sparkSession.implicits._
    KeyedFold.run(
      items.filter(_.len <= capacity), // oversize items drop (count upstream)
      new KeyedFold[Int, PackItem, PackFillState, PackAssigned](
        _.shard, Ordering.by(_.id), PackFillState(0L, 0)) {
        def step(shard: Int, s: PackFillState, i: PackItem,
                 emit: PackAssigned => Unit): PackFillState = {
          val open = if (s.fill + i.len > capacity) PackFillState(s.bin + 1, 0) else s
          emit(PackAssigned(shard, open.bin, i.id, i.len, open.fill))
          PackFillState(open.bin, open.fill + i.len)
        }
      })
  }
}
