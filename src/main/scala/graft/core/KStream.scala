package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event stream — the scespet `Term[X]`/`MacroTerm[X]` single stream
  * (scespet core/types.scala:230-280, MacroTerm.scala:22)
  * and the `MultiTerm[K,X]`/`VectTerm[K,X]` keyed multi-stream
  * (types.scala:286-369, VectTerm.scala:25) as ONE type. A stream is a
  * DataFrame with:
  *   - `ts: Long`  event time (opaque ordered long)
  *   - `seq: Long` deterministic arrival tie-break
  *   - `keys`: the key columns — a "vector" of per-key streams. A single
  *     stream is a keyed stream with no keys (`keys = Nil`, built by
  *     [[graft.core.EStream]]): scespet's thesis that an expression on a
  *     single stream applies unchanged to a multi-stream, stated once.
  *   - any number of value columns.
  *
  * In Spark a keyed stream is just rows with key columns, so reshape
  * signals / chained vectors / per-key cell wiring (VectorStream.java,
  * ChainedVector.java) have no runtime analog — new keys appearing in the
  * data are handled by value-based grouping for free. Every combinator
  * returns plain Catalyst lineage — predicate pushdown, column pruning and
  * whole-stage codegen apply as if the user had written the DataFrame ops
  * by hand.
  */
final case class KStream(
    df: DataFrame,
    keys: Seq[String],
    tsCol: String = "ts",
    seqCol: String = "seq") {

  private def keyCols: Seq[Column] = keys.map(col)
  private def firstKey: String = {
    require(keys.nonEmpty, "this operator needs a keyed stream; this stream has no keys")
    keys.head
  }
  private def meta: Seq[Column] = keyCols ++ Seq(col(tsCol), col(seqCol))

  /** Per-event projection (MacroTerm.map, MacroTerm.scala:86-103;
    * VectTerm.map, VectTerm.scala:178-215).
    */
  def map(out: (String, Column)*): KStream =
    KStream(df.select(meta ++ out.map { case (n, e) => e.as(n) }: _*), keys, tsCol, seqCol)

  /** [[map]] with MacroTerm's `exposeNull` switch: `exposeNull=false`
    * reproduces the fused map+drop-null behavior.
    */
  def mapKeepNull(exposeNull: Boolean, out: (String, Column)*): KStream = {
    val m = map(out: _*)
    if (exposeNull) m
    else KStream(m.df.na.drop(out.map(_._1)), keys, tsCol, seqCol)
  }

  /** Per-event predicate (MacroTerm.filter, MacroTerm.scala:105-124;
    * VectTerm.filter, :252-277).
    */
  def filter(p: Column): KStream = KStream(df.filter(p), keys, tsCol, seqCol)

  /** Type-routing filter (Term.filterType, types.scala:270-272;
    * VectTerm.filterType, :224-244). In the relational model the "runtime
    * class" is a discriminator column.
    */
  def filterType(disc: Column, tpe: String): KStream = filter(disc === lit(tpe))

  /** Hierarchy-aware type routing — the reference's `filterType[T]`
    * dispatches on the JVM CLASS HIERARCHY (an `isInstanceOf` check,
    * types.scala:270-272), so filtering on a supertype also admits every
    * subtype (OrderReportsExample.scala:86 routes New/Fill/Terminate order
    * events through their common base). Relationally the taxonomy is a
    * dotted discriminator path ("order", "order.fill"): filtering on
    * `tpe` admits the exact type AND every `tpe.`-prefixed subtype.
    */
  def filterTypeHierarchy(disc: Column, tpe: String): KStream =
    filter(disc === lit(tpe) || disc.startsWith(lit(tpe + ".")))

  /** Demultiplex by `key` (MacroTerm.by, MacroTerm.scala:134-138;
    * GroupFunc key discovery GroupFunc.scala:16-50): the result is keyed
    * by `as` alone. Dynamic key discovery is free in Spark — grouping is by
    * value, not by wired graph cells.
    */
  def by(key: Column, as: String = "k"): KStream =
    KStream(df.withColumn(as, key), Seq(as), tsCol, seqCol)

  /** Key-subset filter (VectTerm.subset, :37). */
  def subset(pred: Column): KStream = filter(pred)

  /** Dereference one key → single stream (VectTerm.apply, :63-111). */
  def apply(keyValue: Any): EStream =
    EStream(df.filter(col(firstKey) === lit(keyValue)), tsCol, seqCol)

  /** Re-key (VectTerm.mapKeys, :59-61 / ReKeyedVector.scala:9-60). A `None`
    * mapping (null) drops the key. The reference errors on two old keys
    * colliding into one; relationally a collision just merges groups, which
    * is the useful semantics — callers wanting the error can assert
    * distinctness separately.
    */
  def mapKeys(f: Column, as: String = "k"): KStream =
    KStream(
      df.withColumn(as, f).filter(col(as).isNotNull),
      Seq(as), tsCol, seqCol)

  /** Multiplex back to a single (k, x) stream (VectTerm.toStream,
    * :445-448) — identity in the relational model.
    */
  def toStream: EStream = EStream(df, tsCol, seqCol)

  /** Stream → growing distinct set (MacroTerm.valueSet, :160-185;
    * VectTerm.toValueSet, :365-421); `valueSetExpand` flattens an array
    * value via explode. `toKeySet` is VectTerm.toKeySet (:355-363).
    */
  def valueSet(value: Column): DataFrame = df.select(value.as("v")).distinct()
  def valueSetExpand(values: Column): DataFrame =
    df.select(explode(values).as("v")).distinct()
  def toKeySet: DataFrame = df.select(keyCols: _*).distinct()

  /** Full key list as one growing value (VectTerm.keyList, :43-52);
    * relationally the terminal snapshot is the distinct key set collected.
    */
  def keyList: DataFrame =
    toKeySet.agg(sort_array(collect_list(col(firstKey))).as("key_list"))

  /** Whole-vector snapshot function per event (VectTerm.mapVector,
    * :145-176): at each event, a function of ALL keys' current values.
    * Implemented as cross-key window arithmetic: e.g. `vectorSize` = how
    * many keys have fired at or before each event.
    */
  def vectorSizeAtEachEvent(out: String = "n_keys"): DataFrame = {
    val perKey = Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col(seqCol))
    val marked = df.withColumn("__first",
      (row_number().over(perKey) === 1).cast("long"))
    // global cumulative count of first-sightings: associative → two-pass
    // distributed prefix scan, not a single-partition window
    graft.operators.DistributedScan
      .runningAggs(marked, tsCol, seqCol, Seq((out, col("__first"), "sum")))
      .drop("__first")
  }

  /** mapVector for associative numeric folds: at each event, the sum of
    * EVERY key's latest value (the reference's demean/cross-sectional
    * examples, doc types.scala:312-317). Delta trick: each event changes
    * the cross-key total by (v − previous v of this key), so the snapshot
    * is a single cumulative sum — no per-event key scan, one global
    * ordered pass (inherently sequential, exactly as in the reference).
    */
  def vectorSumAtEachEvent(value: Column, out: String = "vec_sum"): DataFrame = {
    val perKey = Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col(seqCol))
    val deltas = df.withColumn("__delta",
      value - coalesce(lag(value, 1).over(perKey), lit(0)))
    // the delta stream sums associatively (use exact types for cross-
    // engine determinism) → distributed prefix scan replaces the global
    // one-reducer window
    graft.operators.DistributedScan
      .runningAggs(deltas, tsCol, seqCol, Seq((out, col("__delta"), "sum")))
      .drop("__delta")
  }

  /** General mapVector (VectTerm.mapVector, VectTerm.scala:145-176): at
    * EACH event, expose the whole-vector snapshot — every key's latest
    * value as of that event, the firing event's own update included
    * (rendezvous: the reference recomputes f AFTER the cell updates) — as
    * a key-sorted `array<struct<k,v>>` column named `out`; the caller
    * applies ANY Column function of it (demean, rank, size, head…).
    * Keys that have not fired yet are absent (the reference's vector only
    * holds created cells).
    *
    * Plan shape: the event axis × key universe, each (key, tick) pair
    * as-of samples that key's latest value (one shuffle + sort, AsOf.take),
    * then snapshots regroup per tick. O(events × keys) rows — inherent to
    * "arbitrary f of ALL keys at every event" (the reference also touches
    * every cell per event); for associative folds use the O(n) delta
    * specializations above ([[vectorSizeAtEachEvent]]/[[vectorSumAtEachEvent]]).
    *
    * @param maxKeys explicit key-universe envelope (VERDICT r8 #6): the
    *                intermediate is events × keys rows, so a caller at
    *                100× the expected key cardinality must fail LOUDLY
    *                here — with the pointer to the O(n) specializations —
    *                not quadratically in the shuffle. Raise it knowingly
    *                when an arbitrary-f snapshot over a wide universe is
    *                genuinely intended.
    */
  def mapVector(value: Column, out: String = "snapshot",
                maxKeys: Long = 10000L): DataFrame = {
    require(keys.size == 1, "mapVector supports single-key vectors")
    val k = keys.head
    // ONE distinct-key scan serves both the envelope guard and the
    // crossJoin (ADVICE r9 — the guard used to run its own eager
    // distinct+count and the crossJoin then recomputed the scan): collect
    // maxKeys+1 rows at most — bounded driver state by construction —
    // and rebuild the (tiny, guard-bounded) key set as a local relation,
    // which the planner then broadcasts instead of shuffling.
    val ksDf = toKeySet
    val ksRows = ksDf.limit(math.min(maxKeys + 1, Int.MaxValue.toLong).toInt).collect()
    require(ksRows.length <= maxKeys,
      s"mapVector materializes events × keys rows and the key universe " +
        s"has > maxKeys=$maxKeys keys; for associative folds use " +
        "the O(n) vectorSizeAtEachEvent/vectorSumAtEachEvent " +
        "specializations, or raise maxKeys explicitly")
    val keySet = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(ksRows: _*), ksDf.schema)
    val ticks = df.select(col(tsCol), col(seqCol))
    val keyed = keySet.crossJoin(ticks)
    val sampled = AsOf.take(
      keyed,
      df.select(col(k), col(tsCol), col(seqCol), value.as("__v")),
      Seq(col(k)), Seq(col(k)), Seq("__v" -> col("__v")), tsCol, seqCol)
    val snap = sampled
      .filter(col("__v").isNotNull)
      .groupBy(col(tsCol), col(seqCol))
      .agg(sort_array(collect_list(struct(col(k).as("k"), col("__v").as("v"))))
        .as(out))
    df.join(snap, Seq(tsCol, seqCol))
  }

  /** Nested grouping (VectTerm.groupby, :117-119 / NestedVector.scala):
    * a vector of sub-vectors by a derived outer key — relationally just a
    * second key column; all per-key operators then work on (k2, k).
    */
  def groupByNested(outer: Column, as: String = "k2"): KStream =
    KStream(df.withColumn(as, outer), as +: keys, tsCol, seqCol)

  /** Per-key cumulative scan (fold_all, MacroTerm.scala:42-53;
    * VectTerm.scan, :487-493): aggregate over the unbounded-preceding rows
    * frame. GENERAL path — with no keys it plans as a single-partition
    * window (the fold may be order-dependent, e.g. EWMA — inherently
    * sequential). For associative folds over a whole stream use
    * [[foldAllAssoc]], which distributes.
    */
  def scanAll(out: String, agg: Column): KStream =
    KStream(
      df.withColumn(out, agg.over(WindowKernel.cumulative(keys, tsCol, seqCol))),
      keys, tsCol, seqCol)

  /** Distributed fold_all for ASSOCIATIVE reductions (exact decimal sums,
    * counts, min/max) over a stream with no keys: two-pass prefix scan —
    * within-partition running values in parallel + broadcast per-partition
    * offsets ([[graft.operators.DistributedScan]]). Same rows as
    * [[scanAll]], O(n/P) wall-clock instead of a one-reducer window.
    *
    * @param outs (outputCol, perRowContribution, combine∈{sum,min,max}) —
    *             e.g. a running count is `("n", lit(1L), "sum")`.
    */
  def foldAllAssoc(outs: (String, Column, String)*): KStream = {
    require(keys.isEmpty,
      s"foldAllAssoc is one scan over the whole stream, but this stream is " +
        s"keyed by ${keys.mkString(", ")}; use scanAll for per-key running values")
    KStream(
      graft.operators.DistributedScan.runningAggs(df, tsCol, seqCol, outs),
      keys, tsCol, seqCol)
  }

  /** Terminal reduce, one row per key (reduce_all, MacroTerm.scala:63-84;
    * VectTerm.reduce, :487-493); a single row when there are no keys.
    */
  def reduceAll(aggs: (String, Column)*): DataFrame =
    namedAgg(df.groupBy(keyCols: _*), "reduceAll", aggs)

  /** Gap-based sessionization (beyond reference; the classic event-
    * analytics windowing scespet lacks): a new session opens when the
    * inter-event gap within a key exceeds `maxGap` (same ts-unit as the
    * stream). Adds a per-key dense session id; all grouped operators then
    * work on (keys :+ sessionId). Streaming twin: Spark's built-in
    * `session_window()` + watermark. The session id JOINS the key set, so
    * reduceAll/scanAll aggregate per (key, session).
    */
  def sessionize(maxGap: Long, as: String = "session_id"): KStream = {
    val w = Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col(seqCol))
    val opened = df.withColumn("__new",
      when(lag(col(tsCol), 1).over(w).isNull ||
        col(tsCol) - lag(col(tsCol), 1).over(w) > maxGap, 1L).otherwise(0L))
    // the session id rides inside a GapSessionTag marker: identity at
    // runtime (stripped by ReplaceExpressions), but it carries (gap, ts,
    // seq, keys) so plans.RewriteGapSessions can swap an aggregate over
    // this pattern onto Spark's native session_window operator — one
    // exchange+sort with MergingSessionsExec instead of two fact-sized
    // window passes plus a second exchange.
    graft.plans.GapSessionTag.register(df.sparkSession)
    val opens = sum(col("__new")).over(WindowKernel.cumulative(keys, tsCol, seqCol))
    val sid = call_function("graft_session_tag",
      (opens +: lit(maxGap) +: col(tsCol) +: col(seqCol) +: keyCols): _*)
    KStream(
      opened.withColumn(as, sid).drop("__new"),
      keys :+ as, tsCol, seqCol)
  }

  /** Per-key × per-slice buckets, `.group(spec).reduce(...)/.scan(...)`
    * (MacroTerm.group, :262-265; GroupedVectTerm, VectTerm.scala:609-696).
    */
  def group(slice: Slice): Sliced =
    Sliced(WindowKernel.withWindowId(df, keys, slice, tsCol, seqCol),
      keys, WindowKernel.WindowId, tsCol, seqCol)

  /** Per-key boolean-gated windows (MacroTerm.window, :242-259;
    * VectTerm.window, :530-543): WindowedBucket semantics, a close edge
    * excludes its datum (WindowedReduce.scala:55-58).
    */
  def window(gate: Column): Sliced =
    Sliced(
      WindowKernel.withSessions(df, keys, gate, tsCol, seqCol).filter(col("in_window")),
      keys, "session_id", tsCol, seqCol)

  /** Either-fires temporal zip per key (MacroTerm.join, :190-204;
    * VectTerm.join, :454-456 / VectorJoin.scala).
    */
  def joinZip(other: KStream, leftVals: Seq[(String, Column)], rightVals: Seq[(String, Column)]): KStream =
    KStream(AsOf.zip(df, other.df, keys, leftVals, rightVals, tsCol, seqCol), keys, tsCol, seqCol)

  /** joinZip with a keyMap (VectorJoin's `keyMap: K => K2`): the right
    * stream is re-keyed by an expression over ITS columns before the
    * temporal zip, reproducing `join(other, keyMap)` — e.g. joining a
    * per-(feed,symbol) vector onto a per-symbol vector.
    */
  def joinZipMapped(
      other: KStream,
      rightKeyOfRight: Seq[Column],
      leftVals: Seq[(String, Column)],
      rightVals: Seq[(String, Column)]): KStream = {
    // build the right frame under this stream's key names
    val r = other.df.select(
      (keys.zip(rightKeyOfRight).map { case (n, e) => e.as(n) } :+
        col(other.tsCol).as(tsCol) :+ col(other.seqCol).as(seqCol)) ++
        rightVals.map { case (n, e) => e.as(n) }: _*)
    KStream(
      AsOf.zip(df, r, keys, leftVals, rightVals.map { case (n, _) => n -> col(n) },
        tsCol, seqCol),
      keys, tsCol, seqCol)
  }

  /** Left-fires as-of sample (MacroTerm.take, :209-221; VectTerm.take,
    * :458-460). `rightKeyOfLeft` expresses the reference's keyMap
    * (right-key derivation from left key).
    */
  def take(other: KStream, rightKeyOfLeft: Seq[Column], rightVals: Seq[(String, Column)]): KStream =
    KStream(
      AsOf.take(df, other.df, rightKeyOfLeft, other.keys.map(col), rightVals, tsCol, seqCol),
      keys, tsCol, seqCol)

  /** [[take]] on this stream's own keys (the identity keyMap). */
  def take(other: KStream, rightVals: Seq[(String, Column)]): KStream =
    take(other, keyCols, rightVals)

  /** Keyed as-of take with a staleness bound ([[AsOf.takeWithin]]):
    * sampled values older than `tolerance` null out.
    */
  def takeWithin(
      other: KStream,
      rightKeyOfLeft: Seq[Column],
      rightVals: Seq[(String, Column)],
      tolerance: Long): KStream =
    KStream(
      AsOf.takeWithin(df, other.df, rightKeyOfLeft, other.keys.map(col),
        rightVals, tolerance, tsCol, seqCol),
      keys, tsCol, seqCol)

  /** Emit this stream's latest values when `trigger` fires
    * (MacroTerm.sample, :226-230; VectTerm.sample, :468-482). With no keys
    * this is `trigger.take(this)`: one row per trigger event, even before
    * this stream has any. With keys, every key's value is snapshotted on
    * each trigger event: the trigger is replicated into every key
    * partition via cross join with the key set, each pair as-of sampled.
    */
  def sample(trigger: KStream, myVals: Seq[(String, Column)]): KStream =
    if (keys.isEmpty) trigger.take(this, Nil, myVals)
    else {
      val ticks = trigger.df.select(col(trigger.tsCol).as(tsCol), col(trigger.seqCol).as(seqCol))
      val keyed = toKeySet.crossJoin(ticks)
      KStream(
        AsOf.take(keyed, df, keyCols, keyCols, myVals, tsCol, seqCol),
        keys, tsCol, seqCol)
    }

  /** takef (MacroTerm.scala:140-142): per-event dereference of a STREAM-
    * VALUED attribute — each event names a key (`keyOf`, any expression
    * over this row), and samples that key's stream from `registry` as of
    * the event time. The reference's `f: X => HasVal[Y]` cell lookup is
    * relationally a derived-key as-of join; combine with
    * [[graft.sources.Sources.keyToStreamDynamic]] for generated registries.
    */
  def takef(keyOf: Column, registry: KStream, rightVals: Seq[(String, Column)]): KStream =
    KStream(
      AsOf.take(df.withColumn("__fk", keyOf), registry.df,
        Seq(col("__fk")), registry.keys.map(col), rightVals, tsCol, seqCol)
        .drop("__fk"),
      keys, tsCol, seqCol)
}
