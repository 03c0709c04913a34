package graft

/** == graft.core — the scespet query surface on Spark ==
  *
  * A stream is a `DataFrame` with `ts: Long` (event time, epoch-µs) and
  * `seq: Long` (deterministic arrival tie-break — scespet's global merge
  * order, SURVEY §1.2), plus a list of key columns. There is one stream
  * type, [[KStream]]; a single stream is a keyed stream with no keys, so
  * every combinator is written once and applies to both. Wrap it:
  *
  * {{{
  * val trades = EStream(df)                       // Term[X]: KStream(df, Nil)
  * val bySym  = trades.by(col("symbol"))          // MultiTerm[K,X]
  * }}}
  *
  * Everything composes as Catalyst lineage:
  *
  * {{{
  * // per-symbol 10-event buckets, LAST emit mode (scespet:
  * //   trades.by(_.sym).group(10.events).reduce(new Sum))
  * bySym.group(Slice.Count(10)).reduce("qty" -> sum(col("qty")))
  *
  * // as-of sample: latest quote at or before each trade (scespet take)
  * trades.take(quotes, Seq("bid" -> col("bid")))
  *
  * // multi-input bucket (scespet bucketStream.bind.bind.reset.last)
  * Buckets(Seq("sym"))
  *   .bind("t", trades.df)("px" -> col("px"))
  *   .bind("q", quotes.df)("bid" -> col("bid"))
  *   .reset(Slice.Tumbling(60L * 1000000))
  *   .reduce("n_t" -> count(Buckets.fromTag("t", col("px"))))
  * }}}
  *
  * Slice specs ([[Slice]]): `Tumbling` (time), `Count` (every N events),
  * `TriggerCol` (data-driven, BEFORE/AFTER alignment), `Termination`,
  * `Never`; boolean-gated windows via `.window(gate)`. `group`, `window`
  * and `Buckets(...).reset` all return a [[Sliced]] frame, whose emit modes
  * are `reduce` = one row per bucket (scespet `.last()`) and `scan` =
  * running value per event (scespet `.all()`). Streaming twins live in
  * [[graft.streaming]].
  */
package object core {
  import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}

  /** A single stream: a [[KStream]] with no keys. */
  type EStream = KStream

  object EStream {
    def apply(df: DataFrame, tsCol: String = "ts", seqCol: String = "seq"): EStream =
      KStream(df, Nil, tsCol, seqCol)
  }

  /** `grouped.agg` with one output column per (name, aggregate) pair, in
    * order. `call` names the operator in the error an empty list raises.
    */
  private[graft] def namedAgg(
      grouped: RelationalGroupedDataset,
      call: String,
      aggs: Seq[(String, Column)]): DataFrame = {
    require(aggs.nonEmpty, s"$call needs at least one (name -> aggregate) pair")
    val named = aggs.map { case (n, e) => e.as(n) }
    grouped.agg(named.head, named.tail: _*)
  }
}
