package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Slice-spec vocabulary: how the event axis is cut into buckets.
  *
  * Mirrors scespet's `SliceTriggerSpec` family
  * (/root/reference/src/scespet/core/SliceTriggerSpec.scala:12-118) plus the
  * boolean-gated window (`MacroTerm.window`, MacroTerm.scala:242-259),
  * re-expressed as window-function arithmetic instead of a push graph.
  */
sealed trait Slice

object Slice {

  /** Tumbling time slices of `widthTs` (in `ts` units). scespet `Duration`
    * slices (SliceTriggerSpec.scala:48-52). Embarrassingly parallel: the id
    * is `floor(ts / width)` — no ordering, no shuffle.
    */
  final case class Tumbling(widthTs: Long) extends Slice

  /** Hopping (sliding) time slices: width `widthTs`, advancing every
    * `stepTs` (both in `ts` units, step ≤ width). NOT in the reference
    * (SURVEY §2.6 lists sliding as absent) — added as the batch twin of
    * Structured Streaming's `window(col, width, slide)` so the two paths
    * share one vocabulary. Each row lands in ceil(width/step) windows
    * (the overlap factor), so the kernel EXPANDS rows: `window_id` = the
    * hop index w covering the row, window w spanning
    * [w·step, w·step + width) — identical to Spark's native slide
    * bucketing (negative ids near t=0 included). Embarrassingly
    * parallel: a per-row integer `sequence` + `explode`, no ordering, no
    * shuffle; the ×(width/step) row expansion is the operator's own
    * output cost, same as the streaming engine's multi-window insert.
    */
  final case class Hopping(widthTs: Long, stepTs: Long) extends Slice {
    require(stepTs > 0 && widthTs >= stepTs, "need 0 < step <= width")
  }

  /** Every-N-events slices — scespet `Events(n)` / `3.events`
    * (SliceTriggerSpec.scala:53-56, NthEvent BucketBuilderImpl.scala:7-21).
    * Count-based, so inherently order-dependent: needs a sort per key.
    */
  final case class Count(n: Int) extends Slice {
    require(n > 0, s"Slice.Count needs a positive slice size, got n = $n")
  }

  /** Data-driven slicing: a predicate ON THE SAME STREAM acts as the
    * trigger (scespet: any EventGraphObject as trigger,
    * SliceTriggerSpec.scala:57-73). `align` follows util/package.scala:27-41:
    * AFTER = coinciding datum closes WITH the bucket (end-inclusive),
    * BEFORE = coinciding datum opens the NEW bucket (end-exclusive).
    * Rows sharing one `ts` are one atomic cycle (SlowGraphWalk.java:82-92),
    * hence the RANGE (not ROWS) frame.
    */
  final case class TriggerCol(cond: Column, align: Align) extends Slice

  /** Whole stream = one slice (scespet TERMINATION, SliceTriggerSpec.scala:28-32). */
  case object Termination extends Slice

  /** Never slice — pure cumulative scan (scespet NULL spec, :36-40). */
  case object Never extends Slice
}

sealed trait Align
object Align {
  case object Before extends Align
  case object After extends Align
}

/** The one custom primitive most operators reuse: assign a `window_id`
  * column from a [[Slice]] spec, per key-partition. Catalyst sees plain
  * window functions, so pruning/pushdown/codegen all still apply.
  *
  * Scale notes: keyed slicing partitions by key — parallel across the
  * cluster. Un-keyed (`keys = Nil`) Count/Trigger slicing is a GLOBAL
  * order dependence inherited from the reference's single-threaded
  * semantics; Spark plans it as a single-partition window. Use keyed
  * variants at scale (the reference's own big examples are all keyed).
  * On an input within the small-shuffle gate that is one file split,
  * keyed or not, the key's exchange runs as a `Coalesce 1` in the scan's
  * own task (`plans.SmallShuffleSinglePartition`).
  */
object WindowKernel {

  val WindowId = "window_id"

  private def part(keys: Seq[String]): WindowSpec =
    if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)

  /** Cumulative rows-frame spec over (ts, seq) within key partitions. */
  def cumulative(keys: Seq[String], tsCol: String = "ts", seqCol: String = "seq"): WindowSpec =
    part(keys)
      .orderBy(col(tsCol), col(seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private def tsBigint(tsCol: String): String = s"CAST(`$tsCol` AS BIGINT)"

  /** SQL for `floorDiv(x, d) + plus`, the flooring division DuckDB's `//`
    * and the streaming `window()` use. Spark `div` truncates toward zero,
    * which equals floor only for nonnegative operands, so
    * floorDiv(x, d) == truncDiv(x, d) + (x % d < 0 ? -1 : 0) for d > 0.
    * Exact int64 arithmetic: double floor(x/d) would lose precision past
    * 2^53 for epoch-nano axes.
    */
  private def floorDivSql(x: String, d: Long, plus: Long = 0L): String =
    s"($x div ${d}L) + (CASE WHEN $x % ${d}L < 0 THEN ${plus - 1}L ELSE ${plus}L END)"

  /** Add `window_id` per the slice spec. */
  def withWindowId(
      df: DataFrame,
      keys: Seq[String],
      slice: Slice,
      tsCol: String = "ts",
      seqCol: String = "seq"): DataFrame = slice match {

    case Slice.Tumbling(width) =>
      df.withColumn(WindowId, expr(floorDivSql(tsBigint(tsCol), width)))

    case Slice.Hopping(width, step) =>
      // covering hop ids: w_min = floorDiv(ts - width, step) + 1,
      // w_max = floorDiv(ts, step) — ts itself can be negative (pre-epoch
      // axes), not just (ts - width) near t=0 (ADVICE r7)
      val t = tsBigint(tsCol)
      df.withColumn(WindowId, explode(expr(
        s"sequence(${floorDivSql(s"($t - ${width}L)", step, 1L)}, ${floorDivSql(t, step)})")))

    case Slice.Count(n) =>
      val w = part(keys).orderBy(col(tsCol), col(seqCol))
      df.withColumn(WindowId, floor((row_number().over(w) - 1) / lit(n)).cast("long"))

    case Slice.TriggerCol(cond, align) =>
      // RANGE frame over ts: rows in one atomic cycle (same ts) get the
      // same id. AFTER excludes triggers at the current ts (datum joins the
      // closing bucket); BEFORE includes them (datum starts the new bucket).
      val base = part(keys).orderBy(col(tsCol))
      val frame = align match {
        case Align.After  => base.rangeBetween(Window.unboundedPreceding, -1)
        case Align.Before => base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
      }
      df.withColumn(
        WindowId,
        coalesce(sum(cond.cast("long")).over(frame), lit(0L)))

    case Slice.Termination =>
      df.withColumn(WindowId, lit(0L))

    case Slice.Never =>
      df.withColumn(WindowId, lit(0L))
  }

  /** Boolean-gated windows (scespet `window(stream[Boolean])`,
    * MacroTerm.scala:242-259): a bucket opens on a false→true edge and
    * closes on true→false. A close edge atomic with a datum EXCLUDES the
    * datum (WindowedReduce.scala:55-58) — which falls out naturally: the
    * closing row carries gate=false and is filtered.
    *
    * Returns rows annotated with `session_id` (count of rising edges so
    * far) and `in_window` (current gate). Callers filter `in_window` and
    * group by (keys :+ session_id).
    */
  def withSessions(
      df: DataFrame,
      keys: Seq[String],
      gate: Column,
      tsCol: String = "ts",
      seqCol: String = "seq"): DataFrame = {
    val ordered = part(keys).orderBy(col(tsCol), col(seqCol))
    val g = gate.cast("boolean")
    val prev = lag(g, 1, false).over(ordered)
    val rising = (g && !prev).cast("long")
    df.withColumn("in_window", g)
      .withColumn("session_id", sum(rising).over(cumulative(keys, tsCol, seqCol)))
  }
}
