package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal zip / as-of joins on the event axis.
  *
  * scespet's `join`/`take`/`sample` (MacroTerm.scala:190-230) and keyed
  * variants (VectTerm.scala:454-482, VectorJoin.scala:17-133) are all
  * "latest value of the other stream as of my event time", differing only
  * in WHICH side's fire emits a row. Spark has no built-in as-of join, so
  * we implement it once with the union + carry-forward-window technique:
  *
  *   union(left tagged 1, right tagged 0)
  *     → last(value, ignoreNulls) over (partition key order by ts, side, seq)
  *     → filter back to the emitting side.
  *
  * Right rows sort BEFORE left rows at equal ts, reproducing scespet's
  * rendezvous atomicity: an event on the sampled stream in the same cycle
  * IS visible to the sampler (SlowGraphWalk topological sweep,
  * SlowGraphWalk.java:82-92).
  *
  * Scale: one shuffle on the key + one sort — the same cost profile as a
  * sort-merge join, fully parallel across keys. For an un-keyed as-of the
  * window is single-partition (inherent to the semantics); prefer keyed.
  * The union reads two inputs, so even when each is a one-split scan
  * within the small-shuffle gate the key's exchange stays a stage of one
  * partition (`plans.SmallShuffleSinglePartition`).
  */
object AsOf {

  private val Side = "__side"

  /** The one carry: union `l` (side 1) with `r` (side 0), a column
    * missing on one side null-padded, and replace each of `vals` by its
    * latest non-null value over (`part`; ts, side, seq) — right rows
    * before left rows at equal ts.
    */
  private def carry(
      l: DataFrame,
      r: DataFrame,
      part: Seq[Column],
      vals: Seq[String],
      tsCol: String,
      seqCol: String): DataFrame = {
    val w = Window
      .partitionBy(part: _*)
      .orderBy(col(tsCol), col(Side), col(seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals.foldLeft(l.unionByName(r, allowMissingColumns = true)) { (d, n) =>
      d.withColumn(n, last(col(n), ignoreNulls = true).over(w))
    }
  }

  /** Left-fires as-of: one output row per LEFT row, carrying the latest
    * right-side values with right.ts <= left.ts (scespet `take`/`sample`,
    * MacroTerm.scala:209-230). Rows on the right not yet seen → null.
    *
    * @param leftKey  key columns on `left` (empty = global stream)
    * @param rightKey matching key expressions on `right`, same arity; a
    *                 keyMap re-key (VectTerm.scala:458) is just a non-trivial
    *                 expression here.
    */
  def take(
      left: DataFrame,
      right: DataFrame,
      leftKey: Seq[Column],
      rightKey: Seq[Column],
      rightVals: Seq[(String, Column)],
      tsCol: String = "ts",
      seqCol: String = "seq"): DataFrame = {
    require(leftKey.size == rightKey.size)
    val jk = leftKey.indices.map(i => s"__jk$i")

    // native-typed join keys: the window partitions (= shuffles) on them,
    // so a string cast here would widen every shuffled row at scale
    val l = left
      .withColumns(jk.zip(leftKey).toMap)
      .withColumn(Side, lit(1))
      .withColumns(rightVals.map { case (n, _) => n -> lit(null) }.toMap)
    val r0 = right
      .withColumns(jk.zip(rightKey).toMap)
      .withColumn(Side, lit(0))
    val r = r0.select(
      (jk.map(col) :+ col(tsCol) :+ col(seqCol) :+ col(Side)) ++
        rightVals.map { case (n, e) => e.as(n) }: _*)

    carry(l, r, jk.map(col), rightVals.map(_._1), tsCol, seqCol)
      .filter(col(Side) === 1).drop(Side).drop(jk: _*)
  }

  /** [[take]] with a STALENESS BOUND (beyond reference; the shape real
    * as-of engines ship): the carried right-side values null out when the
    * latest right event is older than `tolerance` (same ts units). One
    * extra carried column (the right event time) + a per-row comparison —
    * cost identical to plain take.
    */
  def takeWithin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Seq[Column],
      rightKey: Seq[Column],
      rightVals: Seq[(String, Column)],
      tolerance: Long,
      tsCol: String = "ts",
      seqCol: String = "seq"): DataFrame = {
    val rts = "__rts"
    val carried = take(left, right, leftKey, rightKey,
      rightVals :+ (rts -> col(tsCol)), tsCol, seqCol)
    rightVals.foldLeft(carried) { case (d, (n, _)) =>
      d.withColumn(n,
        when(col(rts).isNotNull && (col(tsCol) - col(rts)) <= tolerance, col(n)))
    }.drop(rts)
  }

  /** Either-fires zip (scespet `join`, MacroTerm.scala:190-204): emit the
    * pair of latest values whenever EITHER side fires; both sides firing in
    * one atomic cycle (same ts) coalesce into ONE emission carrying both
    * new values (rendezvous, doc types.scala:254-258).
    *
    * Output: one row per (key, ts) cycle with columns keyOut ++ ts ++ seq ++
    * leftVals ++ rightVals (latest as of that cycle).
    */
  def zip(
      left: DataFrame,
      right: DataFrame,
      key: Seq[String],
      leftVals: Seq[(String, Column)],
      rightVals: Seq[(String, Column)],
      tsCol: String = "ts",
      seqCol: String = "seq"): DataFrame = {

    val l = left.select(
      (key.map(col) :+ col(tsCol) :+ col(seqCol) :+ lit(1).as(Side)) ++
        leftVals.map { case (n, e) => e.as(n) } ++
        rightVals.map { case (n, _) => lit(null).as(n) }: _*)
    val r = right.select(
      (key.map(col) :+ col(tsCol) :+ col(seqCol) :+ lit(0).as(Side)) ++
        leftVals.map { case (n, _) => lit(null).as(n) } ++
        rightVals.map { case (n, e) => e.as(n) }: _*)

    val carried = carry(l, r, key.map(col), (leftVals ++ rightVals).map(_._1), tsCol, seqCol)
    // one emission per atomic cycle: keep the last row of each (key, ts)
    val perCycle = Window
      .partitionBy((key :+ tsCol).map(col): _*)
      .orderBy(col(Side).desc, col(seqCol).desc)
    carried
      .withColumn("__rn", row_number().over(perCycle))
      .filter(col("__rn") === 1)
      .drop("__rn", Side)
  }
}
