package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.SmallShuffleSinglePartition

/** Distributed cumulative aggregation over a GLOBAL total order — the
  * two-pass prefix technique for scespet's unkeyed scans (`fold_all`,
  * `mapVector` cross-key totals), which otherwise plan as one-reducer
  * single-partition windows (the round-1 scale-killer: an inherently
  * sequential global fold is fine for the reference's single-threaded
  * push graph, fatal on a 1000-executor cluster).
  *
  * Only valid for ASSOCIATIVE combines over exact types (decimal sums,
  * integer counts, min/max): pass 1 range-partitions on the order keys and
  * computes within-partition running values in parallel; pass 2 reduces
  * one total per partition (P rows — trivial), turns them into exclusive
  * prefix offsets, and broadcast-joins the offsets back. Result rows equal
  * the single-window plan exactly; wall-clock is O(n/P) instead of O(n).
  *
  * Non-associative folds (EWMA-style) keep the single-partition window —
  * that sequential dependency is semantic, not a plan choice.
  *
  * An input within the small-shuffle gate
  * (`plans.SmallShuffleSinglePartition.gate`: one AQE would coalesce into
  * one partition anyway) runs the one ordered window the two passes
  * reproduce instead, which over a one-split scan plans with no exchange.
  *
  * Determinism note: both consumers of the range exchange (the running
  * window and the per-partition totals) are built from the identical
  * lineage, so Spark's exchange reuse executes the partitioning once —
  * offsets always describe the same boundaries the running pass saw. And
  * because the combines are exact + associative, the OUTPUT is boundary-
  * independent anyway.
  */
object DistributedScan {

  /** @param aggs (outputCol, perRowContribution, combine∈{sum,min,max}) */
  def runningAggs(
      df: DataFrame,
      tsCol: String,
      seqCol: String,
      aggs: Seq[(String, Column, String)]): DataFrame = {
    def aggOf(cmb: String)(c: Column): Column = cmb match {
      case "sum" => sum(c)
      case "min" => min(c)
      case "max" => max(c)
      case other => throw new IllegalArgumentException(
        s"combine '$other' is not associative-supported (sum|min|max)")
    }
    def mergeOf(cmb: String)(run: Column, off: Column): Column = cmb match {
      case "sum" => run + off
      case "min" => least(run, off)
      case "max" => greatest(run, off)
    }

    // running values in (ts, seq) order within `part`
    def running(in: DataFrame, part: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(part: _*).orderBy(col(tsCol), col(seqCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      aggs.foldLeft(in) { case (d, (out, contrib, cmb)) =>
        d.withColumn(out, aggOf(cmb)(contrib).over(w))
      }
    }

    // an input AQE would leave in one partition: the one ordered window
    val conf = df.sparkSession.sessionState.conf
    if (SmallShuffleSinglePartition.gate(conf)
        .exists(df.queryExecution.optimizedPlan.stats.sizeInBytes <= _))
      return running(df, Nil)

    val pid = "__scan_pid"
    val parted = df
      .repartitionByRange(conf.numShufflePartitions, col(tsCol), col(seqCol))
      .withColumn(pid, spark_partition_id())

    // pass 1: within-partition running values — parallel across partitions
    val withRun = running(parted, Seq(col(pid)))

    // pass 2: one total per partition → EXCLUSIVE prefix offsets (P rows)
    val totals = parted.groupBy(col(pid)).agg(
      aggOf(aggs.head._3)(aggs.head._2).as(s"__t_${aggs.head._1}"),
      aggs.tail.map { case (out, contrib, cmb) =>
        aggOf(cmb)(contrib).as(s"__t_$out")
      }: _*)
    val wPrefix = Window.orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = aggs.foldLeft(totals) { case (d, (out, _, cmb)) =>
      d.withColumn(s"__o_$out", aggOf(cmb)(col(s"__t_$out")).over(wPrefix))
    }.select(col(pid) +: aggs.map { case (out, _, _) => col(s"__o_$out") }: _*)

    val merged = aggs.foldLeft(withRun.join(broadcast(prefix), pid)) {
      case (d, (out, _, cmb)) =>
        d.withColumn(out,
          when(col(s"__o_$out").isNull, col(out)) // first partition: no offset
            .otherwise(mergeOf(cmb)(col(out), col(s"__o_$out"))))
    }
    merged.drop(pid +: aggs.map { case (out, _, _) => s"__o_$out" }: _*)
  }
}
