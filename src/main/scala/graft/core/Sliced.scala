package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** A stream cut into buckets: `df` carries the bucket id column `id`, and
  * buckets are cut within `keys`. Every kind of slice ends here —
  * [[KStream.group]] (id `window_id`), [[KStream.window]] (id
  * `session_id`, gate-closed rows already dropped) and
  * `Buckets(...).reset` (id `window_id` over the tagged union) — so each
  * emit mode is written once. scespet's GroupedTerm/GroupedVectTerm
  * (MacroTerm.scala:327-335, VectTerm.scala:609-696) and
  * PartialBuiltSlicedBucket (MacroTerm.scala:360-390) likewise run
  * `.last()` as `reduce` and `.all()` as `scan` on one machinery.
  */
final case class Sliced(
    df: DataFrame,
    keys: Seq[String],
    id: String,
    tsCol: String,
    seqCol: String) {

  private def bucket: Seq[String] = keys :+ id

  /** LAST emit mode: one row per (keys, id) bucket (types.scala:144-148
    * "Fold").
    */
  def reduce(aggs: (String, Column)*): DataFrame =
    namedAgg(df.groupBy(bucket.map(col): _*), "reduce", aggs)

  /** CUMULATIVE emit mode: every event, with the running value of `agg`
    * within its bucket ("Scan").
    */
  def scan(out: String, agg: Column): DataFrame =
    df.withColumn(out, agg.over(WindowKernel.cumulative(bucket, tsCol, seqCol)))

  /** Rendezvous-exact reduce: first collapse each atomic cycle — all rows
    * sharing (keys, id, ts) — with `cycleAggs` (one row per engine cycle,
    * like the reference's single `calculate()` per cycle,
    * SlowGraphWalk.java:82-92), then aggregate cycles per bucket with
    * `bucketAggs`.
    */
  def reduceByCycle(
      cycleAggs: Seq[(String, Column)],
      bucketAggs: Seq[(String, Column)]): DataFrame = {
    val cycles = namedAgg(df.groupBy((bucket :+ tsCol).map(col): _*), "reduceByCycle", cycleAggs)
    namedAgg(cycles.groupBy(bucket.map(col): _*), "reduceByCycle", bucketAggs)
  }
}
