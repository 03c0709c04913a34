package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.namedAgg

/** Skew mitigation utilities for hot keys at scale.
  *
  * A `groupBy(k)` over 100 TB with a few mega-keys serializes those keys
  * into single reducer tasks. [[saltedAgg]] runs the standard two-phase
  * fix: phase 1 aggregates on (k, salt) — spreading each hot key over
  * `salt` reducers — phase 2 merges the partials per key. Works for any
  * algebraic aggregation (sum/count/min/max/decimal sums): exactly the
  * aggs this engine's catalog uses.
  *
  * (For JOIN skew, prefer AQE's skew-join splitting —
  * `spark.sql.adaptive.skewJoin.enabled` is on by default in Spark 4;
  * salting a join by replicating the build side `salt`× is only needed
  * when AQE can't see the skew, e.g. pre-shuffle bucketing.)
  */
object Skew {

  /** Two-phase salted aggregation.
    *
    * @param partials phase-1 aggregations on (keys, salt)
    * @param merges   phase-2 re-aggregations of the phase-1 columns,
    *                 e.g. `sum(col("n"))` to merge partial counts.
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      salt: Int,
      partials: Seq[(String, Column)],
      merges: Seq[(String, Column)]): DataFrame = {
    require(salt > 0)
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
    val phase1 = namedAgg(salted.groupBy((keys :+ "__salt").map(col): _*), "saltedAgg", partials)
    namedAgg(phase1.groupBy(keys.map(col): _*), "saltedAgg", merges)
  }
}
