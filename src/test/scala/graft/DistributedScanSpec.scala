package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.EStream
import graft.operators.DistributedScan

/** Two-pass distributed prefix scan: exact parity with the one-reducer
  * global window, on a multi-partition plan (the round-1 unkeyed-scan
  * scale fix).
  */
class DistributedScanSpec extends SparkSpec {
  import spark.implicits._

  private def events = spark.range(5000).select(
    ((col("id") * 37) % 1000).as("ts"), // duplicate ts values — seq breaks ties
    col("id").as("seq"),
    (col("id") % 13).cast("decimal(38,6)").as("v"))

  test("runningAggs(sum/count/max) equals the single-window cumulative fold") {
    val dist = DistributedScan.runningAggs(events, "ts", "seq",
      Seq(("run", col("v"), "sum"), ("n", lit(1L), "sum"), ("mx", col("v"), "max")))
      .orderBy("ts", "seq")
      .select(col("run").cast("double"), col("n"), col("mx").cast("double"))
      .as[(Double, Long, Double)].collect().toSeq

    val w = Window.orderBy("ts", "seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val single = events
      .withColumn("run", sum(col("v")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mx", max(col("v")).over(w))
      .orderBy("ts", "seq")
      .select(col("run").cast("double"), col("n"), col("mx").cast("double"))
      .as[(Double, Long, Double)].collect().toSeq

    dist shouldBe single
  }

  test("the scan stage is multi-partition (not a one-reducer window)") {
    val dist = DistributedScan.runningAggs(events, "ts", "seq",
      Seq(("run", col("v"), "sum")))
    val plan = dist.queryExecution.executedPlan.toString
    withClue(plan) {
      // the big-data pass: range exchange on the order keys, and the
      // running window PARTITIONED by the range-partition id (parallel) —
      // never a global empty-partition window over the full stream
      plan should include("rangepartitioning(ts")
      plan should include regex "windowspecdefinition\\(__scan_pid"
    }
  }

  test("EStream.foldAllAssoc matches foldAll on the same stream") {
    val s = EStream(events.withColumnRenamed("v", "value"))
    val assoc = s.foldAllAssoc(("run", col("value").cast("decimal(38,6)"), "sum"))
      .df.orderBy("ts", "seq").select(col("run").cast("double"))
      .as[Double].collect().toSeq
    val general = s.scanAll("run", sum(col("value").cast("decimal(38,6)")))
      .df.orderBy("ts", "seq").select(col("run").cast("double"))
      .as[Double].collect().toSeq
    assoc shouldBe general
  }
}
