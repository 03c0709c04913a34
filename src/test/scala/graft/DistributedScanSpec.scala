package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.EStream
import graft.operators.DistributedScan
import graft.queries.StreamHarness

/** Two-pass distributed prefix scan: exact parity with the one-reducer
  * global window, on a multi-partition plan (the round-1 unkeyed-scan
  * scale fix). An input within the small-shuffle gate runs that one
  * window itself; `closed` shuts the gate so the two passes run.
  */
class DistributedScanSpec extends SparkSpec {
  import spark.implicits._

  private def events = spark.range(5000).select(
    ((col("id") * 37) % 1000).as("ts"), // duplicate ts values — seq breaks ties
    col("id").as("seq"),
    (col("id") % 13).cast("decimal(38,6)").as("v"))

  private def closed[T](body: => T): T = gate("closed")(body)

  private def gate[T](g: String)(body: => T): T =
    if (g == "open") body
    else StreamHarness.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(body)

  private def runningAggs =
    DistributedScan.runningAggs(events, "ts", "seq",
      Seq(("run", col("v"), "sum"), ("n", lit(1L), "sum"), ("mx", col("v"), "max")))

  test("runningAggs(sum/count/max) equals the single-window cumulative fold") {
    // values and schema, with the small-shuffle gate open and closed
    val w = Window.orderBy("ts", "seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val single = events
      .withColumn("run", sum(col("v")).over(w))
      .withColumn("n", sum(lit(1L)).over(w))
      .withColumn("mx", max(col("v")).over(w))
    val expected = single.orderBy("ts", "seq").collect().toSeq
    for (g <- Seq("open", "closed")) withClue(g) {
      val (dist, plan) = gate(g) {
        val d = runningAggs
        (d, d.queryExecution.executedPlan.toString)
      }
      withClue(plan)(plan.contains("__scan_pid") shouldBe (g == "closed"))
      dist.schema shouldBe single.schema
      dist.orderBy("ts", "seq").collect().toSeq shouldBe expected
    }
  }

  test("the scan stage is multi-partition (not a one-reducer window)") {
    val plan = closed(DistributedScan.runningAggs(events, "ts", "seq",
      Seq(("run", col("v"), "sum"))).queryExecution.executedPlan.toString)
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

  test("foldAllAssoc over an empty and a one-row stream matches scanAll, " +
    "with the gate open and closed") {
    for ((label, n) <- Seq("empty" -> 0, "one row" -> 1); g <- Seq("open", "closed"))
      withClue(s"$label, gate $g") {
        val s = EStream(events.where(col("seq") < n).withColumnRenamed("v", "value"))
        def run(k: EStream => EStream) =
          gate(g)(k(s).df.orderBy("ts", "seq").select(col("run")).collect().toSeq)
        val assoc = run(_.foldAllAssoc(("run", col("value"), "sum")))
        assoc should have size n
        assoc shouldBe run(_.scanAll("run", sum(col("value"))))
      }
  }
}
