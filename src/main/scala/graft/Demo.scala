package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.Reducers
import graft.sources.Sources

/** Runnable tour of the engine on the harness tables — the queries a
  * scespet user writes on day one, in this engine's fluent surface.
  * `sbt "runMain graft.Demo [sfDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val events = KStream(Tables.events(spark, dir), Seq("user_id"))

    println("== per-user 10-event buckets (group(10.events).reduce(Sum)) ==")
    events.group(Slice.Count(10))
      .reduce("sum_value" -> sum(col("value")), "n" -> count(lit(1)))
      .orderBy("user_id", "window_id").show(5)

    println("== data-driven slicing: buckets closed by error events (AFTER) ==")
    events.group(Slice.TriggerCol(col("event_type") === "error", Align.After))
      .reduce("sum_value" -> sum(col("value"))).orderBy("user_id", "window_id").show(5)

    println("== boolean window: value>=50 regions, running sum (scan) ==")
    events.window(col("value") >= 50)
      .scan("run", sum(col("value"))).select("user_id", "session_id", "run").show(5)

    println("== as-of: each purchase samples the user's latest click ==")
    val all = Tables.events(spark, dir)
    val purchases = KStream(all.filter(col("event_type") === "purchase"), Seq("user_id"))
    val clicks = KStream(all.filter(col("event_type") === "click"), Seq("user_id"))
    purchases.take(clicks, Seq(col("user_id")), Seq("click_value" -> col("value")))
      .df.select("user_id", "value", "click_value").show(5)

    println("== order-dependent EWMA per user ==")
    all.groupBy("user_id")
      .agg(Reducers.ewma(col("ts"), col("seq"), col("value"), 0.25).as("ewma"))
      .orderBy("user_id").show(5)

    println("== Timer sampling: daily grid samples the running event count ==")
    val grid = Sources.timeGrid(spark, 1704067200000000L, 1704672000000000L, 86400L * 1000000)
    val counted = EStream(all).scanAll("n_so_far", count(lit(1)))
    grid.take(counted, Seq("n_so_far" -> col("n_so_far"))).df.show(7)

    spark.stop()
  }
}
