package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.Reducers

/** CEP order-lifecycle parity — the reference's OrderReportsExample /
  * TradeAnalysis pattern (filterType → by(orderId) → boolean liveness
  * window → VWAP of fills): New(qty) … Fill(qty, px) … Terminated events
  * on one stream, demultiplexed per order.
  */
class OrderLifecycleSpec extends SparkSpec {
  import spark.implicits._

  // (ts, orderId, etype, qty, px)
  private def events = Seq(
    (0L, "A", "New", 100, 0.0),
    (1L, "B", "New", 50, 0.0),
    (2L, "A", "Fill", 40, 10.0),
    (3L, "B", "Fill", 50, 20.0),
    (4L, "A", "Fill", 60, 11.0),
    (5L, "A", "Terminated", 0, 0.0),
    (6L, "B", "Terminated", 0, 0.0),
    (7L, "A", "Fill", 99, 99.0)) // after termination — must be excluded
    .zipWithIndex.map { case ((ts, o, e, q, p), i) => (ts, i.toLong, o, e, q, p) }
    .toDF("ts", "seq", "order_id", "etype", "qty", "px")

  test("filterType + by(orderId) + reduce: per-order fill VWAP") {
    val fills = EStream(events).filterType(col("etype"), "Fill")
      .by(col("order_id"), "k")
    // liveness window: exclude fills after Terminated via as-of against
    // the termination stream (take: latest term event ts <= fill ts)
    val terms = EStream(events).filterType(col("etype"), "Terminated")
      .by(col("order_id"), "k")
    val gated = fills
      .take(terms, Seq(col("k")), Seq("term_seen" -> lit(1)))
      .filter(col("term_seen").isNull)
    val got = gated
      .reduceAll("vwap" -> Reducers.vwap(col("px"), col("qty")),
        "filled" -> sum(col("qty")))
      .orderBy("k")
      .select("k", "vwap", "filled").as[(String, Double, Long)].collect().toSeq
    got shouldBe Seq(
      ("A", (40 * 10.0 + 60 * 11.0) / 100.0, 100L),
      ("B", 20.0, 50L))
  }

  test("boolean liveness window: New opens, Terminated closes (order state machine)") {
    val keyed = KStream(events, Seq("order_id"))
    // gate: alive = cumulative(News) > cumulative(Terminateds)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("order_id").orderBy("ts", "seq")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val withGate = keyed.df.withColumn("alive",
      sum(when(col("etype") === "New", 1).otherwise(0)).over(w) >
        sum(when(col("etype") === "Terminated", 1).otherwise(0)).over(w))
    val got = KStream(withGate, Seq("order_id"))
      .window(col("alive") && col("etype") === "Fill")
      .reduce("q" -> sum(col("qty")))
      .filter(col("q").isNotNull)
      .orderBy("order_id")
      .select("order_id", "q").as[(String, Long)].collect().toSeq
    got shouldBe Seq(("A", 100L), ("B", 50L))
  }

  test("OrderState Aggregator golden: the exact OrderReportsExample event list (:28-36)") {
    import graft.functions.Aggregators.{OrderEvent, OrderStateAgg}
    val evs = Seq(
      OrderEvent("New", 0, "ord1", "MSFT", 101, 100),
      OrderEvent("New", 1000, "ord2", "IBM", 1.2, 100),
      OrderEvent("Fill", 20000, "ord2", null, 1.3, 10),
      OrderEvent("Fill", 21000, "ord2", null, 1.3, 10),
      OrderEvent("Fill", 22000, "ord1", null, 101.3, 20),
      OrderEvent("Fill", 25000, "ord1", null, 101.1, 50),
      OrderEvent("Terminate", 25000, "ord1", null, 0, 0),
      OrderEvent("Fill", 26000, "ord2", null, 1.4, 20),
      OrderEvent("Terminate", 27000, "ord2", null, 0, 0))
    val got = spark.createDataset(evs)
      .groupByKey(_.orderId)
      .agg(new OrderStateAgg().toColumn.name("state"))
      .collect().toMap
    got("ord1").stock shouldBe "MSFT"
    got("ord1").fillQty shouldBe 70
    got("ord1").cashFlow shouldBe (20 * 101.3 + 50 * 101.1)
    got("ord1").running shouldBe false
    got("ord2").fillQty shouldBe 40
    got("ord2").cashFlow shouldBe (10 * 1.3 + 10 * 1.3 + 20 * 1.4)
    got("ord2").running shouldBe false
  }

  test("filterTypeHierarchy: supertype routing admits dotted subtypes (types.scala:270-272)") {
    // two-level taxonomy: order events carry a dotted path; routing on the
    // SUPERTYPE ("order") must admit every subtype — the reference's
    // isInstanceOf dispatch — while an exact subtype routes only itself,
    // and a prefix that is not a path boundary ("order.f") matches nothing.
    val taxo = Seq(
      (0L, 0L, "order.new", 1.0),
      (1L, 1L, "order.fill", 2.0),
      (2L, 2L, "order.fill.partial", 4.0), // three-level: still under order
      (3L, 3L, "orderbook", 8.0), // NOT a subtype of order
      (4L, 4L, "order", 16.0)) // the supertype itself
      .toDF("ts", "seq", "etype", "v")

    def route(tpe: String): Double =
      EStream(taxo).filterTypeHierarchy(col("etype"), tpe)
        .df.agg(coalesce(sum("v"), lit(0.0))).head().getDouble(0)

    route("order") shouldBe (1.0 + 2.0 + 4.0 + 16.0) // all order.* + order
    route("order.fill") shouldBe (2.0 + 4.0) // subtype + its own subtypes
    route("order.f") shouldBe 0.0 // not a path boundary
    route("orderbook") shouldBe 8.0
  }

  test("KStream.sample: snapshot every key's latest value on trigger ticks") {
    val prices = KStream(
      Seq(("A", 0L, 0L, 10.0), ("B", 1L, 1L, 20.0), ("A", 4L, 2L, 11.0))
        .toDF("k", "ts", "seq", "px"),
      Seq("k"))
    val ticks = EStream(Seq((2L, 0L, 0), (5L, 1L, 0)).toDF("ts", "seq", "x"))
    val got = prices.sample(ticks, Seq("px" -> col("px")))
      .df.orderBy("ts", "k")
      .select("k", "ts", "px").as[(String, Long, Double)].collect().toSeq
    got shouldBe Seq(
      ("A", 2L, 10.0), ("B", 2L, 20.0),
      ("A", 5L, 11.0), ("B", 5L, 20.0))
  }
}
