package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Ports of the reference's TradesExample programs
  * (/root/reference/test/programs/TradesExample.scala:17-75) with the exact
  * 9-trade fixture. Three scenarios:
  *
  *   - `testFoldAll` (:46-49) — running Sum over qty;
  *   - `testReduceEach` (:51-58) — LAYERED count windows: pair-buckets of
  *     trades, then pair-buckets OF THE BUCKET EMISSIONS (second-order
  *     slicing — the emitted stream is itself a stream);
  *   - `testWindowCausal` (:62-72) — a boolean window derived from a
  *     fold over the SAME stream it gates (causal self-reference).
  *
  * Expected values derived by hand from the reference semantics (trailing
  * partial buckets emit at termination; close edge excludes the datum).
  */
class TradesExampleSpec extends SparkSpec {
  import spark.implicits._

  // Trade(name, price, qty) fixture, TradesExample.scala:19-28
  private def trades = Seq(
    ("VOD", 1.12, 1), ("VOD", 2.12, 10), ("MSFT", 3.12, 2),
    ("VOD", 4.12, 100), ("MSFT", 5.12, 20), ("VOD", 6.12, 1000),
    ("MSFT", 7.12, 200), ("VOD", 8.12, 10000), ("MSFT", 9.12, 2000))
    .zipWithIndex
    .map { case ((n, p, q), i) => (i.toLong, i.toLong, n, p, q.toLong) }
    .toDF("ts", "seq", "name", "price", "qty")

  test("testFoldAll golden: running Sum of qty (TradesExample:46-49)") {
    EStream(trades)
      .scanAll("acc", sum(col("qty")))
      .df.orderBy("seq").select("acc").as[Long].collect().toSeq shouldBe
      Seq(1L, 11L, 13L, 113L, 133L, 1133L, 1333L, 11333L, 13333L)
  }

  test("testReduceEach golden: layered 2-event buckets — accVol pairs, " +
    "then Sum over the emissions (TradesExample:51-58)") {
    // layer 1: group(2.events).reduce(TradePrint) — accVol per trade pair,
    // keeping (ts, seq) of each emission so the output is itself a stream
    val pairs = EStream(trades)
      .group(Slice.Count(2))
      .reduce(
        "accvol" -> sum(col("qty")),
        "ts" -> max(col("ts")),
        "seq" -> max(col("seq")))
    pairs.orderBy("seq").select("accvol").as[Long].collect().toSeq shouldBe
      Seq(11L, 102L, 1020L, 10200L, 2000L) // trailing partial emits

    // layer 2: bucket pairs of TradePrint emissions into a Sum
    EStream(pairs.select("ts", "seq", "accvol"))
      .group(Slice.Count(2))
      .reduce("s" -> sum(col("accvol")), "seq" -> max(col("seq")))
      .orderBy("seq").select("s").as[Long].collect().toSeq shouldBe
      Seq(113L, 11220L, 2000L) // accVol of 4 trades; trailing partial
  }

  test("testWindowCausal golden: window open for first 3 and trades 5-8, " +
    "derived from a Counter over the gated stream itself (TradesExample:62-72)") {
    // counter = fold_all(Counter); window = x<=3 || (x>=size-4 && x<size)
    val counted = EStream(trades)
      .scanAll("x", count(lit(1)))
      .df
    val gate = col("x") <= 3 || (col("x") >= 5 && col("x") < 9)
    // close-edge precedence: trade 4 (gate false) closes bucket 1 and is
    // excluded; trade 9 (gate false) closes bucket 2
    EStream(counted)
      .window(gate)
      .reduce("accvol" -> sum(col("qty")), "session_id" -> max(col("session_id")))
      .orderBy("session_id").select("accvol").as[Long].collect().toSeq shouldBe
      Seq(13L, 11220L)
  }
}
