package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Multi-input bucket goldens — the XYCollector contract from
  * TestMultiBucketing.scala:69-175: a bucket bound to two streams counts
  * each input, and `countBoth` counts CYCLES where both fired atomically
  * (rendezvous: same-ts fires = one bucket update).
  */
class BucketsSpec extends SparkSpec {
  import spark.implicits._

  private def xs = Seq(0L, 1L, 2L, 3L, 4L, 5L).zipWithIndex
    .map { case (ts, i) => (ts, i.toLong, 1) }.toDF("ts", "seq", "x")
  private def ys = Seq(0L, 2L, 4L).zipWithIndex
    .map { case (ts, i) => (ts, 100L + i, 10) }.toDF("ts", "seq", "y")

  test("bind two streams: per-tag counts in one bucket (TradeQuoteStats pattern)") {
    val got = Buckets(Nil)
      .bind("x", xs)("v" -> col("x"))
      .bind("y", ys)("v" -> col("y"))
      .reset(Slice.Termination)
      .reduce(
        "nx" -> count(Buckets.fromTag("x", col("v"))),
        "ny" -> count(Buckets.fromTag("y", col("v"))),
        "sum_all" -> sum(col("v")))
      .select("nx", "ny", "sum_all")
      .as[(Long, Long, Long)].collect().toSeq
    got shouldBe Seq((6L, 3L, 36L))
  }

  test("reduceByCycle: countBoth counts cycles where BOTH inputs fired (XYCollector golden)") {
    val got = Buckets(Nil)
      .bind("x", xs)("v" -> col("x"))
      .bind("y", ys)("v" -> col("y"))
      .reset(Slice.Termination)
      .reduceByCycle(
        cycleAggs = Seq(
          "sawX" -> max(when(col("tag") === "x", 1).otherwise(0)),
          "sawY" -> max(when(col("tag") === "y", 1).otherwise(0))),
        bucketAggs = Seq(
          "countX" -> sum(col("sawX")),
          "countY" -> sum(col("sawY")),
          "countBoth" -> sum(when(col("sawX") === 1 && col("sawY") === 1, 1).otherwise(0))))
      .select("countX", "countY", "countBoth")
      .as[(Long, Long, Long)].collect().toSeq
    got shouldBe Seq((6L, 3L, 3L))
  }

  test("bound bucket with count slices: bucket resets every N union events") {
    // union of x (6 events) and y (3 events) = 9 events, sliced every 3 —
    // executable oracle over the merged (ts, seq) sequence
    val merged = (Seq(0L, 1L, 2L, 3L, 4L, 5L).zipWithIndex.map { case (t, i) => (t, i.toLong, 1) } ++
      Seq(0L, 2L, 4L).zipWithIndex.map { case (t, i) => (t, 100L + i, 10) })
      .sortBy { case (t, s, _) => (t, s) }.map(_._3)
    val expected = merged.grouped(3).map(g => g.sum.toLong).toSeq
    val got = Buckets(Nil)
      .bind("x", xs)("v" -> col("x"))
      .bind("y", ys)("v" -> col("y"))
      .reset(Slice.Count(3))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id").select("s").as[Long].collect().toSeq
    got shouldBe expected
  }

  test("bound bucket .all(): cumulative emit per union event (PartialBuiltSlicedBucket.all)") {
    val got = Buckets(Nil)
      .bind("x", xs)("v" -> col("x"))
      .bind("y", ys)("v" -> col("y"))
      .reset(Slice.Termination)
      .scan("run", sum(col("v")))
      .orderBy("ts", "seq").select("run").as[Long].collect().toSeq
    // merged order by (ts, seq): x@0, y@0, x@1, x@2, y@2, x@3, x@4, y@4, x@5
    got shouldBe Seq(1L, 11L, 12L, 13L, 23L, 24L, 25L, 35L, 36L)
  }

  // ---- XYCollector sliced goldens (TestMultiBucketing.scala:131-177) ----
  // counter 0..26 keyed Even/Odd (X input); Y input = multiples of 5 (a
  // filtered substream, so every Y fire coincides with an X fire — the
  // rendezvous case); GLOBAL slice trigger at i=11 and i=22. countX counts
  // X-only cycles, countBoth counts both-fired cycles.
  private def xyFixture(align: Align) = {
    val spark0 = spark; import spark0.implicits._
    val counter = (0 to 26).map(i =>
      (i.toLong, i.toLong, if (i % 2 == 0) "Even" else "Odd", i))
      .toDF("ts", "seq", "k", "v")
    val union = Buckets.taggedUnion(Seq("k"),
      Seq(
        Buckets.Bind("x", counter, Seq("v" -> col("v"))),
        Buckets.Bind("y", counter.filter(col("v") % 5 === 0), Seq("v" -> col("v")))))
    // the trigger is UNKEYED (it slices every key's bucket): window ids
    // come from a global-partition kernel pass, grouping stays per key
    val withId = WindowKernel.withWindowId(
      union, Nil, Slice.TriggerCol(col("v") > 0 && col("v") % 11 === 0, align))
    val cycles = withId
      .groupBy("k", WindowKernel.WindowId, "ts")
      .agg(
        max(when(col("tag") === "x", col("v"))).as("xv"),
        max(when(col("tag") === "x", 1).otherwise(0)).as("sawX"),
        max(when(col("tag") === "y", 1).otherwise(0)).as("sawY"))
    cycles.groupBy("k", WindowKernel.WindowId)
      .agg(
        min(col("xv")).as("firstX"),
        max(col("xv")).as("lastX"),
        sum(when(col("sawX") === 1 && col("sawY") === 0, 1).otherwise(0)).as("countX"),
        sum(when(col("sawX") === 1 && col("sawY") === 1, 1).otherwise(0)).as("countBoth"))
      .orderBy("k", WindowKernel.WindowId)
      .select("k", "firstX", "lastX", "countX", "countBoth")
      .as[(String, Int, Int, Long, Long)].collect().toSeq
  }

  test("'bucket sliced reduce pre' golden: BEFORE alignment (TestMultiBucketing:131-152)") {
    xyFixture(Align.Before) shouldBe Seq(
      ("Even", 0, 10, 4L, 2L), ("Even", 12, 20, 4L, 1L), ("Even", 22, 26, 3L, 0L),
      ("Odd", 1, 9, 4L, 1L), ("Odd", 11, 21, 5L, 1L), ("Odd", 23, 25, 1L, 1L))
  }

  test("'bucket sliced reduce post' golden: AFTER alignment (TestMultiBucketing:154-177)") {
    xyFixture(Align.After) shouldBe Seq(
      ("Even", 0, 10, 4L, 2L), ("Even", 12, 22, 5L, 1L), ("Even", 24, 26, 2L, 0L),
      ("Odd", 1, 11, 5L, 1L), ("Odd", 13, 21, 4L, 1L), ("Odd", 23, 25, 1L, 1L))
  }

  test("'bucket windows reduce' golden: toggle-gated windows over the XY fixture (TestMultiBucketing:299-319)") {
    val spark0 = spark; import spark0.implicits._
    val counter = (0 to 26).map(i =>
      (i.toLong, i.toLong, if (i % 2 == 0) "Even" else "Odd", i))
      .toDF("ts", "seq", "k", "v")
    val union = Buckets.taggedUnion(Seq("k"),
      Seq(
        Buckets.Bind("x", counter, Seq("v" -> col("v"))),
        Buckets.Bind("y", counter.filter(col("v") % 5 === 0), Seq("v" -> col("v")))))
    // windowOpen toggles on each GLOBAL trigger fire (11, 22); the gate is
    // the toggle parity INCLUDING the current cycle → the close event (11)
    // is excluded, the open event (22) is included — the reference's
    // close-comes-first contract.
    val toggles = org.apache.spark.sql.expressions.Window
      .orderBy("ts")
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val gated = union.withColumn("gate",
      sum(when(col("v") > 0 && col("v") % 11 === 0, 1).otherwise(0)).over(toggles) % 2 === 0)
    val sessions = WindowKernel.withSessions(gated, Seq("k"), col("gate"))
      .filter(col("in_window"))
    val cycles = sessions
      .groupBy("k", "session_id", "ts")
      .agg(
        max(when(col("tag") === "x", col("v"))).as("xv"),
        max(when(col("tag") === "x", 1).otherwise(0)).as("sawX"),
        max(when(col("tag") === "y", 1).otherwise(0)).as("sawY"))
    val got = cycles.groupBy("k", "session_id")
      .agg(
        min(col("xv")).as("firstX"), max(col("xv")).as("lastX"),
        sum(when(col("sawX") === 1 && col("sawY") === 0, 1).otherwise(0)).as("countX"),
        sum(when(col("sawX") === 1 && col("sawY") === 1, 1).otherwise(0)).as("countBoth"))
      .orderBy("k", "session_id")
      .select("k", "firstX", "lastX", "countX", "countBoth")
      .as[(String, Int, Int, Long, Long)].collect().toSeq
    got shouldBe Seq(
      ("Even", 0, 10, 4L, 2L), ("Even", 22, 26, 3L, 0L),
      ("Odd", 1, 9, 4L, 1L), ("Odd", 23, 25, 1L, 1L))
  }

  test("keyed bound bucket groups per key (GroupedTerm2.bind)") {
    val a = Seq(("k1", 0L, 0L, 1), ("k2", 1L, 1L, 2)).toDF("k", "ts", "seq", "x")
    val b = Seq(("k1", 2L, 2L, 5)).toDF("k", "ts", "seq", "y")
    val got = Buckets(Seq("k"))
      .bind("a", a)("v" -> col("x"))
      .bind("b", b)("v" -> col("y"))
      .reset(Slice.Termination)
      .reduce("s" -> sum(col("v")), "n" -> count(lit(1)))
      .orderBy("k").select("k", "s", "n")
      .as[(String, Long, Long)].collect().toSeq
    got shouldBe Seq(("k1", 6L, 2L), ("k2", 2L, 1L))
  }
}
