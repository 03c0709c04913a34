package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.Reducers
import graft.operators.Skew
import graft.streaming.{CountSlices, KeyedEvent, SlicedHopping, Streams}

/** EStream/KStream combinator goldens (map/filter/filterType/by/valueSet/
  * fold_all — TestSingleTerms, TestMultiTerms) and the order-dependent
  * reducer contract (EWMA fold parity with a plain Scala foldLeft).
  */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def trades = Seq(
    ("VOD.L", 1.12, 1), ("MSFT.O", 2.0, 2), ("VOD.L", 2.3, 3),
    ("VOD.L", 9.3, 4), ("MSFT.O", 4.2, 5), ("VOD.L", 2.2, 6))
    .zipWithIndex.map { case ((n, p, q), i) => (i.toLong, i.toLong, n, p, q) }
    .toDF("ts", "seq", "name", "price", "qty")

  test("map + filter fuse into plain projections (MacroTerm.scala:86-124)") {
    val got = EStream(trades)
      .filter(col("name") === "VOD.L")
      .map("notional" -> (col("price") * col("qty")))
      .df.orderBy("seq").select("notional").as[Double].collect().toSeq
    got shouldBe Seq(1.12 * 1, 2.3 * 3, 9.3 * 4, 2.2 * 6)
  }

  test("by(key) + reduceAll: per-key terminal aggregate (VectTerm.reduce)") {
    val got = EStream(trades)
      .by(col("name"), "k")
      .reduceAll("n" -> count(lit(1)), "q" -> sum(col("qty")))
      .orderBy("k").select("k", "n", "q")
      .as[(String, Long, Long)].collect().toSeq
    got shouldBe Seq(("MSFT.O", 2L, 7L), ("VOD.L", 4L, 14L))
  }

  test("valueSet grows a distinct set (MacroTerm.valueSet:160-185)") {
    EStream(trades).valueSet(col("name")).orderBy("v")
      .as[String].collect().toSeq shouldBe Seq("MSFT.O", "VOD.L")
  }

  test("filterType routes by discriminator (types.scala:270-272)") {
    val evs = Seq((0L, 0L, "New", 5), (1L, 1L, "Fill", 3), (2L, 2L, "Fill", 2))
      .toDF("ts", "seq", "etype", "qty")
    EStream(evs).filterType(col("etype"), "Fill")
      .df.agg(sum("qty")).as[Long].collect().head shouldBe 5L
  }

  test("fold_all: cumulative scan over the whole stream (MacroTerm.scala:42-53)") {
    val got = EStream(trades)
      .scanAll("run_q", sum(col("qty")))
      .df.orderBy("seq").select("run_q").as[Long].collect().toSeq
    got shouldBe Seq(1, 2, 3, 4, 5, 6).scanLeft(0L)(_ + _).tail
  }

  test("keyed scanAll matches per-key Scala scanLeft (VectTerm.scan)") {
    val got = KStream(trades, Seq("name"))
      .scanAll("run_q", sum(col("qty")))
      .df.orderBy("seq").select("name", "run_q")
      .as[(String, Long)].collect().toSeq
    val expect = Seq(("VOD.L", 1L), ("MSFT.O", 2L), ("VOD.L", 4L),
      ("VOD.L", 8L), ("MSFT.O", 7L), ("VOD.L", 14L))
    got shouldBe expect
  }

  test("EWMA matches the reference recurrence as a Scala fold (ReduceFuncs.scala:33-47)") {
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 3.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong, v) }
      .toDF("ts", "seq", "v")
    val got = df.agg(Reducers.ewma(col("ts"), col("seq"), col("v"), 0.25))
      .as[Double].collect().head
    val expect = vals.tail.foldLeft(vals.head)((acc, x) => 0.25 * x + 0.75 * acc)
    got shouldBe expect // bit-exact: identical fold order
  }

  test("appendOrdered collects in (ts, seq) order regardless of partitioning") {
    val df = Seq((3L, 3L, "d"), (0L, 0L, "a"), (2L, 2L, "c"), (1L, 1L, "b"))
      .toDF("ts", "seq", "v").repartition(4)
    df.agg(array_join(Reducers.appendOrdered(col("ts"), col("seq"), col("v")), ""))
      .as[String].collect().head shouldBe "abcd"
  }

  test("mapKeepNull: exposeNull=false drops null projections (map+filter fusion)") {
    val got = EStream(trades)
      .mapKeepNull(exposeNull = false,
        "big" -> when(col("qty") >= 4, col("qty")))
      .df.orderBy("seq").select("big").as[Int].collect().toSeq
    got shouldBe Seq(4, 5, 6)
    EStream(trades)
      .mapKeepNull(exposeNull = true, "big" -> when(col("qty") >= 4, col("qty")))
      .df.count() shouldBe 6L
  }

  test("toValueSet and keyList on a keyed stream (VectTerm:355-421,43-52)") {
    val ks = KStream(trades, Seq("name"))
    ks.valueSet(col("name")).orderBy("v")
      .as[String].collect().toSeq shouldBe Seq("MSFT.O", "VOD.L")
    ks.keyList.as[Seq[String]].collect().head shouldBe Seq("MSFT.O", "VOD.L")
  }

  test("apply(k): dereference one key to a single stream (VectTerm.apply)") {
    KStream(trades, Seq("name"))("MSFT.O")
      .df.agg(sum("qty")).as[Long].collect().head shouldBe 7L
  }

  test("mapKeys drops null-mapped keys and merges collisions (ReKeyedVector)") {
    val got = KStream(trades, Seq("name"))
      .mapKeys(when(col("name") === "VOD.L", lit("V")), "k")
      .reduceAll("n" -> count(lit(1)))
      .select("k", "n").as[(String, Long)].collect().toSeq
    got shouldBe Seq(("V", 4L))
  }

  test("vectorSizeAtEachEvent: cross-key snapshot count (VectTerm.mapVector)") {
    val got = KStream(trades, Seq("name"))
      .vectorSizeAtEachEvent("nk")
      .orderBy("seq").select("nk").as[Long].collect().toSeq
    got shouldBe Seq(1L, 2L, 2L, 2L, 2L, 2L)
  }

  test("one stream type: key-only operators fail fast on a stream with no " +
    "keys, and the whole-stream foldAllAssoc fails fast on a keyed one") {
    val single = EStream(trades)
    single.keys shouldBe Nil
    an[IllegalArgumentException] should be thrownBy single("VOD.L")
    an[IllegalArgumentException] should be thrownBy single.keyList
    val e = the[IllegalArgumentException] thrownBy
      KStream(trades, Seq("name")).foldAllAssoc(("n", lit(1L), "sum"))
    e.getMessage should include("scanAll")
  }

  test("count slices fail fast on a non-positive size, batch and stream") {
    // n <= 0 never closes a bucket (stream) or divides by zero (batch)
    for (n <- Seq(0, -3)) {
      (the[IllegalArgumentException] thrownBy Slice.Count(n))
        .getMessage should include("positive slice size")
      (the[IllegalArgumentException] thrownBy
        CountSlices(MemoryStream[KeyedEvent](spark).toDS(), n))
        .getMessage should include("positive slice size")
    }
  }

  test("an empty aggregate list fails fast and names the call") {
    // not a `head of empty list` from inside the builder
    val byName = KStream(trades, Seq("name"))
    val bucketed = Buckets(Seq("name"))
      .bind("t", trades)("p" -> col("price"))
      .reset(Slice.Termination)
    val slices = Streams.tumblingAgg(trades, Seq("name"), "2 seconds", "0 seconds",
      "n" -> count(lit(1)))
    val calls: Seq[(String, () => Any)] = Seq(
      "reduceAll" -> (() => byName.reduceAll()),
      "reduce" -> (() => byName.group(Slice.Count(2)).reduce()),
      "reduce" -> (() => byName.window(col("qty") > 1).reduce()),
      "reduce" -> (() => bucketed.reduce()),
      "reduceByCycle" -> (() => bucketed.reduceByCycle(Nil, Seq("n" -> count(lit(1))))),
      "reduceByCycle" -> (() => bucketed.reduceByCycle(Seq("n" -> count(lit(1))), Nil)),
      "tumblingAgg" -> (() => Streams.tumblingAgg(trades, Seq("name"), "2 seconds", "0 seconds")),
      "compose" -> (() => SlicedHopping.compose(slices, Seq("name"), 4000000L, 2000000L, 0L)),
      "saltedAgg" -> (() => Skew.saltedAgg(trades, Seq("name"), 2, Nil, Seq("n" -> sum(col("n"))))))
    for ((call, f) <- calls)
      withClue(call) {
        (the[IllegalArgumentException] thrownBy f())
          .getMessage should include(s"$call needs at least one")
      }
  }
}
