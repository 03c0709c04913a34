package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Conformance goldens for the window-id kernel, ported from the reference
  * suites (slice alignment: TestSingleTerms.scala:157-181; count windows:
  * BucketStreamTest.scala:148-152; boolean windows:
  * TestSingleTerms.scala:194-212). Expected values are computed with Scala
  * collections — the reference's executable-oracle pattern
  * (ScespetTestBase.scala:26-43).
  */
class WindowKernelSpec extends SparkSpec {
  import spark.implicits._

  private def stream(values: Seq[Int]): org.apache.spark.sql.DataFrame =
    values.zipWithIndex
      .map { case (v, i) => (i.toLong, i.toLong, v) }
      .toDF("ts", "seq", "v")

  test("count slices: grouped(3) reduce over 'abcdefghijk' (BucketStreamTest golden)") {
    val chars = "abcdefghijk".map(_.toInt)
    val got = EStream(stream(chars))
      .group(Slice.Count(3))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id")
      .select("s").as[Long].collect().toSeq
    val expected = chars.grouped(3).map(_.map(_.toLong).sum).toSeq
    got shouldBe expected
  }

  test("count slices: grouped(3) scan emits a running value per event") {
    val chars = "abcdefghijk".map(_.toInt)
    val got = EStream(stream(chars))
      .group(Slice.Count(3))
      .scan("s", sum(col("v")))
      .orderBy("seq")
      .select("s").as[Long].collect().toSeq
    val expected = chars.grouped(3).flatMap(g => g.scanLeft(0L)(_ + _).tail).toSeq
    got shouldBe expected
  }

  test("trigger slice AFTER: coinciding datum joins the CLOSING bucket (TestSingleTerms:157-181)") {
    val data = Seq(1, 1, 1, 10, 1, 1, 1)
    val got = EStream(stream(data))
      .group(Slice.TriggerCol(col("v") === 10, Align.After))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id")
      .select("s").as[Long].collect().toSeq
    got shouldBe Seq(13L, 3L) // [1,1,1,10][1,1,1]
  }

  test("trigger slice BEFORE: coinciding datum opens the NEW bucket (TestSingleTerms:157-181)") {
    val data = Seq(1, 1, 1, 10, 1, 1, 1)
    val got = EStream(stream(data))
      .group(Slice.TriggerCol(col("v") === 10, Align.Before))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id")
      .select("s").as[Long].collect().toSeq
    got shouldBe Seq(3L, 13L) // [1,1,1][10,1,1,1]
  }

  test("termination slice: whole stream is one bucket with a trailing partial emit") {
    val data = Seq(2, 3, 5)
    val got = EStream(stream(data))
      .group(Slice.Termination)
      .reduce("s" -> sum(col("v")))
      .select("s").as[Long].collect().toSeq
    got shouldBe Seq(10L)
  }

  test("tumbling slices partition ts-space without ordering (embarrassingly parallel)") {
    val rows = Seq((0L, 0L, 1), (5L, 1L, 2), (10L, 2L, 3), (14L, 3L, 4), (20L, 4L, 5))
    val got = EStream(rows.toDF("ts", "seq", "v"))
      .group(Slice.Tumbling(10L))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id")
      .select("window_id", "s").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((0L, 3L), (1L, 7L), (2L, 5L))
  }

  test("hopping slices: width/step overlap, ids match [w·step, w·step+width) coverage") {
    // width 10, step 5 — overlap factor 2: every row lands in exactly two
    // windows, including the negative-id window near t=0 (the same
    // bucketing Spark's streaming window('10','5') uses).
    val rows = Seq((0L, 0L, 1), (5L, 1L, 2), (10L, 2L, 3), (14L, 3L, 4), (20L, 4L, 5))
    val got = EStream(rows.toDF("ts", "seq", "v"))
      .group(Slice.Hopping(10L, 5L))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id")
      .select("window_id", "s").as[(Long, Long)].collect().toSeq
    got shouldBe Seq((-1L, 1L), (0L, 3L), (1L, 9L), (2L, 7L), (3L, 5L), (4L, 5L))
  }

  test("hopping slices: non-divisible width/step matches the brute-force coverage oracle") {
    // width 7, step 3 — coverage count varies 2..3 per row; expected is
    // computed by direct interval membership over Scala collections.
    val ts = Seq(0L, 1L, 2L, 3L, 5L, 6L, 7L, 11L, 12L, 20L, 21L)
    val rows = ts.zipWithIndex.map { case (t, i) => (t, i.toLong, 1) }
    val (width, step) = (7L, 3L)
    val expected = rows
      .flatMap { case (t, _, v) =>
        val wMin = Math.floorDiv(t - width, step) + 1
        val wMax = Math.floorDiv(t, step)
        (wMin to wMax).map(w => w -> v.toLong)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val got = EStream(rows.toDF("ts", "seq", "v"))
      .group(Slice.Hopping(width, step))
      .reduce("s" -> sum(col("v")))
      .orderBy("window_id")
      .select("window_id", "s").as[(Long, Long)].collect().toSeq
    got shouldBe expected
  }

  test("hopping slices: NEGATIVE timestamps floor on both hop bounds (ADVICE r7)") {
    // pre-epoch axis: Spark `div` truncates toward zero, so w_max needs
    // the same floor correction as w_min — without it a negative-ts row
    // gains a spurious extra window vs the floorDiv oracle (and DuckDB //).
    // A tumbling slice is the hop whose step is its width: same oracle.
    val ts = Seq(-21L, -15L, -14L, -7L, -3L, -1L, 0L, 2L, 6L)
    val rows = ts.zipWithIndex.map { case (t, i) => (t, i.toLong, 1) }
    for ((slice, width, step) <- Seq(
        (Slice.Hopping(7L, 3L), 7L, 3L), (Slice.Tumbling(7L), 7L, 7L))) {
      val expected = rows
        .flatMap { case (t, _, v) =>
          val wMin = Math.floorDiv(t - width, step) + 1
          val wMax = Math.floorDiv(t, step)
          (wMin to wMax).map(w => w -> v.toLong)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      val got = EStream(rows.toDF("ts", "seq", "v"))
        .group(slice)
        .reduce("s" -> sum(col("v")))
        .orderBy("window_id")
        .select("window_id", "s").as[(Long, Long)].collect().toSeq
      withClue(slice) { got shouldBe expected }
    }
  }

  test("boolean window: open/close bracketed sums; close edge excludes its datum (WindowedReduce:55-58)") {
    // gate:   F  T  T  F  F  T  T  T  F
    // value:  1  2  3  4  5  6  7  8  9
    // windows: [2,3] and [6,7,8]; the gate=false rows (4, 9) are excluded —
    // reference semantics: a close edge atomic with a datum drops the datum.
    val rows = Seq(
      (0L, 1, false), (1L, 2, true), (2L, 3, true), (3L, 4, false),
      (4L, 5, false), (5L, 6, true), (6L, 7, true), (7L, 8, true), (8L, 9, false))
      .zipWithIndex.map { case ((ts, v, g), i) => (ts, i.toLong, v, g) }
    val got = EStream(rows.toDF("ts", "seq", "v", "g"))
      .window(col("g"))
      .reduce("s" -> sum(col("v")))
      .orderBy("session_id")
      .select("s").as[Long].collect().toSeq
    got shouldBe Seq(5L, 21L)
  }

  test("keyed count slices slice independently per key (BucketVectStreamTest matrix)") {
    // 'a0b1c2d3e4f5g6h7i8j9k' keyed by isDigit, grouped(3) per key
    val s = "a0b1c2d3e4f5g6h7i8j9k"
    val rows = s.zipWithIndex.map { case (c, i) =>
      (i.toLong, i.toLong, if (c.isDigit) "digit" else "alpha", c.toString)
    }
    val got = KStream(rows.toDF("ts", "seq", "k", "c"), Seq("k"))
      .group(Slice.Count(3))
      // collect_list alone is shuffle-order-dependent — use the ordered
      // append cell (scespet Append), which sorts by (ts, seq) in finish.
      .reduce("s" -> array_join(
        graft.functions.Reducers.appendOrdered(col("ts"), col("seq"), col("c")), ""))
      .orderBy("k", "window_id")
      .select("k", "s").as[(String, String)].collect().toSeq
    val (alpha, digit) = s.partition(!_.isDigit)
    val expected =
      alpha.grouped(3).map(g => ("alpha", g.mkString)).toSeq ++
        digit.grouped(3).map(g => ("digit", g.mkString)).toSeq
    got shouldBe expected
  }
}
