package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._

/** Direct ports of reference golden sequences (BucketStreamTest.scala) with
  * the exact fixtures and expected outputs: data = "abcdefghijk", window
  * indices (0..2) and (5..8) (BucketStreamTest.scala:37-43).
  */
class ReferenceGoldensSpec extends SparkSpec {
  import spark.implicits._

  private val data = "abcdefghijk"
  private val inWindow = ((0 to 2) ++ (5 to 8)).toSet

  private def chars = data.zipWithIndex
    .map { case (c, i) => (i.toLong, i.toLong, c.toString, inWindow.contains(i)) }
    .toDF("ts", "seq", "c", "gate")

  /** Ordered string append over the cumulative frame (scespet Append scan). */
  private def appendScan(part: Seq[String]): org.apache.spark.sql.Column =
    concat_ws("", collect_list(col("c")).over(
      Window.partitionBy(part.map(col): _*).orderBy("ts", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  test("'scan' golden: a, ab, abc, … (BucketStreamTest:117-121)") {
    chars.withColumn("s", appendScan(Nil))
      .orderBy("seq").select("s").as[String].collect().toSeq shouldBe
      data.scanLeft("")(_ + _).tail
  }

  test("'scan non agg' golden: growing distinct set over 'abab' (BucketStreamTest:124-140)") {
    val abab = "abab".zipWithIndex.map { case (c, i) => (i.toLong, i.toLong, c.toString) }
      .toDF("ts", "seq", "c")
    val got = abab.withColumn("s",
      array_join(array_sort(collect_set(col("c")).over(
        Window.orderBy("ts", "seq").rowsBetween(Window.unboundedPreceding, Window.currentRow))), ""))
      .orderBy("seq").select("s").as[String].collect().toSeq
    got shouldBe Seq("a", "ab", "ab", "ab")
  }

  test("'reduce' golden: single terminal append (BucketStreamTest:142-146)") {
    EStream(chars).reduceAll("s" -> concat_ws("", collect_list(col("c"))))
      .as[String].collect().toSeq shouldBe Seq(data)
  }

  test("'grouped scan' golden: per-3-event running appends (BucketStreamTest:148-152)") {
    val got = WindowKernel.withWindowId(chars, Nil, Slice.Count(3))
      .withColumn("s", appendScan(Seq(WindowKernel.WindowId)))
      .orderBy("seq").select("s").as[String].collect().toSeq
    val expected = data.map(_.toString).grouped(3)
      .flatMap(g => g.scanLeft("")(_ + _).tail).toSeq
    got shouldBe expected // a, ab, abc, d, de, def, …
  }

  test("'grouped reduce' golden: abc, def, ghi, jk (BucketStreamTest:181-185)") {
    val got = WindowKernel.withWindowId(chars, Nil, Slice.Count(3))
      .groupBy(WindowKernel.WindowId)
      .agg(array_join(graft.functions.Reducers
        .appendOrdered(col("ts"), col("seq"), col("c")), "").as("s"))
      .orderBy(WindowKernel.WindowId).select("s").as[String].collect().toSeq
    got shouldBe Seq("abc", "def", "ghi", "jk") // trailing partial bucket emits
  }

  test("'window scan' golden: a, ab, abc, f, fg, fgh, fghi (BucketStreamTest:192-196)") {
    val got = WindowKernel.withSessions(chars, Nil, col("gate"))
      .filter(col("in_window"))
      .withColumn("s", appendScan(Seq("session_id")))
      .orderBy("seq").select("s").as[String].collect().toSeq
    got shouldBe Seq("a", "ab", "abc", "f", "fg", "fgh", "fghi")
  }

  // keyed fixture: "a0b1c2d3e4f5g6h7i8j9k" keyed by isDigit → Alpha/Digit
  // (BucketVectStreamTest.scala:34-43)
  private def alnum = "a0b1c2d3e4f5g6h7i8j9k".zipWithIndex.map { case (c, i) =>
    (i.toLong, i.toLong, if (c.isDigit) "Digit" else "Alpha", c.toString)
  }.toDF("ts", "seq", "k", "c")

  private def keyedTriggerGolden(align: Align): Seq[(String, String)] =
    KStream(alnum, Seq("k"))
      .group(Slice.TriggerCol(col("c").isin("b", "5", "d"), align))
      .reduce("s" -> array_join(graft.functions.Reducers
        .appendOrdered(col("ts"), col("seq"), col("c")), ""))
      .orderBy("k", "window_id")
      .select("k", "s").as[(String, String)].collect().toSeq

  test("'vect grouped reduce' golden: per-key AFTER triggers (BucketVectStreamTest:138-146)") {
    keyedTriggerGolden(Align.After) shouldBe Seq(
      ("Alpha", "ab"), ("Alpha", "cd"), ("Alpha", "efghijk"),
      ("Digit", "012345"), ("Digit", "6789"))
  }

  test("'vect grouped reduce - exclusive' golden: per-key BEFORE triggers (BucketVectStreamTest:148-158)") {
    keyedTriggerGolden(Align.Before) shouldBe Seq(
      ("Alpha", "a"), ("Alpha", "bc"), ("Alpha", "defghijk"),
      ("Digit", "01234"), ("Digit", "56789"))
  }

  test("'grouped reduce' keyed golden: per-key 3-event buckets (BucketVectStreamTest:128-136)") {
    val got = KStream(alnum, Seq("k"))
      .group(Slice.Count(3))
      .reduce("s" -> array_join(graft.functions.Reducers
        .appendOrdered(col("ts"), col("seq"), col("c")), ""))
      .orderBy("k", "window_id")
      .select("k", "s").as[(String, String)].collect().toSeq
    got shouldBe Seq(
      ("Alpha", "abc"), ("Alpha", "def"), ("Alpha", "ghi"), ("Alpha", "jk"),
      ("Digit", "012"), ("Digit", "345"), ("Digit", "678"), ("Digit", "9"))
  }

  test("'windowed reduce' golden: abc, fghi (BucketStreamTest:199-204)") {
    val got = WindowKernel.withSessions(chars, Nil, col("gate"))
      .filter(col("in_window"))
      .groupBy("session_id")
      .agg(array_join(graft.functions.Reducers
        .appendOrdered(col("ts"), col("seq"), col("c")), "").as("s"))
      .orderBy("session_id").select("s").as[String].collect().toSeq
    got shouldBe Seq("abc", "fghi")
  }
}
