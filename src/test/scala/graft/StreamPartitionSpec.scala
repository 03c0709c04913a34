package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.functions._
import graft.queries.{StreamFixtures, StreamHarness}
import graft.streaming._

/** One feed event: a keyed value with a kind (0 click, 1 purchase, 2
  * other) that the gates and the take join's sides read. */
final case class FeedEvent(k: String, ts: Long, seq: Long, v: Double, kind: Int)

/** The benchmark's drains run their stateful operators at
  * [[StreamHarness.StreamPartitions]] (1) state partitions and the
  * streaming catalog at [[StreamHarness.CatalogStreamPartitions]] (4), and
  * Verify checks the catalog only there. The six operators the benchmark
  * drains must give the same sink rows at any count: each drains one
  * feed, one file per trigger, at 1 state partition and at 4.
  */
class StreamPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def keyed(f: DataFrame) = f.select("k", "ts", "seq", "v").as[KeyedEvent]
  private def gated(f: DataFrame, gate: Column) =
    f.select(col("k"), col("ts"), col("seq"), col("v"), gate.as("gate")).as[GatedEvent]

  private val folds: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("CountSlices", f => CountSlices(keyed(f), 3).toDF(), identity),
    ("TriggerSlices", f => TriggerSlices.tagged(gated(f, col("kind") === 1)).toDF(), identity),
    ("GatedWindows", f => GatedWindows(gated(f, col("v") >= 50)).toDF(), identity),
    ("TakeJoin", f => TakeJoin(f.filter(col("kind") < 2)
      .select(col("k"), col("ts"), col("seq"), col("kind").as("side"), col("v"))
      .as[ZipEvent]).toDF(), identity),
    ("tumblingAgg", f => Streams.tumblingAgg(f, Seq("k"), "10 seconds", "0 seconds",
      "n" -> count(lit(1)), "s" -> sum(col("v"))),
      t => t.select(col("k"), unix_micros(col("window.start")).as("wstart"), col("n"), col("s"))),
    ("EwmaScan", f => EwmaScan(keyed(f), 0.25).toDF(), EwmaScan.exploded))

  /** Write `parts` as one parquet file each under a fresh fixture root. */
  private def fixture(parts: Seq[Seq[FeedEvent]]): String = {
    val root = StreamFixtures.scratchDir("graft_partition_feed_")
    for ((p, i) <- parts.zipWithIndex) p.toDS().coalesce(1).write.parquet(s"$root/p$i")
    root
  }

  /** Drain `fold` over the fixture's parts, one part per trigger, at `n`
    * state partitions: its sink rows in a canonical order, and the state
    * partition counts its triggers reported. */
  private def drainAt(n: Int, root: String, parts: Int,
      fold: DataFrame => DataFrame, post: DataFrame => DataFrame): (Seq[Row], Set[Long]) =
    StreamHarness.withShufflePartitions(spark, n) {
      val src = StreamFixtures.scratchDir("graft_partition_src_")
      var layout = Set.empty[Long]
      try {
        val names = (0 until parts).map(i => s"p$i")
        StreamFixtures.feed(root, names.head, src)
        val in = spark.readStream.schema(implicitly[Encoder[FeedEvent]].schema).parquet(src)
        val sink = StreamHarness.drain(fold(in), drive = { q =>
          q.processAllAvailable()
          names.tail.foreach { p => StreamFixtures.feed(root, p, src); StreamHarness.settle(q) }
          layout = q.recentProgress.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
        })
        (post(sink).collect().toSeq.sortBy(_.toString), layout)
      } finally StreamFixtures.deleteRecursively(src)
    }

  private def sameAtOneAndFour(parts: Seq[Seq[FeedEvent]]): Seq[(String, Int)] = {
    val root = fixture(parts)
    try folds.map { case (name, fold, post) =>
      withClue(name) {
        val (one, layoutOne) = drainAt(1, root, parts.size, fold, post)
        val (four, layoutFour) = drainAt(4, root, parts.size, fold, post)
        layoutOne shouldBe Set(1L)
        layoutFour shouldBe Set(4L)
        four shouldBe one
        name -> one.size
      }
    } finally StreamFixtures.deleteRecursively(root)
  }

  test("the six drained operators give the same rows at 1 and at 4 state partitions " +
    "over a multi-file feed") {
    val rnd = new scala.util.Random(11)
    // time-ordered across files: per key, arrival order is event order
    val events = (0 until 240).map { i =>
      FeedEvent("k" + rnd.nextInt(6), i * 400000L + rnd.nextInt(1000), i.toLong,
        rnd.nextInt(100).toDouble, rnd.nextInt(3))
    }
    val sizes = sameAtOneAndFour(events.grouped(60).toSeq)
    sizes.foreach { case (name, rows) => withClue(name)(rows should be > 0) }
  }

  test("the six drained operators give the same rows at 1 and at 4 state partitions " +
    "over an empty feed and a one-row feed") {
    sameAtOneAndFour(Seq(Seq.empty)).foreach { case (name, rows) =>
      withClue(name)(rows shouldBe 0)
    }
    val one = FeedEvent("a", 1000000L, 0L, 60.0, 1)
    sameAtOneAndFour(Seq(Seq(one)))
  }
}
