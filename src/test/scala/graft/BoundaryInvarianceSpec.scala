package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming._

/** Micro-batch BOUNDARY invariance for the stateful streaming family.
  *
  * The catalog's gated twins feed fixed two-file splits, and StreamingSpec
  * pins each operator's cross-batch semantics at hand-picked boundaries.
  * What neither proves: that output is invariant under WHERE the
  * micro-batch boundaries fall — the classic streaming failure mode is
  * state that behaves differently when a session/bin/interval straddles a
  * boundary vs. when it doesn't. This spec runs each operator over the
  * same seeded-random, per-key-ordered feed chunked four different ways
  * (one batch; midpoint; one random cut; three random cuts) and requires
  * ALL outputs identical — including float bit-patterns, since every
  * operator's fold order is the arrival order, which chunking preserves.
  *
  * The feed is globally (ts, seq)- or ord-sorted first: per-key arrival
  * order respecting event order is the operator contract (a keyed Kafka
  * topic); boundary PLACEMENT is the free variable under test, feed
  * REORDERING is not.
  */
class BoundaryInvarianceSpec extends SparkSpec {
  import spark.implicits._

  private def runChunks[E: Encoder](events: Seq[E], cuts: Seq[Int],
      build: Dataset[E] => Dataset[_], sortCols: Seq[String],
      mode: String): Seq[String] = {
    val mem = MemoryStream[E](spark)
    val name = "binv_" + System.nanoTime()
    val q = build(mem.toDS()).writeStream.queryName(name).format("memory")
      .outputMode(mode).start()
    try {
      val bounds = (Seq(0, events.length) ++ cuts).distinct.sorted
      bounds.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          mem.addData(events.slice(a, b): _*)
          q.processAllAvailable()
        case _ => ()
      }
    } finally q.stop()
    val t = spark.table(name)
    t.orderBy(sortCols.map(col): _*).collect().toSeq.map(_.toString)
  }

  private def law[E: Encoder](label: String, events: Seq[E],
      build: Dataset[E] => Dataset[_], sortCols: Seq[String],
      mode: String = "append"): Unit = test(
    s"boundary invariance: $label (1 batch ≡ mid ≡ seeded random cuts)") {
    val n = events.length
    val rnd = new scala.util.Random(0xB0B0 + label.##)
    def cut() = rnd.nextInt(n - 1) + 1
    val ref = runChunks(events, Nil, build, sortCols, mode)
    withClue("vacuous law — reference output empty: ") { ref.nonEmpty shouldBe true }
    for (cuts <- Seq(Seq(n / 2), Seq(cut()), Seq(cut(), cut(), cut())))
      withClue(s"cuts=$cuts: ") {
        runChunks(events, cuts, build, sortCols, mode) shouldBe ref
      }
  }

  // seeded per-key-ordered feeds ------------------------------------------

  private val rnd = new scala.util.Random(42)
  private val keyed: Seq[KeyedEvent] = (0 until 240).map { i =>
    // int-valued doubles: every sum is fp-exact in any grouping
    KeyedEvent("k" + rnd.nextInt(5), rnd.nextInt(500).toLong * 250000L + i,
      i.toLong, rnd.nextInt(100).toDouble)
  }.sortBy(e => (e.ts, e.seq))

  private val zips: Seq[ZipEvent] = (0 until 200).map { i =>
    ZipEvent("z" + rnd.nextInt(4), rnd.nextInt(400).toLong * 1000L + i,
      i.toLong, rnd.nextInt(2), rnd.nextInt(50).toDouble)
  }.sortBy(e => (e.ts, e.seq))

  // gates derived from the keyed feed: sparse triggers, long gate runs
  private val triggers: Seq[GatedEvent] =
    keyed.map(e => GatedEvent(e.k, e.ts, e.seq, e.v, gate = e.v >= 80))
  private val gates: Seq[GatedEvent] =
    keyed.map(e => GatedEvent(e.k, e.ts, e.seq, e.v, gate = e.v >= 30))

  private val ceps: Seq[CepEvent] = (0 until 240).map { i =>
    CepEvent("c" + rnd.nextInt(4), i.toLong * 100L, i.toLong, rnd.nextInt(3))
  }

  private val paths: Seq[CepEvent2] = (0 until 200).map { i =>
    // bursty timeline so gap-closes land both mid-batch and on boundaries
    CepEvent2("s" + rnd.nextInt(4),
      i.toLong * 40L + (if (rnd.nextInt(6) == 0) 5000L else 0L) * (i / 20),
      i.toLong, Seq("view", "click", "purchase")(rnd.nextInt(3)))
  }.sortBy(e => (e.ts, e.seq))

  private val docs: Seq[KeyedDoc] = (0 until 200).map { i =>
    // ~3 docs per hash key: duplicates within AND across any chunking
    KeyedDoc(rnd.nextInt(70).toLong, i.toLong, Seq("en", "de", "fr")(rnd.nextInt(3)),
      20 + rnd.nextInt(80).toLong)
  } // ord == arrival index: the per-key-ordered-feed contract

  private val scds: Seq[ScdEvent] = (0 until 200).map { i =>
    ScdEvent("c" + rnd.nextInt(5), i.toLong * 10L, i.toLong,
      Seq("LOW", "MED", "HIGH")(rnd.nextInt(3)))
  }

  private val packs: Seq[PackItem] = (0 until 180).map { i =>
    PackItem(i % 4, i.toLong, 10 + rnd.nextInt(90))
  }

  // the laws --------------------------------------------------------------

  law[KeyedEvent]("tumblingAgg", keyed,
    ds => Streams.tumblingAgg(ds.toDF(), Seq("k"), "10 seconds", "0 seconds",
      "n" -> count(lit(1)), "s" -> sum(col("v")))
      .select(col("k"), col("window.start").as("ws"), col("n"), col("s")).as[(String, java.sql.Timestamp, Long, Double)],
    Seq("k", "ws"), mode = "complete")

  law[KeyedEvent]("CountSlices", keyed, ds => CountSlices(ds, 7),
    Seq("k", "windowId"))

  law[GatedEvent]("TriggerSlices.tagged AFTER", triggers,
    ds => TriggerSlices.tagged(ds), Seq("k", "windowId"))

  law[GatedEvent]("TriggerSlices.tagged before", triggers,
    ds => TriggerSlices.tagged(ds, before = true), Seq("k", "windowId"))

  law[GatedEvent]("GatedWindows", gates, ds => GatedWindows(ds),
    Seq("k", "windowId"))

  law[KeyedEvent]("CohortTracker", keyed, ds => CohortTracker(ds, 50000000L),
    Seq("k", "offsetW"))

  law[ZipEvent]("ZipJoin", zips, ds => ZipJoin(ds), Seq("k", "ts"))

  law[ZipEvent]("TakeJoin", zips, ds => TakeJoin(ds), Seq("k", "ts"))

  law[CepEvent]("CepPattern", ceps, ds => CepPattern(ds, 2000L),
    Seq("k", "eventId"))

  law[CepEvent]("CepKleene", ceps, ds => CepKleene(ds), Seq("k", "eventId"))

  law[CepEvent]("FunnelTracker", ceps, ds => FunnelTracker(ds),
    Seq("k", "stage"))

  law[CepEvent2]("SessionPaths", paths, ds => SessionPaths(ds, 1500L),
    Seq("k", "sessionStart"))

  law[KeyedDoc]("KeepFirst", docs, ds => KeepFirst(ds), Seq("h"))

  law[ScdEvent]("ScdCompact", scds, ds => ScdCompact(ds),
    Seq("k", "island"))

  law[PackItem]("StreamPacking.nextFit", packs,
    ds => StreamPacking.nextFit(ds, capacity = 128), Seq("shard", "id"))
}
