package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core._
import graft.streaming._
import scala.jdk.CollectionConverters._

/** Streaming ↔ batch semantic parity: the same events through the
  * Structured Streaming operators and the batch WindowKernel must produce
  * identical buckets (SURVEY §7.1: "API kept streaming-compatible").
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runToCompletion[T](q: org.apache.spark.sql.streaming.DataStreamWriter[T],
      name: String): Unit = {
    val sq = q.queryName(name).format("memory").start()
    try sq.processAllAvailable()
    finally sq.stop()
  }

  test("streaming tumbling agg matches batch Slice.Tumbling buckets") {
    val events = (0 until 40).map { i =>
      KeyedEvent(if (i % 2 == 0) "a" else "b", i.toLong * 500000L, i.toLong, i.toDouble)
    }
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(events.take(25): _*)
    mem.addData(events.drop(25): _*)

    val agg = Streams.tumblingAgg(
      mem.toDF(), Seq("k"), "10 seconds", "0 seconds",
      "n" -> count(lit(1)), "s" -> sum(col("v")))
    runToCompletion(agg.writeStream.outputMode("complete"), "tumbling")

    val streamed = spark.table("tumbling")
      .select(col("k"), unix_micros(col("window.start")).as("wstart"), col("n"), col("s"))
      .orderBy("k", "wstart")
      .as[(String, Long, Long, Double)].collect().toSeq

    val batch = KStream(events.toDF(), Seq("k"))
      .group(Slice.Tumbling(10L * 1000 * 1000))
      .reduce("n" -> count(lit(1)), "s" -> sum(col("v")))
      .select(col("k"), (col("window_id") * 10L * 1000 * 1000).as("wstart"),
        col("n"), col("s"))
      .orderBy("k", "wstart")
      .as[(String, Long, Long, Double)].collect().toSeq

    streamed shouldBe batch
  }

  test("property: count slices across 3 micro-batches ≡ batch windows " +
    "on seeded random streams (cross-batch state continuity)") {
    val rnd = new scala.util.Random(99)
    val events = (0 until 300).map { i =>
      // int-valued doubles: sums are fp-exact regardless of fold order
      KeyedEvent("k" + rnd.nextInt(5), rnd.nextInt(1000).toLong * 1000L + i,
        i.toLong, rnd.nextInt(100).toDouble)
    }
    // the operator contract: per-key arrival order respects event order
    // across batches — split the GLOBALLY SORTED stream into 3 chunks
    val sorted = events.sortBy(e => (e.ts, e.seq))
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(sorted.take(100): _*)
    mem.addData(sorted.slice(100, 200): _*)
    mem.addData(sorted.drop(200): _*)
    runToCompletion(CountSlices(mem.toDS(), 7).writeStream.outputMode("append"),
      "countslices_prop")
    val streamed = spark.table("countslices_prop")
      .orderBy("k", "windowId").as[CountBucket].collect().toSeq
    val batch = KStream(events.toDF(), Seq("k"))
      .group(Slice.Count(7))
      .reduce("n" -> count(lit(1)), "sum" -> sum(col("v")),
        "mn" -> min(col("v")), "mx" -> max(col("v")))
      .filter(col("n") === 7)
      .select(col("k"), col("window_id").as("windowId"), col("n"),
        col("sum"), col("mn"), col("mx"))
      .orderBy("k", "windowId").as[CountBucket].collect().toSeq
    streamed shouldBe batch

    // the same feed with a seeded random gate through the three gated
    // folds, bucket ids included; only buckets a fold has closed compare
    // (a key's last bucket may still be open). Every ts is distinct here,
    // so each atomic cycle is one event.
    val gateRnd = new scala.util.Random(7)
    val gated = sorted.map(e => GatedEvent(e.k, e.ts, e.seq, e.v, gateRnd.nextInt(3) == 0))
    def drained(name: String,
        fold: org.apache.spark.sql.Dataset[GatedEvent] => org.apache.spark.sql.Dataset[CountBucket])
        : Seq[CountBucket] = {
      val memG = MemoryStream[GatedEvent](spark)
      memG.addData(gated.take(100): _*)
      memG.addData(gated.slice(100, 200): _*)
      memG.addData(gated.drop(200): _*)
      runToCompletion(fold(memG.toDS()).writeStream.outputMode("append"), name)
      spark.table(name).orderBy("k", "windowId").as[CountBucket].collect().toSeq
    }
    val byKey = gated.groupBy(_.k)
    val triggers = byKey.map { case (k, es) => k -> es.count(_.gate).toLong }
    val closes = byKey.map { case (k, es) =>
      k -> es.sliding(2).count(p => p.size == 2 && p(0).gate && !p(1).gate).toLong
    }
    def closedBatch(sliced: Sliced, closed: CountBucket => Boolean): Seq[CountBucket] =
      sliced
        .reduce("n" -> count(lit(1)), "sum" -> sum(col("v")),
          "mn" -> min(col("v")), "mx" -> max(col("v")))
        .select(col("k"), col(sliced.id).as("windowId"), col("n"),
          col("sum"), col("mn"), col("mx"))
        .orderBy("k", "windowId").as[CountBucket].collect().toSeq
        .filter(closed)
    val gatedBatch = KStream(gated.toDF(), Seq("k"))
    withClue("TriggerSlices AFTER") {
      drained("triggerslices_after_prop", TriggerSlices.tagged(_)) shouldBe
        closedBatch(gatedBatch.group(Slice.TriggerCol(col("gate"), Align.After)),
          b => b.windowId < triggers(b.k))
    }
    withClue("TriggerSlices BEFORE") {
      drained("triggerslices_before_prop", TriggerSlices.tagged(_, before = true)) shouldBe
        closedBatch(gatedBatch.group(Slice.TriggerCol(col("gate"), Align.Before)),
          b => b.windowId < triggers(b.k))
    }
    withClue("GatedWindows") {
      drained("gatedwindows_prop", GatedWindows(_)) shouldBe
        closedBatch(gatedBatch.window(col("gate")), b => b.windowId <= closes(b.k))
    }
  }

  test("CepPattern: SEQ(click→purchase) within window, negation veto, " +
    "same-cycle ordering, cross-batch register carry") {
    // kinds: 0=click 1=error 2=purchase; window = 100
    val b1 = Seq(
      CepEvent("u1", 10, 1, 0), // click
      CepEvent("u1", 50, 2, 2), // purchase → match (click 10)
      CepEvent("u1", 60, 3, 1), // error
      CepEvent("u1", 80, 4, 2), // purchase → VETOED (error 60 ∈ (10,80))
      CepEvent("u1", 90, 5, 0), // click — parks in state
      CepEvent("u2", 20, 6, 2)) // purchase with no click → no match
    val b2 = Seq(
      CepEvent("u1", 120, 7, 2),  // purchase → match click 90 ACROSS batches
      CepEvent("u1", 200, 8, 2),  // purchase → click 90 too old (Δ=110>100)
      CepEvent("u1", 210, 9, 0),  // click
      CepEvent("u1", 210, 10, 1), // error at SAME ts as click: not between
      CepEvent("u1", 220, 11, 2), // purchase → match (strict bounds)
      CepEvent("u1", 230, 12, 0), // click
      CepEvent("u1", 230, 13, 2), // purchase SAME cycle → click visible
      CepEvent("u1", 235, 14, 1), // error
      CepEvent("u1", 240, 15, 2)) // purchase → VETOED (error 235 ∈ (230,240))
    val mem = MemoryStream[CepEvent](spark)
    mem.addData(b1: _*)
    mem.addData(b2: _*)
    runToCompletion(
      CepPattern(mem.toDS(), 100L).writeStream.outputMode("append"), "cep_tw")
    spark.table("cep_tw").orderBy("eventId")
      .as[CepMatch].collect().toSeq shouldBe Seq(
      CepMatch("u1", 2, 50, 10),
      CepMatch("u1", 7, 120, 90),
      CepMatch("u1", 11, 220, 210),
      CepMatch("u1", 13, 230, 230))
  }

  test("CepPattern property: 3-batch streaming matches the brute-force " +
    "pattern semantics on seeded random event streams") {
    val rnd = new scala.util.Random(1234)
    val events = (0 until 400).map { i =>
      CepEvent("u" + rnd.nextInt(6), rnd.nextInt(500).toLong, i.toLong,
        rnd.nextInt(3)) // kind uniform over click/error/purchase
    }
    val win = 60L
    // brute force straight from the pattern definition: a purchase p
    // matches the latest click with ts ≤ p.ts; within `win`; vetoed iff
    // an error falls STRICTLY between them.
    val expected = events.filter(_.kind == 2).flatMap { p =>
      val byKey = events.filter(_.k == p.k)
      val clicks = byKey.filter(c => c.kind == 0 && c.ts <= p.ts)
      if (clicks.isEmpty) None
      else {
        val ct = clicks.map(_.ts).max
        val veto = byKey.exists(e => e.kind == 1 && e.ts > ct && e.ts < p.ts)
        if (p.ts - ct <= win && !veto) Some(CepMatch(p.k, p.seq, p.ts, ct))
        else None
      }
    }.sortBy(_.eventId)
    val sorted = events.sortBy(e => (e.ts, e.kind, e.seq))
    val mem = MemoryStream[CepEvent](spark)
    mem.addData(sorted.take(130): _*)
    mem.addData(sorted.slice(130, 260): _*)
    mem.addData(sorted.drop(260): _*)
    runToCompletion(
      CepPattern(mem.toDS(), win).writeStream.outputMode("append"), "cep_prop")
    spark.table("cep_prop").orderBy("eventId")
      .as[CepMatch].collect().toSeq shouldBe expected
  }

  test("CepKleene: click counter resets per purchase and carries across " +
    "the batch boundary") {
    val mem = MemoryStream[CepEvent](spark)
    val q = CepKleene(mem.toDS()).writeStream
      .queryName("kleene_tw").format("memory").outputMode("append").start()
    try {
      mem.addData( // 2 clicks then purchase; 1 click parks in state
        CepEvent("u1", 10, 1, 0), CepEvent("u1", 20, 2, 0),
        CepEvent("u1", 30, 3, 2), CepEvent("u1", 40, 4, 0))
      q.processAllAvailable()
      mem.addData( // +2 clicks in batch 2 → purchase sees 3 total
        CepEvent("u1", 50, 5, 0), CepEvent("u1", 60, 6, 0),
        CepEvent("u1", 70, 7, 2), CepEvent("u1", 80, 8, 2)) // back-to-back → 0
      q.processAllAvailable()
    } finally q.stop()
    spark.table("kleene_tw").orderBy("eventId")
      .as[KleeneMatch].collect().toSeq shouldBe Seq(
      KleeneMatch("u1", 3, 2), KleeneMatch("u1", 7, 3), KleeneMatch("u1", 8, 0))
  }

  test("FunnelTracker: stages gate strictly in order and complete across " +
    "the batch boundary") {
    // kinds: 0=view 1=click 2=purchase
    val mem = MemoryStream[CepEvent](spark)
    val q = FunnelTracker(mem.toDS()).writeStream
      .queryName("funnel_tw").format("memory").outputMode("append").start()
    try {
      mem.addData(
        CepEvent("u1", 5, 0, 1),  // click BEFORE any view → never counts
        CepEvent("u1", 10, 1, 0), // view → stage 1
        CepEvent("u1", 10, 2, 1), // click at SAME ts as view → strict > fails
        CepEvent("u2", 10, 3, 2)) // purchase with no prior stages → nothing
      q.processAllAvailable()
      mem.addData(
        CepEvent("u1", 20, 4, 1), // click after t1 → stage 2 (cross-batch)
        CepEvent("u1", 30, 5, 2), // purchase after t2 → stage 3
        CepEvent("u1", 40, 6, 2)) // second purchase ignored
      q.processAllAvailable()
    } finally q.stop()
    spark.table("funnel_tw").orderBy("stage")
      .as[FunnelStage].collect().toSeq shouldBe Seq(
      FunnelStage("u1", 1, 10), FunnelStage("u1", 2, 20), FunnelStage("u1", 3, 30))
  }

  test("SessionPaths: a session straddling the batch boundary keeps " +
    "accumulating; gap closes and emits the ordered path") {
    val mem = MemoryStream[CepEvent2](spark)
    val q = SessionPaths(mem.toDS(), 100L).writeStream
      .queryName("spaths_tw").format("memory").outputMode("append").start()
    try {
      mem.addData(
        CepEvent2("u1", 10, 1, "view"), CepEvent2("u1", 50, 2, "click"))
      q.processAllAvailable() // session open at batch end
      mem.addData(
        CepEvent2("u1", 120, 3, "purchase"), // within gap of 50 → extends
        CepEvent2("u1", 300, 4, "view"))     // gap > 100 → closes first session
      q.processAllAvailable()
    } finally q.stop()
    spark.table("spaths_tw")
      .as[SessionPath].collect().toSeq shouldBe Seq(
      SessionPath("u1", 10, "view>click>purchase"))
  }

  test("CohortTracker: cohort week fixes on first event; each offset " +
    "emits once, including across batches") {
    val mem = MemoryStream[KeyedEvent](spark)
    val q = CohortTracker(mem.toDS(), 100L).writeStream
      .queryName("cohort_tw").format("memory").outputMode("append").start()
    try {
      mem.addData( // u1 cohort = week 0; two events same week → one hit
        KeyedEvent("u1", 10, 1, 0), KeyedEvent("u1", 50, 2, 0),
        KeyedEvent("u2", 250, 3, 0)) // u2 cohort = week 2
      q.processAllAvailable()
      mem.addData(
        KeyedEvent("u1", 120, 4, 0), // week 1 → offset 1 (cross-batch)
        KeyedEvent("u1", 130, 5, 0), // same offset → suppressed
        KeyedEvent("u2", 260, 6, 0)) // same week → suppressed
      q.processAllAvailable()
    } finally q.stop()
    spark.table("cohort_tw").orderBy("k", "offsetW")
      .as[CohortHit].collect().toSeq shouldBe Seq(
      CohortHit("u1", 0, 0), CohortHit("u1", 0, 1), CohortHit("u2", 2, 0))
  }

  test("KeepFirst: min-ord row wins within a batch; cross-batch " +
    "duplicates suppress against the registry") {
    val b1 = Seq(
      KeyedDoc(100L, 7, "de", 30), // same key, higher ord — loses
      KeyedDoc(100L, 3, "en", 30), // min ord — the batch-1 survivor
      KeyedDoc(200L, 5, "fr", 40))
    val b2 = Seq(
      KeyedDoc(100L, 1, "xx", 30), // later BATCH: registry wins over lower ord
      KeyedDoc(300L, 9, "en", 50))
    val mem = MemoryStream[KeyedDoc](spark)
    val q = KeepFirst(mem.toDS()).writeStream
      .queryName("kf_tw").format("memory").outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    spark.table("kf_tw").orderBy("h")
      .as[KeyedDoc].collect().toSeq shouldBe Seq(
      KeyedDoc(100L, 3, "en", 30),
      KeyedDoc(200L, 5, "fr", 40),
      KeyedDoc(300L, 9, "en", 50))
  }

  private def evTs(ms: Long) = new java.sql.Timestamp(ms)

  test("KeepFirst.withTtl: an event-time-idle key evicts at the watermark " +
    "and a later duplicate re-emits (first-within-ttl semantics); a " +
    "within-ttl duplicate refreshes the timer and stays suppressed") {
    val mem = MemoryStream[TsKeyedDoc](spark)
    val q = KeepFirst.withTtl(mem.toDS(), ttlMs = 1000L).writeStream
      .queryName("kf_ttl_tw").format("memory").outputMode("append").start()
    try {
      // event times start above 0: a row at the initial watermark (0)
      // is filtered as late before the operator sees it
      mem.addData(TsKeyedDoc(100L, 3, "en", 30, evTs(1000))); q.processAllAvailable()
      // within ttl of the first sighting: suppressed, timer -> 2400
      mem.addData(TsKeyedDoc(100L, 7, "de", 30, evTs(1400))); q.processAllAvailable()
      // far-future rows advance the watermark past 1500 (watermark lags
      // one batch, so the second carrier performs the sweep)
      mem.addData(TsKeyedDoc(200L, 5, "fr", 40, evTs(10000))); q.processAllAvailable()
      mem.addData(TsKeyedDoc(300L, 6, "fr", 40, evTs(11000))); q.processAllAvailable()
      // post-eviction duplicate: re-emits
      mem.addData(TsKeyedDoc(100L, 9, "xx", 30, evTs(12000))); q.processAllAvailable()
    } finally q.stop()
    spark.table("kf_ttl_tw").orderBy("ord")
      .as[KeyedDoc].collect().toSeq shouldBe Seq(
      KeyedDoc(100L, 3, "en", 30),
      KeyedDoc(200L, 5, "fr", 40),
      KeyedDoc(300L, 6, "fr", 40),
      KeyedDoc(100L, 9, "xx", 30))
  }

  test("TtlCounter: exact running counts with ttl off; with ttl an " +
    "event-time-idle key's count expires and restarts from 1") {
    // ttl off ≡ the batch per-key count, emitted as a running prefix
    val m0 = MemoryStream[TsKeyHit](spark)
    val q0 = TtlCounter(m0.toDS()).writeStream
      .queryName("tc_tw").format("memory").outputMode("append").start()
    try {
      m0.addData(TsKeyHit(1, evTs(0)), TsKeyHit(1, evTs(1)), TsKeyHit(2, evTs(2)))
      q0.processAllAvailable()
      m0.addData(TsKeyHit(1, evTs(3)), TsKeyHit(2, evTs(4)))
      q0.processAllAvailable()
    } finally q0.stop()
    spark.table("tc_tw").orderBy("k", "n")
      .as[KeyCount].collect().toSeq shouldBe Seq(
      KeyCount(1, 2), KeyCount(1, 3), KeyCount(2, 1), KeyCount(2, 2))

    val m1 = MemoryStream[TsKeyHit](spark)
    val q1 = TtlCounter(m1.toDS(), ttlMs = 1000L).writeStream
      .queryName("tc_ttl_tw").format("memory").outputMode("append").start()
    try {
      m1.addData(TsKeyHit(1, evTs(1000)), TsKeyHit(1, evTs(1100)))
      q1.processAllAvailable() // n=2, timer -> 2100
      m1.addData(TsKeyHit(8, evTs(5000))); q1.processAllAvailable() // watermark carrier
      m1.addData(TsKeyHit(9, evTs(6000))); q1.processAllAvailable() // sweep: k=1 evicts
      m1.addData(TsKeyHit(1, evTs(7000))); q1.processAllAvailable() // restarted count
    } finally q1.stop()
    spark.table("tc_ttl_tw").orderBy("k", "n")
      .as[KeyCount].collect().toSeq shouldBe Seq(
      KeyCount(1, 1), KeyCount(1, 2), KeyCount(8, 1), KeyCount(9, 1))
  }

  test("ScdCompact: change-log intervals close on value change; an " +
    "interval OPEN at a batch boundary extends through the next batch") {
    val b1 = Seq(
      ScdEvent("c1", 10, 1, "HIGH"),
      ScdEvent("c1", 20, 2, "HIGH"),
      ScdEvent("c1", 30, 3, "LOW"), // closes HIGH [10,20] n=2
      ScdEvent("c2", 15, 4, "MED"))
    val b2 = Seq(
      ScdEvent("c1", 40, 5, "LOW"),  // extends the LOW interval across batches
      ScdEvent("c1", 50, 6, "HIGH"), // closes LOW [30,40] n=3
      ScdEvent("c2", 25, 7, "MED"))  // c2's MED stays open — never emitted
    val mem = MemoryStream[ScdEvent](spark)
    val q = ScdCompact(mem.toDS()).writeStream
      .queryName("scd_tw").format("memory").outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    spark.table("scd_tw").orderBy("k", "island")
      .as[ScdInterval].collect().toSeq shouldBe Seq(
      ScdInterval("c1", 1, "HIGH", 10, 20, 2),
      ScdInterval("c1", 2, "LOW", 30, 40, 2))
  }

  test("CountSlices recovers from a checkpoint across query RESTARTS " +
    "(stateful exactly-once: stop mid-stream, new query, same state)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val events = (0 until 40).map { i =>
      KeyedEvent("k" + i % 3, i.toLong, i.toLong, (i % 5).toDouble)
    }
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(events.take(20): _*)
    def start() = CountSlices(mem.toDS(), 4).writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .outputMode("append").start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    mem.addData(events.drop(20): _*) // arrives while "down"
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out)
      .orderBy("k", "windowId").as[CountBucket].collect().toSeq
    val batch = KStream(events.toDF(), Seq("k"))
      .group(Slice.Count(4))
      .reduce("n" -> count(lit(1)), "sum" -> sum(col("v")),
        "mn" -> min(col("v")), "mx" -> max(col("v")))
      .filter(col("n") === 4)
      .select(col("k"), col("window_id").as("windowId"), col("n"),
        col("sum"), col("mn"), col("mx"))
      .orderBy("k", "windowId").as[CountBucket].collect().toSeq
    got shouldBe batch // no lost or duplicated buckets across the restart
  }

  test("streaming count slices match batch Slice.Count buckets (closed windows)") {
    val events = (0 until 23).map { i =>
      KeyedEvent(if (i % 3 == 0) "x" else "y", i.toLong, i.toLong, (i % 7).toDouble)
    }
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(events.take(10): _*)
    mem.addData(events.drop(10): _*)

    runToCompletion(CountSlices(mem.toDS(), 3).writeStream.outputMode("append"), "countslices")

    val streamed = spark.table("countslices")
      .orderBy("k", "windowId")
      .as[CountBucket].collect().toSeq

    // batch twin, keeping only CLOSED buckets (streaming hasn't seen the end)
    val batch = KStream(events.toDF(), Seq("k"))
      .group(Slice.Count(3))
      .reduce("n" -> count(lit(1)), "sum" -> sum(col("v")),
        "mn" -> min(col("v")), "mx" -> max(col("v")))
      .filter(col("n") === 3)
      .select(col("k"), col("window_id").as("windowId"), col("n"),
        col("sum"), col("mn"), col("mx"))
      .orderBy("k", "windowId")
      .as[CountBucket].collect().toSeq

    streamed shouldBe batch
  }

  test("streaming trigger slices match batch Slice.TriggerCol AFTER alignment") {
    // the [1,1,1,10,1,1,1] golden (TestSingleTerms:157-181) on a stream
    val vals = Seq(1, 1, 1, 10, 1, 1, 1)
    val events = vals.zipWithIndex.map { case (v, i) =>
      GatedEvent("k", i.toLong, i.toLong, v.toDouble, gate = v == 10.0)
    }
    val mem = MemoryStream[GatedEvent](spark)
    mem.addData(events.take(4): _*)
    mem.addData(events.drop(4): _*)
    runToCompletion(
      TriggerSlices.tagged(mem.toDS()).writeStream.outputMode("append"),
      "trigslices")
    // closed buckets only (the trailing [1,1,1] is still open)
    spark.table("trigslices").orderBy("windowId")
      .select("windowId", "sum").as[(Long, Double)].collect().toSeq shouldBe
      Seq((0L, 13.0))
  }

  test("streaming gated windows match the batch boolean-window golden") {
    // same gate pattern as WindowKernelSpec: windows [2,3] and [6,7,8]
    val rows = Seq(
      (1, false), (2, true), (3, true), (4, false),
      (5, false), (6, true), (7, true), (8, true), (9, false))
    val events = rows.zipWithIndex.map { case ((v, g), i) =>
      GatedEvent("k", i.toLong, i.toLong, v.toDouble, g)
    }
    val mem = MemoryStream[GatedEvent](spark)
    mem.addData(events.take(5): _*)
    mem.addData(events.drop(5): _*)
    runToCompletion(
      GatedWindows(mem.toDS()).writeStream.outputMode("append"), "gated")
    spark.table("gated").orderBy("windowId")
      .select("sum", "n").as[(Double, Long)].collect().toSeq shouldBe
      Seq((5.0, 2L), (21.0, 3L))
  }

  test("streaming exact dedup: dropDuplicates keeps first occurrence across batches") {
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(KeyedEvent("a", 0, 0, 1.0), KeyedEvent("b", 1, 1, 2.0))
    mem.addData(KeyedEvent("a", 2, 2, 99.0), KeyedEvent("c", 3, 3, 3.0)) // dup key "a"
    runToCompletion(
      mem.toDS().dropDuplicates("k").writeStream.outputMode("append"), "dedupstream")
    spark.table("dedupstream").orderBy("k")
      .select("k", "v").as[(String, Double)].collect().toSeq shouldBe
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))
  }

  test("watermark drops late data beyond the threshold (append mode)") {
    val mem = MemoryStream[KeyedEvent](spark)
    val agg = Streams.tumblingAgg(mem.toDF(), Seq("k"), "10 seconds", "5 seconds",
      "n" -> count(lit(1)))
    val q = agg.writeStream.queryName("late").format("memory")
      .outputMode("append").start()
    try {
      // batch 1: events at 0-9s and 30-39s → watermark advances to 34s
      mem.addData(KeyedEvent("k", 5L * 1000000, 0, 1.0),
        KeyedEvent("k", 35L * 1000000, 1, 1.0))
      q.processAllAvailable()
      // batch 2: an event at 2s — far behind the 34s watermark → dropped;
      // an event at 36s → lands in the open [30,40) window
      mem.addData(KeyedEvent("k", 2L * 1000000, 2, 1.0),
        KeyedEvent("k", 36L * 1000000, 3, 1.0))
      q.processAllAvailable()
      // batch 3: advance time to close [30,40)
      mem.addData(KeyedEvent("k", 60L * 1000000, 4, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("late")
      .select(unix_micros(col("window.start")).as("w"), col("n"))
      .orderBy("w").as[(Long, Long)].collect().toSeq
    // [0,10s) closed with ONLY the on-time event (late 2s row dropped);
    // [30,40s) closed with both its events
    got shouldBe Seq((0L, 1L), (30000000L, 2L))
  }

  test("streaming parquet sink round-trips through a checkpoint") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData((0 until 20).map(i => KeyedEvent("k" + (i % 2), i.toLong, i.toLong, i.toDouble)): _*)
    val q = mem.toDS().writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(out)
    back.count() shouldBe 20L
    back.agg(sum("v")).as[Double].collect().head shouldBe (0 until 20).sum.toDouble
  }

  test("rate-micro-batch source: the streaming Timer analog (deterministic grid)") {
    // scespet Timer(duration) on a live stream = Spark's rate source;
    // rate-micro-batch emits a deterministic row count per batch.
    val q = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", "10")
      .option("startTimestamp", "0")
      .option("advanceMillisPerBatch", "1000")
      .load()
      .groupBy().agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
      .writeStream.queryName("timer").format("memory").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val Array((n, mx)) = spark.table("timer").as[(Long, Long)].collect()
    n should be >= 10L // at least one deterministic batch of 10
    mx shouldBe n - 1 // values are the 0-based grid index
  }

  test("gap-based session_window streaming agg (the built-in cousin of edge-based windows)") {
    // scespet windows are EDGE-based (GatedWindows); Spark's built-in
    // session_window is GAP-based — both belong to the engine's surface.
    val events = Seq(0L, 1L, 2L, 10L, 11L, 30L).zipWithIndex.map { case (sec, i) =>
      KeyedEvent("k", sec * 1000000L, i.toLong, 1.0)
    }
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(events: _*)
    val agg = mem.toDF()
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", "0 seconds")
      .groupBy(session_window(col("event_time"), "5 seconds"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    runToCompletion(agg.writeStream.outputMode("complete"), "sessions")
    val got = spark.table("sessions")
      .select(unix_micros(col("session_window.start")).as("w"), col("n"))
      .orderBy("w").as[(Long, Long)].collect().toSeq
    // gaps > 5s split sessions: {0,1,2}, {10,11}, {30}
    got shouldBe Seq((0L, 3L), (10000000L, 2L), (30000000L, 1L))
  }

  test("multi-input streaming bucket: two tagged streams into one tumbling window agg") {
    // scespet bucketStream.bind(xs).bind(ys).reset(duration) on live
    // streams: tag + union BEFORE the stateful agg (same shape as batch
    // Buckets.taggedUnion)
    val xs = MemoryStream[KeyedEvent](spark)
    val ys = MemoryStream[KeyedEvent](spark)
    xs.addData((0 until 10).map(i => KeyedEvent("k", i.toLong * 1000000L, i.toLong, 1.0)): _*)
    ys.addData((0 until 5).map(i => KeyedEvent("k", i.toLong * 2000000L, 100L + i, 10.0)): _*)
    val tagged = xs.toDF().withColumn("tag", lit("x"))
      .unionByName(ys.toDF().withColumn("tag", lit("y")))
    val agg = Streams.tumblingAgg(tagged, Seq("k"), "5 seconds", "0 seconds",
      "nx" -> count(when(col("tag") === "x", 1)),
      "ny" -> count(when(col("tag") === "y", 1)),
      "s" -> sum(col("v")))
    runToCompletion(agg.writeStream.outputMode("complete"), "mbucket")
    val got = spark.table("mbucket")
      .select(unix_micros(col("window.start")).as("w"), col("nx"), col("ny"), col("s"))
      .orderBy("w").as[(Long, Long, Long, Double)].collect().toSeq
    // window [0,5s): x at 0..4s (5), y at 0,2,4s (3) → sum 5 + 30
    // window [5,10s): x at 5..9s (5), y at 6,8s (2) → sum 5 + 20
    got shouldBe Seq((0L, 5L, 3L, 35.0), (5000000L, 5L, 2L, 25.0))
  }

  test("EWMA scan matches the Scala recurrence") {
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 3.0)
    val events = vals.zipWithIndex.map { case (v, i) =>
      KeyedEvent("k", i.toLong, i.toLong, v)
    }
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(events.take(3): _*)
    mem.addData(events.drop(3): _*)
    runToCompletion(
      EwmaScan(mem.toDS(), 0.25).writeStream.outputMode("append"), "ewmascan")
    // packed emission: recover the per-event rows, then the original
    // per-event assertion holds unchanged
    val got = EwmaScan.exploded(spark.table("ewmascan")).orderBy("seq")
      .select("ewma").as[Double].collect().toSeq
    val expect = vals.tail.scanLeft(vals.head)((acc, x) => 0.25 * x + 0.75 * acc)
    got shouldBe expect
  }

  test("packed EWMA emission law: sink rows scale with KEYS per batch, " +
    "exploded rows with events") {
    // 5 keys × 8 events in 2 batches: the packed sink must hold
    // ≤ keys·batches rows (the VERDICT r12 #4 claim — emission cost
    // no longer scales with events), while exploded() recovers every
    // per-event row
    val events = for (k <- 0 until 5; i <- 0 until 8)
      yield KeyedEvent(s"k$k", i.toLong * 1000L, (k * 8 + i).toLong, (i + k).toDouble)
    val mem = MemoryStream[KeyedEvent](spark)
    mem.addData(events.filter(_.ts < 4000L): _*)
    mem.addData(events.filter(_.ts >= 4000L): _*)
    runToCompletion(
      EwmaScan(mem.toDS(), 0.25).writeStream.outputMode("append"), "ewmapack")
    val packed = spark.table("ewmapack")
    assert(packed.count() <= 5L * 2, "packed sink must carry ~|keys| rows per batch")
    val rows = EwmaScan.exploded(packed)
    rows.count() shouldBe events.size.toLong
    // per-event values still the exact recurrence, per key
    val got = rows.orderBy("k", "ts").select("k", "ewma")
      .as[(String, Double)].collect().toSeq
    val expect = (0 until 5).flatMap { k =>
      val vs = (0 until 8).map(i => (i + k).toDouble)
      vs.tail.scanLeft(vs.head)((a, x) => 0.25 * x + 0.75 * a).map((s"k$k", _))
    }
    got shouldBe expect
  }

  test("append-mode session window emits each session EXACTLY once and " +
    "drains its state (the complete-mode re-emission fix)") {
    // synthetic events.parquet with KNOWN gap sessions; the catalog
    // query itself (file sources + flush sentinel) runs against it
    val dir = java.nio.file.Files.createTempDirectory("graft_swlaw_").toString
    // user 1: two sessions (gap 2h between event 2 and 3); user 2: one
    val rows = Seq(
      (1L, 0L, 1L, "click", 1.0, ""),
      (2L, 600L * 1000000L, 1L, "click", 2.0, ""),        // +10 min: same session
      (3L, 9000L * 1000000L, 1L, "click", 4.0, ""),       // +2.5 h: new session
      (4L, 0L, 2L, "click", 8.0, ""))
      .toDF("event_id", "raw_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("raw_us"))).drop("raw_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // the fixture contract is a single FILE named events.parquet (the
    // source's pathGlobFilter matches leaf names): write to a scratch
    // dir, then move the lone part file into place
    rows.coalesce(1).write.parquet(s"$dir/_stage")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_stage"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).next()
    java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, "events.parquet"))
    val res = graft.SparkEntry.queries("stream_session_window")(spark, dir)
      .select("user_id", "wstart", "n").as[(Long, Long, Long)].collect().toSeq
    // exactly one row per (user, session) — no sentinel row, no
    // complete-mode duplicates across batches
    res shouldBe Seq((1L, 0L, 2L), (1L, 9000000000L, 1L), (2L, 0L, 1L))
    graft.queries.StreamFixtures.deleteRecursively(dir)
  }

  test("streaming take join matches batch AsOf.take (emit only on left fires)") {
    val l = Seq((1L, 0L, 10.0), (3L, 1L, 30.0), (5L, 2L, 50.0), (6L, 3L, 60.0))
    val r = Seq((0L, 10L, 100.0), (3L, 11L, 300.0), (4L, 12L, 400.0))
    val zipEvents =
      l.map { case (ts, seq, v) => ZipEvent("k", ts, seq, 1, v) } ++
        r.map { case (ts, seq, v) => ZipEvent("k", ts, seq, 0, v) }
    val mem = MemoryStream[ZipEvent](spark)
    mem.addData(zipEvents: _*)
    runToCompletion(TakeJoin(mem.toDS()).writeStream.outputMode("append"), "takejoin")
    val got = spark.table("takejoin").orderBy("ts")
      .select("ts", "left", "right")
      .as[(Long, Double, Option[Double])].collect().toSeq
    // same-ts right event visible to the left fire (rendezvous, AsOfSpec)
    got shouldBe Seq(
      (1L, 10.0, Some(100.0)), (3L, 30.0, Some(300.0)),
      (5L, 50.0, Some(400.0)), (6L, 60.0, Some(400.0)))
  }

  test("streaming zip join matches batch AsOf.zip emissions") {
    val l = Seq((1L, 0L, 10.0), (3L, 1L, 30.0), (6L, 3L, 60.0))
    val r = Seq((0L, 10L, 100.0), (3L, 11L, 300.0), (4L, 12L, 400.0))
    val zipEvents =
      l.map { case (ts, seq, v) => ZipEvent("k", ts, seq, 1, v) } ++
        r.map { case (ts, seq, v) => ZipEvent("k", ts, seq, 0, v) }

    val mem = MemoryStream[ZipEvent](spark)
    mem.addData(zipEvents: _*)
    runToCompletion(ZipJoin(mem.toDS()).writeStream.outputMode("append"), "zipjoin")

    val streamed = spark.table("zipjoin").orderBy("ts")
      .select("ts", "left", "right")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq

    val batch = EStream(l.toDF("ts", "seq", "lv"))
      .joinZip(EStream(r.toDF("ts", "seq", "rv")),
        Seq("left" -> col("lv")), Seq("right" -> col("rv")))
      .df.orderBy("ts").select("ts", "left", "right")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq

    streamed shouldBe batch
  }

  test("SlicedHopping ≡ direct window(width, step) streaming form " +
    "(overlap factors 2 and 10, seeded random feeds, 2 batches)") {
    val rnd = new scala.util.Random(77)
    val events = (0 until 400).map { i =>
      // int-valued doubles: decimal partials merge exactly either way
      KeyedEvent("k" + rnd.nextInt(4), rnd.nextInt(2000).toLong * 100000L + i,
        i.toLong, rnd.nextInt(50).toDouble)
    }.sortBy(e => (e.ts, e.seq))

    for ((widthS, stepS, widthUs, stepUs) <- Seq(
        ("20 seconds", "10 seconds", 20000000L, 10000000L),
        ("100 seconds", "10 seconds", 100000000L, 10000000L))) {
      // direct: the overlap-factor-expanded built-in form
      val memD = MemoryStream[KeyedEvent](spark)
      memD.addData(events.take(200): _*)
      memD.addData(events.drop(200): _*)
      val direct = memD.toDF()
        .withColumn("event_time", timestamp_micros(col("ts")))
        .withWatermark("event_time", "0 seconds")
        .groupBy(window(col("event_time"), widthS, stepS), col("k"))
        .agg(count(lit(1)).as("n"), graft.queries.Q.dsumD(col("v")).as("s"))
      runToCompletion(direct.writeStream.outputMode("append"), s"hop_direct_$widthUs")
      val want = spark.table(s"hop_direct_$widthUs")
        .select(col("k"), unix_micros(col("window.start")).as("wstart"),
          col("n"), col("s"))
        .orderBy("k", "wstart")
        .as[(String, Long, Long, Double)].collect().toSeq

      // sliced: tumbling at step in-stream, hops composed from partials
      val memS = MemoryStream[KeyedEvent](spark)
      memS.addData(events.take(200): _*)
      memS.addData(events.drop(200): _*)
      val sl = Streams.tumblingAgg(memS.toDF(), Seq("k"), stepS, "0 seconds",
        "n" -> count(lit(1)), "sv" -> graft.queries.Q.dsum(col("v")))
      val name = s"hop_sliced_$widthUs"
      val sq = sl.writeStream.queryName(name).format("memory")
        .outputMode("append").start()
      val wm = try { sq.processAllAvailable(); SlicedHopping.finalWatermarkUs(sq) }
        finally sq.stop()
      val got = SlicedHopping.compose(spark.table(name), Seq("k"),
          widthUs, stepUs, wm,
          "n" -> sum(col("n")), "s" -> sum(col("sv")).cast("double"))
        .select(col("k"), col("wstart"), col("n"), col("s"))
        .orderBy("k", "wstart")
        .as[(String, Long, Long, Double)].collect().toSeq

      withClue(s"width=$widthS step=$stepS: ") { got shouldBe want }
    }
  }

  test("streaming next-fit packing: arrival-order reference parity and " +
    "open bins continuing across micro-batches with O(1) state") {
    // 3 shards x 60 items, hash-derived lengths; batch split mid-shard so
    // open bins MUST carry fill across the boundary
    val items = (0 until 60).map { i =>
      PackItem(i % 3, i.toLong, 10 + (i * 37) % 91)
    }
    val mem = MemoryStream[PackItem](spark)
    mem.addData(items.take(25): _*)
    mem.addData(items.slice(25, 40): _*)
    mem.addData(items.drop(40): _*)
    runToCompletion(
      StreamPacking.nextFit(mem.toDS(), capacity = 128)
        .writeStream.outputMode("append"), "streampack")
    val streamed = spark.table("streampack")
      .orderBy("shard", "id").as[PackAssigned].collect().toSeq

    // single-node arrival-order next-fit reference per shard
    val ref = items.groupBy(_.shard).toSeq.flatMap { case (shard, its) =>
      var bin = 0L; var fill = 0
      its.sortBy(_.id).map { i =>
        if (fill + i.len > 128) { bin += 1; fill = 0 }
        val a = PackAssigned(shard, bin, i.id, i.len, fill)
        fill += i.len
        a
      }
    }.sortBy(a => (a.shard, a.id))
    streamed shouldBe ref

    // the split landed mid-bin: at least one bin holds items from two
    // different micro-batches (ids straddling the 25/40 boundaries)
    val straddling = streamed.groupBy(a => (a.shard, a.bin)).values.count {
      bin => bin.exists(_.id < 25) && bin.exists(_.id >= 25)
    }
    straddling should be >= 1
  }
}
