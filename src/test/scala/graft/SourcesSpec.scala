package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.Sources

/** Source-surface goldens (SURVEY §2.1): IteratorEvents/Timer/asVector/
  * keyToStream analogs.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("fromSeq lifts a sequence with the (value, index) => ts contract") {
    val s = Sources.fromSeq[Int](spark, Seq(5, 6, 7), (_, i) => i * 10L)
    s.df.orderBy("seq").select("ts", "seq", "v")
      .as[(Long, Long, Int)].collect().toSeq shouldBe
      Seq((0L, 0L, 5), (10L, 1L, 6), (20L, 2L, 7))
  }

  test("timeGrid generates the periodic event grid distributively") {
    Sources.timeGrid(spark, 100L, 160L, 20L)
      .df.orderBy("seq").select("ts").as[Long].collect().toSeq shouldBe
      Seq(100L, 120L, 140L)
  }

  test("timer sampling: grid.take(stream) samples a stream periodically (Timer + sample)") {
    val data = Seq((5L, 0L, 1.0), (25L, 1L, 2.0), (45L, 2L, 3.0)).toDF("ts", "seq", "px")
    val got = Sources.timeGrid(spark, 10L, 60L, 20L)
      .take(EStream(data), Seq("px" -> col("px")))
      .df.orderBy("ts").select("ts", "px").as[(Long, Double)].collect().toSeq
    got shouldBe Seq((10L, 1.0), (30L, 2.0), (50L, 3.0))
  }

  test("asVector: static key universe (EnvTermBuilder.asVector)") {
    Sources.asVector[String](spark, Seq("x", "y"))
      .toKeySet.orderBy("k").as[String].collect().toSeq shouldBe Seq("x", "y")
  }

  test("keyToStream: per-key generated streams unioned at plan time (lazyVect)") {
    val ks = Sources.keyToStream[Int](
      Seq(2, 3),
      k => spark.range(2).select(
        col("id").as("ts"), col("id").as("seq"), (col("id") * k).as("v")))
    ks.reduceAll("s" -> sum(col("v")))
      .orderBy("k").select("k", "s").as[(Int, Long)].collect().toSeq shouldBe
      Seq((2, 2L), (3, 3L))
  }

  test("randomWalk: seeded, reproducible, partitioning-independent (RandomWalkTests parity)") {
    def walk = Sources.randomWalk(spark, Seq("VOD.L", "MSFT.O"), 50, seed = 42L)
    val a = walk.df.orderBy("k", "seq").select("k", "v").as[(String, Double)].collect().toSeq
    val b = walk.df.repartition(7).orderBy("k", "seq").select("k", "v").as[(String, Double)].collect().toSeq
    a shouldBe b // bit-identical across partitionings
    a.size shouldBe 100
    // walks are bounded (50 steps of |step| < 0.5)
    a.map(_._2).foreach(v => math.abs(v) should be < 25.0)
    // different seeds give different walks
    val c = Sources.randomWalk(spark, Seq("VOD.L"), 50, seed = 43L)
      .df.orderBy("seq").select("v").as[Double].collect().toSeq
    c should not be a.filter(_._1 == "VOD.L").map(_._2)
  }

  test("three-source multi-stream goldens: dereference/subset/mapKeys (TestMultiTerms:55-121)") {
    // eventsA: 0..5 @ ts 10i+1, B: 10..15 @ 10i+2, C: 20..25 @ 10i+3
    val ranges = Map("A" -> (0 to 5), "B" -> (10 to 15), "C" -> (20 to 25))
    val phase = Map("A" -> 1L, "B" -> 2L, "C" -> 3L)
    val multi = Sources.keyToStream[String](
      Seq("A", "B", "C"),
      k => ranges(k).zipWithIndex.map { case (v, i) =>
        (10L * i + phase(k), 10L * i + phase(k), v)
      }.toDF("ts", "seq", "v"))

    // dereference single stream from multi (TestMultiTerms:88-94)
    multi("A").df.orderBy("ts").select("v").as[Int].collect().toSeq shouldBe (0 to 5)
    multi("C").df.orderBy("ts").select("v").as[Int].collect().toSeq shouldBe (20 to 25)

    // subset (TestMultiTerms:102-107)
    multi.subset(col("k") === "C")
      .df.orderBy("ts").select("v").as[Int].collect().toSeq shouldBe (20 to 25)

    // mapKeys to lowercase: nothing on old keys, everything on new
    // (TestMultiTerms:109-120)
    val rekeyed = multi.mapKeys(lower(col("k")))
    rekeyed("A").df.count() shouldBe 0L
    rekeyed("b").df.orderBy("ts").select("v").as[Int].collect().toSeq shouldBe (10 to 15)
  }

  test("toValueSet with expand: growing k.1/k.2 set (TestMultiTerms:171-191)") {
    val names = Seq("FOO", "BAR", "BAZ", "FOOBAR").zipWithIndex
      .map { case (n, i) => (i.toLong + 1, i.toLong, n) }.toDF("ts", "seq", "v")
    EStream(names)
      .valueSetExpand(array(concat(col("v"), lit(".1")), concat(col("v"), lit(".2"))))
      .orderBy("v").as[String].collect().toSeq shouldBe
      Seq("BAR.1", "BAR.2", "BAZ.1", "BAZ.2", "FOO.1", "FOO.2", "FOOBAR.1", "FOOBAR.2")
  }

  test("vectorSumAtEachEvent: cross-key snapshot sum via delta trick (mapVector)") {
    // events: (k, ts, v): a=1 @0, b=10 @1, a=3 @2, b=20 @3
    // snapshot sums: 1, 11, 13, 23
    val rows = Seq(("a", 0L, 0L, 1.0), ("b", 1L, 1L, 10.0),
      ("a", 2L, 2L, 3.0), ("b", 3L, 3L, 20.0)).toDF("k", "ts", "seq", "v")
    KStream(rows, Seq("k"))
      .vectorSumAtEachEvent(col("v"))
      .orderBy("seq").select("vec_sum").as[Double].collect().toSeq shouldBe
      Seq(1.0, 11.0, 13.0, 23.0)
  }

  test("keyToStreamDynamic: keys DISCOVERED from data bind generated " +
    "streams in plan space (lazyVect, EnvTermBuilder.scala:73-98)") {
    // key domain comes from a data stream — no driver-side key list
    val observed = Seq((0L, 0L, "GBP", 1.0), (1L, 1L, "JPY", 2.0),
      (2L, 2L, "GBP", 3.0), (5L, 3L, "CHF", 4.0))
      .toDF("ts", "seq", "ccy", "v")
    val keys = KStream(observed, Seq("ccy")).toKeySet
    // generator: per key, 3 deterministic ticks (hash-derived values)
    val gen = (k: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0L), lit(2L)), i =>
        struct((i * 10).as("ts"), i.as("seq"),
          (crc32(concat(k, i)) % 100).as("gv")))
    val generated = graft.sources.Sources.keyToStreamDynamic(keys, "ccy", gen)
    generated.df.count() shouldBe 9 // 3 discovered keys x 3 ticks
    generated.keys shouldBe Seq("ccy")
    // the generated vector joins back onto the observed stream: each
    // observed event as-of samples its key's generated stream
    val sampled = KStream(observed, Seq("ccy"))
      .take(generated, Seq(col("ccy")), Seq("gv" -> col("gv")))
      .df.orderBy("seq")
    sampled.count() shouldBe 4
    // deterministic: the CHF event at ts=5 sees CHF's tick at ts=0
    val chf = sampled.filter(col("ccy") === "CHF").select("gv")
      .as[Long].collect()
    chf.length shouldBe 1
  }

  test("takef: per-event stream-valued attribute dereference " +
    "(MacroTerm.scala:140-142)") {
    // registry: per-ccy fixing stream
    val fixings = KStream(Seq(
      ("GBP", 0L, 0L, 1.25), ("GBP", 10L, 1L, 1.30),
      ("JPY", 0L, 2L, 0.007)).toDF("ccy", "ts", "seq", "fx"), Seq("ccy"))
    // trades name a ccy per event; takef samples that ccy's fixing as-of
    val trades = graft.core.EStream(Seq(
      (5L, 0L, "GBP", 100.0), (12L, 1L, "GBP", 200.0), (6L, 2L, "JPY", 50.0))
      .toDF("ts", "seq", "ccy", "amt"))
    val got = trades.takef(col("ccy"), fixings, Seq("fx" -> col("fx")))
      .df.orderBy("seq").select("fx").as[Double].collect().toSeq
    got shouldBe Seq(1.25, 1.30, 0.007)
  }

  test("tab-separated tick loader: the RealTradeTests trades/quotes format " +
    "(RealTradeTests.scala:53-99) parses via spark.read csv") {
    // the reference's netfonds dump: header line, then
    // time \t price \t size \t [extra cols ignored], yyyyMMdd'T'hhmmss
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv")
    val f = dir.resolve("MSFT.O.tsv")
    java.nio.file.Files.writeString(f,
      "time\tprice\tquantity\tsource\tbuyer\tseller\tinitiator\n" +
        "20131029T100001\t35.31\t100\tAuto\tx\ty\tz\n" +
        "20131029T100002\t35.32\t250\tAuto\tx\ty\tz\n" +
        "20131029T100005\t35.30\t50\tAuto\tx\ty\tz\n")
    val df = spark.read
      .option("sep", "\t").option("header", "true")
      .option("timestampFormat", "yyyyMMdd'T'HHmmss")
      .schema("time TIMESTAMP, price DOUBLE, quantity LONG, " +
        "source STRING, buyer STRING, seller STRING, initiator STRING")
      .csv(f.toString)
      .select(unix_micros(col("time")).as("ts"),
        monotonically_increasing_id().as("seq"), col("price"), col("quantity"))
    val got = df.orderBy("ts")
      .select("price", "quantity").as[(Double, Long)].collect().toSeq
    got shouldBe Seq((35.31, 100L), (35.32, 250L), (35.30, 50L))
    // and it is a regular EStream: running VWAP over the tick file
    val vwap = graft.core.EStream(df)
      .reduceAll("vwap" -> graft.functions.Reducers
        .vwap(col("price"), col("quantity")))
      .as[Double].collect().head
    vwap shouldBe (35.31 * 100 + 35.32 * 250 + 35.30 * 50) / 400.0 +- 1e-9
  }

  test("groupByNested: two-level keys slice independently (VectTerm.groupby)") {
    val rows = Seq(("a", 0L, 0L, 1), ("b", 1L, 1L, 2), ("a", 2L, 2L, 3), ("b", 3L, 3L, 4))
      .toDF("k", "ts", "seq", "v")
    KStream(rows, Seq("k"))
      .groupByNested(pmod(col("v"), lit(2)), "parity")
      .reduceAll("s" -> sum(col("v")))
      .orderBy("parity", "k")
      .select("parity", "k", "s").as[(Int, String, Long)].collect().toSeq shouldBe
      Seq((0, "b", 6L), (1, "a", 4L))
  }

  test("corrupt-tolerant jsonl ingest: malformed lines survive as captured " +
    "records, not task failures (the crawl-ingest contract)") {
    // at 100 TB some fraction of every feed is junk; PERMISSIVE +
    // columnNameOfCorruptRecord is the ingest twin of the multimodal
    // junk-tolerance contract (bad rows quarantine, good rows flow)
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    val f = dir.resolve("feed.jsonl")
    java.nio.file.Files.writeString(f,
      """{"ts": 1, "seq": 1, "v": 10.5}""" + "\n" +
        """{"ts": 2, "seq": 2, "v": 20.25}""" + "\n" +
        """not json at all""" + "\n" +
        """{"ts": "lol", "seq": 4, "v": 1.0}""" + "\n" +
        """{"ts": 5, "seq": 5, "v": 30.0}""" + "\n")
    // Spark disallows corrupt-column-only queries on the raw source —
    // cache the parsed result first (the documented contract)
    val df = spark.read
      .schema("ts LONG, seq LONG, v DOUBLE, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(f.toString)
      .cache()
    val good = df.filter(col("_corrupt").isNull)
    val bad = df.filter(col("_corrupt").isNotNull)
    good.count() shouldBe 3L
    bad.count() shouldBe 2L
    // good rows form a regular EStream
    graft.core.EStream(good.drop("_corrupt"))
      .reduceAll("s" -> sum(col("v")).cast("double"))
      .as[Double].collect().head shouldBe 60.75
  }
}
