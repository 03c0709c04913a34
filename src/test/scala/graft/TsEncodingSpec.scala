package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Events `ts`-encoding parity (VERDICT r4 #8): the harness fixture has
  * shipped `ts` as BOTH int64 epoch-nanos (r1-r3) and timestamp[us] (r4+).
  * `Tables.tsUsExpr` is the single normalization point for batch AND
  * streaming sources; these tests write the same logical events under both
  * physical encodings and assert every reader path produces identical
  * epoch-µs output — a future fixture flip cannot silently fork batch vs
  * streaming behavior again.
  */
class TsEncodingSpec extends SparkSpec {

  // tiny logical fixture: (event_id, µs instant, user_id, type, value, props)
  private val logical = Seq(
    (1L, 1700000000000000L, 7L, "view", 1.5, "{}"),
    (2L, 1700000000500000L, 7L, "error", 2.5, "{}"),
    (3L, 1700000001000000L, 9L, "view", 3.5, "{}"),
    (4L, 1700000001000001L, 9L, "click", 4.5, "{}")
  )

  /** Write the fixture as `events.parquet` under a fresh dir with the given
    * encoding; returns the dir (the Tables/readStream layout).
    */
  private def writeFixture(encoding: String): String = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft_tsenc_$encoding").toString
    val base = logical.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val df = encoding match {
      case "ns_long" => base.withColumn("ts", col("us") * 1000)
      case "ts_us"   => base.withColumn("ts", timestamp_micros(col("us")))
      case "ts_ntz"  => base.withColumn("ts",
        timestamp_micros(col("us")).cast("timestamp_ntz"))
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$root/events.parquet")
    root
  }

  test("Tables.events normalizes ts to identical epoch-µs longs under " +
    "ns-long, timestamp, and timestamp_ntz encodings") {
    val outs = Seq("ns_long", "ts_us", "ts_ntz").map { enc =>
      val dir = writeFixture(enc)
      val rows = graft.core.Tables.events(spark, dir)
        .select("event_id", "ts", "seq").orderBy("event_id").collect()
      enc -> rows
    }
    val expected = logical.map(r => (r._1, r._2, r._1))
    outs.foreach { case (enc, rows) =>
      withClue(s"encoding=$enc: ") {
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq shouldBe expected
      }
    }
  }

  test("the streaming events source path (readStream + tsUsExpr on the " +
    "runtime schema) matches batch under both fixture encodings") {
    for (enc <- Seq("ns_long", "ts_us")) {
      val dir = writeFixture(enc)
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      // the shape of the 13 catalog readStream sites (the fixture here is
      // a directory, so no pathGlobFilter; tsUsExpr-on-runtime-schema is
      // the contract under test)
      val src = spark.readStream.schema(schema)
        .parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          graft.core.Tables.tsUsExpr(schema).as("ts"),
          col("user_id"), col("value"))
      val name = "tsenc_" + enc + "_" + System.nanoTime()
      val q = src.writeStream.queryName(name).format("memory")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name)
        .select("event_id", "ts").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      withClue(s"encoding=$enc: ") {
        got shouldBe logical.map(r => (r._1, r._2))
      }
      spark.catalog.dropTempView(name)
    }
  }

  test("Preflight.check accepts the current fixture and fails ONCE, " +
    "loudly, on a deliberately re-typed column") {
    // the real fixture passes
    graft.core.Preflight.check(spark, "/root/testdata/sf0.001")
    // a scratch dir with events.value re-typed to string must produce the
    // single canary failure naming table/column/type
    val root = Files.createTempDirectory("graft_preflight").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")) {
      val src = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      src.limit(5).write.parquet(s"$root/$t.parquet")
    }
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .limit(5)
      .withColumn("value", col("value").cast("string"))
      .write.parquet(s"$root/events.parquet")
    val e = intercept[IllegalStateException] {
      graft.core.Preflight.check(spark, root)
    }
    e.getMessage should include("events.value")
    e.getMessage should include("expected double")
  }

  test("Preflight fails loudly when int64 ts is epoch-MICROS, not nanos " +
    "(the silent-1000x-shrink canary, ADVICE r5)") {
    import spark.implicits._
    // schema-legal (ts: int64) but magnitude-wrong: epoch-µs values are
    // ~1.7e15, far below the >= 1e17 nanos floor — Tables.tsUsExpr's
    // `div 1000` would silently shrink every timestamp 1000x
    val root = Files.createTempDirectory("graft_preflight_us").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")) {
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(5).write.parquet(s"$root/$t.parquet")
    }
    logical.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$root/events.parquet")
    val e = intercept[IllegalStateException] {
      graft.core.Preflight.check(spark, root)
    }
    e.getMessage should include("epoch-nanos")
    // and the genuine ns-long encoding still passes the magnitude canary
    val okRoot = writeFixture("ns_long")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")) {
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(5).write.parquet(s"$okRoot/$t.parquet")
    }
    graft.core.Preflight.check(spark, okRoot)
  }
}
