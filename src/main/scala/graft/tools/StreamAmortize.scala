package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{Q, StreamFixtures, StreamHarness}

/** Measured streaming AMORTIZATION (VERDICT r14 #2): SCALE.md's claim
  * that the fixed per-JOB machinery cost (query start, plan, codegen,
  * first state-store open) "amortizes to zero in a continuous
  * deployment" was an argument, not a measurement. This main measures
  * it: for each heavy stateful family (session_window, scd2, sliding)
  * it starts ONE long-running streaming query and feeds K sequential
  * batch drops through it — the marginal wall per drop IS the
  * steady-state deployment cost, and the first-drop wall minus the
  * marginal IS the fixed per-JOB term.
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g sbt -batch "runMain graft.tools.StreamAmortize <sfDir> [K]"
  *
  * Drops are time-ordered (each drop covers a later event-time range),
  * so the 0-second watermark advances monotonically batch-over-batch:
  * old sessions/slices finalize and DRAIN each batch exactly as a live
  * keyed topic would drive them — state stays bounded by the active
  * time range, never the corpus. Drop preparation is untimed (a
  * deployment's producer writes the topic; only consumption is the
  * operator's cost).
  *
  * Emits one JSON line {"k":K,"families":{name:{"first":s,
  * "marginal":[...],"marginal_median":s,"marginal_mean":s}}} and writes
  * STREAM_AMORTIZE.json. The duck-equivalent comparison (oracle wall /
  * K vs marginal median) is composed in SCALE.md from this artifact
  * plus the same-fixture duck_bench walls — the legs never run
  * concurrently with this main (bench noise rules apply).
  */
object StreamAmortize {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    require(k >= 2, "need K >= 2 drops for a marginal measurement")
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val results = Seq(
      "stream_ingest_floor" -> measureFloor(spark, sfDir, k),
      "stream_session_window" -> measureSession(spark, sfDir, k),
      "stream_scd2" -> measureScd2(spark, sfDir, k),
      "stream_sliding" -> measureSliding(spark, sfDir, k))

    val fam = results.map { case (name, walls) =>
      val first = walls.head
      val marg = walls.tail
      val sortedM = marg.sorted
      val median =
        if (sortedM.size % 2 == 1) sortedM(sortedM.size / 2)
        else (sortedM(sortedM.size / 2 - 1) + sortedM(sortedM.size / 2)) / 2
      val mean = marg.sum / marg.size
      f""""$name":{"first":$first%.3f,"marginal":[${marg.map(w => f"$w%.3f").mkString(",")}],"marginal_median":$median%.3f,"marginal_mean":$mean%.3f}"""
    }.mkString("{", ",", "}")
    val json = s"""{"k":$k,"sf":"$sfDir","families":$fam}"""
    Files.writeString(Paths.get("STREAM_AMORTIZE.json"), json)
    spark.stop()
    System.out.flush()
    println(json)
  }

  /** Write K time-ordered drops of `df` (sliced on `tsCol`, already
    * epoch-µs) under droproot/d1..dK, each hash-partitioned by
    * `keyCol` into a few files (the keyed-topic shape). Returns the
    * drop root. Boundaries are linear in the [min,max] time range —
    * the fixture's event times are near-uniform, and exact drop-size
    * balance is irrelevant to a marginal-cost measurement.
    */
  private def writeDrops(df: DataFrame, tsCol: String, keyCol: String,
      k: Int): String = {
    val root = StreamFixtures.scratchDir("graft_amortize_")
    val Array(lo, hi) = df.agg(min(col(tsCol)), max(col(tsCol)))
      .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
    val span = math.max(1L, hi - lo + 1)
    (1 to k).foreach { i =>
      val from = lo + span * (i - 1) / k
      val until = if (i == k) hi + 1 else lo + span * i / k
      df.filter(col(tsCol) >= from && col(tsCol) < until)
        .repartition(8, col(keyCol))
        .write.mode("overwrite").parquet(s"$root/d$i")
      // drop Spark's _SUCCESS etc so feed()'s *.parquet filter is the
      // only listing rule that matters
    }
    root
  }

  /** Feed drop i and block until the stream has fully processed it;
    * returns the wall. The FIRST call is made with the query already
    * started on an empty source — its wall carries the fixed per-JOB
    * term (initial plan/codegen/state-store open) plus one drop's work.
    */
  private def timedDrops(root: String, srcDir: String, k: Int,
      sq: org.apache.spark.sql.streaming.StreamingQuery): Seq[Double] =
    (1 to k).map { i =>
      val t0 = System.nanoTime()
      StreamFixtures.feed(root, s"d$i", srcDir)
      sq.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }

  /** The per-BATCH machinery floor: the same event drops through a
    * stateless passthrough (read every row, emit every row — the
    * stream_ingest_floor shape). Its MARGINAL is the per-drop toll
    * every stateful family pays before its operator does any work
    * (source listing, offset/commit log, state-commit scaffolding,
    * memory-sink append) — measured under the identical drop protocol,
    * so the stateful marginals decompose as floor + operator work.
    */
  private def measureFloor(s: SparkSession, dir: String, k: Int): Seq[Double] =
    StreamHarness.withShufflePartitions(s, StreamHarness.wideStreamPartitions(s)) {
      val ev = graft.core.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          graft.core.Tables.tsUsExpr(
            s.read.parquet(s"$dir/events.parquet").schema).as("tsu"))
      val root = writeDrops(ev, "tsu", "user_id", k)
      val srcDir = StreamFixtures.scratchDir("graft_amz_fl_src_")
      try {
        val schema = s.read.parquet(s"$root/d1").schema
        StreamHarness.withSplitPerFile(s) {
          val src = s.readStream.schema(schema).parquet(srcDir)
            .select(col("event_id"), col("user_id"), col("value"))
          val name = "amz_fl_" + System.nanoTime()
          val sq = src.writeStream.queryName(name).format("memory")
            .outputMode("append").start()
          try timedDrops(root, srcDir, k, sq) finally sq.stop()
        }
      } finally {
        StreamFixtures.deleteRecursively(srcDir)
        StreamFixtures.deleteRecursively(root)
      }
    }

  private def measureSession(s: SparkSession, dir: String, k: Int): Seq[Double] =
    StreamHarness.withShufflePartitions(s, StreamHarness.wideStreamPartitions(s)) {
      s.conf.set(
        "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
        "true")
      val ev = graft.core.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          graft.core.Tables.tsUsExpr(
            s.read.parquet(s"$dir/events.parquet").schema).as("tsu"))
      val root = writeDrops(ev, "tsu", "user_id", k)
      val srcDir = StreamFixtures.scratchDir("graft_amz_sw_src_")
      try {
        val schema = s.read.parquet(s"$root/d1").schema
        StreamHarness.withSplitPerFile(s) {
          val src = s.readStream.schema(schema).parquet(srcDir)
            .withColumn("event_time", timestamp_micros(col("tsu")))
            .withWatermark("event_time", "0 seconds")
          val agg = src
            .groupBy(col("user_id"), session_window(col("event_time"), "1 hour"))
            .agg(count(lit(1)).as("n"), Q.dsumD(col("value")).as("sum_value"))
          val name = "amz_sw_" + System.nanoTime()
          val sq = agg.writeStream.queryName(name).format("memory")
            .outputMode("append").start()
          try timedDrops(root, srcDir, k, sq) finally sq.stop()
        }
      } finally {
        s.conf.unset(
          "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition")
        StreamFixtures.deleteRecursively(srcDir)
        StreamFixtures.deleteRecursively(root)
      }
    }

  private def measureScd2(s: SparkSession, dir: String, k: Int): Seq[Double] =
    StreamHarness.withShufflePartitions(s, StreamHarness.wideStreamPartitions(s)) {
      import s.implicits._
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").cast("string").as("k"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
          col("o_orderkey").as("seq"),
          col("o_orderpriority").as("value"))
      val root = writeDrops(ord, "ts", "k", k)
      val srcDir = StreamFixtures.scratchDir("graft_amz_scd_src_")
      try {
        val schema = s.read.parquet(s"$root/d1").schema
        StreamHarness.withSplitPerFile(s) {
          val src = s.readStream.schema(schema).parquet(srcDir)
            .as[graft.streaming.ScdEvent]
          val name = "amz_scd_" + System.nanoTime()
          val sq = graft.streaming.ScdCompact(src)
            .writeStream.queryName(name).format("memory")
            .outputMode("append").start()
          try timedDrops(root, srcDir, k, sq) finally sq.stop()
        }
      } finally {
        StreamFixtures.deleteRecursively(srcDir)
        StreamFixtures.deleteRecursively(root)
      }
    }

  private def measureSliding(s: SparkSession, dir: String, k: Int): Seq[Double] =
    StreamHarness.withShufflePartitions(s, StreamHarness.CatalogStreamPartitions) {
      val ev = graft.core.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          graft.core.Tables.tsUsExpr(
            s.read.parquet(s"$dir/events.parquet").schema).as("ts"))
      val root = writeDrops(ev, "ts", "user_id", k)
      val srcDir = StreamFixtures.scratchDir("graft_amz_sl_src_")
      try {
        val schema = s.read.parquet(s"$root/d1").schema
        StreamHarness.withSplitPerFile(s) {
          val src = s.readStream.schema(schema).parquet(srcDir)
          // the state pass is the deployment-marginal cost; the
          // post-sink hop composition is a slice-sized batch job the
          // catalog entry measures separately
          val agg = graft.streaming.Streams.tumblingAgg(
            src, Seq("user_id"), "1 hour", "0 seconds",
            "n" -> count(lit(1)), "sv" -> Q.dsum(col("value")))
          val name = "amz_sl_" + System.nanoTime()
          val sq = agg.writeStream.queryName(name).format("memory")
            .outputMode("append").start()
          try timedDrops(root, srcDir, k, sq) finally sq.stop()
        }
      } finally {
        StreamFixtures.deleteRecursively(srcDir)
        StreamFixtures.deleteRecursively(root)
      }
    }
}
