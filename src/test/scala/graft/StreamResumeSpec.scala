package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.queries.StreamHarness
import graft.streaming.{CountSlices, KeyedEvent}

/** Checkpoint-recovery contract for the stateful streaming operators
  * (driver query `stream_checkpoint_resume` proves equivalence against the
  * DuckDB oracle; this spec pins the part the oracle can't see — that the
  * restart REALLY splits the work and the straddling bucket is closed from
  * restored state, not recomputed from scratch).
  *
  * Fixture: 3 keys × 25 events, count-10 slices, cut after event 15.
  * Incarnation 1 must emit exactly bucket 0 per key (10 events) and park 5;
  * incarnation 2 must close bucket 1 per key, whose 10 events span the cut
  * (5 before, 5 after) — its sum is only correct if the 5 parked events'
  * partial state survived the restart.
  */
class StreamResumeSpec extends SparkSpec {

  /** Run the count-slice fixture over two incarnations, the first at
    * `first` state partitions and the second at `second` (None: the
    * session's count), and check the emissions after each: the state
    * partition counts the second incarnation's triggers reported. */
  private def countSliceResume(first: Option[Int], second: Option[Int]): Set[Long] = {
    val s = spark
    import s.implicits._

    val keys = Seq("a", "b", "c")
    val all = for (k <- keys; i <- 0 until 25)
      yield KeyedEvent(k, 1000L * (i + 1), i.toLong, (i + 1).toDouble)

    val root = Files.createTempDirectory("graft_resume_spec_").toString
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    all.filter(_.seq < 15).toDS().coalesce(1).write.parquet(s"$root/h1")
    all.filter(_.seq >= 15).toDS().coalesce(1).write.parquet(s"$root/h2")

    def feed(half: String): Unit =
      Files.list(Paths.get(s"$root/$half")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p,
          Paths.get(srcDir, half + "_" + p.getFileName.toString)))

    def incarnation(partitions: Option[Int]): Set[Long] = {
      def run(): Set[Long] = {
        val in = s.readStream.schema(implicitly[org.apache.spark.sql.Encoder[KeyedEvent]].schema)
          .parquet(srcDir).as[KeyedEvent]
        val q = CountSlices(in, 10)
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        q.recentProgress.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
      }
      partitions.fold(run())(n => StreamHarness.withShufflePartitions(s, n)(run()))
    }

    try {
      feed("h1"); incarnation(first)
      val afterRun1 = s.read.parquet(s"$root/out")
        .select("k", "windowId", "n", "sum").collect()
      // run 1 saw 15 events/key: exactly bucket 0 closed, 5 events parked
      afterRun1.length shouldBe 3
      afterRun1.map(_.getLong(1)).toSet shouldBe Set(0L)

      feed("h2")
      val layout = incarnation(second)
      val finalRows = s.read.parquet(s"$root/out")
        .select("k", "windowId", "n", "sum").collect()
      finalRows.length shouldBe 6 // exactly-once: no re-emission of bucket 0
      // bucket 1 spans the cut: events 11..20 → sum 11+…+20 = 155. Correct
      // only if the 5 pre-cut events' partial state was restored.
      finalRows.filter(_.getLong(1) == 1L).foreach { r =>
        r.getLong(2) shouldBe 10L
        r.getDouble(3) shouldBe 155.0
      }
      layout
    } finally Files.walk(Paths.get(root)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }

  test("count-slice state survives a query restart; straddling bucket closes exactly-once") {
    countSliceResume(None, None)
  }

  test("a checkpoint written at 4 state partitions resumes at 4 under the default count") {
    // Spark restores the count from the offset log, so a checkpoint of an
    // older default keeps its layout and its state
    countSliceResume(Some(4), Some(StreamHarness.StreamPartitions)) shouldBe Set(4L)
  }

  test("EWMA value-state survives a restart (RocksDB state)") {
    // Same two-incarnation harness, the OTHER state backend: EwmaScan runs
    // on the same KeyedFold runner as CountSlices, here on the RocksDB
    // provider. The post-restart emissions depend on the pre-restart
    // running value — bit-exact equality with a driver-side fold proves
    // the per-key state round-tripped.
    val s = spark
    import s.implicits._
    val lambda = 0.25
    val all = for (i <- 0 until 20)
      yield KeyedEvent("a", 1000L * (i + 1), i.toLong, (i % 7 + 1).toDouble)

    val root = Files.createTempDirectory("graft_ewma_resume_").toString
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    all.filter(_.seq < 10).toDS().coalesce(1).write.parquet(s"$root/h1")
    all.filter(_.seq >= 10).toDS().coalesce(1).write.parquet(s"$root/h2")
    def feed(half: String): Unit =
      Files.list(Paths.get(s"$root/$half")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p,
          Paths.get(srcDir, half + "_" + p.getFileName.toString)))

    def incarnation(): Unit = {
      val in = s.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[KeyedEvent]].schema)
        .parquet(srcDir).as[KeyedEvent]
      val q = graft.streaming.EwmaScan(in, lambda)
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    graft.queries.StreamHarness.withConf(s,
      "spark.sql.streaming.stateStore.providerClass" ->
        graft.queries.StreamHarness.RocksDbProvider) {
      feed("h1"); incarnation()
      feed("h2"); incarnation()
    }

    val got = graft.streaming.EwmaScan.exploded(s.read.parquet(s"$root/out"))
      .orderBy("seq").select("seq", "ewma").as[(Long, Double)].collect().toSeq
    val expect = all.map(_.v)
      .scanLeft(Option.empty[Double]) {
        case (None, v) => Some(v)
        case (Some(prev), v) => Some(lambda * v + (1 - lambda) * prev)
      }.tail.map(_.get).zipWithIndex.map { case (e, i) => (i.toLong, e) }
    got shouldBe expect // bit-exact: event 10's ewma folds event 9's state

    Files.walk(Paths.get(root)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }

  test("streaming packer bin state survives a restart; the straddling bin " +
    "continues from restored fill") {
    val s = spark
    import s.implicits._
    import graft.streaming.{PackItem, PackAssigned, StreamPacking}

    // one shard, lens chosen so the cut at id 5 lands MID-BIN: capacity
    // 100, lens 30 each -> bin holds 3 items; ids 0..4 = bin0(0,1,2) +
    // bin1(3,4 open, fill 60); ids 5..8 continue bin1(5) then bin2(6,7,8)
    val all = (0 until 9).map(i => PackItem(0, i.toLong, 30))
    val root = Files.createTempDirectory("graft_pack_resume_").toString
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    all.filter(_.id < 5).toDS().coalesce(1).write.parquet(s"$root/h1")
    all.filter(_.id >= 5).toDS().coalesce(1).write.parquet(s"$root/h2")
    def feed(half: String): Unit =
      Files.list(Paths.get(s"$root/$half")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p,
          Paths.get(srcDir, half + "_" + p.getFileName.toString)))

    def incarnation(): Unit = {
      val in = s.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[PackItem]].schema)
        .parquet(srcDir).as[PackItem]
      val q = StreamPacking.nextFit(in, capacity = 100)
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    feed("h1"); incarnation()
    feed("h2"); incarnation()
    val rows = s.read.parquet(s"$root/out")
      .as[PackAssigned].collect().sortBy(_.id)
    // exactly-once: every item assigned once
    rows.map(_.id).toSeq shouldBe (0L until 9L)
    // the straddling bin: item 5 (first post-restart) must land in bin 1
    // at start 60 - only possible if (bin=1, fill=60) was RESTORED, not
    // reset (a reset would open bin 1 at fill 0 or restart bin ids)
    val item5 = rows.find(_.id == 5L).get
    item5.bin shouldBe 1L
    item5.start shouldBe 60
    // and the full assignment equals the single-fold reference
    val ref = {
      var bin = 0L; var fill = 0
      all.map { i =>
        if (fill + i.len > 100) { bin += 1; fill = 0 }
        val a = PackAssigned(0, bin, i.id, i.len, fill)
        fill += i.len
        a
      }
    }
    rows.toSeq shouldBe ref

    Files.walk(Paths.get(root)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }
}
