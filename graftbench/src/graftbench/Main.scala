package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.Tables
import graft.queries.{Q, StreamFixtures, StreamHarness}
import graft.streaming._

/** One benchmark run in one fresh JVM: build the session, register the
  * inputs, then run a fixed-work schedule of passes (one cold pass, a
  * fixed number of untimed warm-up passes, a fixed number of measured
  * passes) and write the raw measurements to `<out>/raw.json`.
  *
  * Arguments (all `--key value`): `workload`, `data` (input directory),
  * `out` (run directory), `cores`, `warmup`, `measured` and `trace` (0|1).
  * The cold pass writes every output for the oracle check.
  *
  * With `trace 1` every second measured pass is traced (untraced, traced,
  * untraced for three): a traced pass records spans and Spark listener
  * totals, and its wall against the untraced ones around it gives the
  * tracing overhead, the warm-up step between passes cancelling to first
  * order.
  */
object Main {

  val BatchQueries = Seq(
    "ev_slice_count", "ev_slice_time", "ev_slice_hopping", "ev_slice_trigger_after",
    "ev_window_scan", "ev_asof_take", "ev_join_zip", "ev_bind_bucket", "ev_ewma",
    "ev_fold_all")

  /** A streaming operator drained over the feed: its input projection and
    * operator, the projection of its sink table onto the output shape of
    * its catalog twin, and that twin's name (whose oracle checks it).
    * `emitted` narrows the twin's oracle to the rows an append-mode sink
    * has emitted by the end of the feed. */
  final case class Drain(
      name: String,
      twin: String,
      build: DataFrame => DataFrame,
      post: DataFrame => DataFrame,
      rocksDb: Boolean = false,
      emitted: Option[String] = None) {
    def oracle: String = {
      val sql = SparkEntry.oracleSql(twin)
      emitted.fold(sql)(w => s"SELECT * FROM ($sql) WHERE $w")
    }
  }

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def drains(spark: SparkSession, schema: StructType): Seq[Drain] = {
    import spark.implicits._
    val ts = Tables.tsUsExpr(schema).as("ts")
    def keyed(src: DataFrame) =
      src.select(col("user_id").cast("string").as("k"), ts, col("event_id").as("seq"),
        col("value").as("v")).as[KeyedEvent]
    def gated(src: DataFrame, gate: org.apache.spark.sql.Column) =
      src.select(col("user_id").cast("string").as("k"), ts, col("event_id").as("seq"),
        col("value").as("v"), gate.as("gate")).as[GatedEvent]
    def buckets(id: String)(t: DataFrame) =
      t.select(col("k").cast("long").as("user_id"), col("windowId").as(id), col("n"),
        col("sum").cast("decimal(38,6)").cast("double").as("sum_value"))
    Seq(
      Drain("CountSlices", "stream_count_slices",
        src => CountSlices(keyed(src), 10).toDF(), buckets("window_id")),
      Drain("TriggerSlices", "stream_trigger_slices",
        src => TriggerSlices.tagged(gated(src, col("event_type") === "error")).toDF(),
        buckets("window_id")),
      Drain("GatedWindows", "stream_gated_windows",
        src => GatedWindows(gated(src, col("value") >= 50)).toDF(),
        buckets("session_id")),
      Drain("TakeJoin", "stream_take_join",
        src => TakeJoin(src.filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id").cast("string").as("k"), ts, col("event_id").as("seq"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
            col("value").as("v")).as[ZipEvent]).toDF(),
        t => t.select(col("k").cast("long").as("user_id"), col("ts"),
          col("left").as("p_val"), col("right").as("c_val"))),
      Drain("tumblingAgg", "stream_tumbling",
        src => Streams.tumblingAgg(src.select(col("user_id"), ts, col("value")),
          Seq("user_id"), "1 day", "0 seconds",
          "n" -> count(lit(1)), "sum_value" -> Q.dsumD(col("value"))),
        t => t.select(col("user_id"), unix_micros(col("window.start")).as("wstart"),
          col("n"), col("sum_value")),
        // append mode with a 0 s delay emits a day once the watermark (the
        // feed's latest event time) reaches its end
        emitted = Some("wstart + 86400000000 <= (SELECT max(epoch_us(ts)) FROM events)")),
      Drain("EwmaScan", "stream_ewma",
        src => EwmaScan(keyed(src), 0.25).toDF(),
        t => EwmaScan.exploded(t).groupBy(col("k"))
          .agg(max_by(col("ewma"), struct(col("ts"), col("seq"))).as("ewma"))
          .select(col("k").cast("long").as("user_id"), col("ewma")),
        rocksDb = true))
  }

  /** Exit explicitly: a failure must not leave the JVM waiting on Spark's
    * non-daemon threads. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val dataDir = a("data")
    val out = a("out")
    val cores = a("cores").toInt
    val warmup = a("warmup").toInt
    val measured = a("measured").toInt
    val traceRun = a.get("trace").contains("1")
    require(Seq("batch_history", "stream_drain").contains(workload),
      s"unknown workload $workload")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[LocalNioCheckpointFileManager].getName)
      .config("spark.sql.streaming.checkpointLocation", s"$out/ckpt/catalog")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // keep the status store's history of finished jobs, stages and SQL
      // executions short: its asynchronous trimming otherwise makes the live
      // heap at the end of a run depend on timing, not on the program
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      // the state store's maintenance task unloads the providers of stopped
      // queries on a timer; at the default 60 s it fires during some runs
      // and not others, which makes both a pass time and the live heap
      // depend on the run's speed, so it never fires within a run
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    // register the inputs: the parquet schemas every query reads
    val feedDir = s"$dataDir/feed"
    val inputSchema =
      if (workload == "stream_drain") Tables.cachedSchema(spark, feedDir)
      else Tables.cachedSchema(spark, Tables.path(dataDir, "events"))
    val setupDoneMs = System.currentTimeMillis()

    val env = Map(
      "cores" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(x => x.startsWith("-Xm") || x.startsWith("-XX:")).toSeq,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)

    val tracer = new Tracer
    val totals = new SparkTotals
    val streamLog = new StreamLog
    if (traceRun) sc.addSparkListener(totals)
    if (workload != "batch_history") spark.streams.addListener(streamLog)
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val failures = Seq.newBuilder[Map[String, Any]]

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
    }

    def fail(pass: Int, op: String, e: Throwable): Map[String, Any] = {
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
      System.err.println(s"[graftbench] pass $pass $op failed: $msg")
      failures += Map("pass" -> pass, "op" -> op, "error" -> msg)
      Map("name" -> op, "ok" -> false)
    }

    /** A catalog query: call, (traced: force the physical plan), then
      * materialize every row into the noop sink, or into parquet on the
      * cold pass, which is checked. */
    def catalogOp(pass: Int, name: String, check: Boolean): Map[String, Any] = {
      val fn = SparkEntry.queries(name)
      streamLog.label = name
      try tracer.span("query:" + name) {
        val t0 = System.nanoTime()
        sc.setLocalProperty("graftbench.phase", "build")
        val df = tracer.span("build")(fn(spark, dataDir))
        val t1 = System.nanoTime()
        if (tracer.enabled) tracer.span("plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        sc.setLocalProperty("graftbench.phase", "action")
        tracer.span("action") {
          if (check) df.write.mode("overwrite").parquet(s"$out/check/$name")
          else df.write.format("noop").mode("overwrite").save()
        }
        val t3 = System.nanoTime()
        Map("name" -> name, "ok" -> true, "wall_s" -> (t3 - t0) / 1e9,
          "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
          "action_s" -> (t3 - t2) / 1e9)
      } catch { case e: Throwable => fail(pass, name, e) }
      finally {
        sc.setLocalProperty("graftbench.phase", null)
        cleanup()
      }
    }

    val drainOps = if (workload == "stream_drain") drains(spark, inputSchema) else Nil

    /** One long-lived query drains the whole feed, one file per trigger,
      * into the noop sink, or into the memory sink on the cold pass, which
      * is checked. */
    def drainOp(pass: Int, d: Drain, check: Boolean): Map[String, Any] = {
      streamLog.label = d.name
      val key = "spark.sql.streaming.stateStore.providerClass"
      try tracer.span("drain:" + d.name) {
        val t0 = System.nanoTime()
        StreamHarness.withShufflePartitions(spark, StreamHarness.StreamPartitions) {
          if (d.rocksDb) spark.conf.set(key, RocksDb)
          try {
            val src = spark.readStream.schema(inputSchema)
              .option("maxFilesPerTrigger", "1").parquet(feedDir)
            val sinkName = s"drain_${d.name}_$pass"
            val w = d.build(src).writeStream
              .option("checkpointLocation", s"$out/ckpt/drain/p${pass}_${d.name}")
              .outputMode("append")
            val q = tracer.span("start") {
              if (check) w.format("memory").queryName(sinkName).start()
              else w.format("noop").start()
            }
            try tracer.span("processAllAvailable")(q.processAllAvailable())
            finally tracer.span("stop")(q.stop())
            val t1 = System.nanoTime()
            if (check) d.post(spark.table(sinkName)).write.mode("overwrite")
              .parquet(s"$out/check/${d.name}")
            Map("name" -> d.name, "ok" -> true, "wall_s" -> (t1 - t0) / 1e9)
          } finally if (d.rocksDb) spark.conf.unset(key)
        }
      } catch { case e: Throwable => fail(pass, d.name, e) }
      finally cleanup()
    }

    def dirStats(root: Path): (Long, Long) =
      if (!Files.exists(root)) (0L, 0L)
      else {
        val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      }

    def runPass(idx: Int, phase: String, traced: Boolean, check: Boolean): Map[String, Any] = {
      tracer.enabled = traced
      tracer.traceId = idx
      totals.pass = idx
      totals.enabled = traced
      streamLog.pass = idx
      System.err.println(s"[graftbench] pass $idx $phase${if (traced) " traced" else ""}")
      val cpu0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      val ops = tracer.span("pass") {
        if (workload == "batch_history") BatchQueries.map(catalogOp(idx, _, check))
        else drainOps.map(drainOp(idx, _, check))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      if (traced) totals.awaitQuiet()
      val ckptRoot = Paths.get(out, "ckpt")
      val (ckptFiles, ckptBytes) = dirStats(ckptRoot)
      if (Files.exists(ckptRoot)) StreamFixtures.deleteRecursively(ckptRoot.toString)
      Map("idx" -> idx, "phase" -> phase, "traced" -> traced, "check" -> check,
        "wall_s" -> wall, "cpu_s" -> cpuS, "ops" -> ops,
        "ckpt_files" -> ckptFiles, "ckpt_bytes" -> ckptBytes,
        "spark" -> (if (traced) totals.report(idx) else Map.empty))
    }

    // the fixed-work schedule: never shortened or stretched by elapsed time
    val schedule =
      Seq(("cold", false)) ++ Seq.fill(warmup)(("warmup", false)) ++
        (0 until measured).map(i => ("measured", traceRun && i % 2 == 1))
    val passes = schedule.zipWithIndex.map { case ((phase, traced), i) =>
      runPass(i, phase, traced, check = i == 0)
    }
    tracer.enabled = false
    totals.enabled = false

    // live heap after a forced full GC, with the session still up; the
    // pauses let Spark's cleaner threads release what the first GC freed
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    streamLog.awaitQuiet()

    val oracle: Map[String, String] =
      if (workload == "batch_history") BatchQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap
      else drainOps.map(d => d.name -> d.oracle).toMap
    write(s"$out/raw.json", Map(
      "workload" -> workload,
      "setup_done_ms" -> setupDoneMs,
      "env" -> env,
      "schedule" -> Map("cold" -> 1, "warmup" -> warmup, "measured" -> measured,
        "trace" -> traceRun),
      "passes" -> passes,
      "heap_live_bytes" -> heapLive,
      "failures" -> failures.result(),
      "oracle" -> oracle,
      "twins" -> drainOps.map(d => d.name -> d.twin).toMap,
      "queries" -> streamLog.records))
    if (traceRun) write(s"$out/spans.json", tracer.records)
    spark.stop()
  }

  private def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, Json.write(v))
  }
}
