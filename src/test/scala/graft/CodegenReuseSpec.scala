package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

import graft.plans.GraftExtensions
import graft.streaming.{CountSlices, KeyedEvent}

/** A graft session compiles each generated class once and reuses it across
  * queries and across streaming-query restarts (the session defaults of
  * [[GraftExtensions]]). The compile counter is JVM-wide: a warm round of
  * the same work must add nothing to it.
  */
class CodegenReuseSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val maxEntries = "spark.sql.codegen.cache.maxEntries"
  private val isolation = "spark.sql.artifact.isolation.enabled"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("GraftExtensions sets the session defaults without overriding an explicit value") {
    spark.conf.get(maxEntries) shouldBe "4096"
    spark.conf.get(isolation) shouldBe "false"

    val conf = new SparkConf(false).set(maxEntries, "7")
    GraftExtensions.setDefaults(conf)
    conf.get(maxEntries) shouldBe "7"
    conf.get(isolation) shouldBe "false"
  }

  test("a second round-robin pass over the batch_history queries compiles nothing") {
    val names = Seq(
      "ev_slice_count", "ev_slice_time", "ev_slice_hopping", "ev_slice_trigger_after",
      "ev_window_scan", "ev_asof_take", "ev_join_zip", "ev_bind_bucket", "ev_ewma",
      "ev_fold_all")
    def round(): Long = {
      val c0 = compiles
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally spark.catalog.clearCache()
      }
      compiles - c0
    }
    round() // fills the cache, unless earlier suites already have
    round() shouldBe 0L
  }

  test("restarting the same stream compiles nothing") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_codegen_reuse_").toString
    try {
      val events = (0 until 60).map(i => KeyedEvent(s"u${i % 3}", 1000L * i, i.toLong, i.toDouble))
      // two time-ordered files: two micro-batches, the second restoring state
      Files.createDirectories(Paths.get(s"$root/feed"))
      for ((part, half) <- Seq(events.take(30), events.drop(30)).zipWithIndex) {
        part.toDS().coalesce(1).write.parquet(s"$root/h$half")
        Files.list(Paths.get(s"$root/h$half")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => Files.copy(f, Paths.get(s"$root/feed/$half.parquet")))
      }
      def drain(run: Int): Long = {
        val c0 = compiles
        val in = s.readStream.schema(implicitly[org.apache.spark.sql.Encoder[KeyedEvent]].schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/feed").as[KeyedEvent]
        val q = CountSlices(in, 10).writeStream.format("noop")
          .option("checkpointLocation", s"$root/ckpt$run").outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        compiles - c0
      }
      drain(1)
      drain(2) shouldBe 0L
    } finally graft.queries.StreamFixtures.deleteRecursively(root)
  }
}
