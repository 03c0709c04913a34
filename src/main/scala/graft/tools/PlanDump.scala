package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Each named query's final plan and job counts, for `tools/plandiff.py`
  * to diff two commits by: written under $SPARK_GRAFT_PLANS_DIR (plans/r16).
  *
  *   SPARK_GRAFT_SF_DIR=/path/to/sf0.01 sbt "runMain graft.tools.PlanDump before graph_pagerank knn_ivfpq"
  *
  * Writes <dir>/<query>_<tag>.txt for each name: the formatted plan after
  * the query has been collected, so an adaptive plan is the final one that
  * ran. <dir>/summary_<tag>.tsv lists per query the Spark jobs, stages and
  * tasks it ran (its body's and its action's), the summed task ms, and the
  * shuffle and broadcast exchanges of that final plan.
  */
object PlanDump extends AdaptiveSparkPlanHelper {

  /** One query's final plan and what its counted run cost. */
  final case class Row(name: String, plan: String, jobs: Int, exchanges: Int,
      stages: Int, tasks: Int, taskMs: Long) {
    def tsv: String = s"$name\t$jobs\t$exchanges\t$stages\t$tasks\t$taskMs"
  }

  private val Header = "query\tjobs\texchanges\tstages\ttasks\ttask_ms"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <query...>")
    val tag = args.head
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = try dump(spark, sfDir, args.tail.toSeq) finally spark.stop()
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r16")
    Files.createDirectories(Paths.get(outDir))
    for (r <- rows) {
      Files.writeString(Paths.get(s"$outDir/${r.name}_$tag.txt"), r.plan)
      println(s"${r.name}: wrote $outDir/${r.name}_$tag.txt (${r.plan.length} chars)")
    }
    Files.writeString(Paths.get(s"$outDir/summary_$tag.tsv"),
      (Header +: rows.map(_.tsv)).mkString("", "\n", "\n"))
    println(s"wrote $outDir/summary_$tag.tsv (${rows.size} queries)")
  }

  /** Runs each named query twice and reports the second run. The first,
    * uncounted run takes what a body builds or loads once per session
    * (a media fixture, a first table load), so a query's counts do not
    * depend on which queries ran before it. The cache is cleared after
    * every run, as Bench and Verify do. Unknown and failing queries are
    * printed and left out.
    */
  def dump(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Row] = {
    val sc = spark.sparkContext
    val counts = new Counts
    sc.addSparkListener(counts)
    try {
      val ran = names.flatMap { name =>
        graft.SparkEntry.queries.get(name) match {
          case None => println(s"$name: not in catalog"); None
          case Some(fn) =>
            try {
              fn(spark, sfDir).collect()
              spark.catalog.clearCache()
              sc.setLocalProperty(QueryKey, name)
              val df = fn(spark, sfDir)
              df.collect()
              val exchanges = collect(df.queryExecution.executedPlan) {
                case e: ShuffleExchangeLike => e
                case e: BroadcastExchangeLike => e
              }.size
              Some((name, df.queryExecution.explainString(FormattedMode), exchanges))
            } catch {
              case e: Throwable =>
                println(s"$name: FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
                None
            } finally {
              sc.setLocalProperty(QueryKey, null)
              spark.catalog.clearCache()
            }
        }
      }
      counts.drain(spark)
      ran.map { case (name, plan, exchanges) =>
        val c = counts.of(name)
        Row(name, plan, c.jobs.get, exchanges, c.stages.get, c.tasks.get, c.taskMs.get)
      }
    } finally sc.removeSparkListener(counts)
  }

  private val QueryKey = "graft.plandump.query"
  private val FenceKey = "graft.plandump.fence"

  /** Jobs, stages, tasks and task ms per query, by the local property each
    * counted run sets. Stages and tasks carry no properties, so a stage is
    * mapped to its query when it is submitted.
    */
  private final class Counts extends SparkListener {
    final class C {
      val jobs, stages, tasks = new AtomicInteger
      val taskMs = new AtomicLong
    }
    private val byQuery = new ConcurrentHashMap[String, C]
    private val byStage = new ConcurrentHashMap[Int, C]
    private val fenceJob = new AtomicInteger(-1)
    private val fenced = new CountDownLatch(1)

    def of(name: String): C = byQuery.computeIfAbsent(name, _ => new C)
    private def query(p: Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(QueryKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      query(e.properties).foreach(of(_).jobs.incrementAndGet())
      if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) fenceJob.set(e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == fenceJob.get) fenced.countDown()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      query(e.properties).foreach(q => byStage.put(e.stageInfo.stageId, of(q)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { c =>
        c.tasks.incrementAndGet()
        if (e.taskInfo != null) c.taskMs.addAndGet(e.taskInfo.duration)
      }

    /** Block until every event posted so far has reached this listener:
      * the bus delivers in order, so once a fence job run now is seen
      * ending, all earlier jobs' events have been counted.
      */
    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(FenceKey, null)
      require(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
    }
  }
}
