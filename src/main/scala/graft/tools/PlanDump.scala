package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Run named catalog queries and dump each one's final plan to files —
  * plan evidence under $SPARK_GRAFT_PLANS_DIR (default plans/r16).
  *
  *   sbt "runMain graft.tools.PlanDump before graph_pagerank knn_ivfpq"
  *
  * Writes <dir>/<query>_<tag>.txt for each name: the formatted plan after
  * the query has been collected, so an adaptive plan is the final one that
  * ran. <dir>/summary_<tag>.tsv lists per query the Spark jobs it ran (its
  * body's and its action's) and the shuffle and broadcast exchanges of that
  * final plan. Uses the same session shape as Bench, and clears the cache
  * after every query as Bench and Verify do, so a persist one query body
  * leaves behind does not show up in a later query's plan.
  */
object PlanDump extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <query...>")
    val tag = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    // jobs per query, by a local property each query runs under; counted
    // once `stop` has drained the listener bus
    val queryKey = "graft.plandump.query"
    val jobs = new ConcurrentHashMap[String, AtomicInteger]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(queryKey)))
          .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    })
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r16")
    Files.createDirectories(Paths.get(outDir))
    val exchanges = names.flatMap { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"$name: not in catalog"); None
        case Some(fn) =>
          sc.setLocalProperty(queryKey, name)
          try {
            val df = fn(spark, sfDir)
            df.collect()
            val txt = df.queryExecution.explainString(FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
            println(s"$name: wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
            Some(name -> collect(df.queryExecution.executedPlan) {
              case e: ShuffleExchangeLike => e
              case e: BroadcastExchangeLike => e
            }.size)
          } catch {
            case e: Throwable =>
              println(s"$name: FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          } finally {
            sc.setLocalProperty(queryKey, null)
            spark.catalog.clearCache()
          }
      }
    }
    spark.stop()
    val rows = exchanges.map { case (name, n) =>
      s"$name\t${Option(jobs.get(name)).map(_.get).getOrElse(0)}\t$n"
    }
    Files.writeString(Paths.get(s"$outDir/summary_$tag.tsv"),
      ("query\tjobs\texchanges" +: rows).mkString("", "\n", "\n"))
    println(s"wrote $outDir/summary_$tag.tsv (${rows.size} queries)")
  }
}
