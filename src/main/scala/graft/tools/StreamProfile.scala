package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Phase profiler for the streaming catalog's per-query toll (VERDICT r7
  * #2): runs named stream_* queries repeatedly on `graft.LocalSession`,
  * capturing wall-clock per run plus Spark's own per-batch durationMs
  * breakdown (triggerExecution / queryPlanning / walCommit / addBatch /
  * getBatch / latestOffset / commitOffsets) from the
  * StreamingQueryListener. The residual (wall − Σ triggerExecution) is the
  * query START/STOP overhead: analysis, checkpoint-dir resolution, the
  * MicroBatchExecution thread spin-up, and stop/teardown.
  *
  *   sbt -batch "runMain graft.tools.StreamProfile stream_tumbling"
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val progress = mutable.ArrayBuffer.empty[(String, Long, Map[String, Long])]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.synchronized {
          val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
          val st = e.progress.stateOperators.map(so =>
            s"upd=${so.allUpdatesTimeMs} rm=${so.allRemovalsTimeMs} " +
              s"commit=${so.commitTimeMs} rows=${so.numRowsTotal}").mkString("; ")
          progress += ((e.progress.name, e.progress.batchId, d))
          if (st.nonEmpty) println(s"[state] batch=${e.progress.batchId} $st")
        }
    })

    val names = if (args.nonEmpty) args.toSeq else Seq("stream_tumbling")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (i <- 1 to 4) {
        progress.synchronized(progress.clear())
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are async; give them a beat to land
        Thread.sleep(300)
        val snap = progress.synchronized(progress.toVector)
        val trig = snap.map(_._3.getOrElse("triggerExecution", 0L)).sum
        val keys = Seq("queryPlanning", "walCommit", "getBatch",
          "latestOffset", "addBatch", "commitOffsets")
        val phases = keys.map(k =>
          f"$k=${snap.map(_._3.getOrElse(k, 0L)).sum}%d").mkString(" ")
        println(f"[prof] $name run=$i rows=$n wall=${wall}%.3f s " +
          f"batches=${snap.size} trigger_total=${trig} ms " +
          f"start_stop_residual=${wall - trig / 1000.0}%.3f s :: $phases")
        spark.catalog.clearCache()
        spark.catalog.listTables().collect().filter(_.isTemporary)
          .foreach(t => spark.catalog.dropTempView(t.name))
      }
    }
    spark.stop()
  }
}
