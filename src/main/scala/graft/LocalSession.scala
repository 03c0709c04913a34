package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The one session builder of the harness mains (Bench, Verify, Demo and
  * the `graft.tools` mains). A caller that needs another value sets it on
  * the builder it gets back before `getOrCreate()`.
  *
  *   - `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  *     partitions;
  *   - `GraftExtensions`, UTC session time zone, UI off;
  *   - an hour-scale network timeout: in local mode the executor heartbeat
  *     protects nothing (executor death is driver death), and a full-GC
  *     pause past 120 s under scale load would otherwise make the
  *     HeartbeatReceiver remove the same-JVM executor and wedge the
  *     context (CORRECTNESS_SF100_r14);
  *   - NIO atomic checkpoint writes (`LocalNioCheckpointFileManager`): the
  *     Hadoop FileContext path costs about 31 ms per offset, commit or
  *     state-delta publish even on tmpfs;
  *   - streaming checkpoints under a RAM-backed scratch dir in `/dev/shm`
  *     when it is writable, removed at JVM exit: the offset and commit
  *     logs and state snapshots are many small fsync-ed files whose disk
  *     cost has nothing to do with the operators under test.
  */
object LocalSession {

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalNioCheckpointFileManager].getName)
    scratch.foreach(d => b.config("spark.sql.streaming.checkpointLocation", s"$d/ckpt"))
    b
  }

  private lazy val scratch: Option[Path] =
    try {
      val base = Paths.get("/dev/shm")
      if (Files.isDirectory(base) && Files.isWritable(base)) {
        val p = Files.createTempDirectory(base, "graft_scratch_")
        sys.addShutdownHook(deleteRecursively(p))
        Some(p)
      } else None
    } catch { case _: Throwable => None }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p)) Files.list(p).forEach(deleteRecursively)
      Files.deleteIfExists(p)
    } catch { case _: Throwable => () }
}
