package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these query names (debug aid)
    val only = args.drop(2).toSet
    // the whole streaming catalog running on LocalSession's NIO
    // checkpoint manager here is that manager's correctness gate
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // fixture-schema canary: one loud failure on testdata drift, never a
    // catalog of per-query stack traces (VERDICT r4 #4)
    graft.core.Preflight.check(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val failures = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // no coalesce: write with the plan's own partitioning (parallel at
      // any SF); the driver and check.py read the whole directory.
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += s"$name\t${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      finally spark.catalog.clearCache() // drop query-internal persists
    }
    // a query that dies must be VISIBLE in the artifact dir, not only in
    // scrollback — missing-output vs failed-output is a real distinction
    val fl = failures.result()
    if (fl.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/FAILURES.txt"), fl.mkString("\n"))
    else // a passing (re-)run must clear a prior run's stale marker
      Files.deleteIfExists(Paths.get(s"$outDir/FAILURES.txt"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Oracle.dumpJson(SparkEntry.oracleSql))
    spark.stop()
  }
}

/** Oracle-SQL JSON dump shared by Verify (driver compare) and Bench (the
  * same-window DuckDB head-to-head leg). */
object Oracle {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def dumpJson(sqls: Map[String, String]): String =
    sqls.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
