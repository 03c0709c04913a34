package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._
import graft.tools.PlanDump

/** Contracts of the harness around the catalog: the flagship entry query,
  * the one session builder of the mains, the environment variables they
  * read, and PlanDump's per-query counts.
  */
class HarnessSpec extends SparkSpec {

  test("the flagship entry query returns rows at sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  /** Each main source file under src/main/scala, by its path relative to
    * that root, with its comments stripped. */
  private def mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> comments.replaceAllIn(Files.readString(p), ""))
      .toMap
    finally files.close()
  }

  test("no main source but LocalSession calls SparkSession.builder") {
    mainSources.collect { case (p, src) if src.contains("SparkSession.builder") => p }
      .toList shouldBe List("graft/LocalSession.scala")
  }

  test("main sources read exactly the listed SPARK_* environment variables") {
    val read = """sys\.env(?:\.\w+)?\(\s*"(SPARK_\w+)"""".r
    val knobs = mainSources.values.flatMap(read.findAllMatchIn(_).map(_.group(1))).toSet
    knobs shouldBe Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SKIP_DUCK",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_DUCK_BENCH", "SPARK_GRAFT_PLANS_DIR",
      "SPARK_GRAFT_STATE_BACKEND")
  }

  test("PlanDump counts a query the same whatever ran before it") {
    // a fresh copy of sf0.001, so the media fixture that mm_audio_fp
    // builds once per directory is built inside the first dump; task_ms,
    // the summary's last column, is a time and left out
    val dir = Files.createTempDirectory("graft-plandump-")
    try {
      FileUtils.copyDirectory(new File("/root/testdata/sf0.001"), dir.toFile)
      def counts(names: String*): Map[String, (Int, Int, Int, Int)] =
        PlanDump.dump(spark, dir.toString, names)
          .map(r => r.name -> ((r.jobs, r.exchanges, r.stages, r.tasks))).toMap
      val both = counts("mm_audio_fp", "ev_slice_count")
      both("ev_slice_count")._1 should be > 0
      counts("ev_slice_count") shouldBe both - "mm_audio_fp"
      counts("mm_audio_fp") shouldBe both - "ev_slice_count"
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
}
