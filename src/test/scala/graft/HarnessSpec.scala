package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._
import graft.tools.PlanDump

/** Contracts of the harness around the catalog: the flagship entry query,
  * the one session builder of the mains, and PlanDump's per-query counts.
  */
class HarnessSpec extends SparkSpec {

  test("the flagship entry query returns rows at sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("no main source but LocalSession calls SparkSession.builder") {
    val root = Paths.get("src/main/scala")
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val files = Files.walk(root)
    val callers =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => comments.replaceAllIn(Files.readString(p), "").contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList
      finally files.close()
    callers shouldBe List("graft/LocalSession.scala")
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
