package graft

import org.apache.spark.sql.SparkSession

/** Print the formatted physical plan (+ timing) for named catalog queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"===== $name =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[time] $name ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      val t1 = System.nanoTime()
      df.count()
      println(f"[time2] $name ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
