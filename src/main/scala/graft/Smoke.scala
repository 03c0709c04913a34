package graft

import org.apache.spark.sql.SparkSession

/** Throwaway env smoke check (ns-timestamp parquet read, array<float>). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    ev.printSchema()
    ev.show(3, false)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.printSchema()
    println("events=" + ev.count() + " emb=" + emb.count())
    val e = SparkEntry.entry(spark)
    e.show(5, false)
    println("entry_rows=" + e.count())
    spark.stop()
  }
}
