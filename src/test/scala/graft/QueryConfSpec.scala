package graft

/** Catalog query bodies leave the session conf and temp views as they
  * found them. Bench and Verify run the whole catalog on one session, so a
  * query that writes session conf changes what every later query runs
  * under. The conf case covers the queries that used to write conf
  * themselves: per-query `nanosAsLong` sets (now a session default) and
  * the set-then-unset state-store and session-window flags (now
  * `StreamHarness.withConf`). The view case covers the streaming queries'
  * memory sinks (one temp view each, holding the result on the driver
  * heap; `StreamHarness.drain` drops it) and the SQL-surface queries'
  * registered views.
  */
class QueryConfSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val names = Seq(
    "stream_tumbling", "stream_sliding", "stream_count_slices",
    "stream_trigger_slices", "stream_gated_windows", "stream_zip_join",
    "stream_take_join", "stream_ewma", "stream_stream_join",
    "stream_outer_join", "stream_bind_bucket", "stream_session_window",
    "stream_ingest_floor", "stream_drift_kl", "stream_static_join",
    "stream_dedup_exact", "stream_interval_join",
    "stream_trigger_slices_before")

  test("query bodies leave the session conf unchanged, including an " +
    "explicitly set state-store provider") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.getAll.contains(provider) shouldBe false
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    try {
      val initial = spark.conf.getAll
      val changed = names.flatMap { n =>
        val before = spark.conf.getAll
        SparkEntry.queries(n)(spark, dir).collect()
        val after = spark.conf.getAll
        (before.keySet ++ after.keySet).toSeq.sorted
          .filter(k => before.get(k) != after.get(k))
          .map(k => s"$n: $k ${before.get(k)} -> ${after.get(k)}")
      }
      changed shouldBe empty
      spark.conf.getAll shouldBe initial
    } finally spark.conf.unset(provider)
  }

  test("query bodies leave the session temp views unchanged (stream_ and sql_)") {
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val changed = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("stream_") || n.startsWith("sql_"))
      .flatMap { n =>
        val before = views
        SparkEntry.queries(n)(spark, dir).collect()
        val after = views
        (after -- before).toSeq.sorted.map(v => s"$n: left $v") ++
          (before -- after).toSeq.sorted.map(v => s"$n: dropped $v")
      }
    changed shouldBe empty
  }
}
