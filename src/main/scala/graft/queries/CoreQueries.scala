package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.Reducers

/** scespet operator parity over the `events` stream table
  * (SURVEY.md §2.2–2.6). Each query goes through the graft library surface
  * (KStream — a single stream is `EStream(df)`, a KStream with no keys —
  * WindowKernel, AsOf) and has a DuckDB oracle.
  *
  * `events` stream contract: ts = epoch nanos (Long), seq = event_id.
  * Oracle mirrors with epoch_us(ts) / event_id.
  */
object CoreQueries {

  private def ev(s: SparkSession, dir: String): EStream =
    EStream(Q.events(s, dir))

  /** `by(user_id)` — the key already IS a column, so demultiplexing is free
    * (SURVEY §2.3: Spark groups by value, no graph surgery).
    */
  private def evKeyed(s: SparkSession, dir: String): KStream =
    KStream(Q.events(s, dir), Seq("user_id"))

  val defs: Seq[QueryDef] = Seq(

    // ---- §2.2 projection / filter -------------------------------------
    QueryDef(
      "ev_map",
      (s, dir) =>
        ev(s, dir)
          .map(
            "event_id" -> col("seq"),
            "user_id" -> col("user_id"),
            "value" -> col("value"),
            "v2" -> (col("value") * 2),
            "etype_uc" -> upper(col("event_type")))
          .df.select("event_id", "user_id", "value", "v2", "etype_uc")
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id, value, value*2 AS v2,
             upper(event_type) AS etype_uc
             FROM events ORDER BY event_id""")),

    QueryDef(
      "ev_filter",
      (s, dir) =>
        ev(s, dir)
          .filter(col("value") > 100 && col("event_type") =!= "error")
          .df.select(col("seq").as("event_id"), col("user_id"), col("value"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id, value FROM events
             WHERE value > 100 AND event_type <> 'error' ORDER BY event_id""")),

    QueryDef(
      "ev_filter_type",
      (s, dir) =>
        ev(s, dir)
          .filterType(col("event_type"), "purchase")
          .df.select(col("seq").as("event_id"), col("value"))
          .orderBy("event_id"),
      Some("""SELECT event_id, value FROM events
             WHERE event_type = 'purchase' ORDER BY event_id""")),

    // ---- §2.3 keying / §2.5 terminal reduce ---------------------------
    QueryDef(
      "ev_by_reduce",
      (s, dir) =>
        evKeyed(s, dir)
          .reduceAll(
            "n" -> count(lit(1)),
            "sum_value" -> Q.dsumD(col("value")),
            "min_value" -> min(col("value")),
            "max_value" -> max(col("value")),
            "n_purchase" -> count(when(col("event_type") === "purchase", 1)))
          .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value,
             min(value) AS min_value, max(value) AS max_value,
             count(CASE WHEN event_type='purchase' THEN 1 END) AS n_purchase
             FROM events GROUP BY user_id ORDER BY user_id""")),

    QueryDef(
      "ev_mapkeys",
      (s, dir) =>
        evKeyed(s, dir)
          .mapKeys(pmod(col("user_id"), lit(5)), "k")
          .reduceAll("n" -> count(lit(1)), "sum_value" -> Q.dsumD(col("value")))
          .orderBy("k"),
      Some("""SELECT user_id % 5 AS k, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value
             FROM events GROUP BY 1 ORDER BY k""")),

    QueryDef(
      "ev_valueset",
      (s, dir) => ev(s, dir).valueSet(col("event_type")).orderBy("v"),
      Some("SELECT DISTINCT event_type AS v FROM events ORDER BY v")),

    QueryDef(
      "ev_keylist",
      (s, dir) =>
        evKeyed(s, dir).toKeySet
          .agg(array_join(
            transform(sort_array(collect_list(col("user_id"))), _.cast("string")), ",")
            .as("key_list")),
      Some("""SELECT string_agg(user_id, ',' ORDER BY user_id) AS key_list
             FROM (SELECT DISTINCT user_id FROM events)""")),

    // ---- §2.5 scans (cumulative emit mode) ----------------------------
    QueryDef(
      "ev_fold_all",
      (s, dir) =>
        ev(s, dir)
          // associative folds → distributed two-pass prefix scan (>1 task
          // in the scan stage; the general scanAll stays for EWMA-likes)
          .foldAllAssoc(
            ("run_sum", col("value").cast("decimal(38,6)"), "sum"),
            ("run_cnt", lit(1L), "sum"))
          .df.select(col("seq").as("event_id"),
            col("run_sum").cast("double").as("run_sum"), col("run_cnt"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             (sum(value::decimal(38,6)) OVER w)::double AS run_sum,
             count(*) OVER w AS run_cnt
             FROM events
             WINDOW w AS (ORDER BY epoch_us(ts), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             ORDER BY event_id""")),

    QueryDef(
      "ev_scan_key",
      (s, dir) =>
        evKeyed(s, dir)
          .scanAll("run_sum", Q.dsum(col("value")))
          .df.select(col("seq").as("event_id"), col("user_id"),
            col("run_sum").cast("double").as("run_sum"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             (sum(value::decimal(38,6)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::double AS run_sum
             FROM events ORDER BY event_id""")),

    // ---- §2.6 slicing: count / tumbling / trigger / boolean window ----
    QueryDef(
      "ev_slice_count",
      (s, dir) =>
        evKeyed(s, dir)
          .group(Slice.Count(10))
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
          .orderBy("user_id", "window_id"),
      Some("""SELECT user_id, window_id,
             sum(value::decimal(38,6))::double AS sum_value, count(*) AS n
             FROM (SELECT *, (row_number() OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 10
                     AS window_id FROM events)
             GROUP BY user_id, window_id ORDER BY user_id, window_id""")),

    QueryDef(
      "ev_slice_time",
      (s, dir) =>
        evKeyed(s, dir)
          .group(Slice.Tumbling(86400L * 1000 * 1000))
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
          .orderBy("user_id", "window_id"),
      Some("""SELECT user_id,
             epoch_us(ts) // 86400000000 AS window_id,
             sum(value::decimal(38,6))::double AS sum_value, count(*) AS n
             FROM events GROUP BY 1, 2 ORDER BY user_id, window_id""")),

    // Hopping (sliding) slices as a first-class batch Slice (VERDICT r6
    // #3): width 2 h, step 1 h — each event lands in exactly width/step=2
    // windows, the same bucketing Spark's streaming `window(col, '2
    // hours', '1 hour')` uses (stream_sliding is the live twin; this
    // batch path has no watermark, so ALL windows emit, including the
    // unfinalized tail the streaming twin withholds). The ×2 row
    // expansion is the operator's own output cost; no ordering, no
    // window function — explode + one keyed groupBy.
    QueryDef(
      "ev_slice_hopping",
      (s, dir) =>
        evKeyed(s, dir)
          .group(Slice.Hopping(7200000000L, 3600000000L))
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
          .orderBy("user_id", "window_id"),
      Some("""SELECT user_id, window_id,
             sum(value::decimal(38,6))::double AS sum_value, count(*) AS n
             FROM (SELECT user_id, value,
                     unnest([epoch_us(ts) // 3600000000,
                             epoch_us(ts) // 3600000000 - 1]) AS window_id
                   FROM events)
             GROUP BY user_id, window_id ORDER BY user_id, window_id""")),

    QueryDef(
      "ev_slice_trigger_after",
      (s, dir) =>
        evKeyed(s, dir)
          .group(Slice.TriggerCol(col("event_type") === "error", Align.After))
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
          .orderBy("user_id", "window_id"),
      Some("""SELECT user_id, window_id,
             sum(value::decimal(38,6))::double AS sum_value, count(*) AS n
             FROM (SELECT *, coalesce(sum(CASE WHEN event_type='error' THEN 1 END)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
                     AS window_id FROM events)
             GROUP BY user_id, window_id ORDER BY user_id, window_id""")),

    QueryDef(
      "ev_slice_trigger_before",
      (s, dir) =>
        evKeyed(s, dir)
          .group(Slice.TriggerCol(col("event_type") === "error", Align.Before))
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
          .orderBy("user_id", "window_id"),
      Some("""SELECT user_id, window_id,
             sum(value::decimal(38,6))::double AS sum_value, count(*) AS n
             FROM (SELECT *, coalesce(sum(CASE WHEN event_type='error' THEN 1 END)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)::bigint
                     AS window_id FROM events)
             GROUP BY user_id, window_id ORDER BY user_id, window_id""")),

    QueryDef(
      "ev_window_bool",
      (s, dir) =>
        evKeyed(s, dir)
          .window(col("value") >= 50)
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
          .orderBy("user_id", "session_id"),
      Some("""SELECT user_id, session_id,
             sum(value::decimal(38,6))::double AS sum_value, count(*) AS n
             FROM (SELECT *, sum(CASE WHEN g AND NOT coalesce(pg, false) THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS session_id
                   FROM (SELECT *, value >= 50 AS g,
                           lag(value >= 50) OVER (
                             PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pg
                         FROM events))
             WHERE g GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // boolean-window CUMULATIVE emit mode (WindowedBucket_Continuous)
    QueryDef(
      "ev_window_scan",
      (s, dir) =>
        evKeyed(s, dir)
          .window(col("value") >= 50)
          .scan("run_sum", Q.dsum(col("value")))
          .select(col("seq").as("event_id"), col("user_id"),
            col("session_id"), col("run_sum").cast("double").as("run_sum"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id, session_id,
             (sum(value::decimal(38,6)) OVER (
               PARTITION BY user_id, session_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::double AS run_sum
             FROM (SELECT *, sum(CASE WHEN g AND NOT coalesce(pg, false) THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS session_id
                   FROM (SELECT *, value >= 50 AS g,
                           lag(value >= 50) OVER (
                             PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pg
                         FROM events))
             WHERE g ORDER BY event_id""")),

    // ---- §2.4 temporal joins ------------------------------------------
    QueryDef(
      "ev_asof_take",
      (s, dir) => {
        val all = Q.events(s, dir)
        val purchases = KStream(all.filter(col("event_type") === "purchase"), Seq("user_id"))
        val clicks = KStream(all.filter(col("event_type") === "click"), Seq("user_id"))
        purchases
          .take(clicks, Seq(col("user_id")), Seq("click_value" -> col("value")))
          .df.select(col("seq").as("event_id"), col("user_id"),
            col("value"), col("click_value"))
          .orderBy("event_id")
      },
      Some("""WITH u AS (
               SELECT event_id, user_id, epoch_us(ts) AS t, 1 AS side,
                      value, NULL::double AS cv FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT event_id, user_id, epoch_us(ts) AS t, 0 AS side,
                      NULL, value FROM events WHERE event_type='click'),
             c AS (
               SELECT *, last_value(cv IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, side, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_value
               FROM u)
             SELECT event_id, user_id, value, click_value
             FROM c WHERE side=1 ORDER BY event_id""")),

    QueryDef(
      "ev_join_zip",
      (s, dir) => {
        val all = Q.events(s, dir)
        val purchases = KStream(all.filter(col("event_type") === "purchase"), Seq("user_id"))
        val clicks = KStream(all.filter(col("event_type") === "click"), Seq("user_id"))
        purchases
          .joinZip(clicks, Seq("p_val" -> col("value")), Seq("c_val" -> col("value")))
          .df.select("user_id", "ts", "p_val", "c_val")
          .orderBy("user_id", "ts")
      },
      Some("""WITH u AS (
               SELECT user_id, epoch_us(ts) AS ts, event_id, 1 AS side,
                      value AS p_val, NULL::double AS c_val
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT user_id, epoch_us(ts) AS ts, event_id, 0 AS side,
                      NULL, value FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 last_value(p_val IGNORE NULLS) OVER w AS p_c,
                 last_value(c_val IGNORE NULLS) OVER w AS c_c
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             SELECT user_id, ts, p_c AS p_val, c_c AS c_val
             FROM c
             QUALIFY row_number() OVER (
               PARTITION BY user_id, ts ORDER BY side DESC, event_id DESC) = 1
             ORDER BY user_id, ts""")),

    // ---- scan emit-mode over slices (CUMULATIVE, types.scala:144-148) --
    QueryDef(
      "ev_slice_scan",
      (s, dir) =>
        evKeyed(s, dir)
          .group(Slice.Count(10))
          .scan("run_sum", Q.dsum(col("value")))
          .select(col("seq").as("event_id"), col("user_id"),
            col("window_id"), col("run_sum").cast("double").as("run_sum"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id, window_id,
             (sum(value::decimal(38,6)) OVER (
               PARTITION BY user_id, window_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::double AS run_sum
             FROM (SELECT *, (row_number() OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 10
                     AS window_id FROM events)
             ORDER BY event_id""")),

    // ---- semi-structured payloads: JSON props column -------------------
    QueryDef(
      "ev_props_json",
      (s, dir) =>
        ev(s, dir)
          .map("event_type" -> col("event_type"),
            "k" -> get_json_object(col("props"), "$.k").cast("long"))
          .df.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             sum(json_extract(props, '$.k')::bigint)::bigint AS sum_k
             FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- the STREAMING execution path, batch-verified: the same events
    // flow through readStream → watermark → windowed state store → memory
    // sink, and the result must hash-match the plain-SQL oracle. This is
    // Structured Streaming itself under the correctness gate.
    QueryDef(
      "stream_tumbling",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        // the file stream source wants a directory: glob the one table file
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", graft.core.Tables.tsUsExpr(schema))
        val agg = graft.streaming.Streams.tumblingAgg(
          src, Seq("user_id"), "1 day", "0 seconds",
          "n" -> count(lit(1)),
          "sum_value" -> Q.dsumD(col("value")))
        StreamHarness.drain(agg, "complete", availableNow = true)
          .select(col("user_id"),
            unix_micros(col("window.start")).as("wstart"),
            col("n"), col("sum_value"))
          .orderBy("user_id", "wstart")
      },
      Some("""SELECT user_id,
             (epoch_us(ts) // 86400000000) * 86400000000 AS wstart,
             count(*) AS n, sum(value::decimal(38,6))::double AS sum_value
             FROM events GROUP BY 1, 2 ORDER BY user_id, wstart""")),

    // ---- SLIDING windows on the streaming path: the overlap complement
    // of stream_tumbling (each event lands in width/slide windows). Append
    // mode emits only watermark-FINALIZED windows — with delay 0 the final
    // watermark is the max event time, so the oracle keeps windows with
    // end <= max(ts) (same boundary stream_late_drop pins) and expands
    // each event to its two covering starts with exact integer arithmetic.
    QueryDef(
      "stream_sliding",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        // keyed-topic ingest shape (VERDICT r14 #3, same playbook that
        // took stream_session_window 6.48→3.96 s at sf1): the corpus
        // arrives as ~cores parquet files hash-partitioned by user_id
        // and the scan takes one partition per file — the 5M-row sf1
        // decode runs file-parallel instead of on one core. A deployed
        // Kafka topic is keyed, so this is the production ingest shape.
        val fxRoot = StreamFixtures.eventsKeyed(s, dir)
        val schema = StreamFixtures.eventsKeyedSchema(s, dir)
        val srcDir = StreamFixtures.scratchDir("graft_sl_src_")
        var wm = 0L
        val sink = try {
          StreamFixtures.feed(fxRoot, "keyed", srcDir)
          StreamHarness.withSplitPerFile(s) {
            val src = s.readStream.schema(schema).parquet(srcDir)
              .withColumn("ts", graft.core.Tables.tsUsExpr(schema))
            // SLICED form (streaming.SlicedHopping): the direct
            // window(2h, 1h) built-in expands every event to width/step
            // state rows BEFORE the state store; slicing aggregates once
            // per non-overlapping 1h slice in-stream (overlap factor 1 in
            // state and shuffle) and composes hops from the slice-sized
            // sink with the query's own final watermark — ≡ the direct
            // form's append emission (law-tested at factors 2 and 10).
            val agg = graft.streaming.Streams.tumblingAgg(
              src, Seq("user_id"), "1 hour", "0 seconds",
              "n" -> count(lit(1)), "sv" -> Q.dsum(col("value")))
            StreamHarness.drain(agg, availableNow = true, drive = { q =>
              q.processAllAvailable()
              wm = graft.streaming.SlicedHopping.finalWatermarkUs(q)
            })
          }
        } finally StreamFixtures.deleteRecursively(srcDir)
        graft.streaming.SlicedHopping.compose(sink, Seq("user_id"),
            7200000000L, 3600000000L, wm,
            "n" -> sum(col("n")),
            "sum_value" -> sum(col("sv")).cast("double"))
          .select(col("user_id"), col("wstart"), col("n"), col("sum_value"))
          .orderBy("user_id", "wstart")
      },
      Some("""WITH b AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
                  ex AS (SELECT user_id, value,
                           unnest([(epoch_us(ts) // 3600000000) * 3600000000,
                                   ((epoch_us(ts) // 3600000000) - 1) * 3600000000])
                             AS wstart
                         FROM events)
             SELECT user_id, wstart, count(*) AS n,
               sum(value::decimal(38,6))::double AS sum_value
             FROM ex CROSS JOIN b
             WHERE wstart + 7200000000 <= tmax
             GROUP BY user_id, wstart
             ORDER BY user_id, wstart""")),

    // ---- stateful streaming count-slices under the gate: the custom
    // KeyedFold operator (no Spark built-in for N-event
    // windows) verified against the window-function SQL oracle. Closed
    // buckets only — a live stream never sees termination, so the batch
    // twin filters to full buckets.
    QueryDef(
      "stream_count_slices",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        // file-stream source, same pattern as stream_tumbling: the events
        // table flows through readStream — nothing is ever materialized on
        // the driver (the round-1 collect()+MemoryStream harness was a
        // driver OOM at scale, VERDICT r1 "What's wrong" #3).
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            col("value").as("v"))
          .as[graft.streaming.KeyedEvent]
        StreamHarness.drain(graft.streaming.CountSlices(src, 10))
          .select(col("k").cast("long").as("user_id"),
            col("windowId").as("window_id"), col("n"),
            col("sum").cast("decimal(38,6)").cast("double").as("sum_value"))
          .orderBy("user_id", "window_id")
      },
      Some("""SELECT user_id, window_id, n, sum_value FROM (
               SELECT user_id, window_id, count(*) AS n,
                 sum(value::decimal(38,6))::double AS sum_value
               FROM (SELECT *, (row_number() OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 10
                       AS window_id FROM events)
               GROUP BY user_id, window_id)
             WHERE n = 10 ORDER BY user_id, window_id""")),

    // ---- checkpoint recovery under the gate: the SAME stateful operator
    // (CountSlices) run as TWO separate streaming-query incarnations over
    // one checkpoint + exactly-once file sink. Incarnation 1 sees only the
    // first half of the data (ts <= mid) and stops with partial buckets
    // parked in the state store; incarnation 2 discovers the second file,
    // restores state, and closes the buckets that STRADDLE the restart.
    // The combined sink must equal the single-run batch oracle over the
    // full table — possible only if (a) the KeyedFold state
    // round-trips through the checkpoint and (b) the file-sink commit log
    // is exactly-once. This is the operational contract a 100 TB streaming
    // pipeline leans on across executor loss / planned restarts.
    QueryDef(
      "stream_checkpoint_resume",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        // Pre-split halves are a per-JVM memoized fixture (StreamFixtures):
        // the timed run measures the two streaming incarnations, not
        // fixture parquet IO (VERDICT r2 "What's wrong" #2).
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        val root = StreamFixtures.scratchDir("graft_resume_")
        val srcDir = s"$root/src"
        def incarnation(): Unit = {
          val in = s.readStream.schema(schema).parquet(srcDir)
            .select(col("user_id").cast("string").as("k"), col("ts"),
              col("seq"), col("value").as("v"))
            .as[graft.streaming.KeyedEvent]
          val q = graft.streaming.CountSlices(in, 10)
            .writeStream.format("parquet")
            .option("path", s"$root/out")
            .option("checkpointLocation", s"$root/ckpt")
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
        }
        StreamFixtures.feed(fx, "lo", srcDir); incarnation() // partials parked in state
        StreamFixtures.feed(fx, "hi", srcDir); incarnation() // state restored; straddlers close
        val res = s.read.parquet(s"$root/out")
          .select(col("k").cast("long").as("user_id"),
            col("windowId").as("window_id"), col("n"),
            col("sum").cast("decimal(38,6)").cast("double").as("sum_value"))
          .orderBy("user_id", "window_id")
          .localCheckpoint(true) // materialize before the scratch dir is deleted
        StreamFixtures.deleteRecursively(root)
        res
      },
      Some("""SELECT user_id, window_id, n, sum_value FROM (
               SELECT user_id, window_id, count(*) AS n,
                 sum(value::decimal(38,6))::double AS sum_value
               FROM (SELECT *, (row_number() OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 10
                       AS window_id FROM events)
               GROUP BY user_id, window_id)
             WHERE n = 10 ORDER BY user_id, window_id""")),

    // ---- watermark late-data semantics under the gate: the RECENT half
    // of the events arrives first (one micro-batch — drives the watermark
    // to max_ts − 1 h), then the OLD half arrives into the SAME running
    // query. Every old row is years behind the watermark → dropped by the
    // aggregation operator; append mode emits exactly the windows whose
    // end ≤ final watermark. The oracle states that contract in SQL:
    // aggregate ONLY the recent half, keep ONLY watermark-finalized
    // windows. This is the correctness contract that lets a 100 TB
    // streaming aggregation EVICT state instead of holding it forever.
    QueryDef(
      "stream_late_drop",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        // Memoized pre-split halves (StreamFixtures): the RECENT half (hi)
        // is fed first to drive the watermark, then the old half (lo)
        // arrives entirely behind it.
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        // batch 1: recent half; wm → max−1h; batch 2: old half — all late, dropped
        StreamHarness.drainFeed(fx, Seq("hi", "lo")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .select(col("user_id"), col("ts"), col("value"))
          graft.streaming.Streams.tumblingAgg(
            src, Seq("user_id"), "1 day", "1 hour",
            "n" -> count(lit(1)),
            "sum_value" -> Q.dsumD(col("value")))
        }
          .select(col("user_id"),
            unix_micros(col("window.start")).as("wstart"),
            col("n"), col("sum_value"))
          .orderBy("user_id", "wstart")
      },
      Some("""WITH b AS (SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
                          FROM events)
             SELECT user_id,
               (epoch_us(ts) // 86400000000) * 86400000000 AS wstart,
               count(*) AS n, sum(value::decimal(38,6))::double AS sum_value
             FROM events CROSS JOIN b
             WHERE epoch_us(ts) > tmin + (tmax - tmin) // 2
             GROUP BY user_id, wstart, tmax
             HAVING wstart + 86400000000 <= tmax - 3600000000
             ORDER BY user_id, wstart""")),

    // ---- stateful streaming trigger-slices under the gate: the custom
    // KeyedFold operator closes a bucket when the trigger
    // event ('error') arrives — Align.After: the trigger JOINS its bucket.
    // A live stream only emits CLOSED buckets (the trailing partial stays
    // in state), so the oracle keeps exactly the groups containing a
    // trigger.
    QueryDef(
      "stream_trigger_slices",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            col("value").as("v"),
            (col("event_type") === "error").as("gate"))
          .as[graft.streaming.GatedEvent]
        StreamHarness.drain(graft.streaming.TriggerSlices.tagged(src))
          .select(col("k").cast("long").as("user_id"),
            col("windowId").as("window_id"), col("n"),
            col("sum").cast("decimal(38,6)").cast("double").as("sum_value"))
          .orderBy("user_id", "window_id")
      },
      Some("""SELECT user_id, window_id, n, sum_value FROM (
               SELECT user_id, window_id, count(*) AS n,
                 sum(value::decimal(38,6))::double AS sum_value,
                 count(CASE WHEN event_type='error' THEN 1 END) AS n_trig
               FROM (SELECT *, coalesce(sum(CASE WHEN event_type='error' THEN 1 END)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
                       AS window_id FROM events)
               GROUP BY user_id, window_id)
             WHERE n_trig > 0 ORDER BY user_id, window_id""")),

    // ---- boolean-gated windows on a LIVE stream under the gate: the
    // KeyedFold session operator (open on false→true edge,
    // close-excludes-its-event precedence). A live stream emits only
    // CLOSED sessions; since session_id increments only at open edges,
    // a session is closed iff some gate=false row carries its id — the
    // oracle keeps exactly those.
    QueryDef(
      "stream_gated_windows",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            col("value").as("v"), (col("value") >= 50).as("gate"))
          .as[graft.streaming.GatedEvent]
        StreamHarness.drain(graft.streaming.GatedWindows(src))
          .select(col("k").cast("long").as("user_id"),
            col("windowId").as("session_id"), col("n"),
            col("sum").cast("decimal(38,6)").cast("double").as("sum_value"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH base AS (
               SELECT *, sum(CASE WHEN g AND NOT coalesce(pg, false) THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS session_id
               FROM (SELECT *, value >= 50 AS g,
                       lag(value >= 50) OVER (
                         PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pg
                     FROM events)),
             agg AS (
               SELECT user_id, session_id, count(*) AS n,
                 sum(value::decimal(38,6))::double AS sum_value
               FROM base WHERE g GROUP BY user_id, session_id),
             closed AS (
               SELECT DISTINCT user_id, session_id FROM base
               WHERE NOT g AND session_id > 0)
             SELECT user_id, session_id, n, sum_value
             FROM agg JOIN closed USING (user_id, session_id)
             ORDER BY user_id, session_id""")),

    // ---- streaming either-fires zip join under the gate: per-key state
    // holds each side's latest value; one emission per (key, ts) cycle
    // (rendezvous). Same oracle as the batch twin ev_join_zip.
    QueryDef(
      "stream_zip_join",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
            col("value").as("v"))
          .as[graft.streaming.ZipEvent]
        StreamHarness.drain(graft.streaming.ZipJoin(src))
          .select(col("k").cast("long").as("user_id"), col("ts"),
            col("left").as("p_val"), col("right").as("c_val"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH u AS (
               SELECT user_id, epoch_us(ts) AS ts, event_id, 1 AS side,
                      value AS p_val, NULL::double AS c_val
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT user_id, epoch_us(ts) AS ts, event_id, 0 AS side,
                      NULL, value FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 last_value(p_val IGNORE NULLS) OVER w AS p_c,
                 last_value(c_val IGNORE NULLS) OVER w AS c_c
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             SELECT user_id, ts, p_c AS p_val, c_c AS c_val
             FROM c
             QUALIFY row_number() OVER (
               PARTITION BY user_id, ts ORDER BY side DESC, event_id DESC) = 1
             ORDER BY user_id, ts""")),

    // ---- streaming left-fires take join: right events only update
    // state; an emission happens per cycle containing a LEFT fire
    // (purchase). Oracle = the zip oracle restricted to such cycles.
    QueryDef(
      "stream_take_join",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
            col("value").as("v"))
          .as[graft.streaming.ZipEvent]
        StreamHarness.drain(graft.streaming.TakeJoin(src))
          .select(col("k").cast("long").as("user_id"), col("ts"),
            col("left").as("p_val"), col("right").as("c_val"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH u AS (
               SELECT user_id, epoch_us(ts) AS ts, event_id, 1 AS side,
                      value AS p_val, NULL::double AS c_val
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT user_id, epoch_us(ts) AS ts, event_id, 0 AS side,
                      NULL, value FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 last_value(p_val IGNORE NULLS) OVER w AS p_c,
                 last_value(c_val IGNORE NULLS) OVER w AS c_c
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             c2 AS (
               SELECT *,
                 max(side) OVER (PARTITION BY user_id, ts) AS has_left,
                 row_number() OVER (PARTITION BY user_id, ts
                   ORDER BY side DESC, event_id DESC) AS rn
               FROM c)
             SELECT user_id, ts, p_c AS p_val, c_c AS c_val
             FROM c2 WHERE rn = 1 AND has_left = 1
             ORDER BY user_id, ts""")),

    // ---- per-event EWMA on a live stream (a KeyedFold) under the gate:
    // the last emission per key equals the terminal EWMA — the same
    // list_reduce oracle as the batch ev_ewma.
    QueryDef(
      "stream_ewma",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            col("value").as("v"))
          .as[graft.streaming.KeyedEvent]
        // packed emission (VERDICT r12 #4): the sink holds ~|keys|
        // array rows per micro-batch; exploded() recovers the
        // row-for-row per-event contract in batch land, and the
        // terminal value per key is a partial-agg max_by (map-side
        // combine, no full-sort window) instead of a 5M-row
        // row_number shuffle
        graft.streaming.EwmaScan.exploded(
            StreamHarness.drain(graft.streaming.EwmaScan(src, 0.25)))
          .groupBy(col("k"))
          .agg(max_by(col("ewma"), struct(col("ts"), col("seq"))).as("ewma"))
          .select(col("k").cast("long").as("user_id"), col("ewma"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             list_reduce(list(value ORDER BY epoch_us(ts), event_id),
                         (acc, x) -> 0.25*x + 0.75*acc) AS ewma
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- STREAM-STREAM time-bounded inner join: Spark's symmetric-hash
    // streaming join with event-time range conditions and watermarks —
    // each purchase pairs with every click of the same user in the
    // preceding hour. State eviction follows from the time bound; the
    // oracle is the identical relational range join.
    QueryDef(
      "stream_stream_join",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        def side(tpe: String, pfx: String) =
          s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
            .filter(col("event_type") === tpe)
            .select(col("user_id").as(s"${pfx}_uid"),
              col("event_id").as(s"${pfx}_id"),
              col("value").as(s"${pfx}_val"),
              timestamp_micros(graft.core.Tables.tsUsExpr(schema)).as(s"${pfx}_time"))
            .withWatermark(s"${pfx}_time", "0 seconds")
        val joined = side("purchase", "p").join(side("click", "c"),
          expr("""p_uid = c_uid AND
                  c_time BETWEEN p_time - INTERVAL 1 HOUR AND p_time"""))
        StreamHarness.drain(
            joined.select(col("p_id"), col("c_id"), col("p_val"), col("c_val")),
            availableNow = true)
          .orderBy("p_id", "c_id")
      },
      Some("""SELECT p.event_id AS p_id, c.event_id AS c_id,
             p.value AS p_val, c.value AS c_val
             FROM (SELECT * FROM events WHERE event_type='purchase') p
             JOIN (SELECT * FROM events WHERE event_type='click') c
               ON p.user_id = c.user_id
              AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                                     AND epoch_us(p.ts)
             ORDER BY p_id, c_id""")),

    // LEFT OUTER stream-stream join: same purchase×click range join, but
    // unmatched purchases must ALSO emit (null-extended) — which only
    // happens when the watermark passes the point where a match is still
    // possible (state eviction): AvailableNow runs watermark-finalization
    // no-data batches before terminating, and each one commits all FOUR
    // join state stores across EVERY shuffle partition. That made this
    // query the r2 bench's single most expensive entry at 32 partitions
    // (VERDICT r2 #1) — the streaming-catalog partition cap (4) cuts the
    // store-commit count 8× with identical results. The oracle models the
    // eviction contract: the final watermark is min(max purchase ts, max
    // click ts) (each side's event-time column observed post-filter)
    // TRUNCATED TO MILLIS — Spark's EventTimeStats tracks watermarks at ms
    // granularity — and an unmatched purchase null-emits iff
    // p_time < watermark; purchases at/after it are still parked in the
    // state store when the stream ends, by design. Matched pairs emit on
    // arrival regardless.
    QueryDef(
      "stream_outer_join",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        def side(tpe: String, pfx: String) =
          s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
            .filter(col("event_type") === tpe)
            .select(col("user_id").as(s"${pfx}_uid"),
              col("event_id").as(s"${pfx}_id"),
              col("value").as(s"${pfx}_val"),
              timestamp_micros(graft.core.Tables.tsUsExpr(schema)).as(s"${pfx}_time"))
            .withWatermark(s"${pfx}_time", "0 seconds")
        val joined = side("purchase", "p").join(side("click", "c"),
          expr("""p_uid = c_uid AND
                  c_time BETWEEN p_time - INTERVAL 1 HOUR AND p_time"""),
          "left_outer")
        StreamHarness.drain(
            joined.select(col("p_id"), col("c_id"), col("p_val"), col("c_val")),
            availableNow = true)
          .orderBy("p_id", "c_id")
      },
      Some("""WITH p AS (SELECT * FROM events WHERE event_type='purchase'),
                  c AS (SELECT * FROM events WHERE event_type='click'),
                  w AS (SELECT (least((SELECT max(epoch_us(ts)) FROM p),
                                      (SELECT max(epoch_us(ts)) FROM c))
                                // 1000) * 1000 AS wm)
             SELECT p.event_id AS p_id, c.event_id AS c_id,
                    p.value AS p_val, c.value AS c_val
             FROM p JOIN c ON p.user_id = c.user_id
              AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                                     AND epoch_us(p.ts)
             UNION ALL
             SELECT p.event_id, NULL, p.value, NULL
             FROM p, w
             WHERE epoch_us(p.ts) < wm
               AND NOT EXISTS (
                 SELECT 1 FROM c WHERE c.user_id = p.user_id
                  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                                         AND epoch_us(p.ts))
             ORDER BY p_id, c_id""")),

    // ---- the multi-input bucket ON THE STREAMING PATH under the gate:
    // scespet bucketStream.bind(purchases).bind(clicks).reset(1.day) as
    // tag + union BEFORE the windowed stateful agg (the same shape as
    // batch Buckets.taggedUnion) — same oracle as ev_bind_bucket.
    QueryDef(
      "stream_bind_bucket",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id"), graft.core.Tables.tsUsExpr(schema).as("ts"),
            col("event_type").as("tag"), col("value").as("v"))
        val agg = graft.streaming.Streams.tumblingAgg(
          src, Seq("user_id"), "1 day", "0 seconds",
          "n_p" -> count(when(col("tag") === "purchase", 1)),
          "sum_p" -> coalesce(Q.dsum(when(col("tag") === "purchase", col("v"))),
            lit(0).cast("decimal(38,6)")).cast("double"),
          "n_c" -> count(when(col("tag") === "click", 1)))
        StreamHarness.drain(agg, "complete", availableNow = true)
          .select(col("user_id"),
            expr("unix_micros(window.start) div 86400000000").as("window_id"),
            col("n_p"), col("sum_p"), col("n_c"))
          .orderBy("user_id", "window_id")
      },
      Some("""SELECT user_id, epoch_us(ts) // 86400000000 AS window_id,
             count(CASE WHEN event_type='purchase' THEN 1 END) AS n_p,
             coalesce(sum(CASE WHEN event_type='purchase'
               THEN value::decimal(38,6) END), 0)::double AS sum_p,
             count(CASE WHEN event_type='click' THEN 1 END) AS n_c
             FROM events WHERE event_type IN ('purchase','click')
             GROUP BY 1, 2 ORDER BY user_id, window_id""")),

    // ---- §2.5/§3.3 multi-input bound buckets --------------------------
    // bucketStream(stats).bind(purchases)(addP).bind(clicks)(addC)
    //   .reset(1.day).last() — tagged union + one grouped aggregation
    //   (`Sliced.reduce`, scespet's `.last()`).
    QueryDef(
      "ev_bind_bucket",
      (s, dir) => {
        val all = Q.events(s, dir)
        Buckets(Seq("user_id"))
          .bind("p", all.filter(col("event_type") === "purchase"))(
            "v" -> col("value"))
          .bind("c", all.filter(col("event_type") === "click"))(
            "v" -> col("value"))
          .reset(Slice.Tumbling(86400L * 1000 * 1000))
          .reduce(
            "n_p" -> count(Buckets.fromTag("p", col("v"))),
            "sum_p" -> coalesce(Q.dsum(Buckets.fromTag("p", col("v"))),
              lit(0).cast("decimal(38,6)")).cast("double"),
            "n_c" -> count(Buckets.fromTag("c", col("v"))))
          .orderBy("user_id", "window_id")
      },
      Some("""SELECT user_id, epoch_us(ts) // 86400000000 AS window_id,
             count(CASE WHEN event_type='purchase' THEN 1 END) AS n_p,
             coalesce(sum(CASE WHEN event_type='purchase'
               THEN value::decimal(38,6) END), 0)::double AS sum_p,
             count(CASE WHEN event_type='click' THEN 1 END) AS n_c
             FROM events WHERE event_type IN ('purchase','click')
             GROUP BY 1, 2 ORDER BY user_id, window_id""")),

    // ---- multi-input bucket CUMULATIVE emission (`Sliced.scan` — the
    // scespet `.all()` emit mode): per EVENT, the running per-tag count
    // within the (user, day) bucket across the tagged union.
    QueryDef(
      "ev_bind_bucket_all",
      (s, dir) => {
        val all = Q.events(s, dir)
        Buckets(Seq("user_id"))
          .bind("p", all.filter(col("event_type") === "purchase"))(
            "v" -> col("value"))
          .bind("c", all.filter(col("event_type") === "click"))(
            "v" -> col("value"))
          .reset(Slice.Tumbling(86400L * 1000 * 1000))
          .scan("run_p", count(Buckets.fromTag("p", col("v"))))
          .select(col("seq").as("event_id"), col("user_id"),
            col(WindowKernel.WindowId), col("run_p"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             epoch_us(ts) // 86400000000 AS window_id,
             count(CASE WHEN event_type='purchase' THEN 1 END) OVER (
               PARTITION BY user_id, epoch_us(ts) // 86400000000
               ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_p
             FROM events WHERE event_type IN ('purchase','click')
             ORDER BY event_id""")),

    // ---- §2.5 order-dependent aggregations ----------------------------
    QueryDef(
      "ev_ewma",
      (s, dir) =>
        Q.events(s, dir)
          .groupBy("user_id")
          .agg(Reducers.ewma(col("ts"), col("seq"), col("value"), 0.25).as("ewma"))
          .orderBy("user_id"),
      Some("""SELECT user_id,
             list_reduce(list(value ORDER BY epoch_us(ts), event_id),
                         (acc, x) -> 0.25*x + 0.75*acc) AS ewma
             FROM events GROUP BY user_id ORDER BY user_id""")),

    QueryDef(
      "ev_append",
      (s, dir) =>
        Q.events(s, dir)
          .groupBy("user_id")
          .agg(array_join(
            Reducers.appendOrdered(col("ts"), col("seq"), col("event_type")), ",")
            .as("seq_str"))
          .orderBy("user_id"),
      Some("""SELECT user_id,
             string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq_str
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- Timer + sample (scespet Timer(1.day) sampling a scan,
    // util/Timer.scala:10-30 + MacroTerm.sample): a generated daily grid
    // as-of samples the running event count.
    QueryDef(
      "ev_timer_sample",
      (s, dir) => {
        val start = 1704067200000000L // 2024-01-01T00:00Z in epoch-µs
        val grid = graft.sources.Sources.timeGrid(
          s, start, start + 7L * 86400000000L, 86400000000L)
        val counted = EStream(Q.events(s, dir))
          .foldAllAssoc(("n_so_far", lit(1L), "sum"))
        grid.take(counted, Seq("n_so_far" -> col("n_so_far")))
          .df.select(col("ts"),
            coalesce(col("n_so_far"), lit(0L)).as("n_so_far"))
          .orderBy("ts")
      },
      Some("""SELECT t.ts,
             (SELECT count(*) FROM events e WHERE epoch_us(e.ts) <= t.ts) AS n_so_far
             FROM (SELECT unnest(generate_series(1704067200000000,
                     1704067200000000 + 7*86400000000 - 1, 86400000000)) AS ts) t
             ORDER BY t.ts""")),

    // ---- keyed sample (VectTerm.sample): every key's latest value
    // snapshotted on each tick of a trigger stream — the periodic
    // portfolio-snapshot shape. Keys not yet seen at a tick are null.
    QueryDef(
      "ev_sample_keyed",
      (s, dir) => {
        val start = 1704067200000000L // 2024-01-01T00:00Z epoch-µs
        val grid = graft.sources.Sources.timeGrid(
          s, start, start + 7L * 86400000000L, 86400000000L)
        evKeyed(s, dir)
          .sample(grid, Seq("v" -> col("value")))
          .df.select(col("user_id"), col("ts"), col("v"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH ks AS (SELECT DISTINCT user_id FROM events),
             g AS (SELECT unnest(generate_series(1704067200000000,
                     1704067200000000 + 7*86400000000 - 1, 86400000000)) AS ts),
             grid AS (SELECT user_id, g.ts, 1 AS side,
                        NULL::double AS v, 0 AS eid FROM ks CROSS JOIN g),
             src AS (SELECT user_id, epoch_us(ts) AS ts, 0 AS side,
                       value AS v, event_id AS eid FROM events),
             u AS (SELECT * FROM grid UNION ALL SELECT * FROM src),
             c AS (SELECT *, last_value(v IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY ts, side, eid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
                   FROM u)
             SELECT user_id, ts, lv AS v FROM c WHERE side = 1
             ORDER BY user_id, ts""")),

    // ---- mode aggregation (scespet SpreadStats mode-of-spread,
    // RealTradeTests.scala:263-281): most frequent bucketed value per key.
    QueryDef(
      "ev_mode",
      (s, dir) =>
        Q.events(s, dir)
          .groupBy(col("event_type"), floor(col("value") / 10).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("event_type")
              .orderBy(col("cnt").desc, col("bucket"))))
          .filter(col("rk") === 1)
          .select(col("event_type"), col("bucket").as("mode_bucket"), col("cnt"))
          .orderBy("event_type"),
      Some("""SELECT event_type, bucket AS mode_bucket, cnt
             FROM (SELECT event_type, bucket, cnt, row_number() OVER (
                     PARTITION BY event_type ORDER BY cnt DESC, bucket) AS rk
                   FROM (SELECT event_type, floor(value / 10)::bigint AS bucket,
                           count(*) AS cnt
                         FROM events GROUP BY 1, 2))
             WHERE rk = 1 ORDER BY event_type""")),

    // ---- arg-max aggregation (max_by / arg_max): the value carried by
    // the extremal row, keyed on the UNIQUE sequence column so there is
    // no engine-specific tie-break. One partial-aggregable shuffle — the
    // "latest state per group" idiom without a window sort.
    QueryDef(
      "ev_argmax",
      (s, dir) =>
        Q.events(s, dir)
          .groupBy("event_type")
          .agg(
            max(col("seq")).as("last_seq"),
            expr("max_by(value, seq)").as("last_value"),
            expr("min_by(value, seq)").as("first_value"))
          .orderBy("event_type"),
      Some("""SELECT event_type, max(event_id) AS last_seq,
             arg_max(value, event_id) AS last_value,
             arg_min(value, event_id) AS first_value
             FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- winsorized mean: robust location estimate — clamp at the exact
    // P05/P95 (both engines interpolate quantile_cont identically, pinned
    // by ev_percentiles), then an exact-decimal mean of the clamped
    // values. The quantile pass is a per-group sort; the clamp+mean pass
    // is partial-aggregable — the standard two-pass robust-stats shape.
    QueryDef(
      "ev_winsorized_mean",
      (s, dir) => {
        val e = Q.events(s, dir)
        val qs = e.groupBy("event_type").agg(
          expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
        e.join(broadcast(qs), "event_type")
          .withColumn("wv", least(greatest(col("value"), col("p05")), col("p95")))
          .groupBy("event_type")
          .agg(
            // double-div of the exact-decimal sum (the ev_avg template:
            // decimal DIVISION scale rules are engine-specific, double
            // division of identical doubles is not)
            (Q.dsumD(col("wv")) / count(lit(1))).as("wmean"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""WITH qs AS (
               SELECT event_type,
                 quantile_cont(value, 0.05) AS p05,
                 quantile_cont(value, 0.95) AS p95
               FROM events GROUP BY event_type)
             SELECT event_type,
               sum(least(greatest(value, p05), p95)::decimal(38,6))::double
                 / count(*) AS wmean,
               count(*) AS n
             FROM events JOIN qs USING (event_type)
             GROUP BY event_type ORDER BY event_type""")),

    // ---- lag/lead: inter-event deltas (ranking-window family) ---------
    QueryDef(
      "ev_lag_delta",
      (s, dir) =>
        evKeyed(s, dir)
          .map("event_id" -> col("seq"),
            "gap_us" -> (col("ts") - lag(col("ts"), 1).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("user_id").orderBy("ts", "seq"))),
            "dv" -> (col("value").cast("decimal(38,6)") -
              lag(col("value").cast("decimal(38,6)"), 1).over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy("user_id").orderBy("ts", "seq"))).cast("double"))
          .df.select("event_id", "gap_us", "dv")
          .orderBy("event_id"),
      Some("""SELECT event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
             (value::decimal(38,6) - lag(value::decimal(38,6)) OVER w)::double AS dv
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
             ORDER BY event_id""")),

    // ---- Avg reducer: exact-sum mean, one double division -------------
    QueryDef(
      "ev_avg",
      (s, dir) =>
        evKeyed(s, dir)
          .reduceAll("mean_value" ->
            graft.functions.Reducers.avgExact(col("value")))
          .orderBy("user_id"),
      Some("""SELECT user_id,
             sum(value::decimal(38,6))::double / count(*) AS mean_value
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- §2.3 nested grouping (VectTerm.groupby) ----------------------
    QueryDef(
      "ev_groupby_nested",
      (s, dir) =>
        evKeyed(s, dir)
          .groupByNested(pmod(col("user_id"), lit(3)), "k2")
          .reduceAll("n" -> count(lit(1)), "sum_value" -> Q.dsumD(col("value")))
          .orderBy("k2", "user_id"),
      Some("""SELECT user_id % 3 AS k2, user_id, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value
             FROM events GROUP BY 1, 2 ORDER BY k2, user_id""")),

    // ---- §2.2 mapVector cross-key snapshot sum ------------------------
    QueryDef(
      "ev_vector_sum",
      (s, dir) =>
        evKeyed(s, dir)
          // decimal deltas: windowed double sums differ across engines
          // (DuckDB frames use a segment tree → different fp add order)
          .vectorSumAtEachEvent(col("value").cast("decimal(38,6)"), "vec_sum")
          .select(col("seq").as("event_id"),
            col("vec_sum").cast("double").as("vec_sum"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             (sum(value::decimal(38,6) - coalesce(pv, 0)) OVER (
               ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::double AS vec_sum
             FROM (SELECT *, lag(value::decimal(38,6)) OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv
                   FROM events)
             ORDER BY event_id""")),

    // ---- §2.2 mapVector (cross-key snapshot) --------------------------
    QueryDef(
      "ev_vector_size",
      (s, dir) =>
        evKeyed(s, dir)
          .vectorSizeAtEachEvent("n_keys")
          .select(col("seq").as("event_id"), col("n_keys"))
          .orderBy("event_id"),
      Some("""SELECT event_id, (sum(first_seen) OVER (
               ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS n_keys
             FROM (SELECT *, CASE WHEN row_number() OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) = 1
                     THEN 1 ELSE 0 END AS first_seen FROM events)
             ORDER BY event_id""")),

    // ---- native session_window on the LIVE stream: Spark's built-in
    // gap-session operator (the streaming twin of KStream.sessionize,
    // merge-on-overlap state). APPEND mode (VERDICT r12 #3): sessions
    // emit once when the watermark finalizes them and their state
    // drains — complete mode re-emitted the FULL session set (~912k
    // rows at sf1) every micro-batch, the profiled floor. A one-row
    // flush sentinel (key -1, tmax + 2 h) on a second source pushes the
    // final watermark past every real session's end, so the append
    // emission covers exactly the oracle's session set — same oracle,
    // same rows — and the store DRAINS (state rows 912k → 1 at sf1).
    // The oracle rebuilds gap-chains with Spark's merge rule (same
    // session while gap < G).
    QueryDef(
      "stream_session_window",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.wideStreamPartitions(s)) {
        // the final emission rides the no-data micro-batch after the
        // sentinel advances the watermark — fail loudly on config drift
        // (same guard as stream_clean_corpus_ttl, ADVICE r11)
        require(s.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true").toBoolean,
          "stream_session_window needs " +
            "spark.sql.streaming.noDataMicroBatches.enabled=true: append-" +
            "mode sessions finalize in the idle batch after the flush " +
            "sentinel's watermark advance")
        // pre-merge sessions within each input partition BEFORE the
        // key shuffle: the shuffle then moves ~sessions (~912k at sf1),
        // not ~events (5M) — the quantity that matters on a real
        // cluster's network; a single-JVM local shuffle shows parity
        // (SCALE.md r12 has the honest A/B). Semantics identical — the
        // oracle gate holds unchanged.
        StreamHarness.withConf(s,
          "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition" -> "true") {
          val mainSrc = StreamFixtures.scratchDir("graft_sw_src_")
          try {
            // keyed-topic ingest shape (VERDICT r13 #3): the corpus arrives
            // as ~cores parquet files hash-partitioned by user_id, and the
            // scan takes one partition per file (withSplitPerFile) — the
            // 5M-row sf1 decode runs file-parallel instead of on one core,
            // and each partition holds complete per-user histories, so the
            // local session pre-merge finishes sessions map-side and the
            // key shuffle moves ~sessions. This replaces the r13 scanWide
            // round-robin exchange (which fanned rows out but still paid
            // the single-split decode AND an extra 5M-row exchange); a
            // deployed Kafka topic is keyed, so this is the shape the
            // operator actually sees in production.
            val fxRoot = StreamFixtures.eventsKeyed(s, dir)
            val schema = StreamFixtures.eventsKeyedSchema(s, dir)
            StreamFixtures.feed(fxRoot, "keyed", mainSrc)
            // the sentinel file is staged into the SAME source dir BEFORE
            // start, so batch 0 admits the corpus and the flush row
            // TOGETHER: the watermark only advances AFTER a batch, so
            // nothing can be late-dropped, and the single no-data batch
            // that follows finalizes and emits every real session and
            // drains the store in one pass. (r12 needed a second source to
            // stage the sentinel after batch 0; the r13 single-phase feed
            // made that source pure overhead — one more listing + offset
            // log + union node per trigger — so it is gone.)
            StreamFixtures.feed(
              StreamFixtures.sessionFlushFixture(s, dir), "flush", mainSrc)
            val src = s.readStream.schema(schema).parquet(mainSrc)
              .withColumn("event_time", timestamp_micros(graft.core.Tables.tsUsExpr(schema)))
              .withWatermark("event_time", "0 seconds")
            val agg = src
              .groupBy(col("user_id"), session_window(col("event_time"), "1 hour"))
              .agg(count(lit(1)).as("n"), Q.dsumD(col("value")).as("sum_value"))
            StreamHarness.withSplitPerFile(s) {
              StreamHarness.drain(agg, drive = { sq =>
                StreamHarness.settle(sq)
                // the sentinel rides WITH the corpus in batch 0, so nothing
                // may ever be late-dropped; if admission ever spans batches
                // (fixture/source drift) this catches the silent loss
                // (ADVICE r13, same spirit as the noDataMicroBatches guard)
                val dropped = StreamHarness.watermarkDrops(sq)
                require(dropped == 0L,
                  s"stream_session_window: $dropped rows late-dropped by the " +
                    "watermark — corpus and flush sentinel were not admitted " +
                    "in the same micro-batch; sessions were silently lost")
              })
            }
              .filter(col("user_id") =!= -1L)
              .select(col("user_id"),
                unix_micros(col("session_window.start")).as("wstart"),
                col("n"), col("sum_value"))
              .orderBy("user_id", "wstart")
          } finally StreamFixtures.deleteRecursively(mainSrc)
        }
      },
      Some("""SELECT user_id, min(t) AS wstart, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value
             FROM (SELECT user_id, value, epoch_us(ts) AS t,
                     sum(CASE WHEN pv IS NULL
                         OR epoch_us(ts) - pv >= 3600000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                   FROM (SELECT *, lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv
                         FROM events))
             GROUP BY user_id, sid ORDER BY user_id, wstart""")),

    // ---- measured streaming NULL-PASSTHROUGH floor (VERDICT r13 #3b) --
    // The same keyed-fixture ingest as stream_session_window — file feed,
    // schema'd parquet readStream, micro-batch machinery, memory sink —
    // with NO stateful operator: read every event, emit every event. Its
    // wall is the harness + ingest + sink toll every streaming query pays
    // before its operator does any work; BENCH_SF1 quotes the streaming
    // family's floor-subtracted ratios against it, so the stateful
    // operators' own cost is separable from the fixed machinery term that
    // a long-running deployment amortizes to zero (one start/stop per
    // JOB, not per 5M events). The oracle is the trivial projection —
    // this is also the cheapest possible end-to-end pin that ingest
    // admits every row exactly once.
    QueryDef(
      "stream_ingest_floor",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val fxRoot = StreamFixtures.eventsKeyed(s, dir)
        val schema = StreamFixtures.eventsKeyedSchema(s, dir)
        val srcDir = StreamFixtures.scratchDir("graft_floor_src_")
        try {
          StreamFixtures.feed(fxRoot, "keyed", srcDir)
          // this query sinks EVERY event row to the driver-side memory
          // sink — fail loud on an undersized maxResultSize (ADVICE r14)
          StreamFixtures.assertDriverCollectCapacity(s, srcDir,
            "stream_ingest_floor")
          StreamHarness.withSplitPerFile(s) {
            StreamHarness.drain(s.readStream.schema(schema).parquet(srcDir)
              .select(col("event_id"), col("user_id"), col("value")),
              drive = StreamHarness.settle)
          }.orderBy("event_id")
        } finally StreamFixtures.deleteRecursively(srcDir)
      },
      Some("""SELECT event_id, user_id, value FROM events
             ORDER BY event_id""")),

    // ---- volume anomaly detection (z-score gate) -----------------------
    // Daily event-volume z-scores against the corpus-wide mean/std — the
    // ops-alerting primitive next to ev_drift_kl's mix monitor. Exact
    // integer day counts feed one deterministic IEEE chain (mean, Welch-
    // style variance, sqrt, ratio), quantized to z·1e4 with the +0.5
    // round-half-up both engines share; the flag is an integer compare on
    // the quantized value, so no float boundary can disagree. Scale: one
    // map-side day histogram; everything after runs on the day frame.
    QueryDef(
      "ev_anomaly_zscore",
      (s, dir) => {
        val nd = Tables.events(s, dir)
          .select(expr("ts div 86400000000").as("day"))
          .groupBy("day").agg(count(lit(1)).as("n"))
        val st = nd.agg(count(lit(1)).as("d"),
          sum("n").as("s1"), sum(col("n") * col("n")).as("s2"))
        // degenerate-input guard (ADVICE r6): on a single-day corpus the
        // (d - 1) variance denominator is 0 and double÷0 diverges cross-
        // engine (Spark IEEE Inf/NaN vs DuckDB NULL-or-error); zero
        // variance has the same hazard one step later. Both engines gate
        // the division behind the SAME CASE, emitting NULL z_q/flag —
        // the ssq > 0 compare is on an identically-computed double chain,
        // so the gate itself cannot disagree.
        nd.crossJoin(broadcast(st))
          .withColumn("ssq",
            col("s2") - col("s1").cast("double") * col("s1") / col("d"))
          .withColumn("z_q", when(col("d") >= 2 && col("ssq") > 0, floor(
            ((col("n") - col("s1").cast("double") / col("d")) /
              sqrt((col("ssq") / (col("d") - 1)).cast("double")))
              * 10000 + 0.5).cast("long")))
          .select(col("day"), col("n"), col("z_q"),
            (abs(col("z_q")) >= 15000).cast("int").as("flag"))
          .orderBy("day")
      },
      Some("""WITH nd AS (
               SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
               FROM events GROUP BY day),
             st AS (SELECT count(*) AS d, sum(n)::bigint AS s1,
                      sum(n * n)::bigint AS s2 FROM nd),
             z AS (
               SELECT day, n,
                 CASE WHEN d >= 2 AND (s2 - s1::double * s1 / d) > 0 THEN
                   floor(((n - s1::double / d) /
                     sqrt((s2 - s1::double * s1 / d) / (d - 1))) * 10000
                     + 0.5)::bigint
                 END AS z_q
               FROM nd CROSS JOIN st)
             SELECT day, n, z_q, (abs(z_q) >= 15000)::int AS flag
             FROM z ORDER BY day""")),

    // ---- user growth curve (first-seen histogram) ----------------------
    // Cumulative distinct users per day WITHOUT a running count-distinct:
    // per-user min(first day) — one map-side-combinable groupBy on the
    // user key — then a new-users histogram and a cumsum over the tiny
    // day frame. The classic growth-accounting decomposition that scales
    // where `count(DISTINCT) OVER (ORDER BY day)` cannot.
    QueryDef(
      "ev_cumulative_users",
      (s, dir) => {
        val first = Tables.events(s, dir)
          .select(col("user_id"), expr("ts div 86400000000").as("day"))
          .groupBy("user_id").agg(min("day").as("day"))
        first.groupBy("day").agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users", sum("new_users").over(
            org.apache.spark.sql.expressions.Window.orderBy("day")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .orderBy("day")
      },
      Some("""WITH first AS (
               SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
               FROM events GROUP BY user_id),
             nd AS (SELECT day, count(*) AS new_users FROM first GROUP BY day)
             SELECT day, new_users,
               sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                 ::bigint AS cum_users
             FROM nd ORDER BY day""")),

    // ---- Markov transition matrix (sequence analytics) -----------------
    // First-order event-type transition model per user timeline — the
    // behavioral-model primitive next to the CEP/funnel queries: P(next
    // type | type) as exact ppm. Scale shape: ONE user-keyed exchange +
    // in-partition sort feeds the lead() window (the sessionization
    // pattern); the transition aggregation collapses to |types|² cells
    // map-side before its tiny shuffle.
    QueryDef(
      "ev_markov_transitions",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("seq"))
        // NOT persisted (r16): the |types|² frame is shared by the
        // row-normalizer and the join's left side, but both branches end
        // in the IDENTICAL groupBy(src,dst) exchange subtree, which AQE
        // covers with ReusedExchange — the user-keyed window pass runs
        // once either way. The r15-measured persist cost was real: the
        // InMemoryRelation materializes through the non-AQE path (32
        // uncoalesced shuffle partitions; 132 tasks / 8 jobs measured,
        // vs 4 jobs adaptive), the exact class q11's checkpoint swap
        // removed.
        val tr = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("seq"),
            col("event_type").as("src"))
          .withColumn("dst", lead("src", 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        val tot = tr.groupBy("src").agg(sum("n").as("n_src"))
        tr.join(broadcast(tot), "src")
          .select(col("src"), col("dst"), col("n"),
            expr("n * 1000000 div n_src").as("p_ppm"))
          .orderBy("src", "dst")
      },
      Some("""WITH tr AS (
               SELECT src, dst, count(*) AS n FROM (
                 SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS dst
                 FROM events)
               WHERE dst IS NOT NULL GROUP BY src, dst),
             tot AS (SELECT src, sum(n)::bigint AS n_src FROM tr GROUP BY src)
             SELECT src, dst, n, (n * 1000000) // n_src AS p_ppm
             FROM tr JOIN tot USING (src) ORDER BY src, dst""")),

    // ---- A/B experiment readout (Welch t-statistic) --------------------
    // The experimentation primitive: two deterministic arms (user parity),
    // Welch's unequal-variance t on `value`. Determinism is the
    // li_ols_brand contract hardened one notch: inputs quantize to exact
    // integer CENTI-units (floor(x·1e2 + 0.5)), chosen so every decimal
    // sum — including Σvc² — stays BELOW 2^53 and its double cast is
    // exactly representable (measured: micro-units pushed Σvc² to ~2.5e19,
    // where DuckDB's hugeint→double two-part conversion rounds differently
    // from the JVM's correctly-rounded BigDecimal path by 1 ulp and the
    // t chain amplified it to 3 ulps). With exactly-agreed operands the t
    // formula is one identical chain of correctly-rounded double ops. One
    // pass, conditional partial-agg sums, no shuffle beyond the 1-row agg.
    QueryDef(
      "ev_ab_ttest",
      (s, dir) => {
        val e = Tables.events(s, dir).select(
          (col("user_id") % 2).as("arm"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast("decimal(38,0)")).cast("double")
        val g = e.agg(
          count(when(col("arm") === 0, 1)).as("n_a"),
          count(when(col("arm") === 1, 1)).as("n_b"),
          dsum(when(col("arm") === 0, col("vc"))).as("s1a"),
          dsum(when(col("arm") === 1, col("vc"))).as("s1b"),
          dsum(when(col("arm") === 0, col("vc") * col("vc"))).as("s2a"),
          dsum(when(col("arm") === 1, col("vc") * col("vc"))).as("s2b"))
        // degenerate-arm guard (ADVICE r6): an arm with n <= 1 zeroes the
        // (n - 1) denominator and double÷0 diverges cross-engine. The
        // nested CASE gates the variance math so neither engine touches
        // the division in the degenerate branch; the inner variance > 0
        // compare is the same double chain on both sides.
        g.select(col("n_a"), col("n_b"),
          expr("s1a / n_a").as("mean_a_centi"),
          expr("s1b / n_b").as("mean_b_centi"),
          expr("""CASE WHEN n_a > 1 AND n_b > 1 THEN
                    CASE WHEN ((s2a - s1a * s1a / n_a) / (n_a - 1)) / n_a +
                              ((s2b - s1b * s1b / n_b) / (n_b - 1)) / n_b > 0
                    THEN (s1a / n_a - s1b / n_b) /
                         sqrt(((s2a - s1a * s1a / n_a) / (n_a - 1)) / n_a +
                              ((s2b - s1b * s1b / n_b) / (n_b - 1)) / n_b)
                    END
                  END""")
            .as("t_stat"))
      },
      Some("""WITH e AS (
               SELECT user_id % 2 AS arm,
                 floor(value * 100 + 0.5)::bigint AS vc FROM events),
             g AS (
               SELECT
                 count(CASE WHEN arm = 0 THEN 1 END) AS n_a,
                 count(CASE WHEN arm = 1 THEN 1 END) AS n_b,
                 sum((CASE WHEN arm = 0 THEN vc END)::decimal(38,0))::double AS s1a,
                 sum((CASE WHEN arm = 1 THEN vc END)::decimal(38,0))::double AS s1b,
                 sum((CASE WHEN arm = 0 THEN vc * vc END)::decimal(38,0))::double AS s2a,
                 sum((CASE WHEN arm = 1 THEN vc * vc END)::decimal(38,0))::double AS s2b
               FROM e)
             SELECT n_a, n_b,
               s1a / n_a AS mean_a_centi,
               s1b / n_b AS mean_b_centi,
               CASE WHEN n_a > 1 AND n_b > 1 THEN
                 CASE WHEN ((s2a - s1a * s1a / n_a) / (n_a - 1)) / n_a +
                           ((s2b - s1b * s1b / n_b) / (n_b - 1)) / n_b > 0
                 THEN (s1a / n_a - s1b / n_b) /
                      sqrt(((s2a - s1a * s1a / n_a) / (n_a - 1)) / n_a +
                           ((s2b - s1b * s1b / n_b) / (n_b - 1)) / n_b)
                 END
               END AS t_stat
             FROM g""")),

    // ---- distribution drift monitoring (data-quality gate) -------------
    // Per-day KL divergence of the event-type mix against the global
    // reference distribution — the pipeline-monitoring primitive that
    // catches upstream schema/mix breaks before they poison a training
    // corpus. Emitted as n_d·KL in MICRO-NATS: each (day, type) cell
    // contributes c_dt · floor(1e6 · ln(c_dt·N / (n_d·c_t))) — exact
    // integer products, ONE double division, quantized ln (the
    // doc_unigram_nll contract: ≤1-ulp libm drift vs a 1e-6 grid), then
    // an exact integer sum. Scale shape: three map-side-combinable
    // groupBys (day×type, day, type); the type table broadcasts; the
    // per-cell math runs on the days×types frame, not the fact rows.
    QueryDef(
      "ev_drift_kl",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(expr("ts div 86400000000").as("day"),
            col("event_type").as("t"))
        // (r16: deriving nd/ct/n as rollups of cdt measured WORSE —
        // 282→350 ms, 10 jobs either way: the fact scans are cheap and
        // map-side partial aggs shrink each exchange, while the rollup
        // re-runs cdt's final vocab-sized aggregate per consumer above
        // the AQE-reused exchange. Kept the independent-marginal shape.)
        val cdt = e.groupBy("day", "t").agg(count(lit(1)).as("c_dt"))
        val nd = e.groupBy("day").agg(count(lit(1)).as("n_d"))
        val ct = e.groupBy("t").agg(count(lit(1)).as("c_t"))
        val n = e.agg(count(lit(1)).as("nn"))
        // overflow headroom (ADVICE r6): the ln argument multiplies each
        // factor AFTER an individual double cast — an int64 product
        // c_dt·nn would wrap silently on Spark (non-ANSI) while DuckDB
        // promotes to hugeint once c_dt·nn ≥ 2^63 (nn ~ 1e12 at 100 TB).
        // Double multiply is correctly rounded identically on both
        // engines (same op order), and below 2^53 per product it is
        // bit-exact with the old integer path. Remaining int64 bound:
        // the OUTER c_dt·ln_q term — |ln_q| ≤ ~3.2e7 (e^±32 ratio), so
        // the per-day sum holds while n_d < ~2.8e11 rows/day; documented,
        // not guarded (a single day of 280 G events is past the point
        // where micro-nat quantization is the right readout anyway).
        cdt.join(nd, "day").join(broadcast(ct), "t").crossJoin(broadcast(n))
          .withColumn("term", col("c_dt") *
            floor(log((col("c_dt").cast("double") * col("nn").cast("double")) /
              (col("n_d").cast("double") * col("c_t").cast("double"))) * 1000000))
          .groupBy("day")
          .agg(max("n_d").as("n"), sum("term").as("kl_q"))
          .orderBy("day")
      },
      Some("""WITH e AS (
               SELECT epoch_us(ts) // 86400000000 AS day, event_type AS t
               FROM events),
             cdt AS (SELECT day, t, count(*) AS c_dt FROM e GROUP BY day, t),
             nd AS (SELECT day, count(*) AS n_d FROM e GROUP BY day),
             ct AS (SELECT t, count(*) AS c_t FROM e GROUP BY t),
             n AS (SELECT count(*) AS nn FROM e)
             SELECT day, max(n_d) AS n,
               sum(c_dt * floor(ln((c_dt::double * nn::double) /
                 (n_d::double * c_t::double)) * 1000000)::bigint)::bigint AS kl_q
             FROM cdt JOIN nd USING (day) JOIN ct USING (t) CROSS JOIN n
             GROUP BY day ORDER BY day""")),

    // Ingest-time twin of ev_drift_kl: the reference mix (per-type counts
    // + total) is computed batch-side from history and FROZEN as literals;
    // the stream maintains only the (day × type) count state (complete
    // mode — day-count-bounded, the monitoring dashboard's own size) and
    // the KL readout runs on the tiny post-sink frame. Same micro-nat
    // integer contract as the batch query; the oracle is identical
    // because the stream replays the same corpus the reference was
    // computed from.
    QueryDef(
      "stream_drift_kl",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        // reference mix FROZEN per JVM (offline-computed monitoring
        // baseline; see StreamFixtures.frozen)
        val ctRows = StreamFixtures.frozen("driftkl_ct|" + dir) {
          Tables.events(s, dir).select(col("event_type").as("t"))
            .groupBy("t").agg(count(lit(1)).as("c_t")).collect()
            .map(r => (r.getString(0), r.getLong(1)))
        }
        val nn = ctRows.map(_._2).sum
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val counts = src
          .select(graft.core.Tables.tsUsExpr(schema).as("tsu"),
            col("event_type").as("t"))
          .select(expr("tsu div 86400000000").as("day"), col("t"))
          .groupBy("day", "t").agg(count(lit(1)).as("c_dt"))
        import s.implicits._
        // localCheckpoint: the memory-sink MemoryPlan does not support
        // self-join attribute dedup — snapshot it into an ExistingRDD
        val cdt = StreamHarness.drain(counts, "complete").localCheckpoint()
        val nd = cdt.groupBy("day").agg(sum("c_dt").as("n_d"))
        val ctDf = ctRows.toSeq.toDF("t", "c_t")
        cdt.join(nd, "day").join(broadcast(ctDf), "t")
          .withColumn("term", col("c_dt") *
            floor(log((col("c_dt").cast("double") * lit(nn).cast("double")) /
              (col("n_d").cast("double") * col("c_t").cast("double"))) * 1000000))
          .groupBy("day")
          .agg(max("n_d").as("n"), sum("term").as("kl_q"))
          .orderBy("day")
      },
      Some("""WITH e AS (
               SELECT epoch_us(ts) // 86400000000 AS day, event_type AS t
               FROM events),
             cdt AS (SELECT day, t, count(*) AS c_dt FROM e GROUP BY day, t),
             nd AS (SELECT day, count(*) AS n_d FROM e GROUP BY day),
             ct AS (SELECT t, count(*) AS c_t FROM e GROUP BY t),
             n AS (SELECT count(*) AS nn FROM e)
             SELECT day, max(n_d) AS n,
               sum(c_dt * floor(ln((c_dt::double * nn::double) /
                 (n_d::double * c_t::double)) * 1000000)::bigint)::bigint AS kl_q
             FROM cdt JOIN nd USING (day) JOIN ct USING (t) CROSS JOIN n
             GROUP BY day ORDER BY day""")),

    // ---- Z-order layout (the OPTIMIZE ZORDER primitive) ----------------
    // Multi-dimensional data layout: bit-interleave a 16-bit user-hash
    // with a 16-bit hour-bucket into a 32-bit Morton key, shard by its
    // high bits. Data written in z-order keeps BOTH dimensions locally
    // clustered, so parquet min/max stats prune scans for user-predicates
    // AND time-predicates at once — the layout story behind Delta/Iceberg
    // OPTIMIZE ZORDER, here as a first-class deterministic operator (the
    // interleave is 32 exact integer shift/mask terms, identical text on
    // both engines). The query emits the layout's quality metrics: rows,
    // distinct users, distinct hours and the z-range per shard. Plan:
    // the Morton key is a pure map; the only shuffle is the 16-group agg.
    QueryDef(
      "ev_zorder_layout",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val aC = Q.hash60(concat(lit("z|"), col("user_id"))) % 65536
        val hC = expr("ts div 3600000000")
        val bC = hC % 65536
        val z = (0 until 16).map { k =>
          shiftleft(shiftright(aC, k).bitwiseAND(lit(1L)), 2 * k) +
            shiftleft(shiftright(bC, k).bitwiseAND(lit(1L)), 2 * k + 1)
        }.reduce(_ + _)
        e.select(col("user_id"), hC.as("hr"), z.as("z"))
          .withColumn("shard", expr("z div 268435456"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(col("hr")).as("n_hours"),
            min("z").as("min_z"), max("z").as("max_z"))
          .orderBy("shard")
      },
      Some {
        val aE = s"(${Q.hash60Sql("'z|' || user_id")} % 65536)"
        val bE = "(hr % 65536)"
        val zTerms = (0 until 16).map(k =>
          s"((($aE >> $k) & 1) << ${2 * k}) + ((($bE >> $k) & 1) << ${2 * k + 1})")
          .mkString(" + ")
        s"""WITH b AS (
              SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
            zt AS (SELECT user_id, hr, ($zTerms) AS z FROM b)
            SELECT z // 268435456 AS shard, count(*) AS n,
              count(DISTINCT user_id) AS n_users,
              count(DISTINCT hr) AS n_hours,
              min(z)::bigint AS min_z, max(z)::bigint AS max_z
            FROM zt GROUP BY shard ORDER BY shard"""
      }),

    // ---- skew-safe aggregation UNDER THE GATE (operators.Skew) ---------
    // event_type has 5 values over the whole table — the textbook mega-key
    // shape. Two-phase salted aggregation spreads each hot key over 8
    // reducers, then merges partials; the oracle is the plain GROUP BY
    // (identical values — decimal partial sums merge exactly).
    QueryDef(
      "ev_salted_type_agg",
      (s, dir) =>
        graft.operators.Skew.saltedAgg(
          Q.events(s, dir), Seq("event_type"), salt = 8,
          partials = Seq(
            "n" -> count(lit(1)),
            "sum_value" -> Q.dsum(col("value")),
            "max_value" -> max(col("value"))),
          merges = Seq(
            "n" -> sum(col("n")),
            "sum_value" -> sum(col("sum_value")).cast("double"),
            "max_value" -> max(col("max_value"))))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value,
             max(value) AS max_value
             FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- streaming stream-static join: the live stream enriches against
    // a broadcastable static dimension (the standard streaming-ETL shape;
    // no state store — the dim is just a batch frame in the plan).
    QueryDef(
      "stream_static_join",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        // static dim: per-user tier derived once, batch-side
        val tiers = s.read.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id")).distinct()
          .select(col("user_id"), pmod(col("user_id"), lit(3)).as("tier"))
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val joined = src.join(broadcast(tiers), "user_id")
          .groupBy("tier")
          .agg(count(lit(1)).as("n"), Q.dsumD(col("value")).as("sum_value"))
        StreamHarness.drain(joined, "complete", availableNow = true).orderBy("tier")
      },
      Some("""SELECT user_id % 3 AS tier, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value
             FROM events GROUP BY 1 ORDER BY tier""")),

    // ---- streaming exact dedup: dropDuplicates on a live stream is the
    // stateful dedup operator every ingest pipeline runs (state = seen
    // keys). Events duplicated at the source (same event_id) collapse.
    QueryDef(
      "stream_dedup_exact",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        // duplicate the source (union with itself) then stateful-dedup
        val doubled = src.union(src)
        val deduped = doubled.dropDuplicates("event_id")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"))
        StreamHarness.drain(deduped, "complete", availableNow = true).orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n
             FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- as-of take with a STALENESS BOUND (beyond reference): the
    // sampled click nulls out when older than 1 h at the purchase time —
    // the shape production as-of joins ship (kdb wj, QuestDB ASOF ...
    // TOLERANCE). Cost identical to plain take: one extra carried column.
    QueryDef(
      "ev_asof_tolerance",
      (s, dir) => {
        val all = Q.events(s, dir)
        val purchases = KStream(all.filter(col("event_type") === "purchase"), Seq("user_id"))
        val clicks = KStream(all.filter(col("event_type") === "click"), Seq("user_id"))
        purchases
          .takeWithin(clicks, Seq(col("user_id")),
            Seq("click_value" -> col("value")), 3600L * 1000 * 1000)
          .df.select(col("seq").as("event_id"), col("user_id"),
            col("value"), col("click_value"))
          .orderBy("event_id")
      },
      Some("""WITH u AS (
               SELECT event_id, user_id, epoch_us(ts) AS t, 1 AS side,
                      value, NULL::double AS cv FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT event_id, user_id, epoch_us(ts) AS t, 0 AS side,
                      NULL, value FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 last_value(cv IGNORE NULLS) OVER w AS click_value,
                 last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
                   OVER w AS click_t
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY t, side, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             SELECT event_id, user_id, value,
               CASE WHEN click_t IS NOT NULL AND t - click_t <= 3600000000
                    THEN click_value END AS click_value
             FROM c WHERE side = 1 ORDER BY event_id""")),

    // ---- CEP sequence pattern with NEGATION (SASE-style SEQ(click →
    // purchase) WITHIN 1h AND NOT error BETWEEN; cf. the retrieved CEP
    // literature, PAPERS.md): the last-match SEQ step is exactly the
    // as-of takeWithin sample (one union-window shuffle on user_id), and
    // the negation is a range anti-join against the error stream on the
    // same key — no NFA state machine, no per-event driver logic; both
    // stages partition by user_id and scale as the as-of core does.
    QueryDef(
      "ev_cep_pattern",
      (s, dir) => {
        val all = Q.events(s, dir)
        val purchases = KStream(
          all.filter(col("event_type") === "purchase"), Seq("user_id"))
        val clicks = KStream(
          all.filter(col("event_type") === "click")
            .withColumn("c_t", col("ts")), Seq("user_id"))
        val matched = purchases
          .takeWithin(clicks, Seq(col("user_id")),
            Seq("click_t" -> col("c_t")), 3600L * 1000 * 1000)
          .df.filter(col("click_t").isNotNull)
          .select(col("seq").as("event_id"), col("user_id"),
            col("ts").as("p_t"), col("click_t"))
        val errors = all.filter(col("event_type") === "error")
          .select(col("user_id").as("e_uid"), col("ts").as("e_t"))
        matched.join(errors,
            col("user_id") === col("e_uid") &&
              col("e_t") > col("click_t") && col("e_t") < col("p_t"),
            "left_anti")
          .orderBy("event_id")
      },
      Some("""WITH u AS (
               SELECT event_id, user_id, epoch_us(ts) AS t, 1 AS side
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT event_id, user_id, epoch_us(ts) AS t, 0 AS side
               FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
                   OVER w AS click_t
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY t, side, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             m AS (
               SELECT event_id, user_id, t AS p_t, click_t
               FROM c
               WHERE side = 1 AND click_t IS NOT NULL
                 AND t - click_t <= 3600000000)
             SELECT event_id, user_id, p_t, click_t FROM m
             WHERE NOT EXISTS (
               SELECT 1 FROM events e
               WHERE e.event_type = 'error' AND e.user_id = m.user_id
                 AND epoch_us(e.ts) > m.click_t AND epoch_us(e.ts) < m.p_t)
             ORDER BY event_id""")),

    // ---- CEP Kleene closure (SEQ(click+ → purchase) with the iteration
    // COUNT): how many clicks since the user's previous purchase, per
    // purchase — the pattern-aggregation half of CEP engines. Pure
    // carry-forward arithmetic: ONE union-window shuffle on user_id
    // computes the cumulative click count, a purchases-only lag turns it
    // into per-match deltas — no NFA, no iteration state.
    QueryDef(
      "ev_cep_kleene",
      (s, dir) => {
        val all = Q.events(s, dir)
        val u = all.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("side"))
          .unionByName(all.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("side")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "side", "event_id")
        val ck = u.withColumn("ck",
          sum(when(col("side") === 0, 1L).otherwise(0L)).over(w))
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        ck.filter(col("side") === 1)
          .withColumn("n_clicks",
            col("ck") - coalesce(lag(col("ck"), 1).over(wp), lit(0L)))
          .select(col("event_id"), col("user_id"), col("n_clicks"))
          .orderBy("event_id")
      },
      Some("""WITH u AS (
               SELECT event_id, user_id, epoch_us(ts) AS t, 1 AS side
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT event_id, user_id, epoch_us(ts) AS t, 0 AS side
               FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY t, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
               FROM u)
             SELECT event_id, user_id,
               (ck - coalesce(lag(ck) OVER (
                  PARTITION BY user_id ORDER BY t, event_id), 0))::bigint
                 AS n_clicks
             FROM c WHERE side = 1 ORDER BY event_id""")),

    // ---- STREAMING CEP: the same SEQ(click → purchase WITHIN 1h, no
    // error between) pattern detected live (streaming.CepPattern). Per-key
    // state is two timestamp registers — O(1) forever, the scale shape a
    // 100 TB event firehose needs — and the time-split two-batch feed
    // proves a click parked in batch-1 state matches a purchase arriving
    // in batch 2. Oracle: identical to the batch ev_cep_pattern.
    QueryDef(
      "stream_cep_pattern",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        // batch 1: old half — registers park in state
        // batch 2: recent half — cross-batch matches
        StreamHarness.drainFeed(fx, Seq("lo", "hi")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .filter(col("event_type").isin("click", "error", "purchase"))
            .select(col("user_id").cast("string").as("k"), col("ts"),
              col("seq"),
              when(col("event_type") === "click", 0)
                .when(col("event_type") === "error", 1).otherwise(2).as("kind"))
            .as[graft.streaming.CepEvent]
          graft.streaming.CepPattern(src, 3600L * 1000 * 1000)
        }
          .select(col("eventId").as("event_id"), col("k").cast("long").as("user_id"),
            col("pT").as("p_t"), col("clickT").as("click_t"))
          .orderBy("event_id")
      },
      Some("""WITH u AS (
               SELECT event_id, user_id, epoch_us(ts) AS t, 1 AS side
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT event_id, user_id, epoch_us(ts) AS t, 0 AS side
               FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
                   OVER w AS click_t
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY t, side, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             m AS (
               SELECT event_id, user_id, t AS p_t, click_t
               FROM c
               WHERE side = 1 AND click_t IS NOT NULL
                 AND t - click_t <= 3600000000)
             SELECT event_id, user_id, p_t, click_t FROM m
             WHERE NOT EXISTS (
               SELECT 1 FROM events e
               WHERE e.event_type = 'error' AND e.user_id = m.user_id
                 AND epoch_us(e.ts) > m.click_t AND epoch_us(e.ts) < m.p_t)
             ORDER BY event_id""")),

    // ---- STREAMING CEP Kleene counts: one counter register per key
    // (click increments, purchase emits-and-resets) — with CepPattern
    // this gives the full CEP pair live, both O(1) state. Same two-batch
    // time-split feed; oracle identical to the batch ev_cep_kleene.
    QueryDef(
      "stream_cep_kleene",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        // batch 1: counters park in state; batch 2: counts straddle the boundary
        StreamHarness.drainFeed(fx, Seq("lo", "hi")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .filter(col("event_type").isin("click", "purchase"))
            .select(col("user_id").cast("string").as("k"), col("ts"),
              col("seq"),
              when(col("event_type") === "click", 0).otherwise(2).as("kind"))
            .as[graft.streaming.CepEvent]
          graft.streaming.CepKleene(src)
        }
          .select(col("eventId").as("event_id"), col("k").cast("long").as("user_id"),
            col("nClicks").as("n_clicks"))
          .orderBy("event_id")
      },
      Some("""WITH u AS (
               SELECT event_id, user_id, epoch_us(ts) AS t, 1 AS side
               FROM events WHERE event_type='purchase'
               UNION ALL
               SELECT event_id, user_id, epoch_us(ts) AS t, 0 AS side
               FROM events WHERE event_type='click'),
             c AS (
               SELECT *,
                 sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY t, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
               FROM u)
             SELECT event_id, user_id,
               (ck - coalesce(lag(ck) OVER (
                  PARTITION BY user_id ORDER BY t, event_id), 0))::bigint
                 AS n_clicks
             FROM c WHERE side = 1 ORDER BY event_id""")),

    // ---- STREAMING funnel: three first-completion registers per user
    // (view → click-after → purchase-after), stage completions emitted
    // live, counts rolled up from the emission stream. Oracle identical
    // to the batch ev_funnel.
    QueryDef(
      "stream_funnel",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        // batch 1: registers park; batch 2: stages complete across batches
        StreamHarness.drainFeed(fx, Seq("lo", "hi")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .filter(col("event_type").isin("view", "click", "purchase"))
            .select(col("user_id").cast("string").as("k"), col("ts"),
              col("seq"),
              when(col("event_type") === "view", 0)
                .when(col("event_type") === "click", 1).otherwise(2).as("kind"))
            .as[graft.streaming.CepEvent]
          graft.streaming.FunnelTracker(src)
        }
          .agg(sum(when(col("stage") === 1, 1L).otherwise(0L)).as("n_view"),
            sum(when(col("stage") === 2, 1L).otherwise(0L)).as("n_click_after"),
            sum(when(col("stage") === 3, 1L).otherwise(0L)).as("n_purchase_after"))
      },
      Some("""WITH t1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
                     FROM events WHERE event_type = 'view' GROUP BY 1),
             t2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
                    FROM events e JOIN t1 USING (user_id)
                    WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1
                    GROUP BY 1),
             t3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
                    FROM events e JOIN t2 USING (user_id)
                    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2
                    GROUP BY 1)
           SELECT (SELECT count(*) FROM t1) AS n_view,
                  (SELECT count(*) FROM t2) AS n_click_after,
                  (SELECT count(*) FROM t3) AS n_purchase_after""")),

    // ---- STREAMING session-path mining: gap-sessionize live (state = the
    // one OPEN session per user; silence > 30 min closes and emits its
    // ordered path), census over the emitted closed sessions. Each user's
    // live trailing session stays in state, so the oracle drops every
    // user's LAST session. Two-batch feed: sessions straddling the split
    // keep accumulating before closing.
    QueryDef(
      "stream_session_paths",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        // batch 1: open sessions park in state
        // batch 2: straddlers extend, then close
        StreamHarness.drainFeed(fx, Seq("lo", "hi")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .select(col("user_id").cast("string").as("k"), col("ts"),
              col("seq"), col("event_type").as("etype"))
            .as[graft.streaming.CepEvent2]
          graft.streaming.SessionPaths(src, 1800L * 1000 * 1000)
        }
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      },
      Some("""WITH e AS (
               SELECT user_id, epoch_us(ts) AS t, event_id AS seq, event_type
               FROM events),
             s AS (
               SELECT *, CASE WHEN lag(t) OVER w IS NULL
                               OR t - lag(t) OVER w > 1800000000
                              THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, seq)),
             i AS (
               SELECT *, sum(new_s) OVER (
                 PARTITION BY user_id ORDER BY t, seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM s),
             p AS (
               SELECT user_id, sid,
                 string_agg(event_type, '>' ORDER BY t, seq) AS path
               FROM i GROUP BY user_id, sid),
             closed AS (
               SELECT * FROM p
               QUALIFY sid < max(sid) OVER (PARTITION BY user_id))
             SELECT path, count(*)::bigint AS n
             FROM closed GROUP BY path ORDER BY n DESC, path LIMIT 20""")),

    // ---- STREAMING cohort retention: per-user cohort-week register +
    // emitted-offset set (bounded by the user's distinct active weeks);
    // the retention matrix is a count over the emission stream. Oracle
    // identical to the batch ev_cohort_retention.
    QueryDef(
      "stream_cohort_retention",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.eventsHalves(s, dir)
        val schema = StreamFixtures.eventsHalvesSchema(s, dir)
        // batch 1: cohorts register; batch 2: later-week offsets emit
        StreamHarness.drainFeed(fx, Seq("lo", "hi")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .select(col("user_id").cast("string").as("k"), col("ts"),
              col("seq"), col("value").as("v"))
            .as[graft.streaming.KeyedEvent]
          graft.streaming.CohortTracker(src, 604800000000L)
        }
          .groupBy(col("cohortW").as("cohort_w"), col("offsetW").as("offset_w"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_w", "offset_w")
      },
      Some("""WITH fw AS (
               SELECT user_id, min(epoch_us(ts) // 604800000000) AS cohort_w
               FROM events GROUP BY 1),
             act AS (
               SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
               FROM events)
             SELECT cohort_w, w - cohort_w AS offset_w, count(*) AS n_users
             FROM act JOIN fw USING (user_id)
             GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- the seeded random-walk SOURCE under the driver gate (SURVEY
    // §2.1 row 10, golden-only in round 1): quantized noise makes the
    // cumulative walk an exact bigint window sum, so the generated
    // values — not just the generator's shape — hash-match DuckDB
    // computing the identical md5-derived steps.
    QueryDef(
      "rw_walk",
      (s, dir) =>
        graft.sources.Sources
          .randomWalkQ(s, Seq("AUD", "EUR", "GBP", "JPY"), 1000, 42)
          .df.select(col("k"), col("seq").as("step"), col("walk_q"))
          .orderBy("k", "step"),
      Some("""SELECT k, step,
             (sum(noise_q) OVER (PARTITION BY k ORDER BY step
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS walk_q
             FROM (SELECT k, step,
                     floor(((('0x' || substr(md5(42 || '|' || k || '|' || step), 1, 15))::bigint::double
                       / 1.152921504606847e18) - 0.5) * 1e9)::bigint AS noise_q
                   FROM (SELECT unnest(['AUD','EUR','GBP','JPY']) AS k)
                   CROSS JOIN (SELECT unnest(generate_series(0, 999)) AS step))
             ORDER BY k, step""")),

    // The connector's STREAMING face under the driver gate: the same
    // DSv2 table read via readStream (MicroBatchStream, offsets = step
    // indices), aggregated per key in complete mode — final walk value
    // (exact int at max ts) + exact step-count. The oracle regenerates
    // the identical md5 walk in SQL, so this pins micro-batch planning,
    // reader state replay AND the streaming aggregation in one query.
    QueryDef(
      "stream_walk_dsv2",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val src = s.readStream
          .format(classOf[graft.sources.v2.WalkDataSource].getName)
          .option("keys", "AUD,EUR,GBP,JPY").option("steps", "400")
          .option("seed", "s2").load()
        val agg = src.groupBy("k").agg(
          count(lit(1)).as("n"),
          max_by(col("v"), col("ts")).as("v_final"),
          sum(col("v")).as("v_sum"))
        StreamHarness.drain(agg, "complete", availableNow = true)
          .select("k", "n", "v_final", "v_sum").orderBy("k")
      },
      Some("""SELECT k, count(*) AS n,
               max_by(v, ts) AS v_final, sum(v)::bigint AS v_sum
             FROM (
               SELECT k, i AS ts,
                 (sum(step) OVER (PARTITION BY k ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS v
               FROM (SELECT k, i,
                       ('0x' || substr(md5('s2|' || k || '|' || i), 1, 15))::bigint
                         % 2001 - 1000 AS step
                     FROM (SELECT unnest(['AUD','EUR','GBP','JPY']) AS k)
                     CROSS JOIN (SELECT unnest(generate_series(0, 399)) AS i)))
             GROUP BY k ORDER BY k""")),

    // The DSv2 EventSourceX connector under the driver gate: rows come
    // from graft.sources.v2.WalkDataSource (per-key InputPartitions,
    // ts-range pushdown), with a ts >= 250 bound handled BY THE SOURCE;
    // the oracle regenerates the identical md5 walk in SQL. This verifies
    // the connector's generation, partition planning, pushdown pruning
    // and cross-prefix cumulative state in one query.
    QueryDef(
      "rw_walk_dsv2",
      (s, dir) =>
        s.read.format(classOf[graft.sources.v2.WalkDataSource].getName)
          .option("keys", "AUD,EUR,GBP,JPY").option("steps", "500")
          .option("seed", "s1").load()
          .filter(col("ts") >= 250)
          .select(col("k"), col("ts"), col("v"))
          .orderBy("k", "ts"),
      Some("""SELECT k, ts, v FROM (
               SELECT k, i AS ts,
                 (sum(step) OVER (PARTITION BY k ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS v
               FROM (SELECT k, i,
                       ('0x' || substr(md5('s1|' || k || '|' || i), 1, 15))::bigint
                         % 2001 - 1000 AS step
                     FROM (SELECT unnest(['AUD','EUR','GBP','JPY']) AS k)
                     CROSS JOIN (SELECT unnest(generate_series(0, 499)) AS i)))
             WHERE ts >= 250 ORDER BY k, ts""")),

    // ---- general mapVector #2: NON-associative whole-vector fn ---------
    // Cross-sectional competition rank: at each event, 1 + how many keys'
    // latest values are strictly below the firing value (the reference's
    // "rank across keys" multi-stream trick — no delta shortcut exists
    // for rank, so this pins the general snapshot path with a function
    // the O(n) specializations cannot express). Comparisons only — no fp
    // arithmetic to diverge.
    QueryDef(
      "ev_mapvector_rank",
      (s, dir) =>
        evKeyed(s, dir)
          .subset(col("user_id") < 32)
          .mapVector(col("value"), "snap")
          .select(col("seq").as("event_id"),
            (lit(1) + size(filter(col("snap"), e => e.getField("v") < col("value"))))
              .as("rnk"))
          .orderBy("event_id"),
      Some("""WITH ev AS (
               SELECT event_id, user_id, value, epoch_us(ts) AS t
               FROM events WHERE user_id < 32),
             ks AS (SELECT DISTINCT user_id AS k FROM ev),
             grid AS (
               SELECT e.event_id AS gid, e.t, e.event_id AS eid, e.value AS fv,
                      k.k, 1 AS side, NULL::double AS v
               FROM ev e CROSS JOIN ks k),
             src AS (
               SELECT NULL AS gid, t, event_id AS eid, NULL AS fv,
                      user_id AS k, 0 AS side, value AS v FROM ev),
             u AS (SELECT * FROM grid UNION ALL SELECT * FROM src),
             c AS (
               SELECT *, last_value(v IGNORE NULLS) OVER (
                 PARTITION BY k ORDER BY t, side, eid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
               FROM u)
             SELECT gid AS event_id,
               1 + count(CASE WHEN lv < fv THEN 1 END) AS rnk
             FROM c WHERE side = 1
             GROUP BY gid ORDER BY event_id""")),

    // ---- exact order statistics (beyond reference) ---------------------
    // Exact p50/p90 per event type: Spark's percentile and DuckDB's
    // quantile_cont share the linear-interpolation definition
    // ((1−g)·a[k] + g·a[k+1] on the sorted values), so the doubles are
    // bit-comparable. Exact percentile sorts within each (small) group —
    // for corpus-scale distributions switch to approx_percentile.
    QueryDef(
      "ev_percentiles",
      (s, dir) =>
        Q.events(s, dir)
          .groupBy("event_type")
          .agg(
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.9)").as("p90"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             quantile_cont(value, 0.5) AS p50,
             quantile_cont(value, 0.9) AS p90,
             count(*) AS n
             FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- approximate quantiles from a mergeable sketch, audited against
    // the exact rank (the ev_approx_distinct pattern): each engine runs
    // its own sketch (Spark KLL-style approx_percentile, DuckDB t-digest)
    // and the shared output is the integer-exact claim "the sketch's
    // quantile sits within ±5% rank error". Why it matters at 100 TB:
    // exact percentiles need a full sort per group; sketches are KB-sized,
    // map-side-mergeable across shards/days, and one pass. The bound
    // checks are pure integer arithmetic — no float comparison anywhere.
    QueryDef(
      "ev_approx_quantiles",
      (s, dir) => {
        val e = Q.events(s, dir)
        val sk = e.groupBy("event_type").agg(
          expr("approx_percentile(value, 0.5, 1000)").as("a50"),
          expr("approx_percentile(value, 0.9, 1000)").as("a90"))
        e.join(broadcast(sk), "event_type")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("c50"),
            sum(when(col("value") <= col("a90"), 1L).otherwise(0L)).as("c90"))
          .select(col("event_type"), col("n"),
            (abs(lit(2) * col("c50") - col("n")) * 10 <= col("n")).as("ok_p50"),
            (abs(lit(10) * col("c90") - lit(9) * col("n")) * 2 <= col("n")).as("ok_p90"))
          .orderBy("event_type")
      },
      Some("""WITH sk AS (
               SELECT event_type,
                 approx_quantile(value, 0.5) AS a50,
                 approx_quantile(value, 0.9) AS a90
               FROM events GROUP BY event_type)
             SELECT event_type, count(*) AS n,
               abs(2 * sum(CASE WHEN value <= a50 THEN 1 ELSE 0 END)::bigint
                   - count(*)) * 10 <= count(*) AS ok_p50,
               abs(10 * sum(CASE WHEN value <= a90 THEN 1 ELSE 0 END)::bigint
                   - 9 * count(*)) * 2 <= count(*) AS ok_p90
             FROM events JOIN sk USING (event_type)
             GROUP BY event_type ORDER BY event_type""")),

    // ---- gap-based sessionization (KStream.sessionize) -----------------
    // One-hour inactivity gap per user; per-session count, duration and
    // exact spend. The canonical clickstream windowing, distributed by
    // key (one shuffle + sort), streaming twin = built-in session_window.
    QueryDef(
      "ev_sessions_gap",
      (s, dir) =>
        evKeyed(s, dir)
          .sessionize(3600L * 1000 * 1000)
          .reduceAll(
            "n" -> count(lit(1)),
            "dur_us" -> (max(col("ts")) - min(col("ts"))),
            "sum_value" -> Q.dsumD(col("value")))
          .orderBy("user_id", "session_id"),
      Some("""SELECT user_id, session_id, count(*) AS n,
             max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us,
             sum(value::decimal(38,6))::double AS sum_value
             FROM (SELECT *, (sum(CASE WHEN pv IS NULL
                       OR epoch_us(ts) - pv > 3600000000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS session_id
                   FROM (SELECT *, lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv
                         FROM events))
             GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // Funnel analysis (beyond reference — the standard ordered-sequence
    // event metric): users who viewed, then clicked AFTER the first view,
    // then purchased AFTER that click. Each stage is a keyed min-agg plus
    // an equi-join on user_id — all three shuffles co-partition on the
    // same key, so at scale the stages pipeline without re-exchange.
    QueryDef(
      "ev_funnel",
      (s, dir) => {
        // ONE fact shuffle (r16, guide §2.4): the three funnel stages are
        // per-user conditional minima, each defined over the SAME user_id
        // partitioning — three chained whole-partition window minima ride
        // one exchange (each stage's window may reference the previous
        // stage's column), the per-user reduce rides it too, and one
        // global aggregation reads all three stage counts. The old shape
        // paid three fact scans, three groupBy shuffles and two joins.
        // Exact: min(when(cond, ts)) over a user's rows IS the filtered
        // groupBy min; count(non-null stage time) IS that stage's user
        // count. n_view counts users with a view, not a non-null t1: a
        // user whose view ts are all NULL still has a t1 group.
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        val staged = Q.events(s, dir).select("user_id", "ts", "event_type")
          .filter(col("event_type").isin("view", "click", "purchase"))
          .repartition(col("user_id"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "click" && col("ts") > col("t1"),
              col("ts"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
              col("ts"))).over(w))
        staged.groupBy("user_id")
          .agg(max(when(col("event_type") === "view", 1)).as("viewed"),
            max(col("t2")).as("t2"), max(col("t3")).as("t3"))
          .agg(count(col("viewed")).as("n_view"),
            count(col("t2")).as("n_click_after"),
            count(col("t3")).as("n_purchase_after"))
      },
      Some("""WITH t1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
                     FROM events WHERE event_type = 'view' GROUP BY 1),
             t2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
                    FROM events e JOIN t1 USING (user_id)
                    WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1
                    GROUP BY 1),
             t3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
                    FROM events e JOIN t2 USING (user_id)
                    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2
                    GROUP BY 1)
           SELECT (SELECT count(*) FROM t1) AS n_view,
                  (SELECT count(*) FROM t2) AS n_click_after,
                  (SELECT count(*) FROM t3) AS n_purchase_after""")),

    // Session path mining: gap-sessionize (30 min), concatenate each
    // session's event types in (ts, seq) order, count the top paths —
    // the navigation-pattern primitive. Path building is the ordered
    // append reducer; the path census is a map-side-combinable groupBy.
    QueryDef(
      "ev_session_paths",
      (s, dir) => {
        evKeyed(s, dir)
          .sessionize(1800L * 1000 * 1000)
          .df
          .groupBy("user_id", "session_id")
          .agg(array_join(graft.functions.Reducers.appendOrdered(
            col("ts"), col("seq"), col("event_type")), ">").as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      },
      Some("""WITH s AS (
               SELECT *, (sum(CASE WHEN pv IS NULL
                     OR epoch_us(ts) - pv > 1800000000 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint
                   AS session_id
               FROM (SELECT *, lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv
                     FROM events)),
             p AS (SELECT user_id, session_id,
                     string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
                   FROM s GROUP BY 1, 2)
           SELECT path, count(*) AS n FROM p
           GROUP BY path ORDER BY n DESC, path LIMIT 20""")),

    // ---- slice-emission contracts under the driver gate ---------------
    // Trailing PARTIAL bucket at termination (SliceAfterBucket.scala:
    // 161-166): the last count-slice window per key emits even though it
    // never reached N events. This query pins exactly those rows.
    QueryDef(
      "ev_slice_partial_tail",
      (s, dir) => {
        val buckets = evKeyed(s, dir)
          .group(Slice.Count(10))
          .reduce("sum_value" -> Q.dsumD(col("value")), "n" -> count(lit(1)))
        buckets
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user_id").orderBy(col("window_id").desc)))
          .filter(col("rk") === 1)
          .select("user_id", "window_id", "n", "sum_value")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, window_id, n, sum_value
             FROM (SELECT user_id, window_id,
                     count(*) AS n, sum(value::decimal(38,6))::double AS sum_value,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY window_id DESC) AS rk
                   FROM (SELECT *, (row_number() OVER (
                           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 10
                           AS window_id FROM events)
                   GROUP BY user_id, window_id)
             WHERE rk = 1 ORDER BY user_id""")),

    // EMPTY-bucket suppression (SliceAfterBucket.scala:196-204): time
    // slices with zero events emit NO row. Over the sparse error-only
    // substream the window_id span has holes; this asserts (a) every
    // emitted bucket is non-empty (min_n >= 1 by construction — a
    // gap-filling regression would emit n=0 rows and change min_n/counts)
    // and (b) the emitted-window count vs the id span exposes the holes.
    QueryDef(
      "ev_slice_empty_suppress",
      (s, dir) => {
        val buckets = evKeyed(s, dir)
          .filter(col("event_type") === "error")
          .group(Slice.Tumbling(86400L * 1000 * 1000))
          .reduce("n" -> count(lit(1)))
        buckets.groupBy("user_id")
          .agg(count(lit(1)).as("n_windows"),
            (max(col("window_id")) - min(col("window_id")) + 1).as("id_span"),
            min(col("n")).as("min_n"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_windows,
             max(window_id) - min(window_id) + 1 AS id_span,
             min(n) AS min_n
             FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS window_id,
                     count(*) AS n
                   FROM events WHERE event_type = 'error' GROUP BY 1, 2)
             GROUP BY user_id ORDER BY user_id""")),

    // LAYERED slicing (TradesExample.scala:51-58 testReduceEach): bucket
    // emissions are themselves a stream, so they re-enter the window
    // kernel — 10-event buckets per key, then pairs OF THE BUCKETS.
    // Layer-1 window ids are dense per key, so they serve as the (ts, seq)
    // of the emission stream. Decimal stays internal through BOTH layers;
    // one double cast at the output boundary.
    QueryDef(
      "ev_slice_nested",
      (s, dir) => {
        val l1 = evKeyed(s, dir)
          .group(Slice.Count(10))
          .reduce("sum1" -> Q.dsum(col("value")))
          .withColumnRenamed("window_id", "ts")
          .withColumn("seq", col("ts"))
        KStream(l1, Seq("user_id"))
          .group(Slice.Count(2))
          .reduce(
            "sum_value" -> sum(col("sum1")).cast("double"),
            "n_buckets" -> count(lit(1)))
          .orderBy("user_id", "window_id")
          .select("user_id", "window_id", "sum_value", "n_buckets")
      },
      Some("""WITH l1 AS (
             SELECT user_id, w1, sum(value::decimal(38,6)) AS sum1
             FROM (SELECT *, (row_number() OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 10
                     AS w1 FROM events)
             GROUP BY user_id, w1)
           SELECT user_id, w1 // 2 AS window_id,
             sum(sum1)::double AS sum_value, count(*) AS n_buckets
           FROM l1 GROUP BY 1, 2 ORDER BY user_id, window_id""")),

    // ---- §2.2 GENERAL mapVector: arbitrary whole-vector snapshot fn ----
    // Per event, demean the firing value against the mean of EVERY key's
    // latest value — through the general snapshot operator (array of all
    // keys' values), not the associative delta shortcut. The vector is a
    // BOUNDED sub-universe (user_id < 32): that is the reference's
    // mapVector shape — one live cell per key of a fixed instrument
    // universe (VectTerm.scala:145-176) — and it keeps the snapshot
    // fan-out at K·n rows with K fixed as n scales. Cross-sectional
    // stats over UNBOUNDED key domains use the O(n) delta operators
    // (ev_vector_sum / ev_vector_size) instead.
    // Determinism: the snapshot mean is an exact decimal sum over the
    // array (order-free) and ONE double division; the oracle computes
    // identical operands via the delta-window technique.
    QueryDef(
      "ev_mapvector_demean",
      (s, dir) => {
        val snapSum = aggregate(
          col("snap"), lit(0).cast("decimal(38,6)"),
          (acc, e) => acc + e.getField("v").cast("decimal(38,6)"))
        evKeyed(s, dir)
          .subset(col("user_id") < 32)
          .mapVector(col("value"), "snap")
          .select(col("seq").as("event_id"),
            (col("value") - snapSum.cast("double") / size(col("snap")))
              .as("demean"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, value - (vec_sum::double / n_keys) AS demean
             FROM (SELECT event_id, value,
                     sum(value::decimal(38,6) - coalesce(pv, 0)) OVER cum AS vec_sum,
                     (sum(first_seen) OVER cum)::bigint AS n_keys
                   FROM (SELECT *,
                           lag(value::decimal(38,6)) OVER pk AS pv,
                           CASE WHEN row_number() OVER pk = 1
                                THEN 1 ELSE 0 END AS first_seen
                         FROM events WHERE user_id < 32
                         WINDOW pk AS (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id))
                   WINDOW cum AS (ORDER BY epoch_us(ts), event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             ORDER BY event_id""")),

    // ---- TWAP: time-weighted average value per key ----------------------
    // The financial twin of the VWAP bucket: each observation is weighted
    // by how long it was the LIVE value (until the next event), i.e. the
    // step-function integral an as-of sampler would see. Determinism:
    // values quantize to exact integer cents (2-dp source data), durations
    // are exact epoch-µs longs, cents×µs products decimal-sum (a long
    // accumulator could overflow at ~10^20), and the boundary is two
    // IEEE divisions in identical order. One window pass + one groupBy —
    // both partition by key, so the 100 TB plan is a single shuffle.
    QueryDef(
      "ev_twap",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "seq")
        evKeyed(s, dir)
          .map("next_ts" -> lead(col("ts"), 1).over(w),
            "cents" -> floor(col("value") * 100 + 0.5))
          .filter(col("next_ts").isNotNull)
          .df
          .groupBy("user_id")
          .agg(
            // multiply in decimal, not long×long: Spark's non-ANSI long
            // product would wrap silently on extreme value×gap outliers
            (sum(col("cents").cast("decimal(18,0)") *
              (col("next_ts") - col("ts")).cast("decimal(18,0)"))
              .cast("double") /
              sum(col("next_ts") - col("ts")).cast("double") /
              lit(100.0)).as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
               SELECT user_id, epoch_us(ts) AS t,
                      floor(value*100 + 0.5)::bigint AS cents,
                      lead(epoch_us(ts)) OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS nt
               FROM events)
             SELECT user_id,
               sum(cents::decimal(18,0) * (nt - t)::decimal(18,0))::double
                 / sum(nt - t)::double / 100.0 AS twap
             FROM e WHERE nt IS NOT NULL
             GROUP BY user_id ORDER BY user_id""")),

    // ---- Trailing (sliding) time window: per-event last-hour stats ------
    // scespet's slices are tumbling/trigger-bound; the trailing-RANGE
    // window is the sliding complement (per event: aggregate over
    // [ts-1h, ts] of its key). A RANGE frame over the epoch-µs long —
    // keyed partitions, no self-join, no explode: one window pass, and
    // peer rows (equal ts) enter the frame identically in both engines.
    QueryDef(
      "ev_trailing_1h",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts")
          .rangeBetween(-3600000000L, 0L)
        evKeyed(s, dir)
          .map("event_id" -> col("seq"),
            "n_1h" -> count(lit(1)).over(w),
            "sum_1h" -> sum(col("value").cast("decimal(38,6)")).over(w)
              .cast("double"),
            "max_1h" -> max(col("value")).over(w))
          .df.select("event_id", "n_1h", "sum_1h", "max_1h")
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
               count(*) OVER w AS n_1h,
               (sum(value::decimal(38,6)) OVER w)::double AS sum_1h,
               max(value) OVER w AS max_1h
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             ORDER BY event_id""")),

    // ---- Point-in-interval (range) join, bucketized ---------------------
    // Join fact events to overlapping campaign windows — the range-join
    // shape Spark has no native operator for. The naive plan is a
    // BroadcastNestedLoopJoin evaluating |events|·|intervals| predicates;
    // the scale pattern used here is INTERVAL BUCKETIZATION: pick a grid
    // of width w ≥ typical interval length, explode each interval to the
    // ≤⌈len/w⌉+1 buckets it touches, key each event by its ONE bucket,
    // and the range predicate survives only as a residual filter on an
    // EQUI hash join — per-event work bounded by intervals-per-bucket,
    // never the interval universe. (Campaigns here derive from the data's
    // own [min ts, max ts] span: 200 windows, each 2 grid cells wide,
    // overlapping by one — every event lands in exactly 2 campaigns.)
    QueryDef(
      "ev_interval_join",
      (s, dir) => {
        val b = Q.events(s, dir)
          .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
        val camps = s.range(200).crossJoin(broadcast(b))
          .select(col("id").as("camp"),
            expr("(tmax - tmin) div 200 + 1").as("w"),
            expr("tmin + id * ((tmax - tmin) div 200 + 1)").as("cstart"))
          .withColumn("cend", col("cstart") + lit(2) * col("w"))
        // each interval [cstart, cend) spans grid cells camp .. camp+1
        val campBuckets = camps.select(col("camp"), col("cstart"), col("cend"),
          explode(sequence(col("camp"), col("camp") + 1)).as("bucket"))
        val pts = Q.events(s, dir).crossJoin(broadcast(b))
          .select(col("ts"), col("value"),
            expr("(ts - tmin) div ((tmax - tmin) div 200 + 1)").as("bucket"))
        pts.join(broadcast(campBuckets), Seq("bucket"))
          .filter(col("ts") >= col("cstart") && col("ts") < col("cend"))
          .groupBy("camp")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
          .orderBy("camp")
      },
      Some("""WITH b AS (
               SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
               FROM events),
             c AS (
               SELECT c AS camp,
                 tmin + c * ((tmax - tmin) // 200 + 1) AS cstart,
                 tmin + c * ((tmax - tmin) // 200 + 1)
                   + 2 * ((tmax - tmin) // 200 + 1) AS cend
               FROM (SELECT unnest(range(200)) AS c, tmin, tmax FROM b))
             SELECT camp, count(*) AS n_events,
               sum(value::decimal(38,6))::double AS sum_value
             FROM events JOIN c
               ON epoch_us(ts) >= cstart AND epoch_us(ts) < cend
             GROUP BY camp ORDER BY camp""")),

    // Ingest-time twin of ev_interval_join: the campaign grid (tmin, w,
    // and the bucket-exploded window frame) is computed batch-side from
    // history and FROZEN (the stream_drift_kl reference-frame pattern);
    // the live stream buckets each arriving event with the frozen
    // constants, stream-static-joins the broadcast window frame, and
    // keeps only the 200-group (camp) aggregate as state — interval
    // attribution at ingest with O(|campaigns|) state forever.
    QueryDef(
      "stream_interval_join",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        val bRow = Q.events(s, dir)
          .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax")).head()
        val (tmin, tmax) = (bRow.getLong(0), bRow.getLong(1))
        val w = (tmax - tmin) / 200 + 1
        val campBuckets = s.range(200)
          .select(col("id").as("camp"),
            (lit(tmin) + col("id") * w).as("cstart"))
          .withColumn("cend", col("cstart") + lit(2 * w))
          .select(col("camp"), col("cstart"), col("cend"),
            explode(sequence(col("camp"), col("camp") + 1)).as("bucket"))
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(graft.core.Tables.tsUsExpr(schema).as("ts"), col("value"))
          .withColumn("bucket", expr(s"(ts - ${tmin}L) div ${w}L"))
        val agg = src.join(broadcast(campBuckets), Seq("bucket"))
          .filter(col("ts") >= col("cstart") && col("ts") < col("cend"))
          .groupBy("camp")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
        StreamHarness.drain(agg, "complete", availableNow = true).orderBy("camp")
      },
      Some("""WITH b AS (
               SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
               FROM events),
             c AS (
               SELECT c AS camp,
                 tmin + c * ((tmax - tmin) // 200 + 1) AS cstart,
                 tmin + c * ((tmax - tmin) // 200 + 1)
                   + 2 * ((tmax - tmin) // 200 + 1) AS cend
               FROM (SELECT unnest(range(200)) AS c, tmin, tmax FROM b))
             SELECT camp, count(*) AS n_events,
               sum(value::decimal(38,6))::double AS sum_value
             FROM events JOIN c
               ON epoch_us(ts) >= cstart AND epoch_us(ts) < cend
             GROUP BY camp ORDER BY camp""")),

    // ---- Cohort retention: first-seen week × activity-week offsets ------
    // The events-warehouse staple. cohort = each user's first activity
    // week (exact integer µs-div), activity = distinct (user, week); the
    // matrix is exact distinct-user counts per (cohort, offset). Plan:
    // both aggs and the join key on user_id — ONE shuffle partitioning
    // serves min-week, distinct, and the join; the final tiny matrix agg
    // is the only re-shuffle.
    QueryDef(
      "ev_cohort_retention",
      (s, dir) => {
        // ONE fact shuffle (r16, guide §2.4): hash the fact by user_id
        // once; the (user, week) distinct rides it (hash(user) clusters
        // every (user, week) group), and the per-user cohort week is a
        // window min over the SAME partitioning — no second fact
        // aggregation and no join. min(week over distinct weeks) =
        // min(week over all events): exact integer weeks.
        val week = expr("ts div 604800000000")
        val act = ev(s, dir).df.select(col("user_id"), week.as("w"))
          .repartition(col("user_id")).distinct()
        act
          .withColumn("cohort_w", min(col("w")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
          .groupBy(col("cohort_w"), (col("w") - col("cohort_w")).as("offset_w"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_w", "offset_w")
      },
      Some("""WITH fw AS (
               SELECT user_id, min(epoch_us(ts) // 604800000000) AS cohort_w
               FROM events GROUP BY 1),
             act AS (
               SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
               FROM events)
             SELECT cohort_w, w - cohort_w AS offset_w, count(*) AS n_users
             FROM act JOIN fw USING (user_id)
             GROUP BY 1, 2 ORDER BY 1, 2"""))
  )
}
