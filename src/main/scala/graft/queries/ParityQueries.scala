package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Driver-gate closure for the SURVEY §2 rows that were golden-only after
  * round 2 (VERDICT r2 "What's missing" #1): source constructors
  * (IteratorEvents, asVector, keyToStream/lazyVect), trivial keyed
  * accessors (subset, apply(k), valueSet), the takef stream-valued
  * dereference, ad-hoc CellAdder cells, and the rendezvous-exact bucket
  * chain — each as a composite query with a DuckDB oracle. Plus the
  * round-3 additions: hierarchy-aware subtype routing and the streaming
  * BEFORE-aligned trigger slices.
  */
object ParityQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- IteratorEvents (§2 row 1; SimpleEvaluator.scala:33-62): lift an
    // in-memory sequence into a timestamped stream, then a running
    // associative fold over it. The oracle regenerates the same sequence
    // arithmetically — the generated VALUES are verified, not just shape.
    QueryDef(
      "ev_iter_source",
      (s, dir) => {
        import s.implicits._
        graft.sources.Sources
          .fromSeq[Long](s, (0 until 200).map(i => i.toLong * i % 97), (_, i) => 1000L * i)
          .foldAllAssoc(("run_v", col("v"), "sum"))
          .df.select(col("ts"), col("seq"), col("v"), col("run_v"))
          .orderBy("seq")
      },
      Some("""SELECT i * 1000 AS ts, i AS seq, (i * i) % 97 AS v,
             (sum((i * i) % 97) OVER (ORDER BY i))::bigint AS run_v
             FROM (SELECT unnest(generate_series(0, 199)) AS i)
             ORDER BY seq""")),

    // ---- asVector (§2 row 6; EnvTermBuilder.scala:59-62): a static
    // driver-side key universe as a keyed stream; the vector LEFT-joins
    // per-type event counts, so keys the data never fires stay present
    // with 0 — the reference's "cell exists before any event" semantics.
    QueryDef(
      "ev_asvector",
      (s, dir) => {
        import s.implicits._
        val vec = graft.sources.Sources.asVector(s, Seq("click", "error", "purchase"))
        val counts = Q.events(s, dir)
          .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        vec.df.join(counts, col("k") === col("event_type"), "left")
          .select(col("k"), coalesce(col("cnt"), lit(0L)).as("n"))
          .orderBy("k")
      },
      Some("""SELECT k, coalesce(n, 0) AS n
             FROM (SELECT unnest(['click','error','purchase']) AS k) v
             LEFT JOIN (SELECT event_type, count(*) AS n FROM events
                        GROUP BY 1) c ON k = event_type
             ORDER BY k""")),

    // ---- keyToStreamDynamic + takef (§2 rows 7+27; EnvTermBuilder.scala:
    // 73-98, VectTerm.scala:424-440, MacroTerm.scala:140-142): the key
    // DOMAIN is data-discovered (distinct user_id mod 5), each key's
    // stream is PLAN-GENERATED (a 10-point time grid spanning the event
    // range, value = k*1000 + i), and every event dereferences its derived
    // key's stream as-of its own timestamp — the reference's
    // `takef(f: X => HasVal[Y])` cell lookup. The oracle computes the
    // sampled grid index in closed form.
    QueryDef(
      "ev_keytostream_takef",
      (s, dir) => {
        val ev0 = Q.events(s, dir)
        val bounds = ev0.agg(min("ts").as("t0"), max("ts").as("t1"))
        val keySet = ev0.select(pmod(col("user_id"), lit(5)).as("k"))
          .distinct().crossJoin(bounds)
        val registry = graft.sources.Sources.keyToStreamDynamic(
          keySet, "k",
          k => transform(sequence(lit(0), lit(9)), i =>
            struct(
              (col("t0") + i.cast("long") * expr("(t1 - t0) div 10")).as("ts"),
              i.cast("long").as("seq"),
              (k * 1000 + i.cast("long")).as("rv"))))
        EStream(ev0)
          .takef(pmod(col("user_id"), lit(5)), registry, Seq("rv" -> col("rv")))
          .df.select(col("seq").as("event_id"), col("user_id"), col("rv"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
                         FROM events)
             SELECT event_id, user_id,
               (user_id % 5) * 1000 +
               least((epoch_us(ts) - t0) // ((t1 - t0) // 10), 9) AS rv
             FROM events, b ORDER BY event_id""")),

    // ---- toValueSet + valueSet expand (§2 row 24; VectTerm.scala:365-421,
    // MacroTerm.valueSet/:160-185 with `expand` flattening): the keyed
    // stream's growing distinct-value set unioned with an exploded
    // multi-value set — terminal snapshots of both.
    QueryDef(
      "ev_valueset_expand",
      (s, dir) => {
        val ks = KStream(Q.events(s, dir), Seq("user_id"))
        val a = ks.valueSet(
          concat_ws("|", col("event_type"), pmod(col("user_id"), lit(3))))
        val b = EStream(Q.events(s, dir))
          .valueSetExpand(array(col("event_type"), upper(col("event_type"))))
        a.union(b).distinct().orderBy("v")
      },
      Some("""SELECT DISTINCT v FROM (
               SELECT event_type || '|' || (user_id % 3) AS v FROM events
               UNION
               SELECT unnest([event_type, upper(event_type)]) AS v FROM events)
             ORDER BY v""")),

    // ---- subset (§2 row 18; VectTerm.scala:37): key-subset filter, then
    // per-key terminal reduce over the surviving keys only.
    QueryDef(
      "ev_subset",
      (s, dir) =>
        KStream(Q.events(s, dir), Seq("user_id"))
          .subset(pmod(col("user_id"), lit(7)) === 0)
          .reduceAll("n" -> count(lit(1)), "sum_value" -> Q.dsumD(col("value")))
          .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n,
             sum(value::decimal(38,6))::double AS sum_value
             FROM events WHERE user_id % 7 = 0
             GROUP BY user_id ORDER BY user_id""")),

    // ---- apply(k) (§2 row 19; VectTerm.scala:63-111): dereference ONE
    // key's stream and run a single-stream cumulative fold on it.
    QueryDef(
      "ev_apply_key",
      (s, dir) =>
        KStream(Q.events(s, dir), Seq("user_id"))
          .apply(7L)
          .foldAllAssoc(("run_sum", col("value").cast("decimal(38,6)"), "sum"))
          .df.select(col("seq").as("event_id"),
            col("run_sum").cast("double").as("run_sum"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             (sum(value::decimal(38,6)) OVER (
                ORDER BY epoch_us(ts), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::double AS run_sum
             FROM events WHERE user_id = 7 ORDER BY event_id""")),

    // ---- ad-hoc CellAdder (§2 row 42; types.scala:158-185): a USER cell
    // class (SpreadLastAgg — min/max + arrival-order-resolved last) run as
    // a typed Aggregator per key. The merge carries (ts, seq) so the
    // "last" respects global arrival order on any partitioning.
    QueryDef(
      "ev_cell_spread",
      (s, dir) => {
        val cell = udaf(new graft.functions.Aggregators.SpreadLastAgg)
        Q.events(s, dir)
          .groupBy("user_id")
          .agg(cell(col("ts"), col("seq"), col("value")).as("c"))
          .select(col("user_id"), col("c._1").as("spread"),
            col("c._2").as("last_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, max(value) - min(value) AS spread,
             last(value ORDER BY epoch_us(ts), event_id) AS last_value
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- rendezvous-exact bucket chain (§2 rows 53/55;
    // SlicedBucket.scala:22-85 JoinValueRendezvous, SlowGraphWalk.java:
    // 82-92): the PartialBuilt bind-chain sealed with reduceByCycle — all
    // inputs firing at one (key, ts) cycle collapse to ONE calculate()
    // before bucket aggregation, so "cycles where BOTH inputs fired" is
    // countable (a plain union-groupBy can't see cycle boundaries).
    QueryDef(
      "ev_bind_bucket_cycle",
      (s, dir) => {
        val all = Q.events(s, dir)
        Buckets(Seq("user_id"))
          .bind("p", all.filter(col("event_type") === "purchase"))(
            "v" -> col("value"))
          .bind("c", all.filter(col("event_type") === "click"))(
            "v" -> col("value"))
          .reset(Slice.Tumbling(86400L * 1000 * 1000))
          .reduceByCycle(
            cycleAggs = Seq(
              "has_p" -> max((col(Buckets.Tag) === "p").cast("int")),
              "has_c" -> max((col(Buckets.Tag) === "c").cast("int"))),
            bucketAggs = Seq(
              "n_cycles" -> count(lit(1)),
              "n_both" -> sum((col("has_p") === 1 && col("has_c") === 1)
                .cast("int")).cast("long")))
          .orderBy("user_id", "window_id")
      },
      Some("""SELECT user_id, window_id, count(*) AS n_cycles,
             sum(CASE WHEN has_p = 1 AND has_c = 1 THEN 1 ELSE 0 END)::bigint AS n_both
             FROM (
               SELECT user_id, epoch_us(ts) // 86400000000 AS window_id,
                 max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS has_p,
                 max(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS has_c
               FROM events WHERE event_type IN ('purchase','click')
               GROUP BY user_id, epoch_us(ts) // 86400000000, epoch_us(ts))
             GROUP BY user_id, window_id ORDER BY user_id, window_id""")),

    // ---- hierarchy-aware subtype routing (§2 row 15 deepened; types.
    // scala:270-272, OrderReportsExample.scala:86): the taxonomy is a
    // dotted path (event_type.subtype); filterTypeHierarchy on the
    // SUPERTYPE admits every subtype — the reference's isInstanceOf
    // dispatch — and the per-subtype lifecycle folds then group on the
    // full path.
    QueryDef(
      "ev_filter_subtype",
      (s, dir) => {
        val taxo = concat_ws(".", col("event_type"),
          when(col("value") >= 100, "hi").otherwise("lo"))
        EStream(Q.events(s, dir))
          .map("subtype" -> taxo, "value" -> col("value"))
          .filterTypeHierarchy(col("subtype"), "error")
          .df.groupBy("subtype")
          .agg(count(lit(1)).as("n"), Q.dsumD(col("value")).as("sum_value"),
            max(col("value")).as("max_value"))
          .orderBy("subtype")
      },
      Some("""SELECT event_type || '.' ||
               (CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END) AS subtype,
             count(*) AS n, sum(value::decimal(38,6))::double AS sum_value,
             max(value) AS max_value
             FROM events WHERE event_type = 'error'
             GROUP BY 1 ORDER BY subtype""")),

    // ---- streaming BEFORE-aligned trigger slices (§2 row 62's streaming
    // twin): the trigger event OPENS the next bucket instead of joining
    // the closing one (end-exclusive, SliceBeforeBucket.scala analog). A
    // live stream emits only CLOSED buckets; under BEFORE alignment a
    // bucket is closed iff a LATER trigger exists for the key, i.e. every
    // window id below the key's max.
    QueryDef(
      "stream_trigger_slices_before",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.CatalogStreamPartitions) {
        import s.implicits._
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/events.parquet")
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id").cast("string").as("k"),
            graft.core.Tables.tsUsExpr(schema).as("ts"), col("event_id").as("seq"),
            col("value").as("v"),
            (col("event_type") === "error").as("gate"))
          .as[graft.streaming.GatedEvent]
        StreamHarness.drain(graft.streaming.TriggerSlices.tagged(src, before = true))
          .select(col("k").cast("long").as("user_id"),
            col("windowId").as("window_id"), col("n"),
            col("sum").cast("decimal(38,6)").cast("double").as("sum_value"))
          .orderBy("user_id", "window_id")
      },
      Some("""SELECT user_id, window_id, n, sum_value FROM (
               SELECT user_id, window_id, count(*) AS n,
                 sum(value::decimal(38,6))::double AS sum_value
               FROM (SELECT *, coalesce(sum(CASE WHEN event_type='error' THEN 1 END)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)::bigint
                       AS window_id FROM events)
               GROUP BY user_id, window_id)
             QUALIFY window_id < max(window_id) OVER (PARTITION BY user_id)
             ORDER BY user_id, window_id"""))
  )
}
