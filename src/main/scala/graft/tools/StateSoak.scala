package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._

/** 100-batch state-size soak for the bounded-state streaming families
  * (VERDICT r7 #8; TTL registries VERDICT r8 #8): the FIFO-cap / O(1)-register claims are
  * law-tested for VALUES, but state growth over a long feed was argued,
  * not measured. This harness drives each family with 100 micro-batches
  * from a fixed key/cell/bucket universe (MemoryStream, one batch per
  * `addData` + `processAllAvailable`), records `stateOperators` metrics
  * (numRowsTotal, stateMemory) from each batch's StreamingQueryProgress,
  * and ASSERTS the plateau: state row count at batch 100 equals batch 50
  * exactly, and state memory grows ≤ 25% after batch 50 (snapshot jitter
  * allowance). A family whose state tracked the stream length (the bug
  * class this guards) fails loudly.
  *
  *   sbt -batch "runMain graft.tools.StateSoak"
  *
  * Families and why their state must flatten:
  *   - ewma: one Double register per key
  *   - zip_join: one (left,right) register per key
  *   - pack: one (bin,fill) register per shard
  *   - neardup: per-bucket signature history, FIFO cap 32 here
  *   - semdedup: per-cell vector history, FIFO cap 32 here
  */
object StateSoak {

  private final case class Curve(rows: Vector[Long], mem: Vector[Long])

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = graft.LocalSession.builder()
      .config("spark.sql.shuffle.partitions", 2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    val Batches = 100

    /** Drive `out` for `Batches` batches, feeding batch b via `feed`. */
    def soak[I, O](name: String)(
        mk: MemoryStream[I] => Dataset[O])(feed: (MemoryStream[I], Int) => Unit)(
        implicit enc: org.apache.spark.sql.Encoder[I]): Curve = {
      val src = MemoryStream[I]
      val q = mk(src).writeStream
        .queryName(s"soak_$name").format("noop").outputMode("append").start()
      val rows = Vector.newBuilder[Long]
      val mem = Vector.newBuilder[Long]
      try {
        for (b <- 1 to Batches) {
          feed(src, b)
          // settle: closes the processAllAvailable no-data race on
          // file feeds into a running query (see StreamHarness.settle)
          graft.queries.StreamHarness.settle(q)
          val p = q.lastProgress
          val so = p.stateOperators
          rows += so.map(_.numRowsTotal).sum
          mem += so.map(_.memoryUsedBytes).sum
        }
      } finally q.stop()
      Curve(rows.result(), mem.result())
    }

    val curves = scala.collection.mutable.LinkedHashMap[String, Curve]()

    curves("ewma") = soak[KeyedEvent, EwmaBatchOut]("ewma")(
      src => EwmaScan(src.toDS(), 0.2)) { (src, b) =>
      src.addData((0 until 10).flatMap(k => (0 until 5).map(i =>
        KeyedEvent(s"k$k", b * 1000L + i, b * 100L + i, (b * 31 + k * 7 + i) % 100 / 10.0))))
    }

    curves("zip_join") = soak[ZipEvent, ZipOut]("zip_join")(
      src => ZipJoin(src.toDS())) { (src, b) =>
      src.addData((0 until 10).map(k =>
        ZipEvent(s"k$k", b * 1000L, b * 100L + k, (b + k) % 2, b + k / 10.0)))
    }

    curves("pack") = soak[PackItem, PackAssigned]("pack")(
      src => StreamPacking.nextFit(src.toDS(), capacity = 512)) { (src, b) =>
      src.addData((0 until 10).flatMap(sh => (0 until 4).map(i =>
        PackItem(sh, b * 100L + sh * 10 + i, 32 + (b * 13 + sh * 5 + i * 3) % 200))))
    }

    curves("neardup") = soak[BandDoc, NearDupPair]("neardup")(
      src => StreamNearDup(src.toDS(), minEq = 6, maxPerBucket = 32)) { (src, b) =>
      // fixed 4x10 bucket universe; fresh doc ids forever — unbounded
      // history unless the FIFO cap holds
      src.addData((0 until 4).flatMap(band => (0 until 10).map { bh =>
        val id = b * 100L + band * 10 + bh
        BandDoc(band, bh.toLong, id, (0 until 8).map(j => (id * 31 + j * 7) % 97))
      }))
    }

    curves("semdedup") = soak[CellVec, SemDupPair]("semdedup")(
      src => StreamSemDedup(src.toDS(), 0.99, maxPerCell = 32)) { (src, b) =>
      src.addData((0 until 4).flatMap { cell =>
        (0 until 3).map { i =>
          val id = b * 100L + cell * 10 + i
          val v = (0 until 8).map(j => ((id * 17 + j * 13) % 19 + 1).toDouble)
          CellVec(cell.toLong, id, v, v.map(x => x * x).sum)
        }
      })
    }

    // TTL registries (VERDICT r8 #8): FRESH keys every batch — without
    // eviction these two registries (KeepFirst's seen-set and the
    // decontamination hit-count shape) track stream length, the one
    // state family the bounded-cap proofs above cannot cover. The TTL is
    // EVENT-TIME (watermark-driven), so eviction is deterministic: batch
    // b's keys carry event time b seconds, ttl = 5 event-seconds, and
    // the watermark lags one batch — keys of batch j evict exactly at
    // batch j+7, so live rows plateau at a constant ~70 of the 1000 keys
    // fed and the strict rows(100) == rows(50) assertion applies as-is.
    val ttlMs = 5000L
    def evTs(b: Int) = new java.sql.Timestamp(b * 1000L)
    curves("keepfirst_ttl") = soak[TsKeyedDoc, KeyedDoc]("keepfirst_ttl")(
      src => KeepFirst.withTtl(src.toDS(), ttlMs = ttlMs)) { (src, b) =>
      src.addData((0 until 10).map(i =>
        TsKeyedDoc(b * 100L + i, i, "en", 10, evTs(b))))
    }

    curves("decon_ttl") = soak[TsKeyHit, KeyCount]("decon_ttl")(
      src => TtlCounter(src.toDS(), ttlMs = ttlMs)) { (src, b) =>
      src.addData((0 until 10).map(i => TsKeyHit(b * 100L + i, evTs(b))))
    }

    // ---- report + assert ------------------------------------------------
    val marks = Seq(1, 10, 30, 50, 75, 100)
    println(f"${"family"}%-10s ${marks.map(m => f"b$m%-8s").mkString} mem50→mem100")
    var failed = List.empty[String]
    for ((name, c) <- curves) {
      val rowsAt = marks.map(m => c.rows(m - 1))
      val m50 = c.mem(49).toDouble
      val m100 = c.mem(99).toDouble
      println(f"$name%-10s ${rowsAt.map(r => f"$r%-8d").mkString} " +
        f"${m50 / 1024}%.0f→${m100 / 1024}%.0f KiB (${m100 / math.max(m50, 1.0)}%.2fx)")
      if (c.rows(99) != c.rows(49))
        failed ::= s"$name: state rows grew after batch 50 (${c.rows(49)} -> ${c.rows(99)})"
      // TTL registries additionally must have EVICTED: the feed is 1000
      // fresh keys; a no-op TTL would plateau-fail above anyway by batch
      // 100 vs 50, but assert the live fraction explicitly so a
      // subtly-wrong timer (e.g. never firing) cannot hide behind two
      // equal still-growing snapshots
      if (name.endsWith("_ttl") && c.rows(99) > 200)
        failed ::= s"$name: TTL eviction not biting (${c.rows(99)}/1000 keys live at batch 100)"
      val memAllow =
        // TTL eviction is EVENT-TIME and deterministic (Streams.scala
        // withTtl/TtlCounter docs) — the 2x headroom covers the state
        // store's snapshot/commit overhead varying across eviction
        // batches (delta files straddle the m50 sample point), not any
        // eviction nondeterminism. Row counts above stay strict.
        if (name.endsWith("_ttl")) 2.0
        else 1.25
      if (m100 > m50 * memAllow)
        failed ::= f"$name: state memory grew ${m100 / m50}%.2fx after batch 50"
    }
    require(failed.isEmpty, "state soak failures:\n" + failed.mkString("\n"))
    println("[soak] all families bounded over 100 batches (capped flat; TTL registries evicting)")
    spark.stop()
  }
}
