package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Harness plumbing for the streaming query catalog.
  *
  * Two levers keep the streaming subset bench-honest (VERDICT r2 "What's
  * wrong" #1/#2):
  *
  *   1. [[withShufflePartitions]] — a stateful streaming operator commits
  *      one state store PER shuffle partition PER micro-batch (a
  *      stream-stream join commits four). At catalog volumes (~10⁴ rows)
  *      32 partitions is pure store-commit overhead: the same query at
  *      [[CatalogStreamPartitions]] (4) does 8× fewer RocksDB/HDFS store
  *      load+commit cycles per batch with identical results. On a real
  *      cluster the knob scales with volume — the library takes it as
  *      configuration, the bench pins it small.
  *
  *   2. [[StreamFixtures]] — queries that exercise multi-batch semantics
  *      (late data, checkpoint restart, outer-join watermark eviction)
  *      need the source split into time-ordered files. Writing those
  *      splits inside the query function means the bench times fixture IO,
  *      not the operator; the fixture is built ONCE per (dir) per JVM and
  *      each run just hard-copies the small files into a fresh source dir.
  */
object StreamHarness {

  /** Run `body` with each `key -> value` set on the session, then put every
    * key back as it was: its previous value, or unset if it had none. The
    * only way a catalog query changes session conf, so a query leaves the
    * session as it found it.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // the explicitly set keys, no defaults
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`. A
    * stateful query takes its state-store count from this setting when it
    * starts from an empty checkpoint; a restart keeps the count its offset
    * log recorded. The batch catalog keeps the session default (as many
    * shuffle partitions as `local[N]` has cores, `graft.LocalSession`).
    *
    * State-backend switch (VERDICT r6 #8): SPARK_GRAFT_STATE_BACKEND=
    * rocksdb runs the WHOLE streaming catalog on the RocksDB provider; no
    * query pins a backend itself. Results must be backend-independent —
    * a RocksDB run re-checks every hash; SCALE.md records the per-backend
    * toll.
    */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val rocks = sys.env.get("SPARK_GRAFT_STATE_BACKEND")
      .exists(_.equalsIgnoreCase("rocksdb"))
    val backend =
      if (rocks) Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
      else Nil
    withConf(s, ("spark.sql.shuffle.partitions" -> n.toString) +: backend: _*)(body)
  }

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State partition count for a stream drained one small file per
    * trigger, such as the benchmark's drains (10³ rows a trigger): 1.
    * There a state partition's fixed cost per trigger — its task's
    * deserialization, the state serializer and deserializer projections
    * that each task generates again, and the store's load and commit —
    * outweighs its fold many times over (a JFR profile of the benchmark's
    * stream_drain, executor samples at 4 partitions: 34% projection
    * codegen, 13% task deserialization, 15% store load and commit, 1.4%
    * the fold). One partition runs each trigger as one scan task and one
    * stateful task; on 4 vCPUs stream_drain ran 20-22% less CPU and
    * 10-12% more events per second at 1 partition than at 4 (SCALE.md).
    */
  val StreamPartitions: Int = 1

  /** State partition count for the streaming catalog queries: 4. Each
    * admits its whole input table in one or two triggers, not a small
    * file per trigger. With all 38 at 1 partition, their sf0.1 subtotal
    * on 4 vCPUs read +0.6% and +11.1% against 4 in two windows, so the
    * catalog keeps the count it had (SCALE.md).
    */
  val CatalogStreamPartitions: Int = 4

  /** Run `ds` into a memory sink under a unique name, drive it (by
    * default: process everything available) and stop it, then return the
    * sink's rows. The sink's temp view is dropped before returning, also
    * when the query fails, so a catalog query leaves no view behind; the
    * returned frame is already resolved and keeps reading the sink.
    */
  def drain(ds: Dataset[_], mode: String = "append", availableNow: Boolean = false,
      drive: StreamingQuery => Unit = _.processAllAvailable()): DataFrame = {
    val name = "graft_sink_" + System.nanoTime()
    val w = ds.writeStream.queryName(name).format("memory").outputMode(mode)
    val q = (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
    try {
      try drive(q) finally q.stop()
      ds.sparkSession.table(name)
    } finally ds.sparkSession.catalog.dropTempView(name)
  }

  /** [[drain]] over a file feed, one micro-batch per fixture part: copy
    * part `parts.head` of `fixtureRoot` into a fresh source directory,
    * start the stream `query` builds over that directory and process it,
    * then feed each further part and [[settle]]. The source directory is
    * deleted before returning, also when the query fails.
    */
  def drainFeed(fixtureRoot: String, parts: Seq[String], mode: String = "append")(
      query: String => Dataset[_]): DataFrame = {
    val root = StreamFixtures.scratchDir("graft_feed_")
    try {
      val srcDir = s"$root/src"
      StreamFixtures.feed(fixtureRoot, parts.head, srcDir)
      drain(query(srcDir), mode, drive = { q =>
        q.processAllAvailable()
        parts.tail.foreach { p => StreamFixtures.feed(fixtureRoot, p, srcDir); settle(q) }
      })
    } finally StreamFixtures.deleteRecursively(root)
  }

  /** Process a mid-stream file feed to quiescence — closes the
    * `processAllAvailable` no-data race that the sf1-volume gate exposed
    * (stream_cohort_retention / stream_session_paths lost their entire
    * second micro-batch at 10×, intermittently).
    *
    * The race: `processAllAvailable` returns when the engine completes a
    * trigger that found no new data. A trigger's directory LISTING can
    * predate the feed's file copy while its no-data CONCLUSION lands
    * after `processAllAvailable` starts waiting — the call then returns
    * with the fed file never admitted. The window is the duration of one
    * no-data trigger (listing + bookkeeping), which grows with file count
    * /size and JVM load — negligible at sf0.01, real at sf1 volume.
    *
    * Why TWO calls suffice: micro-batch triggers run sequentially on one
    * engine thread, so at most ONE in-flight trigger can have listed
    * before the feed finished. The first call absorbs it (returns on its
    * stale no-data signal at worst); any trigger that satisfies the
    * second call necessarily STARTED after that stale trigger completed,
    * i.e. listed after the feed — so it either admits the fed file (data
    * trigger, doesn't satisfy the wait) or correctly concludes
    * everything is processed.
    */
  def settle(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    q.processAllAvailable()
  }

  /** Partition count for the STORE-HEAVY streaming queries
    * (stream_session_window, stream_scd2): their per-batch state work is
    * ~rows-sized (912k session inserts+evictions at sf1), so unlike the
    * rest of the catalog — where [[CatalogStreamPartitions]] keeps the
    * per-batch store-commit toll small at KB state — the insert/evict scan
    * itself is the cost and parallelizes with partitions (measured at
    * sf1: session_window 5.8 → 4.4 s going 4 → 16). Capped at 16 so the
    * commit toll never dominates the small scales. Results are
    * partition-count independent (CPUS=7 gate).
    */
  def wideStreamPartitions(s: SparkSession): Int =
    math.max(CatalogStreamPartitions, math.min(16, s.sparkContext.defaultParallelism))

  /** Run `body` with the file-scan bin-packer closing a partition at
    * every file. The pre-split keyed fixtures
    * ([[StreamFixtures.eventsKeyed]]) are ~cores small files; under the
    * defaults (maxPartitionBytes 128 MB, openCost 4 MB) the packer would
    * coalesce them into one or two scan partitions and re-serialize the
    * decode the split exists to parallelize. Setting
    * maxPartitionBytes to the 4 MB open cost makes every file its own
    * partition (any file's padded cost alone reaches the cap) — the
    * micro-batch scan then decodes file-parallel, which is exactly the
    * per-topic-partition parallelism a Kafka source gives. Scoped per
    * query: the batch catalog keeps the default (its parquet is big
    * enough to split on row groups).
    *
    * SERIAL-EXECUTION ASSUMPTION (ADVICE r14): the knob is session-global
    * for the duration of `body` — Spark 4.1 has no per-read equivalent
    * (FileSourceOptions carries only ignoreCorrupt/MissingFiles; the
    * bin-packer reads the session conf in FilePartition.maxSplitBytes).
    * Any OTHER query planned on this session while `body` runs silently
    * inherits the 4 MB packing. Verify/Bench run the catalog strictly
    * sequentially on one thread, so nothing else plans during the window;
    * a future concurrent runner must either pin its own session or plan
    * outside these windows.
    */
  def withSplitPerFile[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.files.maxPartitionBytes" -> "4m")(body)

  /** Total rows dropped as too-late across every recorded micro-batch of
    * `q` (sum of stateOperators.numRowsDroppedByWatermark). The flush-
    * sentinel pattern is only correct when the corpus and the sentinel
    * are admitted in the SAME first batch; if file admission ever spans
    * batches (multi-file fixture + maxFilesPerTrigger, a future source
    * change), the watermark jumps past the corpus after batch 0 and
    * every later real event is silently late-dropped (ADVICE r13).
    * Callers assert this is 0 after settle() so that failure is loud. */
  def watermarkDrops(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator.map(_.numRowsDroppedByWatermark))
      .sum

  /** Fan a micro-batch's scan output across all cores before CPU-heavy
    * per-row ingest work (minhash signatures, nested-replace BPE encode,
    * n-gram hashing). The fixture sources are single-file, single-row-
    * group parquet, so the scan is ONE split and everything upstream of
    * the first shuffle runs single-threaded regardless of cores; parquet
    * can't split below a row group, so the only way to parallelize the
    * map side is an explicit exchange. Deployed this is the standard
    * ingest-enrichment pattern whenever per-row compute cost dominates
    * one extra row-sized shuffle (image decode, signature computation) —
    * and it is exactly what Kafka source partitioning gives for free.
    * RoundRobin (repartition(n) without keys) preserves nothing the
    * downstream relies on: every consumer re-shuffles on its own keys or
    * aggregates associatively; results stay partition-independent (gated
    * at CPUS=7). */
  def scanWide(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)
}

/** Per-JVM memoized streaming test fixtures (pre-split source files). */
object StreamFixtures {

  private val cache = scala.collection.concurrent.TrieMap[String, String]()

  // ADVICE r4: fixture roots lived for the JVM but were never removed —
  // every Verify/Bench/test JVM left a few graft_fx_* dirs in /tmp. The
  // cache is per-JVM by design (memoized across the catalog), so the
  // matching lifetime for cleanup is a shutdown hook.
  sys.addShutdownHook {
    cache.values.foreach { root =>
      try deleteRecursively(root) catch { case _: Throwable => () }
    }
  }

  /** Table `table` of `dir`, read as `frame`, split at the midpoint of
    * its integer column `column` into two single-file parquet halves:
    * `lo/` (column ≤ mid) and `hi/` (column > mid), with mid =
    * min + (max - min) div 2. Built once per (table, dir) per JVM;
    * multi-batch streaming queries copy these files into fresh per-run
    * source dirs (file copies, no Spark jobs). The catalog splits the
    * events by event time (µs `ts` of [[graft.core.Tables.events]]), and
    * the documents and embeddings by id, so a stream that admits the
    * lower ids first keeps the batch keep-min-id rule of first-wins dedup.
    *
    * One file per half ⇒ one deterministic micro-batch per feed. (The
    * per-key-ordered-source contract: a hash-partitioned multi-file half
    * could be admitted across batches with ranges interleaved. This
    * coalesce is test-fixture generation, not an engine path — a real
    * deployment's Kafka topic is keyed.)
    */
  def halves(dir: String, table: String, column: String)(frame: => DataFrame): String =
    cache.synchronized {
      cache.getOrElseUpdate(s"halves|$table|$dir", {
        val d = frame
        val r0 = d.agg(min(column), max(column)).head()
        val (lo, hi) = (r0.getAs[Number](0).longValue, r0.getAs[Number](1).longValue)
        val mid = lo + (hi - lo) / 2
        val root = Files.createTempDirectory(s"graft_fx_${table}_").toString
        d.filter(col(column) <= mid).coalesce(1).write.parquet(s"$root/lo")
        d.filter(col(column) > mid).coalesce(1).write.parquet(s"$root/hi")
        root
      })
    }

  /** Schema of the [[halves]] under fixture root `root` (= its table's). */
  def halvesSchema(s: SparkSession, root: String) =
    graft.core.Tables.cachedSchema(s, root + "/lo")

  /** The orders table split into two halves by o_orderdate (change-log
    * time) — the SCD2 streaming twin feeds these to prove an interval
    * OPEN in batch-1 state extends across the batch boundary. Same-date
    * rows always land in the same half, so per-key event order is
    * respected across batches.
    *
    * Each half is hash-partitioned by o_custkey into one file per core
    * (VERDICT r13 #4, same keyed-topic ingest shape as [[eventsKeyed]]):
    * the r13 single-file halves serialized each micro-batch's ~750k-row
    * sf1 decode on one core. Multi-file halves are safe here because the
    * whole half is staged atomically before its trigger (one batch per
    * feed regardless of file count) and ScdCompact sorts (ts, seq)
    * within the batch; cross-batch per-key order is the date split.
    */
  def ordersHalves(s: SparkSession, dir: String): String = cache.synchronized {
    cache.getOrElseUpdate("orders_halves|" + dir, {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val r0 = o.agg(min("o_orderdate"), max("o_orderdate")).head()
      val (lo0, hi0) = (r0.getAs[java.time.LocalDateTime](0),
        r0.getAs[java.time.LocalDateTime](1))
      val mid = lo0.plusSeconds(
        java.time.Duration.between(lo0, hi0).getSeconds / 2)
      val root = Files.createTempDirectory("graft_fx_orders_").toString
      val n = s.sparkContext.defaultParallelism
      o.filter(col("o_orderdate") <= lit(mid)).repartition(n, col("o_custkey"))
        .write.parquet(s"$root/lo")
      o.filter(col("o_orderdate") > lit(mid)).repartition(n, col("o_custkey"))
        .write.parquet(s"$root/hi")
      root
    })
  }

  /** Schema of the orders fixture halves. */
  def ordersHalvesSchema(s: SparkSession, dir: String) =
    graft.core.Tables.cachedSchema(s, ordersHalves(s, dir) + "/lo")

  /** The documents table split into the FOUR deterministic batches of the
    * TTL-registry gate (`stream_clean_corpus_ttl`): grp = doc_id % 3 →
    * b1/b2/b3 with constant event times T1 &lt; T2 &lt; T3, plus b4 = the
    * grp-0 docs REPLAYED at T4 — the deployment shape of re-ingesting an
    * old shard after the dedup registry TTL'd its keys out. The time
    * constants live in [[TtlGate]] next to the inequalities that make the
    * eviction schedule deterministic.
    */
  def docsTtlBatches(s: SparkSession, dir: String): String = cache.synchronized {
    cache.getOrElseUpdate("docs_ttl|" + dir, {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val root = Files.createTempDirectory("graft_fx_docsttl_").toString
      def part(grp: Int, tsMs: Long, name: String): Unit =
        d.filter(col("doc_id") % 3 === grp)
          .withColumn("ts", expr(s"timestamp_millis(${tsMs}L)"))
          .coalesce(1).write.parquet(s"$root/$name")
      part(0, TtlGate.T1, "b1"); part(1, TtlGate.T2, "b2")
      part(2, TtlGate.T3, "b3"); part(0, TtlGate.T4, "b4")
      root
    })
  }

  /** Schema of the TTL-gate batches (documents + event-time ts). */
  def docsTtlBatchesSchema(s: SparkSession, dir: String) =
    graft.core.Tables.cachedSchema(s, docsTtlBatches(s, dir) + "/b1")

  /** The events table hash-partitioned by user_id into one parquet file
    * per core under `keyed/` — the KEYED-TOPIC ingest shape (VERDICT r13
    * #3). The single-file fixture serialized the 5M-row sf1 decode on one
    * core (parquet can't split below a row group) and forced a
    * round-robin exchange (`scanWide`) to fan the batch out; a deployed
    * Kafka topic is partitioned by key, so parallel ingest is free and a
    * user's events arrive partition-local. Pre-splitting by key gives the
    * bench the same shape: the scan decodes N-way in parallel AND the
    * per-partition session pre-merge sees each user's complete history,
    * so the key shuffle moves finished sessions with no extra exchange.
    * Explicit partition count (not AQE-coalesced); empty partitions write
    * no file, so the file count is ≤ cores — callers must not assume N.
    */
  def eventsKeyed(s: SparkSession, dir: String): String = cache.synchronized {
    cache.getOrElseUpdate("events_keyed|" + dir, {
      val raw = s.read.parquet(s"$dir/events.parquet")
      val root = Files.createTempDirectory("graft_fx_evkeyed_").toString
      raw.repartition(s.sparkContext.defaultParallelism, col("user_id"))
        .write.parquet(s"$root/keyed")
      root
    })
  }

  /** Schema of the keyed events fixture (= raw events.parquet schema). */
  def eventsKeyedSchema(s: SparkSession, dir: String) =
    graft.core.Tables.cachedSchema(s, eventsKeyed(s, dir) + "/keyed")

  /** One-row session-window FLUSH sentinel (VERDICT r12 #3): raw events
    * schema, key -1, event time tmax + 2·gap. It advances the global
    * watermark past every real session's end (≤ tmax + gap), so
    * APPEND-mode `session_window` emits each session exactly once and
    * drains its state — replacing complete-mode's re-emission of the
    * full session set every micro-batch. Staging it in the SAME first
    * batch as the corpus is safe: the watermark only advances AFTER a
    * batch completes, so the sentinel can never late-drop the data it
    * rides with. The sentinel's own session never finalizes, so it
    * never reaches the sink. This is the deployment shape too: a keyed
    * ingest topic carries punctuation/heartbeat events that advance
    * event time.
    */
  def sessionFlushFixture(s: SparkSession, dir: String): String = cache.synchronized {
    cache.getOrElseUpdate("sw_flush|" + dir, {
      val raw = s.read.parquet(s"$dir/events.parquet")
      // The sentinel RESERVES user_id = -1 and the query filters it back
      // out; a corpus that legitimately contains -1 would silently lose
      // that user's sessions from the Spark leg only (ADVICE r13) — fail
      // loudly here instead. Same agg pass as the tmax scan.
      val hdr = raw.agg(max(graft.core.Tables.tsUsExpr(raw.schema)),
        sum(when(col("user_id") === -1L, 1L).otherwise(0L))).head()
      require(hdr.isNullAt(1) || hdr.getLong(1) == 0L,
        s"sessionFlushFixture: corpus $dir/events.parquet contains " +
          s"${hdr.getLong(1)} rows with user_id = -1 — the reserved flush-" +
          "sentinel key; stream_session_window would silently drop them")
      val tmaxUs = hdr.getLong(0)
      val flushUs = tmaxUs + 7200000000L // +2 h: strictly past every end
      val tsCol = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(flushUs * 1000L) // ns
        case t => timestamp_micros(lit(flushUs)).cast(t)
      }
      val row = raw.limit(1).select(raw.schema.fields.map { f =>
        f.name match {
          case "ts" => tsCol.as("ts")
          case "user_id" => lit(-1L).cast(f.dataType).as("user_id")
          case _ => col(f.name)
        }
      }.toSeq: _*)
      val root = Files.createTempDirectory("graft_fx_swflush_").toString
      row.coalesce(1).write.parquet(s"$root/flush")
      root
    })
  }

  /** Copy the parquet files of fixture half `half` ("lo"/"hi") into the
    * per-run streaming source directory `destDir`, prefixing filenames so
    * both halves can coexist.
    *
    * ATOMIC publish (round-11 sf1 gate finding): a plain `Files.copy`
    * into the watched directory let the file source list a HALF-COPIED
    * parquet — FAILED_READ_FILE on the fed batch. The window is the copy
    * duration, negligible at sf0.01 file sizes and real at 10×
    * (stream_cohort_retention / stream_session_paths failed on their
    * 16 MB events half exactly there). Copy to a dot-prefixed temp name
    * (hidden from Spark's file-source listing filter) and ATOMIC_MOVE to
    * the final name — the file either isn't listed or is complete.
    */
  def feed(fixtureRoot: String, half: String, destDir: String): Unit = {
    Files.createDirectories(Paths.get(destDir))
    Files.list(Paths.get(fixtureRoot, half)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { p =>
        val name = half + "_" + p.getFileName.toString
        val tmp = Paths.get(destDir, "." + name + ".tmp")
        Files.copy(p, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, Paths.get(destDir, name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
  }

  /** Per-JVM memoized FROZEN batch-side models for streaming twins
    * (VERDICT r7 #2). Several stream queries freeze a deterministic
    * batch-trained constant before the stream starts — k-means centroids
    * (stream_ivf_append, stream_semdedup), a benchmark n-gram index
    * (stream_decontaminate), a BPE merge table (stream_bpe_encode), a
    * historical count-table (stream_drift_kl). The model is a pure
    * function of the fixture dir, so rebuilding it on every bench
    * repetition times the batch-side setup, not the streaming operator —
    * the same reasoning as the pre-split file fixtures above. Deployed,
    * these constants are trained once offline and shipped to the ingest
    * job as literals. `computeIfAbsent` guarantees single evaluation per
    * key (the TrieMap.getOrElseUpdate racing-builder leak class from
    * ADVICE r7 cannot occur). DataFrame-valued models should be
    * `.localCheckpoint(true)`-ed by the builder so they survive Bench's
    * between-run `clearCache()` without recompute.
    */
  private val models =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  def frozen[T <: AnyRef](key: String)(build: => T): T =
    models.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** Loud-config guard (ADVICE r14): the bench/gate harness collects
    * every memory-sink batch onto the DRIVER. For the few queries whose
    * emission is corpus-sized (the null-passthrough floor, the semdedup
    * pair emitter) that makes spark.driver.maxResultSize a correctness
    * knob — at the 1000x gate one stream_semdedup task result measured
    * 1.2 GiB against Spark's 1g default and failed 40 minutes into the
    * run. This fails BEFORE the stream starts when the source volume
    * exceeds the configured cap, naming the SPARK_DRIVER_MAXRESULT knob
    * (build.sbt javaOptions). On-disk parquet bytes (compressed) are a
    * conservative LOWER bound on the serialized task-result volume; a
    * cap of 0 means unlimited and always passes. A deployment sinks to
    * Kafka/parquet and never hits this — it is a gate-harness guard.
    */
  def assertDriverCollectCapacity(s: SparkSession, srcPath: String,
      query: String): Unit = {
    val bytes = Files.walk(Paths.get(srcPath)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
    val cap = s.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (cap > 0 && bytes > cap)
      throw new IllegalStateException(
        s"$query sinks ~the full corpus to the driver-side memory sink: " +
          s"source parquet is $bytes bytes but spark.driver.maxResultSize " +
          s"is $cap. Export SPARK_DRIVER_MAXRESULT above the corpus size " +
          "for scale-gate runs (build.sbt wires it through).")
  }

  /** Fresh per-run scratch directory (source/checkpoint/output roots). */
  def scratchDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Recursively delete a per-run scratch directory. */
  def deleteRecursively(root: String): Unit =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
}

/** Time constants of the TTL-registry cross-engine gate
  * (`stream_clean_corpus_ttl`). The event-time schedule is chosen so the
  * watermark-driven eviction sequence is FULLY determined (and therefore
  * SQL-replayable) — the inequalities, asserted at query build:
  *
  *   - `T2 > T1 + TtlMs`: after batch 2 the watermark (= T2) passes the
  *     batch-1 keys' timeout (T1 + ttl), so every key seen ONLY in batch 1
  *     evicts before batch 4 — its batch-4 replay RE-EMITS.
  *   - `T3 < T2 + TtlMs`: keys refreshed by a batch-2 duplicate survive
  *     through batch 3's watermark — their batch-4 replay stays
  *     SUPPRESSED (the sliding-TTL refresh path).
  *   - `T4 > T3` and `T4 < T3 + TtlMs`: keys sighted (or refreshed) in
  *     batch 3 are alive at batch 4.
  *
  * With those, the emitted set has a closed form the DuckDB oracle states
  * directly: every key emits its first-batch minimum-(doc_id, lang) row
  * once, and keys whose docs ALL sit in batch 1 (grp 0) emit that row a
  * second time at the batch-4 replay.
  */
object TtlGate {
  val TtlMs = 600000L
  val T1 = 1000000L
  val T2 = 2000000L
  val T3 = 2500000L
  val T4 = 3000000L
  require(T2 > T1 + TtlMs && T3 < T2 + TtlMs && T4 > T3 && T4 < T3 + TtlMs,
    "TtlGate schedule inequalities violated — the oracle's closed form no longer holds")
}
