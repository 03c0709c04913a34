package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the harness parquet tables (`TESTDATA.md`).
  *
  * Conventions for event streams (scespet `HasVal`/`MacroTerm` analog —
  * reference: /root/reference/src/scespet/core/types.scala:63-75):
  *   - `ts: Long`  — event time as an opaque ordered long (here: epoch
  *     micros, normalized by [[Tables.tsUsExpr]] from whatever physical type
  *     the fixture carries). scespet models time as Long millis; we keep the
  *     same opaque-ordered-long contract.
  *   - `seq: Long` — stable arrival-order tie-break. Reproduces scespet's
  *     deterministic source merge (SimpleEnv.scala:33-38,80-92).
  */
object Tables {

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Per-JVM memo of each fixture file's parquet schema (r15 guide §1/§6
    * measurement: `spark.read.parquet(path)` runs a ~30-55 ms driver-side
    * schema-inference JOB per call, and every catalog query constructs its
    * frame inside the bench's timed region — three-table queries paid
    * ~130 ms of pure footer re-reads per run). The schema is metadata, not
    * data: every action still computes from the parquet bytes. Fixture
    * drift within a JVM is impossible (the harness data is immutable and
    * Preflight.check gates the one legitimate drift axis at startup).
    * Inference of ns-timestamp fixtures needs
    * `spark.sql.legacy.parquet.nanosAsLong`, which every graft session
    * sets by default ([[graft.plans.GraftExtensions.Defaults]]).
    */
  private val schemaCache =
    scala.collection.concurrent.TrieMap[String, StructType]()

  def cachedSchema(spark: SparkSession, path: String): StructType =
    schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    spark.read.schema(cachedSchema(spark, p)).parquet(p)
  }

  /** Canonical event-time normalization: whatever physical type the fixture
    * writes `ts` as, produce epoch MICROS as a Long — the finest resolution
    * Spark and DuckDB (the correctness oracle, `epoch_us(ts)` twin) agree on
    * exactly. The fixture has flipped encodings across harness rounds
    * (int64 epoch-nanos → timestamp[us]); this is the ONE place that absorbs
    * that, for batch AND streaming sources alike. Branch on the runtime
    * schema, never assume:
    *   - LongType        → epoch-nanos long; truncate: `ts div 1000`
    *   - timestamp types → `unix_micros(cast(ts as timestamp))` under the
    *     UTC session TZ (every graft session sets spark.sql.session.timeZone
    *     = UTC, so NTZ and LTZ wall-clocks coincide).
    */
  def tsUsExpr(tsType: DataType): Column = tsType match {
    case LongType                          => expr("ts div 1000")
    case TimestampType | TimestampNTZType  => unix_micros(col("ts").cast(TimestampType))
    case other =>
      throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — extend Tables.tsUsExpr")
  }

  def tsUsExpr(schema: StructType): Column = tsUsExpr(schema("ts").dataType)

  /** `events` loader. Historically the fixture used ns parquet timestamps,
    * which Spark's vectorized reader rejects unless read as Long
    * (`nanosAsLong`, a graft session default); [[tsUsExpr]] handles either
    * physical type it lands as.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw
      .withColumn("ts", tsUsExpr(raw.schema))
      .withColumn("seq", col("event_id"))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
