package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — fitting variable-length chunks into fixed-capacity
  * context windows (the training-batch construction step downstream of
  * chunking). Exact bin packing is NP-hard and inherently sequential;
  * the scalable shape is GREEDY WITHIN BOUNDED SHARDS:
  *
  *   1. shard items by hash (shard count scales with the corpus — each
  *      shard's items fit one task);
  *   2. within a shard, next-fit-decreasing over a SORTED group iterator
  *      (`flatMapSortedGroups` — Spark sorts within groups at shuffle
  *      time, no driver state, no per-group collect);
  *   3. bin ids are (shard, seq-within-shard) — globally unique without
  *      coordination.
  *
  * Deterministic: the shard assignment is a hash of the item id and the
  * within-shard order is total (len desc, then id), so the packing is
  * independent of partitioning and scheduling — asserted in PackingSpec.
  *
  * Reference analog: none (beyond-reference pipeline surface).
  */
object Packing {

  final case class ShardedItem(shard: Int, id: Long, len: Int)
  final case class Packed(shard: Int, bin: Long, id: Long, len: Int)
  final case class PackedAt(shard: Int, bin: Long, id: Long, len: Int, start: Int)

  /** Pack items (id, len) into bins of `capacity` tokens; items with
    * len > capacity are dropped (count them upstream). Returns one row
    * per item with its (shard, bin) assignment.
    */
  def nextFitDecreasing(items: DataFrame, capacity: Int, shards: Int): DataFrame = {
    // a REAL hash (not plain modulo): negative ids stay non-negative and
    // id-correlated length patterns (monotone ids with structured lengths)
    // can't skew shards
    val hashShard = udf((id: Long) =>
      Math.floorMod(scala.util.hashing.byteswap64(id), shards.toLong).toInt)
    nextFitDecreasingSharded(
      items.select(hashShard(col("id").cast("long")).as("shard"),
        col("id"), col("len")),
      capacity)
  }

  /** [[nextFitDecreasing]] with a CALLER-SUPPLIED shard column — for
    * pipelines that need a cross-engine shard function (e.g. the md5
    * hash the DuckDB oracle can replay). Input: (shard: int, id, len).
    */
  def nextFitDecreasingSharded(items: DataFrame, capacity: Int): DataFrame = {
    implicit val itemEnc = Encoders.product[ShardedItem]
    implicit val packedEnc = Encoders.product[Packed]
    implicit val keyEnc = Encoders.scalaInt
    val ds = items
      .select(col("shard").cast("int"), col("id").cast("long"),
        col("len").cast("int"))
      .as[ShardedItem].filter(_.len <= capacity)
    ds.groupByKey(_.shard)
      .flatMapSortedGroups(desc("len"), asc("id")) { (shard, it) =>
        var bin = 0L
        var fill = 0
        it.map { i =>
          if (fill + i.len > capacity) { bin += 1; fill = 0 }
          fill += i.len
          Packed(shard, bin, i.id, i.len)
        }
      }.toDF()
  }

  /** First-fit-decreasing with a BOUNDED open-bin ring (VERDICT r6 #7) —
    * strictly better utilization than [[nextFitDecreasingSharded]] (NFD
    * closes its single open bin on the first miss; FFD keeps `openBins`
    * candidates live) while keeping O(openBins) state per shard, never
    * O(items): the ring holds only (bin id, fill) pairs, no contents.
    *
    * Placement rule (deterministic, mirrored by the recursive-CTE
    * oracle): scan open bins OLDEST-FIRST, place into the first that
    * fits; on no fit, open a fresh bin and evict the oldest ring slot —
    * with decreasing lengths the oldest bins are the fullest, so FIFO
    * eviction approximates evict-fullest with O(1) bookkeeping. Unopened
    * slots carry the sentinel fill `capacity + 1` (nothing fits them),
    * so they are evicted before any real bin.
    *
    * Emits `start` directly (the fill at placement time) — the same
    * offset [[withOffsets]] computes for NFD, but without assuming a
    * reconstructible within-bin order.
    */
  def firstFitDecreasingSharded(items: DataFrame, capacity: Int,
                                openBins: Int = 4): DataFrame = {
    implicit val itemEnc = Encoders.product[ShardedItem]
    implicit val packedEnc = Encoders.product[PackedAt]
    implicit val keyEnc = Encoders.scalaInt
    val ds = items
      .select(col("shard").cast("int"), col("id").cast("long"),
        col("len").cast("int"))
      .as[ShardedItem].filter(_.len <= capacity)
    ds.groupByKey(_.shard)
      .flatMapSortedGroups(desc("len"), asc("id")) { (shard, it) =>
        val binIds = Array.fill(openBins)(-1L)
        val fills = Array.fill(openBins)(capacity + 1)
        var nxt = 0L
        it.map { i =>
          var j = 0
          while (j < openBins && fills(j) + i.len > capacity) j += 1
          if (j < openBins) {
            val start = fills(j)
            fills(j) += i.len
            PackedAt(shard, binIds(j), i.id, i.len, start)
          } else {
            System.arraycopy(binIds, 1, binIds, 0, openBins - 1)
            System.arraycopy(fills, 1, fills, 0, openBins - 1)
            binIds(openBins - 1) = nxt
            fills(openBins - 1) = i.len
            nxt += 1
            PackedAt(shard, nxt - 1, i.id, i.len, 0)
          }
        }
      }.toDF()
  }

  /** Add each item's `start` offset inside its packed sequence — the doc
    * boundary. The window partitions by (shard, bin) in the SAME total
    * order the packer consumed items, so start = sum of earlier lens;
    * partitions are bin-sized (≤ capacity tokens), never data-sized.
    */
  def withOffsets(packed: DataFrame): DataFrame =
    packed.withColumn("start",
      coalesce(
        sum(col("len")).over(
          Window.partitionBy("shard", "bin")
            .orderBy(desc("len"), asc("id"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).cast("int"))

  /** Collapse a packing to ONE ROW PER BIN with the arrays a training
    * dataloader consumes (every array is capacity-bounded, never
    * data-sized):
    *   - `doc_ids`        — packed docs in sequence order
    *   - `doc_boundaries` — start offset of each doc (prefix sums of lens)
    *   - `position_ids`   — per-token position, RESTARTING at each doc
    *     (rotary/absolute positions must not leak across packed docs)
    *   - `segment_ids`    — per-token doc ordinal (the block-diagonal
    *     attention-mask key: tokens attend within equal segment only)
    */
  def binArrays(packed: DataFrame): DataFrame =
    withOffsets(packed)
      .groupBy("shard", "bin")
      .agg(sort_array(collect_list(
        struct(col("start"), col("id"), col("len")))).as("its"))
      .select(col("shard"), col("bin"),
        transform(col("its"), i => i.getField("id")).as("doc_ids"),
        transform(col("its"), i => i.getField("start")).as("doc_boundaries"),
        flatten(transform(col("its"),
          i => sequence(lit(0), i.getField("len") - 1))).as("position_ids"),
        flatten(transform(col("its"),
          (i, idx) => array_repeat(idx, i.getField("len")))).as("segment_ids"))

  /** Per-bin utilization summary of a packing. */
  def utilization(packed: DataFrame, capacity: Int): DataFrame =
    packed.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_items"), sum(col("len")).as("fill"))
      .withColumn("util_pct", expr(s"fill * 100 div $capacity"))
}
