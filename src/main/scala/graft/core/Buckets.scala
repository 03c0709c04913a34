package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-input buckets — scespet's
  * `bucketStream(b).bind(s1)(adder1).bind(s2)(adder2).reset(slice).last()`
  * builder chain (EnvTermBuilder.scala:113-134, MacroTerm.scala:360-390,
  * SlicedBucket.scala:22-85 `JoinValueRendezvous`), written
  * `.reset(slice).reduce(...)` here.
  *
  * Spark-first re-expression (SURVEY §3.3): tag each bound input, union
  * them (missing columns null-padded), assign window ids from the slice
  * spec, then ONE aggregation whose expressions dispatch on the tag
  * (`when(col("tag") === "trades", …)`). The reference's per-cycle
  * rendezvous — all inputs firing at one timestamp delivered before a
  * single `calculate()` — becomes grouping: rows sharing (key, window)
  * land in the same group by construction; for cycle-sensitive stats
  * (e.g. "count cycles where BOTH inputs fired") use [[Sliced.reduceByCycle]],
  * which pre-collapses each (key, ts) atomic cycle first.
  *
  * Scale: the union is a zero-shuffle concatenation of scans; the single
  * groupBy is one shuffle on (key, window_id) with partial aggregation.
  */
object Buckets {

  val Tag = "tag"

  /** One bound input: a tag name, the stream, and the value columns it
    * contributes (scespet's per-stream `adder` = which fields the bucket
    * reads from this input).
    */
  final case class Bind(tag: String, df: DataFrame, vals: Seq[(String, Column)])

  /** Tagged union of all bound inputs over shared (keys, ts, seq). */
  def taggedUnion(
      keys: Seq[String],
      inputs: Seq[Bind],
      tsCol: String = "ts",
      seqCol: String = "seq"): DataFrame = {
    val frames = inputs.map { b =>
      b.df.select(
        (keys.map(col) :+ col(tsCol) :+ col(seqCol) :+ lit(b.tag).as(Tag)) ++
          b.vals.map { case (n, e) => e.as(n) }: _*)
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Builder entry: `Buckets(keys).bind(...).bind(...).reset(slice)`. */
  def apply(keys: Seq[String], tsCol: String = "ts", seqCol: String = "seq"): Builder =
    Builder(keys, Nil, tsCol, seqCol)

  final case class Builder(
      keys: Seq[String],
      binds: Seq[Bind],
      tsCol: String,
      seqCol: String) {
    def bind(tag: String, df: DataFrame)(vals: (String, Column)*): Builder =
      copy(binds = binds :+ Bind(tag, df, vals))
    /** Seal with a slice spec (scespet `.reset(spec)`): the tagged union
      * cut into `window_id` buckets. scespet's `.last()` is its `reduce`,
      * `.all()` its `scan` (PartialBuiltSlicedBucket, MacroTerm.scala:360-390).
      */
    def reset(slice: Slice): Sliced = {
      val union = taggedUnion(keys, binds, tsCol, seqCol)
      Sliced(WindowKernel.withWindowId(union, keys, slice, tsCol, seqCol),
        keys, WindowKernel.WindowId, tsCol, seqCol)
    }
  }

  /** Tag-dispatch helper for aggregation expressions. */
  def fromTag(tag: String, c: Column): Column = when(col(Tag) === tag, c)
}
