package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Fixture-schema canary (VERDICT r4 "What's wrong" #4).
  *
  * The harness regenerates `/root/testdata` between rounds and has already
  * flipped a column's physical type once (`events.ts`: int64 epoch-nanos →
  * timestamp[us]), which surfaced as 82 identical per-query stack traces
  * instead of one clear message. Verify and Bench call [[check]] before the
  * catalog loop: read every table's schema (footer only — no data scan),
  * assert the canonical column/type contract, and on drift fail ONCE naming
  * every offending table/column/type.
  *
  * The contract encodes what the engine actually relies on, with the
  * flexibility it genuinely has (e.g. `events.ts` may be a long or any
  * timestamp type — [[Tables.tsUsExpr]] absorbs either; integer key columns
  * may widen). Anything outside that set is a hard stop: better one loud
  * preflight failure than a catalog of misleading ones.
  */
object Preflight {

  private sealed trait Kind { def ok(dt: DataType): Boolean; def show: String }
  private case object I extends Kind { // integral key / count
    def ok(dt: DataType) = dt == IntegerType || dt == LongType
    val show = "int|long"
  }
  private case object D extends Kind { // exact-compared measure
    def ok(dt: DataType) = dt == DoubleType
    val show = "double"
  }
  private case object S extends Kind {
    def ok(dt: DataType) = dt == StringType
    val show = "string"
  }
  private case object T extends Kind { // civil time (date-valued)
    def ok(dt: DataType) =
      dt == TimestampType || dt == TimestampNTZType || dt == DateType
    val show = "timestamp|timestamp_ntz|date"
  }
  private case object Ts extends Kind { // event time, see Tables.tsUsExpr
    def ok(dt: DataType) =
      dt == LongType || dt == TimestampType || dt == TimestampNTZType
    val show = "long(ns)|timestamp|timestamp_ntz"
  }
  private case object VecF extends Kind {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    val show = "array<float|double>"
  }

  private val contract: Seq[(String, Seq[(String, Kind)])] = Seq(
    "region"   -> Seq("r_regionkey" -> I, "r_name" -> S),
    "nation"   -> Seq("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
    "customer" -> Seq("c_custkey" -> I, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S),
    "supplier" -> Seq("s_suppkey" -> I, "s_name" -> S, "s_nationkey" -> I,
      "s_acctbal" -> D),
    "part"     -> Seq("p_partkey" -> I, "p_name" -> S, "p_brand" -> S,
      "p_type" -> S, "p_size" -> I, "p_retailprice" -> D),
    "orders"   -> Seq("o_orderkey" -> I, "o_custkey" -> I,
      "o_orderstatus" -> S, "o_totalprice" -> D, "o_orderdate" -> T,
      "o_orderpriority" -> S),
    "lineitem" -> Seq("l_orderkey" -> I, "l_partkey" -> I, "l_suppkey" -> I,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
      "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S,
      "l_linestatus" -> S, "l_shipdate" -> T),
    "events"   -> Seq("event_id" -> I, "ts" -> Ts, "user_id" -> I,
      "event_type" -> S, "value" -> D, "props" -> S),
    "documents" -> Seq("doc_id" -> I, "text" -> S, "lang" -> S,
      "source" -> S, "n_chars" -> I),
    "embeddings" -> Seq("vec_id" -> I, "embedding" -> VecF, "label" -> I)
  )

  /** Assert the fixture contract for every table under `dir`; throws one
    * [[IllegalStateException]] listing ALL drift if any table is missing,
    * unreadable, or carries an off-contract column.
    */
  def check(spark: SparkSession, dir: String): Unit = {
    val problems = contract.flatMap { case (table, cols) =>
      try {
        val schema = spark.read.parquet(Tables.path(dir, table)).schema
        val byName = schema.fields.map(f => f.name -> f.dataType).toMap
        cols.flatMap { case (name, kind) =>
          byName.get(name) match {
            case None =>
              Some(s"$table.$name: MISSING (have: ${schema.fieldNames.mkString(", ")})")
            case Some(dt) if !kind.ok(dt) =>
              Some(s"$table.$name: ${dt.simpleString} (expected ${kind.show})")
            case _ => None
          }
        }
      } catch {
        case e: Throwable =>
          Seq(s"$table: unreadable at ${Tables.path(dir, table)} " +
            s"(${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)})")
      }
    }
    // ts-encoding magnitude canary (ADVICE r5): the LongType branch of
    // Tables.tsUsExpr hard-assumes epoch-NANOS (`ts div 1000`). If a
    // fixture regeneration ever writes `ts` as plain int64 epoch-MICROS,
    // the schema contract still passes but every timestamp silently
    // shrinks 1000x. One footer-stats min() on the events table (only
    // when ts is a raw long) fails loudly at the canary instead.
    val tsProblems =
      if (problems.nonEmpty) Nil
      else try {
        val ev = spark.read.parquet(Tables.path(dir, "events"))
        ev.schema.fields.find(_.name == "ts").map(_.dataType) match {
          case Some(LongType) =>
            val row = ev.agg(org.apache.spark.sql.functions.min("ts")).head()
            // any plausible epoch-nanos (1973..2255) clears 1e17; micros,
            // millis and seconds encodings all fall far below it
            if (!row.isNullAt(0) && row.getLong(0) < 100000000000000000L)
              Seq(s"events.ts: int64 min=${row.getLong(0)} is below the " +
                "epoch-nanos range (>=1e17) — the encoding is NOT nanos; " +
                "fix the LongType branch of Tables.tsUsExpr before running")
            else Nil
          case _ => Nil
        }
      } catch { case _: Throwable => Nil } // unreadable already reported
    val allProblems = problems ++ tsProblems
    if (allProblems.nonEmpty)
      throw new IllegalStateException(
        s"""FIXTURE SCHEMA DRIFT under $dir — the testdata contract changed; fix the
           |loaders (graft.core.Tables / Preflight.contract) ONCE rather than
           |debugging per-query failures:
           |  ${allProblems.mkString("\n  ")}""".stripMargin)
  }
}
