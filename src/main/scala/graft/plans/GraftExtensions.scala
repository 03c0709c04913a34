package graft.plans

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for graft's native expressions:
  *
  *   SparkSession.builder.withExtensions(new GraftExtensions)   // or
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * then `SELECT fnv64(text) FROM docs` works from SQL as well as the DSL.
  * It also sets graft's session defaults ([[GraftExtensions.Defaults]])
  * and injects graft's plan rules. Among them, [[SmallShuffleSinglePartition]]
  * plans a shuffle as one partition wherever AQE's coalescing would leave
  * one (input, and every operator above it, at most
  * `coalescePartitions.minPartitionSize` under parallelism-first, else
  * `advisoryPartitionSizeInBytes`), runs it as a `CoalesceExec(1)` with
  * no stage of its own where its input is a one-split file scan, and
  * drops the exchange after either; it adds no conf of its own.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // runs after the SparkContext exists and before the session's shared
    // state, SQL conf and the codegen cache read the context's conf
    Option(SparkEnv.get).foreach(env => GraftExtensions.setDefaults(env.conf))
    ext.injectFunction(
      (new FunctionIdentifier("fnv64"),
        new ExpressionInfo(classOf[Fnv64].getName, "fnv64"),
        (children: Seq[Expression]) => {
          require(children.size == 1, "fnv64 takes exactly one argument")
          Fnv64(children.head)
        }))
    ext.injectFunction(
      (new FunctionIdentifier("dotd"),
        new ExpressionInfo(classOf[DotD].getName, "dotd"),
        (children: Seq[Expression]) => {
          require(children.size == 2, "dotd takes exactly two arguments")
          DotD(children.head, children(1))
        }))
    ext.injectFunction(
      (new FunctionIdentifier("graft_session_tag"),
        new ExpressionInfo(classOf[GapSessionTag].getName, "graft_session_tag"),
        (children: Seq[Expression]) => {
          require(children.size >= 4,
            "graft_session_tag(sessionId, gapUs, ts, seq, keys...)")
          GapSessionTag(children)
        }))
    // auto-rewrite the portable higher-order dot-product fold into DotD
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    // swap sessionize-pattern aggregates onto native session_window
    // (resolution phase: the builtin SessionWindowing rule must still see
    // and expand the SessionWindow expression this rule introduces)
    ext.injectResolutionRule(_ => RewriteGapSessions)
    // small shuffles: one partition up front, none over a one-split scan,
    // no exchange after them
    ext.injectQueryStagePrepRule(SmallShuffleSinglePartition(_))
  }
}

object GraftExtensions {
  /** Conf defaults every graft session gets; an explicit setting wins.
    *
    * - `spark.sql.codegen.cache.maxEntries`: the JVM-wide cache of
    *   compiled generated classes (an LRU in 4 segments) holds 100 by
    *   default. One pass of the ten batch_history queries needs 152
    *   distinct classes at sf0.001, so every warm pass recompiled 137.
    *   One pass of the whole 246-query catalog compiles 2718-2725
    *   distinct classes at sf0.001 (and 20-39 on each later pass, whose
    *   code differs run to run); 4096 holds that with room for the
    *   segments' uneven fill. The cache only holds what was compiled, so
    *   the bound costs nothing until it is used.
    * - `spark.sql.artifact.isolation.enabled=false`: with isolation each
    *   streaming query's cloned session runs its tasks under a classloader
    *   of its own, and the loader is part of the codegen cache key, so
    *   every start recompiled byte-identical code. graft adds no session
    *   artifacts (jars, files), so the isolation protects nothing here.
    * - `spark.sql.legacy.parquet.nanosAsLong=true`: the `events` fixture
    *   has been written with nanosecond parquet timestamps, which Spark's
    *   reader rejects unless it reads them as Long; `core.Tables.tsUsExpr`
    *   normalizes either encoding. Set once per session here, not by the
    *   code that loads a table: a loader or query that writes session conf
    *   makes one query's result depend on which ran before it.
    */
  val Defaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def setDefaults(conf: SparkConf): Unit =
    Defaults.foreach { case (k, v) => conf.setIfMissing(k, v) }
}
