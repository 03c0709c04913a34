package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.StreamHarness

/** Physical-plan regression guards: the properties that make the catalog
  * scale-safe, asserted on the actual executed plans at sf0.001 —
  * predicate pushdown + column pruning reaching the parquet scan,
  * broadcast joins for the tiny dimensions, whole-stage codegen around
  * the hot expressions. A change that silently un-pushes a filter or
  * de-broadcasts a dim turns these red long before a bench regression
  * is visible.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // materialize so AQE's final plan is in place
    df.queryExecution.executedPlan.toString
  }

  /** `body` with the small-shuffle rule's gate closed: these audits pin
    * the partitioned shape that runs at scale, which the sf0.001 fixture
    * would otherwise plan as single-partition exchanges
    * (`plans.SmallShuffleSinglePartition`). */
  private def atScale[T](body: => T): T =
    StreamHarness.withConf(spark, "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(body)

  test("q6_forecast: filters push down and the scan prunes to 3 columns") {
    val plan = finalPlan("q6_forecast")
    withClue(plan) {
      // (toString truncates the filter list — assert on the visible head)
      plan should include("PushedFilters: [IsNotNull(l_discount)")
      plan should include("GreaterThanOrEqual(l_discount,0.05)")
      // ReadSchema carries only the referenced columns — never the full row
      val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).get
      read should include("l_extendedprice")
      read should not include "l_shipdate"
      read should not include "l_comment"
    }
  }

  test("q5_nation_revenue: dimension joins broadcast, never shuffle") {
    val plan = finalPlan("q5_nation_revenue")
    withClue(plan) {
      // ALL four joins broadcast at fixture scale — the r10 bench
      // regression investigation (BASELINE.md round-11) proved the plan
      // byte-identical to r9's modulo expression ids; pin the full shape
      // so any future broadcast-threshold/AQE drift fails HERE, not as
      // an unexplained bench delta
      "BroadcastHashJoin".r.findAllIn(plan).size should be >= 4
      plan should not include "SortMergeJoin"
    }
  }

  test("doc text pipeline runs inside WholeStageCodegen (no UDF breaks)") {
    val plan = finalPlan("doc_quality")
    withClue(plan) {
      // `*(n)` marks WholeStageCodegen spans in executedPlan.toString;
      // the scan + row conversion stay inside codegen (higher-order
      // lambda Projects are expression-eval by Spark design — still no
      // interpreter/UDF boundary in the plan)
      plan should include regex "\\*\\(\\d+\\)"
      plan should not include "BatchEvalPython"
      plan should not include "ScalaUDF"
    }
  }

  test("ev_fold_all: distributed scan plan — range exchange, no global window") {
    // at fixture scale the input is within the small-shuffle gate and runs
    // the one ordered window (DistributedScanSpec)
    val plan = atScale(finalPlan("ev_fold_all"))
    withClue(plan) {
      plan should include("rangepartitioning(ts")
      plan should include regex "windowspecdefinition\\(__scan_pid"
    }
  }

  test("doc_tfidf_top: vocabulary (df) and N join as broadcasts") {
    val plan = finalPlan("doc_tfidf_top")
    withClue(plan) {
      "BroadcastHashJoin".r.findAllIn(plan).size should be >= 1
      "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be >= 1 // 1-row N
      plan should not include "SortMergeJoin [w"
    }
  }

  test("dedup_incremental: registry anti-join stays a hash anti join on the narrow hash") {
    val plan = finalPlan("dedup_incremental")
    withClue(plan) {
      plan should include("LeftAnti")
      // the anti-join keys on the md5-derived hash, not the text
      plan should include regex "\\[h#\\d+L?\\], \\[h#\\d+L?\\], LeftAnti"
    }
  }

  test("q19_disjunctive: part broadcasts; the disjunction stays codegen'd post-join") {
    val plan = finalPlan("q19_disjunctive")
    withClue(plan) {
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
      plan should not include "ScalaUDF"
    }
  }

  test("q17_small_quantity: correlated-avg rejoin keys on l_partkey both sides") {
    val plan = atScale(finalPlan("q17_small_quantity"))
    withClue(plan) {
      // the per-part aggregate and the fact co-partition on l_partkey —
      // no second aggregation shuffle on a derived key
      "hashpartitioning\\(l_partkey".r.findAllIn(plan).size should be >= 1
      plan should not include "CartesianProduct"
    }
  }

  test("pr_step_partsupp: every exchange keys on a LONG, never the node string") {
    val df = SparkEntry.queries("pr_step_partsupp")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // shuffles key on p/sp (longs); the 'p:'/'s:' concat exists only in
      // the final project, so no exchange partitions on `node`
      plan should not include "hashpartitioning(node"
      plan should not include "hashpartitioning(src"
    }
  }

  test("dedup_ngram_jaccard: the inverted index joins on the int64 shingle hash") {
    val plan = atScale(finalPlan("dedup_ngram_jaccard"))
    withClue(plan) {
      // candidate self-join keys are the xxhash64 longs (#NNL), not strings
      plan should include regex "hashpartitioning\\(sh#\\d+L"
    }
  }

  test("runtime bloom-filter injection prunes the fact scan behind a selective dim filter") {
    // At 100 TB the injected runtime filter is the difference between
    // shuffling the whole fact and shuffling the ~matching fraction: Spark
    // builds a bloom filter from the filtered creation side and evaluates
    // `might_contain` INSIDE the fact scan stage. The thresholds here
    // only shrink the size gates so the sf0.001 fixture qualifies — the
    // rewrite itself is the stock optimizer rule a real cluster runs.
    val s = spark
    import org.apache.spark.sql.functions._
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle join shape
      val li = graft.core.Tables.lineitem(s, dir)
      val ord = graft.core.Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(graft.queries.Q.dsumD(col("l_quantity")).as("q"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      withClue(plan) { plan should include("might_contain") }
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  test("doc_repetition / doc_pii_redact: pure map stages — zero exchanges") {
    for (q <- Seq("doc_repetition", "doc_pii_redact")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      withClue(s"$q:\n$plan") {
        // only the output orderBy may exchange (range partitioning); no
        // hash exchange = no shuffle-by-key anywhere in the operator
        plan should not include "hashpartitioning"
      }
    }
  }

  test("q2/q8/q9: every dimension in the TPC-H tail broadcasts; no " +
    "cartesian products") {
    for (q <- Seq("q2_min_cost_supp", "q8_market_share", "q9_product_profit")) {
      val plan = finalPlan(q)
      withClue(s"$q:\n$plan") {
        plan should include("BroadcastHashJoin")
        plan should not include "CartesianProduct"
        plan should not include "BroadcastNestedLoopJoin"
      }
    }
  }

  /** AQE plans print Final AND Initial sections — count nodes in the
    * final section only. */
  private def finalSection(plan: String): String =
    plan.split("== Initial Plan ==").head

  test("doc_heavy_tokens: the recount pass filters candidates BEFORE its " +
    "exchange — only candidate rows shuffle") {
    val plan = finalSection(atScale(finalPlan("doc_heavy_tokens")))
    withClue(plan) {
      // the isInCollection candidate gate sits below the aggregate's
      // exchange: a Filter containing the token column appears, and the
      // plan has exactly the one hash exchange of the final groupBy
      plan should include("Filter")
      "hashpartitioning\\(token".r.findAllIn(plan).size shouldBe 1
    }
  }

  test("ev_twap: lead-window and final agg share the user_id partitioning " +
    "— exactly one hash exchange") {
    val plan = finalSection(atScale(finalPlan("ev_twap")))
    withClue(plan) {
      "hashpartitioning\\(user_id".r.findAllIn(plan).size shouldBe 1
    }
  }

  test("emb_semdedup: centroid assignment broadcasts; removal is a semi-join") {
    val df = SparkEntry.queries("emb_semdedup")(spark, dir)
    df.collect()
    val plan = finalSection(df.queryExecution.executedPlan.toString)
    withClue(plan) {
      // the 8-centroid table reaches every vector as a broadcast — the
      // assignment stage is a pure map over the corpus scan
      plan should include("BroadcastNestedLoopJoin BuildRight")
      // removal never materializes the pair list: LeftSemi in the plan
      plan should include("LeftSemi")
    }
  }

  test("emb_decontaminate: the benchmark index broadcasts cell-keyed; " +
    "candidates are cell-routed, never all-pairs") {
    val plan = finalPlan("emb_decontaminate")
    withClue(plan) {
      // the cell-routed benchmark screen: corpus meets benchmark vectors
      // through a BroadcastHashJoin ON THE CELL KEY (bounded candidates)
      plan should include("BroadcastHashJoin [cell")
      // nested-loop joins exist only for the 8-row centroid assignment —
      // every printed occurrence must be that broadcast shape (AQE
      // re-prints the subtree, so counting is brittle); the bench×corpus
      // screen itself must never be a cartesian
      "BroadcastNestedLoopJoin \\w+, \\w+".r.findAllIn(plan).toSeq
        .foreach(_ should include("BuildRight, Inner"))
      plan should not include "CartesianProduct"
    }
  }

  test("doc_mixture_sample: rate table broadcasts back to the corpus; " +
    "full-data rows shuffle only for the per-source aggregations") {
    val df = SparkEntry.queries("doc_mixture_sample")(spark, dir)
    df.collect()
    val plan = finalSection(df.queryExecution.executedPlan.toString)
    withClue(plan) {
      // the 20-row rate frame joins the doc scan as a broadcast
      "BroadcastHashJoin \\[source".r.findAllIn(plan).size should be >= 1
      // docs hash-shuffle on source only for the two tiny aggregates —
      // no sort-merge join of full data anywhere
      plan should not include "SortMergeJoin [source"
    }
  }

  test("graph_triangles (edge-iterator path): adjacency joins broadcast; " +
    "the wedge set never becomes a join") {
    // audit the LAZY plan (Triangles.statsPlan): the catalog query's
    // stats() now materializes eagerly and unpersists its intermediates
    // (ADVICE r4), so its returned frame is a local 1-row relation — the
    // distributed plan to pin lives one level down, on the same pairs
    // frame graph_triangles builds
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val pairs = l.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
      .join(l.select(col("l_orderkey").as("ok"), col("l_partkey").as("v")), "ok")
      .filter(col("u") < col("v"))
      .select("u", "v")
    val (df, cleanup) = graft.operators.Triangles.statsPlan(pairs)
    try {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      withClue(plan) {
        // both adjacency-array joins reach the oriented-edge stream as
        // broadcasts — the closure count is in-row array_intersect, so no
        // exchange ever carries a wedge row
        "BroadcastHashJoin".r.findAllIn(plan).size should be >= 2
        plan should include("array_intersect")
      }
    } finally cleanup()
  }

  test("ord_snapshot_diff: ONE join of narrow rows — full outer on the key") {
    val df = SparkEntry.queries("ord_snapshot_diff")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("FullOuter")
      // comparable columns only: the scan never reads o_orderdate
      val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
      all(reads) should not include "o_orderdate"
    }
  }

  test("ord_scd2: both window passes and the rollup share ONE customer-key " +
    "exchange") {
    // AQE's toString echoes the initial plan below the final one — audit
    // only the final section or every exchange double-counts
    val plan = finalSection(atScale(finalPlan("ord_scd2")))
    withClue(plan) {
      // one hash exchange on o_custkey feeds lag + running sum + groupBy;
      // the only other exchange is the final ORDER BY's range partition
      "hashpartitioning\\(o_custkey".r.findAllIn(plan).size shouldBe 1
    }
  }

  test("doc_decontaminate_bloom: the Bloom prune is a pure filter BELOW " +
    "the exact join — no extra exchange for the prune") {
    val df = SparkEntry.queries("doc_decontaminate_bloom")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // the mightContain UDF filter sits in the scan-side pipeline; the
      // exact phase joins the hit-sized SURVIVOR stream against the index
      // WITHOUT broadcasting the full index (ADVICE r5: the operator
      // exists because the raw index may exceed the broadcast budget) —
      // shuffle-hash on the 60-bit longs
      val filterIdx = plan.indexOf("UDF(")
      val joinIdx = plan.indexOf("ShuffledHashJoin")
      filterIdx should be >= 0
      joinIdx should be >= 0
      joinIdx should be < filterIdx // top-down print: join consumes filter
      plan should not include "BroadcastHashJoin [h"
    }
  }

  test("emb_mislabel: centroids broadcast; per-vector reduction is an " +
    "aggregate, not a ranking window") {
    val df = SparkEntry.queries("emb_mislabel")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      "BroadcastNestedLoopJoin".r.findAllIn(plan).size should be >= 1
      plan should include("max_by")
      // no corpus-wide ranking window anywhere in this plan
      plan should not include "RunningWindowFunction"
    }
  }

  test("doc_repeated_spans: narrow hash frames only — the shared-span set " +
    "joins back by hash, text never shuffles") {
    val plan = finalSection(atScale(finalPlan("doc_repeated_spans")))
    withClue(plan) {
      // every exchange carries (doc_id|h)-keyed longs; none carries text
      val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet
      exchanges should not be empty
      exchanges.subsetOf(Set("h", "doc_id")) shouldBe true
    }
  }

  test("doc_bpe_pairs: the pair explosion runs over the distinct-WORD " +
    "frame, not the token stream") {
    val plan = atScale(finalPlan("doc_bpe_pairs"))
    withClue(plan) {
      // corpus → word-frequency aggregate BEFORE any pair generation:
      // the explode of 2-char pairs sits above the w-keyed aggregate
      val explodeIdx = plan.indexOf("Generate explode(transform")
      val aggIdx = plan.lastIndexOf("hashpartitioning(w")
      explodeIdx should be >= 0
      aggIdx should be >= 0
      explodeIdx should be < aggIdx // physical plans print top-down
    }
  }

  test("doc_bpe_encode: merges apply over the distinct-word frame and " +
    "join back as a broadcast — never per corpus token") {
    val plan = atScale(finalPlan("doc_bpe_encode"))
    withClue(plan) {
      // the word→n_toks map joins back to doc word occurrences broadcast
      plan should include("BroadcastHashJoin [w")
      // the typed-JVM segmenter (BPE.nToksJvm, r12) runs as a MapElements
      // stage ABOVE the w-keyed word-frequency aggregate — once per
      // DISTINCT word, never per corpus token
      val mapIdx = plan.indexOf("MapElements")
      val aggIdx = plan.lastIndexOf("hashpartitioning(w")
      mapIdx should be >= 0
      aggIdx should be >= 0
      mapIdx should be < aggIdx // top-down: encode above the word agg
      // the interpreted nested-replace chain is GONE from the plan (the
      // r11 flat-ratio defect); no side re-applies merges as expressions
      plan should not include "replace(replace("
      "regexp_replace\\(w#".r.findAllIn(plan).size shouldBe 0
    }
  }

  test("dedup_simhash_pairs: first-agreeing-band emission — ONE candidate " +
    "shuffle, no post-join distinct") {
    val df = SparkEntry.queries("dedup_simhash_pairs")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // pairs are unique by construction (lowest agreeing band), so the
      // candidate set is never re-shuffled: no exchange or aggregate
      // keyed on the pair columns
      plan should not include "hashpartitioning(sa"
      plan should not include "HashAggregate(keys=[sa"
      // the band-bucket self-join is the one candidate-path join — keyed
      // on (band, bh); at sf0.001 AQE broadcasts the tiny banded side,
      // at scale it shuffles on the same keys
      plan should include regex "(BroadcastHashJoin \\[band|SortMergeJoin \\[band|ShuffledHashJoin \\[band|hashpartitioning\\(band)"
    }
  }

  test("dedup_minhash_lsh: first-agreeing-band emission — no pair-keyed " +
    "exchange after the band-bucket join") {
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should not include "hashpartitioning(id_a"
      plan should not include "HashAggregate(keys=[id_a"
    }
  }

  test("doc_seq_pack: items shuffle ONCE on the shard key into the " +
    "sorted-group packer; the boundary window partitions per bin") {
    val plan = atScale(finalPlan("doc_seq_pack"))
    withClue(plan) {
      // the packer consumes a shard-keyed exchange + within-partition
      // sort (flatMapSortedGroups) — no driver collect anywhere
      plan should include regex "hashpartitioning\\(shard"
      // offsets window partitions by (shard, bin) — bounded by capacity,
      // never a global single-partition window
      plan should include regex "windowspecdefinition\\(shard"
      plan should not include "windowspecdefinition() "
    }
  }

  test("doc_span_cut: position frame joins on the span hash; the interval " +
    "union window partitions per doc, never globally") {
    val df = SparkEntry.queries("doc_span_cut")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include regex "windowspecdefinition\\(doc_id"
      // the shared-set join keys on the int64 hash — text never shuffles
      plan should include regex "(BroadcastHashJoin \\[h|SortMergeJoin \\[h|ShuffledHashJoin \\[h|hashpartitioning\\(h#)"
      plan should not include "windowspecdefinition() "
    }
  }

  test("knn_ivf_append: typed candidate pass — centroids ride a task " +
    "broadcast, no join shuffles anything, only the top-k window exchanges") {
    // r16 shape (operators.IvfCosTopk): the index build and both routing
    // passes run as shuffle-free typed passes with the centroid table in
    // a broadcast variable; the ONLY exchanges left are the tiny
    // candidate top-k window and the output sort
    val df = SparkEntry.queries("knn_ivf_append")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "SortMergeJoin"
      plan should include regex "windowspecdefinition\\(q_id"
      // one hash exchange (the candidate top-k window); the AQE plan
      // string prints final + initial, so it appears at most twice
      "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 2
    }
  }

  test("graph_pagerank: loop lineage is checkpoint-truncated (plan does " +
    "not grow with K) and nothing degenerates to a cartesian") {
    val df = SparkEntry.queries("graph_pagerank")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // the final select reads the LAST checkpointed rank frame — K-1
      // sweeps of join/agg lineage are gone from the plan
      plan should include("ExistingRDD")
      plan should not include "CartesianProduct"
    }
  }

  test("emb_rp_project: the projection is a pure in-row typed map — " +
    "no hash exchange anywhere") {
    // r16 shape: the interpreted aggregate-over-sequence fold became a
    // typed flatMap (SerializeFromObject in the plan); still narrow —
    // the only exchange is the output range sort
    val plan = finalPlan("emb_rp_project")
    withClue(plan) {
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 0
      plan should include("SerializeFromObject")
    }
  }

  test("doc_unigram_nll: the LM joins broadcast (surprisal per vocab " +
    "entry, not per occurrence); no sort-merge on the token key") {
    val plan = finalPlan("doc_unigram_nll")
    withClue(plan) {
      plan should include regex "BroadcastHashJoin \\[w"
      plan should not include "SortMergeJoin [w"
    }
  }

  test("doc_heldout_ppl: train vocab broadcasts into the test-token " +
    "left join — no sort-merge on the token key") {
    val plan = finalPlan("doc_heldout_ppl")
    withClue(plan) {
      plan should include regex "BroadcastHashJoin \\[w"
      plan should not include "SortMergeJoin [w"
    }
  }

  test("ev_markov_transitions: the lead window partitions by user; the " +
    "shared transition subtree is REUSED via AQE exchange reuse (the " +
    "user-keyed exchange executes once, no persist)") {
    val plan = finalPlan("ev_markov_transitions")
    withClue(plan) {
      plan should include regex "windowspecdefinition\\(user_id"
      // r16: the persist is gone (it forced the non-AQE 32-partition
      // path — 132 tasks / 8 jobs measured); both branches end in the
      // identical groupBy(src,dst) exchange, which AQE shares — the
      // normalizer side reads it as a ReusedQueryStage/ReusedExchange
      // instead of re-running the fact-sized window pass
      plan should not include "InMemoryTableScan"
      plan should include regex "(ReusedQueryStage|ReusedExchange)"
    }
  }

  test("emb_pca_power: the Gram matrix comes from an in-row outer-product " +
    "explosion — no join anywhere in the accumulation") {
    val df = SparkEntry.queries("emb_pca_power")(spark, dir)
    df.collect()
    // the RESULT frame is a driver-side literal (bounded d×d state); the
    // audit target is the accumulation plan itself
    import org.apache.spark.sql.functions.{col, element_at, explode,
      flatten, floor, lit, sequence, struct, sum, transform}
    val emb = graft.core.Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val terms = emb.select(
      explode(flatten(transform(sequence(lit(0), lit(63)), i =>
        transform(sequence(lit(0), lit(63)), j =>
          struct(i.as("i"), j.as("j"),
            (floor(element_at(col("v"), i + 1) * 1000) *
              floor(element_at(col("v"), j + 1) * 1000)).as("p")))))).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
      .groupBy("i", "j").agg(sum("p").as("c"))
    terms.collect()
    val plan = terms.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should not include "Join"
      plan should include("Generate explode")
      // partial agg before the dim²-group exchange
      plan should include regex "HashAggregate\\(keys=\\[i"
    }
  }

  test("li_pareto_share: the global revenue cumsum is the two-pass " +
    "DistributedScan — no single-partition window over the part universe") {
    val plan = atScale(finalPlan("li_pareto_share"))
    withClue(plan) {
      // pass 1 windows partition by the scan pid, never empty-partition
      plan should include regex "windowspecdefinition\\(__scan_pid"
      plan should include("rangepartitioning")
    }
  }

  test("doc_len_quantiles: quantiles come from the VALUE HISTOGRAM — " +
    "the corpus is aggregated, never globally sorted") {
    val plan = finalPlan("doc_len_quantiles")
    withClue(plan) {
      // histogram aggregate on the value key feeds the tiny cumsum window
      plan should include regex "HashAggregate\\(keys=\\[len"
      // no range-exchange of the raw per-document length rows
      plan should not include "Exchange rangepartitioning(len"
    }
  }

  test("knn_brute: the rank<=k filter pushes into WindowGroupLimit — " +
    "per-group top-k prunes BEFORE the full window sort materializes") {
    val df = SparkEntry.queries("knn_brute")(spark, dir)
    df.collect()
    val plan = finalSection(df.queryExecution.executedPlan.toString)
    withClue(plan) {
      plan should include("WindowGroupLimit")
    }
  }

  test("ev_interval_join: the range join is an EQUI hash join on the " +
    "grid bucket — never a nested-loop over the interval universe") {
    val df = SparkEntry.queries("ev_interval_join")(spark, dir)
    df.collect()
    val plan = finalSection(df.queryExecution.executedPlan.toString)
    withClue(plan) {
      // the interval join itself: equi on bucket, range as residual
      plan should include("BroadcastHashJoin [bucket")
      "BroadcastHashJoin \\[bucket[^\\n]*cstart".r.findFirstIn(plan) should not be empty
      // the only nested-loop joins are the 1-row bounds cross joins —
      // none may carry the range predicate (that would be the naive
      // |events|·|intervals| plan this query exists to avoid)
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .foreach { l => l should not include "cstart" }
      plan should not include "CartesianProduct"
    }
  }

  test("ev_sessions_gap: RewriteGapSessions fires — native session " +
    "aggregation, one fact exchange, no fact-sized window pass; values " +
    "identical to the untagged lag/cumsum formulation") {
    import org.apache.spark.sql.functions.{col, count, lag, lit, max, min, sum, when}
    val (got, plan) = atScale {
      val df = SparkEntry.queries("ev_sessions_gap")(spark, dir)
      (df.collect(), finalSection(df.queryExecution.executedPlan.toString))
    }
    withClue(plan) {
      // the rewritten plan session-aggregates natively (partial agg →
      // one user_id exchange → sort → MergingSessions → final agg)...
      plan should include("MergingSessions")
      // ...with exactly ONE hash exchange of fact rows; the old plan's
      // SECOND exchange keyed by (user_id, session_id) must be gone
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
      // the recovered ordinal rides a session-sized window, and the two
      // obsolete fact-sized window passes (lag + cumsum) were pruned:
      // only the row_number window remains
      "Window ".r.findAllIn(plan).size shouldBe 1
      plan should not include "lag(ts"
    }
    // identical values vs the UNTAGGED formulation (plain window
    // functions, invisible to the rule) — same engine, no rewrite
    val e = graft.queries.Q.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("seq"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expected = e
      .withColumn("__new",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > 3600L * 1000 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(cum))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"),
        (max(col("ts")) - min(col("ts"))).as("dur_us"),
        graft.queries.Q.dsumD(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")
      .collect()
    got.map(_.toString).toSeq shouldBe expected.map(_.toString).toSeq
  }

  test("sessionize + DISTINCT aggregate: RewriteGapSessions declines " +
    "(ADVICE r7) — window formulation plan, values match the untagged form") {
    import org.apache.spark.sql.functions.{col, countDistinct, lag, lit, sum, when}
    val df = graft.core.KStream(graft.queries.Q.events(spark, dir), Seq("user_id"))
      .sessionize(3600L * 1000 * 1000)
      .reduceAll("n_types" -> countDistinct(col("event_type")))
      .orderBy("user_id", "session_id")
    val got = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // the distinct-aggregate guard keeps the MergingSessions composition
      // (untested with RewriteDistinctAggregates planning) out of the plan
      plan should not include "MergingSessions"
    }
    // values equal the plain lag/cumsum formulation (invisible to the rule)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("seq"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expected = graft.queries.Q.events(spark, dir)
      .withColumn("__new",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > 3600L * 1000 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(cum))
      .groupBy("user_id", "session_id")
      .agg(countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id", "session_id")
      .collect()
    got.map(_.toString).toSeq shouldBe expected.map(_.toString).toSeq
  }

  // plans.SmallShuffleSinglePartition: a hash or range exchange over an
  // input AQE would coalesce into one partition is planned as one
  // partition, the exchange after it is dropped, and the rows and their
  // order do not change.

  private val batchHistory = Seq(
    "ev_slice_count", "ev_slice_time", "ev_slice_hopping", "ev_slice_trigger_after",
    "ev_window_scan", "ev_asof_take", "ev_join_zip", "ev_bind_bucket", "ev_ewma",
    "ev_fold_all")

  /** Rows of `df` with the small-shuffle rule held off: it fires only
    * while AQE coalesces partitions. */
  private def ruleOff(df: => DataFrame): Seq[Row] =
    StreamHarness.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      df.collect().toSeq)

  /** Jobs that `body` runs. The listener bus delivers events in order, so
    * once a marker job's start is seen, every earlier job start was too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val jobs = new AtomicInteger
    val seen = new AtomicReference(new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) seen.get.countDown()
        else jobs.incrementAndGet()
    }
    def drain(): Unit = {
      seen.set(new CountDownLatch(1))
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      seen.get.await(30, TimeUnit.SECONDS) shouldBe true
    }
    sc.addSparkListener(listener)
    try {
      drain()
      jobs.set(0)
      body
      drain()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Partitionings of the shuffles in the final plan of an executed `df`. */
  private def shuffles(df: DataFrame): Seq[Partitioning] =
    Plans.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  /** The partitioning of each side of each shuffled join in the final plan. */
  private def joinSides(df: DataFrame): Seq[Seq[Partitioning]] =
    Plans.collect(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j.children.map(_.outputPartitioning)
      case j: ShuffledHashJoinExec => j.children.map(_.outputPartitioning)
    }

  private val exchangeLine = "\\bExchange [^\\n]*".r

  /** The final plan of writing catalog query `name` to parquet. */
  private def writePlan(name: String): String = {
    val plan = new AtomicReference[String]
    val written = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("InsertIntoHadoopFsRelationCommand")) { plan.set(p); written.countDown() }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = Files.createTempDirectory("graft_plan_audit_")
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(out.toString)
      written.await(30, TimeUnit.SECONDS) shouldBe true
      plan.get
    } finally {
      spark.listenerManager.unregister(listener)
      FileUtils.deleteDirectory(out.toFile)
    }
  }

  test("ev_slice_count: no exchange in the final plan") {
    // collected, and written to parquet as Verify and the benchmark's cold
    // pass do: the write command's placeholder estimate must not count
    for (plan <- Seq(finalPlan("ev_slice_count"), writePlan("ev_slice_count"))) withClue(plan) {
      // the key's hash exchange reads one partition, so it became a
      // coalesce, and the final orderBy's exchange went away
      finalSection(plan) should include("Coalesce 1")
      exchangeLine.findAllIn(finalSection(plan)).toSeq shouldBe empty
    }
  }

  test("ev_slice_count: the action runs no range-sampling job") {
    // one job; with coalescing off, the hash stage, the range-sampling
    // job, the range stage and the result
    jobsOf(SparkEntry.queries("ev_slice_count")(spark, dir).collect()) shouldBe 1
    jobsOf(ruleOff(SparkEntry.queries("ev_slice_count")(spark, dir))) shouldBe 4
  }

  test("each batch_history query runs one job, the three over a union of two " +
    "one-split scans included") {
    // the union of the two scans runs in the coalesce's one task
    val jobs = batchHistory.map(n => n -> jobsOf(SparkEntry.queries(n)(spark, dir).collect()))
    jobs shouldBe batchHistory.map(_ -> 1)
    for (n <- Seq("ev_asof_take", "ev_join_zip", "ev_bind_bucket")) {
      val plan = finalSection(finalPlan(n))
      withClue(plan) {
        plan should include("Coalesce 1")
        exchangeLine.findAllIn(plan).toSeq shouldBe empty
      }
    }
  }

  test("the batch_history queries return the same rows in the same order with " +
    "the small-sort rule held off") {
    for (n <- batchHistory) withClue(n) {
      val on = SparkEntry.queries(n)(spark, dir).collect().toSeq
      on should not be empty
      on shouldBe ruleOff(SparkEntry.queries(n)(spark, dir))
    }
    spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") shouldBe "true"
  }

  /** ev_slice_count's final plan under the scoped confs. */
  private def sliceCountPlan(kvs: (String, String)*): String =
    finalSection(StreamHarness.withConf(spark, kvs: _*)(finalPlan("ev_slice_count")))

  private val parallelismFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
  private val minPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("a sort input larger than the advisory partition size keeps the range exchange") {
    // without parallelism-first, AQE coalesces up to the advisory size
    val plan = sliceCountPlan(parallelismFirst -> "false", advisory -> "1b")
    withClue(plan) {
      plan should include("Exchange hashpartitioning(user_id")
      plan should include("Exchange rangepartitioning(")
      plan should not include "Exchange SinglePartition"
    }
    // ...and the minimum partition size no longer gates it
    sliceCountPlan(parallelismFirst -> "false", minPartitionSize -> "1b") should
      include("Coalesce 1")
  }

  test("under parallelism-first the gate is the minimum partition size, not the advisory size") {
    val plan = sliceCountPlan(minPartitionSize -> "1b")
    withClue(plan) {
      plan should include("Exchange hashpartitioning(user_id")
      plan should include("Exchange rangepartitioning(")
      plan should not include "Exchange SinglePartition"
    }
    sliceCountPlan(advisory -> "1b") should include("Coalesce 1")
    spark.conf.get(parallelismFirst) shouldBe "true"
  }

  /** A local table of one label per user of events. */
  private def labels(): DataFrame = {
    import spark.implicits._
    graft.core.Tables.events(spark, dir).select("user_id").distinct().collect()
      .map(_.getLong(0)).sorted.map(u => (u, s"u$u")).toSeq.toDF("user_id", "label")
  }

  /** events sort-merge joined to the labels, in event order. */
  private def labelledEvents(): DataFrame =
    graft.core.Tables.events(spark, dir).join(labels(), "user_id").orderBy("event_id")

  /** The labels of the users seen in events: a semi join, whose estimate is
    * the label side's. */
  private def seenLabels(): DataFrame =
    labels().join(graft.core.Tables.events(spark, dir), Seq("user_id"), "left_semi")
      .orderBy("user_id")

  private def shuffledJoin[T](kvs: (String, String)*)(body: => T): T =
    StreamHarness.withConf(spark, ("spark.sql.autoBroadcastJoinThreshold" -> "-1") +: kvs: _*)(body)

  /** The largest logical estimate in `df`'s optimized plan. */
  private def largestEstimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collect { case p => p.stats.sizeInBytes }.max

  test("a join of two small inputs with a small output puts both sides in one " +
    "partition, with the rows and order of the rule held off") {
    // the join's own estimate and those above it count: open the gate to all
    val gate = minPartitionSize -> s"${shuffledJoin()(largestEstimate(labelledEvents())) * 2}b"
    val (rows, parts, sides) = shuffledJoin(gate) {
      val df = labelledEvents()
      (df.collect().toSeq, shuffles(df), joinSides(df))
    }
    withClue(s"shuffles $parts, join sides $sides") {
      sides should not be empty
      all(sides.flatten.map(_.numPartitions)) shouldBe 1
      parts should not be empty
      all(parts) shouldBe SinglePartition
    }
    rows should not be empty
    rows shouldBe shuffledJoin(gate)(ruleOff(labelledEvents()))
  }

  test("a join whose output fits the gate but one side does not keeps matching " +
    "hash partitioning on both sides") {
    val (small, large) = shuffledJoin() {
      val j = seenLabels().queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.get
      (j.stats.sizeInBytes max j.left.stats.sizeInBytes, j.right.stats.sizeInBytes)
    }
    large should be > small * 4
    val (rows, parts, sides) = shuffledJoin(minPartitionSize -> s"${small * 2}b") {
      val df = seenLabels()
      (df.collect().toSeq, shuffles(df), joinSides(df))
    }
    withClue(s"gate ${small * 2}b, shuffles $parts, join sides $sides") {
      sides should not be empty
      all(sides.flatten) shouldBe a[HashPartitioning]
      parts.count(_.isInstanceOf[HashPartitioning]) shouldBe 2
    }
    rows should not be empty
    rows shouldBe shuffledJoin()(ruleOff(seenLabels()))
  }

  /** Per-k sums of a small input, broadcast-joined to a frame that fans
    * each k out to many rows, then summed again on another key. */
  private def fanOut(): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, sum}
    val sums = spark.range(0, 1000).select((col("id") % 10).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
    val fan = spark.range(0, 200000).select((col("id") % 10).as("k"), (col("id") % 7).as("k2"))
    sums.join(broadcast(fan), "k").groupBy("k2").agg(sum("s").as("t")).orderBy("k2")
  }

  test("a small exchange under a row-multiplying join above the gate keeps its " +
    "partitions, and so does the exchange above the join") {
    val sizes = fanOut().queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.stats.sizeInBytes
    }
    val gate = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    // the per-k sums' input is under the gate, the sums over the join above it
    withClue(s"aggregate estimates $sizes, gate $gate") {
      sizes.min should be <= BigInt(gate)
      sizes.max should be > BigInt(gate)
    }
    val df = fanOut()
    val rows = df.collect().toSeq
    val parts = shuffles(df)
    // one partition under the join would put the join and everything above
    // it in that one task: EnsureRequirements plans no exchange above a
    // single partition, not even on a re-plan
    withClue(s"shuffles $parts") {
      parts.collect { case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) } should
        contain theSameElementsAs Seq(Seq("k"), Seq("k2"))
    }
    rows should have size 7
    rows shouldBe ruleOff(fanOut())
  }

  test("mm_audio_fp / mm_video_mp4 at sf0.01: the sort over a typed map of the " +
    "media blobs keeps its range exchange and its job count") {
    // the typed map's estimate derives from the blob scan, above the 1 MB
    // gate at sf0.01, although the map's output is a few KiB: the final
    // orderBy keeps its range exchange and sampling job (one job more than
    // under the advisory-size gate the range-only rule had). Pinned so the
    // count cannot grow unnoticed.
    val sf001 = "/root/testdata/sf0.01"
    for ((name, expected) <- Seq("mm_audio_fp" -> 3, "mm_video_mp4" -> 4)) withClue(name) {
      val df = SparkEntry.queries(name)(spark, sf001)
      jobsOf(df.collect()) shouldBe expected
      exchangeLine.findAllIn(finalSection(df.queryExecution.executedPlan.toString)).toSeq
        .count(_.contains("rangepartitioning(")) shouldBe 1
    }
  }

  test("an orderBy over an empty and over a one-row frame returns the same rows " +
    "with the small-sort rule held off") {
    // also a keyed window, whose exchange over the one-split scan is a coalesce
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, lit}
    val events = graft.core.Tables.events(spark, dir)
    val first = events.select("event_id").head().getLong(0)
    for ((label, keep) <- Seq("empty" -> (col("event_id") < 0),
        "one row" -> (col("event_id") === first))) withClue(label) {
      def sorted = events.where(keep).orderBy(col("ts").desc, col("event_id"))
      def keyed = events.where(keep)
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .orderBy("event_id")
      for ((name, q) <- Seq("sorted" -> (() => sorted), "keyed" -> (() => keyed))) withClue(name) {
        val df = q()
        val on = df.collect().toSeq
        on should have size (if (label == "empty") 0 else 1)
        on shouldBe ruleOff(q())
        // the key's exchange over the one-split scan runs as a coalesce
        if (name == "keyed")
          finalSection(df.queryExecution.executedPlan.toString) should include("Coalesce 1")
      }
    }
  }
}
