package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Empirical scaling curve for the core operators: synthesize keyed event
  * streams at growing row counts (seeded, deterministic — `spark.range`
  * plus hash-derived columns, no files), run each operator, print sec per
  * size. Near-linear growth is the measurable form of the SCALE.md
  * arguments (keyed partitioning ⇒ wall-clock tracks rows/partitions).
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.ScaleCurve 1000000 10000000"
  */
object ScaleCurve {

  private def events(spark: SparkSession, n: Long, keys: Int): DataFrame =
    spark.range(n).select(
      col("id").as("ts"),
      col("id").as("seq"),
      pmod(hash(col("id")), lit(keys)).cast("long").as("k"),
      (pmod(hash(col("id") * 7), lit(1000)) / lit(10.0)).as("v"))

  /** Optional comma-separated op filter (re-measure one op without the
    * full sweep): SPARK_GRAFT_SCALE_OPS=semdedup,minhash_lsh
    */
  private val only: Set[String] =
    sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)

  private def time(label: String, n: Long)(f: => Long): Unit =
    if (only.isEmpty || only(label)) {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-18s n=$n%,12d rows_out=$rows%,12d  $sec%8.2f s")
    }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(1000000L, 10000000L)
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (n <- sizes) {
      val e = events(spark, n, keys = 10000)
      time("tumbling_agg", n) {
        KStream(e, Seq("k")).group(Slice.Tumbling(86400L))
          .reduce("s" -> sum(col("v")), "c" -> count(lit(1))).count()
      }
      time("count_slices", n) {
        KStream(e, Seq("k")).group(Slice.Count(100))
          .reduce("s" -> sum(col("v"))).count()
      }
      time("asof_take", n) {
        val right = e.filter(col("seq") % 10 === 0)
          .select(col("k"), col("ts"), col("seq"), col("v").as("rv"))
        // consume the carried column — count() alone lets Catalyst prune
        // the as-of window entirely
        KStream(e, Seq("k"))
          .take(KStream(right, Seq("k")), Seq(col("k")), Seq("rv" -> col("rv")))
          .df.agg(count(col("rv"))).first().getLong(0)
      }
      time("exact_dedup", n) {
        e.withColumn("h", hash(col("v"), col("k")))
          .groupBy("h").agg(min(col("seq")).as("keep")).count()
      }
      time("distributed_scan", n) {
        EStream(e.drop("k")).foldAllAssoc(("run", col("v"), "sum"))
          .df.agg(count(col("run"))).first().getLong(0)
      }
      // MinHash+LSH near-dup at n/10 documents (arrays are ~20× wider than
      // event rows): synthetic 20-shingle-hash docs, every 100th a planted
      // near-dup of its predecessor (18/22 shared ⇒ jaccard 0.818). The
      // measured quantity is the LSH pipeline's core claim: candidate
      // generation stays bounded by band buckets (rows_out ≈ planted
      // pairs), never all-pairs.
      val nd = n / 10
      time("minhash_lsh", nd) {
        val M = 2147483647L
        val isDup = col("doc_id") % 100 === 1
        val src = when(isDup, col("doc_id") - 1).otherwise(col("doc_id"))
        val d = spark.range(nd).select(
          col("id").as("doc_id"),
          transform(sequence(lit(0L), lit(19L)), i =>
            when(isDup && i >= 18, xxhash64(col("id"), i))
              .otherwise(xxhash64(when(isDup, col("id") - 1)
                .otherwise(col("id")), i))).as("hs"))
          .select(col("doc_id"),
            transform(col("hs"), h => pmod(h, lit(M))).as("hs"))
          .persist()
        val sigs = d.select(col("doc_id") +: (0 until 8).map { j =>
          array_min(transform(col("hs"),
            h => (h * (1000003L * (j + 1) % M) + 998244353L * (j + 7) % M) % M))
            .as(s"mh$j")
        }: _*)
        // first-agreeing-band emission (the shipped dedup_minhash_lsh
        // shape): pairs unique by construction, no post-join distinct
        val bsig = sigs.select(
          col("doc_id") +: (0 until 4).map(b =>
            xxhash64(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"), lit(b))
              .as(s"bh$b")): _*)
        val banded = bsig.select(
          col("doc_id"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"), col(s"bh$b").as("bh"))): _*)).as("e"),
          col("bh0"), col("bh1"), col("bh2"))
          .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"),
            col("bh0"), col("bh1"), col("bh2"))
        val noEarlier = (0 until 3).map { k =>
          (col("a.band") <= k) || (col(s"a.bh$k") =!= col(s"b.bh$k"))
        }.reduce(_ && _)
        val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id") && noEarlier)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val pairs = cand
          .join(d.select(col("doc_id").as("id_a"), col("hs").as("sa")), "id_a")
          .join(d.select(col("doc_id").as("id_b"), col("hs").as("sb")), "id_b")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .filter(col("inter").cast("double") /
            (lit(40) - col("inter")) >= 0.8)
          .count()
        d.unpersist()
        pairs
      }
      // Heavy hitters: 50 planted heavy tokens (~0.5% each) in a tail of
      // n/100 distinct types. The claim measured: the Misra-Gries pass
      // ships ≤k counters per partition and the recount shuffles only
      // candidate rows — wall-clock tracks the SCAN, not the type universe.
      // Sequence packing: NFD over hash shards sized so each shard's items
      // fit one task; the claim measured is that wall-clock tracks the
      // shuffle of (id, len) pairs — bins never cross shards.
      time("seq_packing", n) {
        val its = spark.range(n).select(col("id"),
          (pmod(hash(col("id")), lit(241)) + 10).cast("int").as("len"))
        graft.operators.Packing
          .nextFitDecreasing(its, capacity = 2048, shards = 4096).count()
      }
      // BPE ENCODE at n distinct words: the trained merge table (8 rules
      // here; k-bounded, driver-resident) folds into ONE nested-replace
      // projection — a pure map over the word frame, zero shuffles. The
      // measured claim: tokenizer application is scan-bound (linear),
      // because merges apply per DISTINCT WORD, never per corpus token.
      time("bpe_encode", n) {
        val merges = Seq("a b", "c d", "ab c", "e f", "abc d", "ef a",
          "b c", "d e").zipWithIndex.map { case (p, i) =>
          graft.operators.BPE.Merge(i + 1, p, 1L)
        }
        val words = spark.range(n).select(
          concat_ws("", (0 until 10).map(i =>
            chr(pmod(xxhash64(col("id"), lit(i)), lit(6)) + 97)): _*).as("w"),
          lit(1L).as("wn"))
        graft.operators.BPE.encode(words, merges)
          .agg(sum(col("n_toks"))).first().getLong(0)
      }
      // BPE merge TRAINING at n ROUNDS (opt-in only: here n is a round
      // count, not a row count — run as
      //   SPARK_GRAFT_SCALE_OPS=bpe_rounds runMain graft.tools.ScaleCurve
      //     256 1024 4096 16384
      // over a FIXED 200k-word synthetic vocab). The measured claim
      // (VERDICT r7 #1): the driver-side incremental trainer is SUBLINEAR
      // in rounds — the one vocab collect + pair-count init dominates and
      // each merge then touches only the words containing its pair — so
      // production merge counts (30k–50k) cost seconds, vs the
      // one-Spark-job-per-merge shape whose floor is rounds × ~200 ms of
      // driver-serial scheduling at ANY cluster size.
      if (only("bpe_rounds")) time("bpe_rounds", n) {
        val vocab = spark.range(200000).select(
          concat_ws("", (0 until 24).map(i =>
            chr(pmod(xxhash64(col("id"), lit(i)), lit(10)) + 97)): _*)
            .substr(lit(1),
              (pmod(xxhash64(col("id"), lit(77)), lit(17)) + 8).cast("int"))
            .as("w"),
          (pmod(xxhash64(col("id"), lit(99)), lit(1000)) + 1).as("wn"))
        graft.operators.BPE.train(vocab, rounds = n.toInt).size.toLong
      }
      // Unigram-LM hard-EM TRAINING at n DISTINCT WORDS (opt-in only —
      // here n is a vocab size:
      //   SPARK_GRAFT_SCALE_OPS=unigram_vocab runMain graft.tools.ScaleCurve
      //     20000 50000 100000 200000
      // fixed Params: maxPiece 4, 3 EM rounds, 4096-piece target). The
      // measured claim (VERDICT r10 #6 follow-through): the driver EM is
      // LINEAR in Σ word lengths — per round each word costs one
      // O(len × maxPiece) integer DP — so the 10⁷-word natural-language
      // vocab plateau trains in driver-minutes while the corpus-sized
      // passes (pre-agg, encode) stay distributed.
      if (only("unigram_vocab")) time("unigram_vocab", n) {
        val vocab = spark.range(n).select(
          concat_ws("", (0 until 12).map(i =>
            chr(pmod(xxhash64(col("id"), lit(i)), lit(10)) + 97)): _*)
            .substr(lit(1),
              (pmod(xxhash64(col("id"), lit(77)), lit(9)) + 4).cast("int"))
            .as("w"),
          (pmod(xxhash64(col("id"), lit(99)), lit(1000)) + 1).as("wn"))
          // synthetic ids collide at these sizes: the trainer contract is
          // a DISTINCT word-frequency frame
          .groupBy("w").agg(sum("wn").as("wn"))
        graft.operators.UnigramLM.train(vocab,
          graft.operators.UnigramLM.Params(maxPiece = 4, seedMulti = 8192,
            rounds = 3, vocabTarget = 4096, maxWordLen = 12)).size.toLong
      }
      // Repeated-span mining at n span rows (n/100 docs × 100 spans):
      // every doc pair shares its first 10 span hashes (planted repeats).
      // The measured claim (VERDICT r5 #5): the whole pipeline is narrow
      // (doc_id, hash64) longs — one groupBy(h) partial agg for the
      // shared set, one hash join back, two per-doc aggs — so wall-clock
      // tracks the SPAN COUNT (linear), never doc pairs, and text never
      // shuffles (here it never exists: hashing is a pure map upstream).
      time("repeated_spans", n) {
        val nd = math.max(100L, n / 100)
        val spans = spark.range(nd).select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(99L))).as("i"))
          .select(col("doc_id"),
            when(col("i") < 10, xxhash64(expr("doc_id div 2"), col("i")))
              .otherwise(xxhash64(col("doc_id"), col("i") + 1000)).as("h"))
          .persist()
        val shared = spans.groupBy("h")
          .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("h")
        val perDoc = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
        val sharedPerDoc = spans.join(shared, "h")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        val out = perDoc.join(sharedPerDoc, Seq("doc_id"), "left").count()
        spans.unpersist()
        out
      }
      // Sparse tf-idf document similarity at n token rows (n/50 docs ×
      // 50 tokens, vocabulary 10 docs/token ⇒ mean df 5, all under the
      // df ≤ 100 cap). The measured claim (VERDICT r5 #5): candidate
      // volume is Σ_{df≤100} df² NARROW rows (two ids + two int64s) —
      // linear in the corpus for a fixed df distribution — and the
      // inverted-index self-join + one partial-agg pair shuffle is the
      // whole cost; rows_out is the pair count actually sharing a token.
      time("sparse_knn", n) {
        val ndk = math.max(100L, n / 50)
        val vocab = 10L * ndk
        val tf = spark.range(ndk).select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(49L))).as("i"))
          .select(col("doc_id"),
            pmod(xxhash64(col("doc_id"), col("i")), lit(vocab)).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .persist()
        val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val comp = tf.join(dfc.filter(col("df") <= 100), "tok")
          .select(col("doc_id"), col("tok"), (col("tf") * 1000L).as("x"))
          .persist()
        val dots = comp.as("a").join(comp.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.x") * col("b.x")).as("dot"))
        val out = dots.count()
        tf.unpersist(); comp.unpersist()
        out
      }
      // SemDeDup core at n/10 vectors: cells sized for ~256 occupancy
      // (the k-tracks-corpus rule), every 100th vector a planted near-dup
      // of its predecessor routed to the SAME cell. The measured claim:
      // the removal semi-join's work is sum(cell²) — bounded by the cell
      // size, never corpus-quadratic — and rows_out ≈ planted dups.
      time("semdedup", n / 10) {
        graft.plans.DotD.register(spark)
        val sd = n / 10
        val dim = 16
        val cells = math.max(8L, sd / 256)
        val isDup = col("id") % 100 === 1
        val src = when(isDup, col("id") - 1).otherwise(col("id"))
        val d = spark.range(sd).select(
          col("id"),
          pmod(hash(src), lit(cells)).cast("long").as("cell"),
          transform(sequence(lit(0L), lit(dim - 1L)), i =>
            pmod(xxhash64(src, i), lit(1000L)).cast("double") / 500.0 - 1.0 +
              when(isDup,
                pmod(xxhash64(col("id"), i + 100), lit(10L)).cast("double")
                  / 1000.0).otherwise(lit(0.0))).as("v"))
          .withColumn("n2", call_function("dotd", col("v"), col("v")))
          .withColumn("ccos",
            pmod(hash(col("id")), lit(1000)).cast("double") / 1000.0)
        graft.operators.SemDedup.removed(d, 0.95).count()
      }
      // IVF-PQ SERVING at n/10 indexed vectors: the index (centroids,
      // codebooks, codes) is synthetic — hash-derived, no training — so
      // the measurement isolates the SERVE path: probe-list broadcast,
      // code-table scan filtered to probed cells, LUT join, one
      // (q_id, vec_id) partial-agg shuffle. Cells track the corpus
      // (~256 occupancy), so per-query candidate volume is CONSTANT
      // (64 q × 8 probes × ~256 codes); what grows with n is only the
      // narrow M-byte code-table scan — the shape that serves 10⁹
      // vectors from RAM (a deployment additionally buckets the code
      // table by cell for partition pruning).
      time("ivfpq_serve", n / 10) {
        val sd = n / 10
        val dim = 16; val m = 4; val sub = dim / m; val k = 256
        val cells = math.max(16L, sd / 256).toInt
        def h(a: Long, b: Long): Double =
          ((a * 2654435761L + b * 40503L) % 1000L).toDouble / 500.0 - 1.0
        val cents = (0 until cells).map(c =>
          graft.operators.KMeans.Centroid(c, Array.tabulate(dim)(d => h(c, d)))).toSeq
        val cbs = (0 until m).flatMap(mi => (0 until k).map(code =>
          graft.operators.PQ.Codeword(mi, code,
            Array.tabulate(sub)(d => h(mi * 1000L + code, d) / 4.0)))).toSeq
        val encoded = spark.range(sd).select(
          col("id").as("vec_id"),
          pmod(hash(col("id")), lit(cells)).cast("int").as("cell"),
          explode(sequence(lit(0), lit(m - 1))).as("m"))
          .withColumn("code",
            pmod(xxhash64(col("vec_id"), col("m")), lit(k)).cast("int"))
        val queries = spark.range(64).select(
          col("id").as("q_id"),
          transform(sequence(lit(0L), lit(dim - 1L)), i =>
            pmod(xxhash64(col("id"), i), lit(1000L)).cast("double") / 500.0 - 1.0)
            .as("qv"))
        graft.operators.IvfPq.serve(
          graft.operators.IvfPq.Index(cents, cbs, encoded),
          queries, nprobe = 8, topK = 10).count()
      }
      // Triangle counting at n/4 edges on a seeded random graph with avg
      // degree ~32. The claim measured: degree orientation bounds wedge
      // candidates by m·d̄⁺ (≈ m^1.5 worst case), never Σ d² — wall-clock
      // tracks the edge count through three narrow hash joins.
      time("triangles", n / 4) {
        val m = n / 4
        val vtx = math.max(16L, m / 16L)
        val pairs = spark.range(m).select(
          pmod(hash(col("id")), lit(vtx)).cast("long").as("a"),
          pmod(hash(col("id") * 3 + 1), lit(vtx)).cast("long").as("b"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v"))
        graft.operators.Triangles.stats(pairs)
          .first().getAs[Long]("n_triangles")
      }
      // PageRank: K=4 sweeps over a synthetic power-law-ish directed graph
      // of m = n/4 edges on m/16 vertices. The claim under measurement:
      // per-sweep cost is edge-join + node-agg on the ONE persisted src
      // partitioning, so wall-clock grows ~linearly in edges and the
      // iteration count multiplies, never compounds (lineage truncation).
      time("pagerank", n / 4) {
        val m = n / 4
        val vtx = math.max(16L, m / 16L)
        val edges = spark.range(m).select(
          pmod(hash(col("id")), lit(vtx)).cast("long").as("src"),
          pmod(hash(col("id") * 5 + 3), lit(vtx)).cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
        graft.operators.PageRank.run(edges, iterations = 4)
          .agg(sum(col("rank_q"))).first().getLong(0)
      }
      // Multi-source BFS: per-hop cost is one frontier⨝edges join on the
      // persisted src partitioning; wall tracks edges × hops reached.
      time("bfs_layers", n / 4) {
        val m = n / 4
        val vtx = math.max(16L, m / 16L)
        val edges = spark.range(m).select(
          pmod(hash(col("id")), lit(vtx)).cast("long").as("src"),
          pmod(hash(col("id") * 5 + 3), lit(vtx)).cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
        val seeds = spark.range(4).select(col("id").as("node"))
        graft.operators.Bfs.layers(edges, seeds, maxHops = 4).count()
      }
      // Sync LPA: per round one edge⨝label join + per-node argmax window
      // over ≤degree rows; rows_out = surviving community count.
      time("lpa", n / 4) {
        val m = n / 4
        val vtx = math.max(16L, m / 16L)
        val edges = spark.range(m).select(
          pmod(hash(col("id")), lit(vtx)).cast("long").as("src"),
          pmod(hash(col("id") * 5 + 3), lit(vtx)).cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
        graft.operators.LabelProp.run(edges, rounds = 3)
          .agg(countDistinct(col("label"))).first().getLong(0)
      }
      // PageRank CONVERGENCE mode (VERDICT r6 #5): the stopping rule is
      // an exact int64 max-delta, so the data-dependent sweep count must
      // be IDENTICAL under different partitionings — asserted here at
      // scale (8 vs 32 input partitions), alongside the wall-clock point.
      time("pagerank_conv", n / 4) {
        val m = n / 4
        val vtx = math.max(16L, m / 16L)
        val edges = spark.range(m).select(
          pmod(hash(col("id")), lit(vtx)).cast("long").as("src"),
          pmod(hash(col("id") * 5 + 3), lit(vtx)).cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
        // eps = 0.05·base: the uniform synthetic graph's deltas start at
        // ~0.25·base (degree-concentration), so this forces ~8-10 sweeps
        // — enough rounds for a partitioning-dependent rule to diverge
        val (ranks, k1) = graft.operators.PageRank.runUntilRel(
          edges.repartition(32), epsCentiBase = 5, maxIterations = 15)
        val sum1 = ranks.agg(sum(col("rank_q"))).first().getLong(0)
        val (ranks2, k2) = graft.operators.PageRank.runUntilRel(
          edges.repartition(8), epsCentiBase = 5, maxIterations = 15)
        val sum2 = ranks2.agg(sum(col("rank_q"))).first().getLong(0)
        require(k1 == k2 && sum1 == sum2,
          s"convergence must be partition-independent: K $k1/$k2 mass $sum1/$sum2")
        println(s"[scale]   pagerank_conv sweeps=$k1 (32p and 8p identical)")
        k1.toLong
      }
      // CDC MERGE apply: base (3/4 of keys) full-outer-joined with a
      // change batch (insert/update/delete split by residue) — claim:
      // one fact-fact long-key shuffle join, linear in |base|+|changes|.
      time("merge_upsert", n) {
        val base = spark.range(n).filter(col("id") % 4 =!= 0)
          .select(col("id"), (pmod(hash(col("id")), lit(100000)) / 100.0).as("price"))
        val changes = spark.range(n).filter(col("id") % 4 < 3)
          .select(col("id"), lit(1.0).as("c_price"),
            when(col("id") % 4 === 0, "I").when(col("id") % 4 === 1, "U")
              .otherwise("D").as("op"))
        base.join(changes, Seq("id"), "full_outer")
          .filter(coalesce(col("op"), lit("")) =!= "D")
          .select(when(col("op") === "U", col("price") + 10.0)
            .when(col("op") === "I", col("c_price"))
            .otherwise(col("price")).as("p"))
          .agg(count(col("p"))).first().getLong(0)
      }
      // END-TO-END training-corpus pipeline (VERDICT r6 #1): quality gate
      // → MinHash-LSH dedup (sigs → first-agreeing-band candidates →
      // Jaccard verify → removal) → fixed-stride chunking → per-lang
      // stats, COMPOSED in one plan over nd = n/10 synthetic docs (20
      // int64 shingles, every 100th a planted 18/20 near-dup, quality
      // tokens a pure hash of doc_id). The per-operator curves are flat;
      // what this measures is the composition: no stage re-shuffles
      // another's output on a different key (the dedup side works on
      // doc_id-keyed narrow rows; chunking explodes AFTER the anti-join).
      // Cardinality cross-checks printed+asserted: the COMPOSED plan's
      // candidate volume equals the standalone dedup stage's on the same
      // survivor set, and the chunk count equals Σ ceil(n_tokens/40)
      // computed independently — composition must not change any stage's
      // cardinality (the "sum of the parts" claim).
      time("pipeline_corpus", n / 10) {
        val nd = n / 10
        val M = 2147483647L
        val isDup = col("doc_id") % 100 === 1
        val srcId = when(isDup, col("doc_id") - 1).otherwise(col("doc_id"))
        val docs = spark.range(nd).select(
          col("id").as("doc_id"),
          (pmod(hash(col("id")), lit(1200)) + 20).as("n_tokens"),
          pmod(hash(col("id"), lit(9)), lit(5)).as("lang"))
          .select(col("doc_id"), col("n_tokens"), col("lang"),
            transform(sequence(lit(0L), lit(19L)), i =>
              pmod(when(isDup && i >= 18, xxhash64(col("doc_id"), i))
                .otherwise(xxhash64(srcId, i)), lit(M))).as("hs"))
        // stage 1: quality gate
        val q = docs.filter(col("n_tokens") <= 1000).persist()
        // stage 2: LSH dedup over survivors
        def candidates(src: DataFrame): DataFrame = {
          val sigs = src.select(col("doc_id") +: (0 until 8).map { j =>
            array_min(transform(col("hs"),
              h => (h * (1000003L * (j + 1) % M) + 998244353L * (j + 7) % M) % M))
              .as(s"mh$j")
          }: _*)
          val bsig = sigs.select(
            col("doc_id") +: (0 until 4).map(b =>
              xxhash64(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"), lit(b))
                .as(s"bh$b")): _*)
          val banded = bsig.select(
            col("doc_id"),
            explode(array((0 until 4).map(b =>
              struct(lit(b).as("band"), col(s"bh$b").as("bh"))): _*)).as("e"),
            col("bh0"), col("bh1"), col("bh2"))
            .select(col("doc_id"), col("e.band").as("band"),
              col("e.bh").as("bh"), col("bh0"), col("bh1"), col("bh2"))
          val noEarlier = (0 until 3).map { k =>
            (col("a.band") <= k) || (col(s"a.bh$k") =!= col(s"b.bh$k"))
          }.reduce(_ && _)
          banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id") && noEarlier)
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        }
        val cand = candidates(q).persist()
        val removed = cand
          .join(q.select(col("doc_id").as("id_a"), col("hs").as("sa")), "id_a")
          .join(q.select(col("doc_id").as("id_b"), col("hs").as("sb")), "id_b")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .filter(col("inter").cast("double") / (lit(40) - col("inter")) >= 0.8)
          .select(col("id_b").as("doc_id")).distinct()
        // stage 3+4: chunk survivors, per-lang stats
        val survivors = q.join(removed, Seq("doc_id"), "left_anti")
        val stats = survivors
          .select(col("lang"), col("doc_id"), col("n_tokens"),
            explode(sequence(lit(0L), col("n_tokens") - 1, lit(40L))).as("start"))
          .select(col("lang"), col("doc_id"),
            least(lit(40L), col("n_tokens") - col("start")).as("n_tok"))
          .groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("chunk_tokens"))
          .collect()
        // cardinality cross-checks: composition changed no stage's volume
        val candComposed = cand.count()
        val candAlone = candidates(q.select("doc_id", "hs")).count()
        require(candComposed == candAlone,
          s"composed candidates $candComposed != standalone $candAlone")
        val expectChunks = survivors
          .agg(sum(expr("(n_tokens + 39) div 40"))).first().getLong(0)
        val gotChunks = stats.map(_.getAs[Long]("n_chunks")).sum
        require(gotChunks == expectChunks,
          s"chunks $gotChunks != sum-of-parts $expectChunks")
        println(f"[scale]   pipeline_corpus candidates=$candComposed%,d " +
          f"chunks=$gotChunks%,d langs=${stats.length}")
        q.unpersist(); cand.unpersist()
        stats.map(_.getAs[Long]("n_docs")).sum
      }
      // END-TO-END corpus tokenization (VERDICT r6 #1): n token
      // OCCURRENCES over a vocabulary of n/1000 distinct words — stage 1
      // collapses the corpus to the distinct-word frame (ONE partial-agg
      // groupBy), stage 2 applies the trained merge chain per distinct
      // word (the bpe_encode projection), stage 3 broadcast-joins token
      // counts back to the occurrence frame, stage 4 aggregates per doc.
      // The claim: corpus tokenization cost = the occurrence scan + its
      // one word-key join — merges never run per token.
      time("bpe_corpus", n) {
        val vocab = math.max(1000L, n / 1000)
        val merges = Seq("a b", "c d", "ab c", "e f", "abc d", "ef a",
          "b c", "d e").zipWithIndex.map { case (p, i) =>
          graft.operators.BPE.Merge(i + 1, p, 1L)
        }
        val occ = spark.range(n).select(
          (col("id") % (n / 50 + 1)).as("doc_id"),
          pmod(xxhash64(col("id")), lit(vocab)).as("wid"))
        val words = occ.groupBy("wid").agg(count(lit(1)).as("wn"))
          .select(concat_ws("", (0 until 10).map(i =>
            chr(pmod(xxhash64(col("wid"), lit(i)), lit(6)) + 97)): _*).as("w"),
            col("wid"), col("wn"))
        val encoded = graft.operators.BPE.encode(
          words.select("w", "wn"), merges)
          .join(words.select("w", "wid"), "w")
          .select(col("wid"), col("n_toks"))
        occ.join(broadcast(encoded), "wid")
          .groupBy("doc_id").agg(sum(col("n_toks")).as("doc_tokens"))
          .count()
      }
      // STREAMING SemDeDup with the k-tracks-corpus codebook rule
      // (answering the r8 sf1 observation: the gated query's FROZEN
      // 8-cell codebook at 10× volume makes per-cell occupancy — and
      // the dedup-against-history scan — grow with the corpus; the
      // documented sizing rule is cells ≈ corpus/256). Feed n/10
      // synthetic 16-dim vectors (every 100th a planted near-dup of its
      // predecessor, routed to the same cell) through StreamSemDedup in
      // 4 micro-batches with cells = max(8, sd/256): per-arrival history
      // work stays O(occupancy) = O(256), so the curve must be ~linear
      // in sd. rows_out ≈ planted dups (θ=0.95 isolates them).
      time("stream_semdedup_cells", n / 10) {
        import spark.implicits._
        val sd = (n / 10).toInt
        val dim = 16
        val cells = math.max(8L, sd / 256)
        def vec(src: Long, dup: Boolean, id: Long): IndexedSeq[Double] =
          (0 until dim).map { i =>
            val base = java.lang.Long.remainderUnsigned(
              scala.util.hashing.MurmurHash3.productHash((src, i)).toLong, 1000L)
              .toDouble / 500.0 - 1.0
            if (dup) base + java.lang.Long.remainderUnsigned(
              scala.util.hashing.MurmurHash3.productHash((id, i + 100)).toLong,
              10L).toDouble / 1000.0
            else base
          }
        val feed = (0L until sd.toLong).map { id =>
          val dup = id % 100 == 1
          val src = if (dup) id - 1 else id
          val v = vec(src, dup, id)
          graft.streaming.CellVec(
            java.lang.Long.remainderUnsigned(
              scala.util.hashing.MurmurHash3.productHash(Tuple1(src)).toLong,
              cells),
            id, v, v.map(x => x * x).sum)
        }
        val prevP = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try {
          val mem = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[graft.streaming.CellVec](spark)
          val name = "sd_cells_" + System.nanoTime()
          val q = graft.streaming.StreamSemDedup(mem.toDS(), 0.95)
            .writeStream.queryName(name).format("memory")
            .outputMode("append").start()
          try {
            feed.grouped(math.max(1, sd / 4)).foreach { chunk =>
              mem.addData(chunk: _*); q.processAllAvailable()
            }
          } finally q.stop()
          spark.table(name).count()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevP)
      }
      time("heavy_hitters", n) {
        val toks = spark.range(n).select(
          when(pmod(hash(col("id")), lit(4)) === 0,
            concat(lit("hot_"), pmod(hash(col("id"), lit(1)), lit(50))))
            .otherwise(concat(lit("tail_"), pmod(hash(col("id"), lit(2)),
              lit(n / 100)))).as("token"))
        graft.operators.HeavyHitters
          .exact(toks, "token", phiNum = 4, phiDen = 1000, k = 512).count()
      }
    }
    spark.stop()
  }
}
