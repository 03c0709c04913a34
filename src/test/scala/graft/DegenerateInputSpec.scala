package graft

import org.apache.spark.sql.functions._

/** Catalog-wide degenerate-input property pass (VERDICT r7 #7): every
  * batch `ev_*` / `doc_*` QueryDef must run cleanly on three adversarial
  * tiny fixtures — an EMPTY table, a ONE-ROW table, and a ONE-GROUP table
  * (all events on one user / three identical documents) — and its output
  * must contain no cross-engine divergence class: no NaN and no ±Infinity
  * in any floating column (div-zero and 0/0 artifacts hash differently
  * across engines; the catalog's contract is CASE-guarded NULLs instead),
  * and no exception (an `.head()` on an empty model frame is a crash a
  * caller would hit on day one).
  *
  * The r6-ADVICE guards (z-score single-day, t-test n<=1 arms, Pareto
  * empty-threshold, drift-KL headroom) were fixed point-wise; this spec is
  * the class-wide net that keeps the next degenerate case from shipping.
  * Streaming twins are excluded (their multi-batch harness has its own
  * specs); mm_* are excluded (media fixtures, not events/documents).
  */
class DegenerateInputSpec extends SparkSpec {

  private val srcDir = "/root/testdata/sf0.001"

  /** Build a fixture dir holding events/documents/embeddings parquet with
    * the REAL schemas (derived from sf0.001 by filtering), so every query
    * reads exactly what it reads in production — only the row counts are
    * adversarial.
    */
  private def fixture(name: String)(
      rows: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_degen_$name").toString
    for (t <- Seq("events", "documents", "embeddings")) {
      val full = spark.read.parquet(s"$srcDir/$t.parquet")
      rows(full, t).write.mode("overwrite").parquet(s"$root/$t.parquet")
    }
    root
  }

  private lazy val emptyDir = fixture("empty")((df, _) => df.limit(0))
  private lazy val oneRowDir = fixture("onerow")((df, _) => df.limit(1))
  private lazy val oneGroupDir = fixture("onegroup") { (df, t) =>
    t match {
      case "events" =>
        val u = df.select("user_id").limit(1).collect()(0).get(0)
        df.filter(col("user_id") === lit(u)).limit(20)
      case "documents" =>
        // three IDENTICAL texts under distinct ids: one dedup cluster,
        // one lang group, zero text variance
        val one = df.limit(1)
          .select(col("text"), col("lang"), col("source"), col("n_chars"))
        spark.range(3).crossJoin(one)
          .select(col("id").as("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
      case _ =>
        df.limit(3)
    }
  }

  private def floatingCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType => f.name
    }.toSeq

  private val names = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => n.startsWith("ev_") || n.startsWith("doc_"))

  private def runAll(dir: String, label: String): Unit = {
    val bad = Seq.newBuilder[String]
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val rows = df.collect()
        for (c <- floatingCols(df)) {
          val idx = df.schema.fieldIndex(c)
          rows.foreach { r =>
            if (!r.isNullAt(idx)) {
              val d = r.get(idx) match {
                case x: Double => x
                case x: Float => x.toDouble
              }
              if (d.isNaN || d.isInfinite)
                bad += s"$n: $c = $d (row ${r.toString.take(120)})"
            }
          }
        }
      } catch {
        case e: Throwable =>
          bad += s"$n: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)}"
      } finally {
        spark.catalog.clearCache()
      }
    }
    val failures = bad.result()
    withClue(s"[$label] ${failures.size} divergence(s):\n" +
      failures.mkString("\n") + "\n") {
      failures shouldBe empty
    }
  }

  test("every ev_*/doc_* query survives an EMPTY corpus (no crash, no NaN/Inf)") {
    runAll(emptyDir, "empty")
  }

  test("the IVF/PQ top-k queries return an empty frame on an EMPTY seed set") {
    for (n <- Seq("knn_ivf", "knn_ivf_trained", "knn_ivf_append", "emb_pq_adc",
      "knn_ivfpq", "knn_ivfpq_residual")) withClue(n) {
      try {
        val df = SparkEntry.queries(n)(spark, emptyDir)
        df.collect() shouldBe empty
        df.schema shouldBe SparkEntry.queries(n)(spark, srcDir).schema
      } finally spark.catalog.clearCache()
    }
  }

  test("every ev_*/doc_* query survives a ONE-ROW corpus") {
    runAll(oneRowDir, "one-row")
  }

  test("every ev_*/doc_* query survives a ONE-GROUP corpus (single user, " +
    "three identical docs)") {
    runAll(oneGroupDir, "one-group")
  }
}
