package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The inputs larger than sf0.1 behind the CORRECTNESS_SF* gates, made
  * from sf0.1 (VERDICT r7 #3): `factor` DISJOINT key-shifted copies of
  * every keyed table, so each copy is a self-consistent TPC-H-ish
  * universe and the union is a `factor`× corpus with the ORIGINAL's join
  * selectivities, group cardinalities (per copy), and duplicate structure
  * — the shape a real 10× data growth has, unlike naive row duplication
  * which manufactures quadratic near-dup blowups.
  *
  *   sbt -batch "runMain graft.tools.ScaleFixture /root/testdata/sf0.1 /tmp/sf1 10"
  *
  * Per-table scaling rules:
  *   - region/nation: dimension tables, copied verbatim (a 10× corpus
  *     does not grow the country list);
  *   - customer/supplier/part/orders/lineitem/events: key columns shifted
  *     by copy × (max_key + 1), consistently across referencing tables
  *     (orderkey stride shared by orders+lineitem, etc.);
  *   - documents: doc_id shifted; for copy k>0 every whitespace token is
  *     prefixed `c<k>` — copies are textually DISJOINT (distinct vocab,
  *     no cross-copy shingle/minhash collisions) while within-copy
  *     duplicate structure is preserved exactly; n_chars recomputed;
  *   - embeddings: vec_id shifted; for copy k>0 the vector is cyclically
  *     ROTATED by k dims — rotation is an isometry (all within-copy
  *     cosines unchanged) while cross-copy cosines decorrelate, so
  *     semantic-dedup pair structure scales linearly like real data.
  *     Copy 0 is unshifted, so id-seeded queries (vec_id < 8 probes)
  *     keep their seeds.
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleFixture <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, src, out, factor)
    spark.stop()
  }

  private def build(spark: SparkSession, src: String, out: String, factor: Int): Unit = {

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val so = maxOf(t("orders"), "o_orderkey")
    val sc = maxOf(t("customer"), "c_custkey")
    val sp = maxOf(t("part"), "p_partkey")
    val ss = maxOf(t("supplier"), "s_suppkey")
    val se = maxOf(t("events"), "event_id")
    val su = maxOf(t("events"), "user_id")
    val sd = maxOf(t("documents"), "doc_id")
    val sv = maxOf(t("embeddings"), "vec_id")

    /** Union `factor` copies of `df`, transforming copy k via `shift`. */
    def scaled(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => shift(df, k)).reduce(_ union _)

    def bump(c: String, stride: Long, k: Int) =
      (col(c) + lit(stride * k)).as(c)

    val outs: Seq[(String, DataFrame)] = Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      // IDENTITY-name columns (c_name/s_name are 1:1 with their key in
      // the real testdata) must stay unique across copies: q21 groups by
      // s_name where the Spark side groups by s_suppkey — equivalent
      // only under that 1:1, which verbatim-copied names broke at 10×
      // (numwait merged 10 universes in the oracle leg only). Categorical
      // columns (p_brand/p_type/mktsegment, and p_name) repeat by design.
      "customer" -> scaled(t("customer")) { (df, k) =>
        val nm = if (k == 0) col("c_name")
                 else concat(col("c_name"), lit(s"#$k"))
        df.select(bump("c_custkey", sc, k), nm.as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      },
      "supplier" -> scaled(t("supplier")) { (df, k) =>
        val nm = if (k == 0) col("s_name")
                 else concat(col("s_name"), lit(s"#$k"))
        df.select(bump("s_suppkey", ss, k), nm.as("s_name"),
          col("s_nationkey"), col("s_acctbal"))
      },
      "part" -> scaled(t("part")) { (df, k) =>
        df.select(bump("p_partkey", sp, k), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), col("p_retailprice"))
      },
      "orders" -> scaled(t("orders")) { (df, k) =>
        df.select(bump("o_orderkey", so, k), bump("o_custkey", sc, k),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      },
      "lineitem" -> scaled(t("lineitem")) { (df, k) =>
        df.select(bump("l_orderkey", so, k), bump("l_partkey", sp, k),
          bump("l_suppkey", ss, k), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      },
      "events" -> scaled(t("events")) { (df, k) =>
        df.select(bump("event_id", se, k), col("ts"), bump("user_id", su, k),
          col("event_type"), col("value"), col("props"))
      },
      "documents" -> scaled(t("documents")) { (df, k) =>
        val text =
          if (k == 0) col("text")
          else concat_ws(" ",
            transform(split(col("text"), " "), w => concat(lit(s"c$k"), w)))
        df.select(bump("doc_id", sd, k), text.as("text"), col("lang"),
          col("source"), length(text).cast("long").as("n_chars"))
      },
      "embeddings" -> scaled(t("embeddings")) { (df, k) =>
        val dims = 64
        val rot = k % dims
        val emb =
          if (rot == 0) col("embedding")
          else concat(slice(col("embedding"), rot + 1, dims - rot),
            slice(col("embedding"), 1, rot))
        df.select(bump("vec_id", sv, k), emb.as("embedding"), col("label"))
      }
    )
    for ((name, df) <- outs) {
      // single FILE per table (the testdata layout): DuckDB's
      // read_parquet('<dir>/<t>.parquet') expects a file, not a Spark
      // part-file directory
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[fixture] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
  }
}
