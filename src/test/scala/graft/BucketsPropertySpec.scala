package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._

/** Randomized differential check of the multi-input bucket core: arbitrary
  * keyed two-stream inputs with colliding timestamps, tumbling resets —
  * engine output vs an in-memory brute force, for all three emit modes
  * (`reduce` = scespet `last`, `scan` = `all`, and `reduceByCycle`).
  * Goldens pin the reference fixtures;
  * this pins the general contract.
  */
// (ts, key, value): ts collides freely across and within streams —
// seq disambiguates (A = even seqs, B = odd), like two live feeds.
// Top-level: Spark encoders can't instantiate suite-inner case classes.
case class BpRow(ts: Long, seq: Long, k: Int, v: Long)

class BucketsPropertySpec extends SparkSpec {
  import spark.implicits._

  private val genCase = for {
    na <- Gen.choose(1, 30)
    nb <- Gen.choose(1, 30)
    as <- Gen.listOfN(na, Gen.zip(Gen.choose(0L, 25L), Gen.choose(0, 2), Gen.choose(-9L, 9L)))
    bs <- Gen.listOfN(nb, Gen.zip(Gen.choose(0L, 25L), Gen.choose(0, 2), Gen.choose(-9L, 9L)))
    w <- Gen.choose(1L, 7L)
  } yield (as, bs, w)

  private def cases(count: Int) =
    (1 to count).flatMap(i => genCase(Gen.Parameters.default, Seed(i * 7919L)))

  private def mk(rows: Seq[(Long, Int, Long)], offset: Int): Seq[BpRow] =
    rows.zipWithIndex.map { case ((ts, k, v), i) => BpRow(ts, 2L * i + offset, k, v) }

  test("last: per-(key,window) tag-dispatched aggregates equal brute force") {
    cases(8).foreach { case (asRaw, bsRaw, w) =>
      val as = mk(asRaw, 0); val bs = mk(bsRaw, 1)
      val got = Buckets(Seq("k"))
        .bind("a", as.toDF())("v" -> col("v"))
        .bind("b", bs.toDF())("v" -> col("v"))
        .reset(Slice.Tumbling(w))
        .reduce(
          "sum_a" -> sum(Buckets.fromTag("a", col("v"))),
          "n_a" -> count(Buckets.fromTag("a", col("v"))),
          "sum_b" -> sum(Buckets.fromTag("b", col("v"))),
          "n_b" -> count(Buckets.fromTag("b", col("v"))))
        .select(col("k"), col(WindowKernel.WindowId).as("win"),
          col("sum_a"), col("n_a"), col("sum_b"), col("n_b"))
        .as[(Int, Long, Option[Long], Long, Option[Long], Long)]
        .collect().map(t => (t._1, t._2) -> ((t._3, t._4, t._5, t._6))).toMap

      val expected = (as.map(r => (r, "a")) ++ bs.map(r => (r, "b")))
        .groupBy { case (r, _) => (r.k, r.ts / w) }
        .map { case (kw, rows) =>
          val a = rows.collect { case (r, "a") => r.v }
          val b = rows.collect { case (r, "b") => r.v }
          kw -> ((if (a.isEmpty) None else Some(a.sum), a.size.toLong,
            if (b.isEmpty) None else Some(b.sum), b.size.toLong))
        }
      withClue(s"w=$w") { got shouldBe expected }
    }
  }

  test("all: cumulative within (key,window) in (ts,seq) order equals scanLeft") {
    cases(8).foreach { case (asRaw, bsRaw, w) =>
      val as = mk(asRaw, 0); val bs = mk(bsRaw, 1)
      val got = Buckets(Seq("k"))
        .bind("a", as.toDF())("v" -> col("v"))
        .bind("b", bs.toDF())("v" -> col("v"))
        .reset(Slice.Tumbling(w))
        .scan("run", sum(col("v")))
        .select(col("seq"), col("run"))
        .as[(Long, Long)].collect().toMap

      val expected = (as ++ bs)
        .groupBy(r => (r.k, r.ts / w))
        .flatMap { case (_, rows) =>
          val sorted = rows.sortBy(r => (r.ts, r.seq))
          sorted.zip(sorted.scanLeft(0L)(_ + _.v).tail).map {
            case (r, run) => r.seq -> run
          }
        }
      withClue(s"w=$w") { got shouldBe expected }
    }
  }

  test("reduceByCycle: cycles where BOTH streams fired, counted per window, " +
    "equal brute force") {
    cases(8).foreach { case (asRaw, bsRaw, w) =>
      val as = mk(asRaw, 0); val bs = mk(bsRaw, 1)
      val got = Buckets(Seq("k"))
        .bind("a", as.toDF())("v" -> col("v"))
        .bind("b", bs.toDF())("v" -> col("v"))
        .reset(Slice.Tumbling(w))
        .reduceByCycle(
          Seq("both" -> (count(Buckets.fromTag("a", col("v"))) > 0 &&
            count(Buckets.fromTag("b", col("v"))) > 0).cast("int")),
          Seq("n_both" -> sum(col("both"))))
        .select(col("k"), col(WindowKernel.WindowId).as("win"), col("n_both"))
        .as[(Int, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap

      val expected = (as.map(r => (r, "a")) ++ bs.map(r => (r, "b")))
        .groupBy { case (r, _) => (r.k, r.ts / w) }
        .map { case (kw, rows) =>
          val both = rows.groupBy { case (r, _) => r.ts }
            .count { case (_, cyc) => cyc.exists(_._2 == "a") && cyc.exists(_._2 == "b") }
          kw -> both.toLong
        }
      withClue(s"w=$w") { got shouldBe expected }
    }
  }
}
