package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._

/** ScalaCheck-generated invariants for the window-id kernel (SURVEY §5
  * plan: "ScalaCheck for slice-alignment invariants"). Golden tests pin
  * exact values; these pin the structural laws on arbitrary inputs
  * (deterministic seeds — no scalatestplus bridge in the offline cache):
  *
  *  1. partition law — every slicing assigns each row exactly one window,
  *     and per-window sums re-add to the stream total;
  *  2. count law — Count(n) windows have exactly n rows except the last;
  *  3. alignment law — BEFORE/AFTER window ids differ ONLY on trigger rows
  *     (the trigger row opens the new bucket under BEFORE);
  *  4. keyed law — scespet's thesis: for every key k, a keyed stream's rows
  *     for k equal the no-key stream `ks(k)` under the same expression.
  */
class SlicePropertySpec extends SparkSpec {
  import spark.implicits._

  private val genValues: Gen[(List[Int], Int)] = for {
    n <- Gen.choose(1, 40)
    vs <- Gen.listOfN(n, Gen.choose(-5, 20))
    w <- Gen.choose(1, 7)
  } yield (vs, w)

  private def cases(count: Int): Seq[(List[Int], Int)] =
    (1 to count).flatMap(i => genValues(Gen.Parameters.default, Seed(i.toLong)))

  private def stream(vs: List[Int]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong, v) }.toDF("ts", "seq", "v")

  /** The same values spread over keys 0-2; `other` is a second keyed
    * stream on a coarser clock, for as-of takes.
    */
  private def keyed(vs: List[Int]) =
    vs.zipWithIndex.map { case (v, i) =>
      (Math.floorMod(i * 7 + v, 3).toLong, i.toLong, i.toLong, v)
    }.toDF("k", "ts", "seq", "v")

  private def other(vs: List[Int]) =
    vs.zipWithIndex.map { case (v, i) =>
      (Math.floorMod(i * 5 + v, 3).toLong, (i * 3 / 2).toLong, i.toLong, v * 10)
    }.toDF("k", "ts", "seq", "rv")

  test("composition law: Count(a) then Count(b) over the emissions " +
    "equals Count(a*b) directly (layered slicing, random streams)") {
    cases(6).foreach { case (vs, w) =>
      val a = math.max(1, w / 2)
      val b = 2
      val l1 = EStream(stream(vs))
        .group(Slice.Count(a))
        .reduce("s1" -> sum(col("v")),
          "ts" -> max(col("ts")), "seq" -> max(col("seq")))
      val nested = EStream(l1.select("ts", "seq", "s1"))
        .group(Slice.Count(b))
        .reduce("s" -> sum(col("s1")), "o" -> min(col("seq")))
        .orderBy("o").select("s").as[Long].collect().toSeq
      val direct = EStream(stream(vs))
        .group(Slice.Count(a * b))
        .reduce("s" -> sum(col("v")), "o" -> min(col("seq")))
        .orderBy("o").select("s").as[Long].collect().toSeq
      // trailing partials line up too: ceil(n/a) emissions grouped by b
      // cover exactly the a*b-row direct buckets
      withClue(s"vs=$vs a=$a b=$b") { nested shouldBe direct }
    }
  }

  test("hopping laws: step=width degenerates to Tumbling; general " +
    "hopping covers each row exactly floorDiv(ts,step)-floorDiv(ts-width,step) times") {
    cases(6).foreach { case (vs, w0) =>
      val w = math.max(1, w0).toLong
      // degeneracy: Hopping(w, w) ≡ Tumbling(w), ids included
      val hop = EStream(stream(vs)).group(Slice.Hopping(w, w))
        .reduce("s" -> sum(col("v")))
        .orderBy("window_id").as[(Long, Long)].collect().toSeq
      val tum = EStream(stream(vs)).group(Slice.Tumbling(w))
        .reduce("s" -> sum(col("v")))
        .orderBy("window_id").as[(Long, Long)].collect().toSeq
      hop shouldBe tum
      // coverage multiplicity: total replicated rows == Σ per-row count
      val width = 2 * w + 1 // non-divisible by step on purpose
      val rows = EStream(stream(vs)).group(Slice.Hopping(width, w))
        .reduce("n" -> count(lit(1)))
        .agg(sum(col("n"))).as[Long].head()
      val expect = vs.indices.map { i =>
        Math.floorDiv(i.toLong, w) - Math.floorDiv(i.toLong - width, w)
      }.sum
      rows shouldBe expect
    }
  }

  test("partition law: per-window sums re-add to the total for every slice spec") {
    cases(6).foreach { case (vs, n) =>
      val specs: Seq[Slice] = Seq(
        Slice.Count(n), Slice.Tumbling(n.toLong),
        Slice.TriggerCol(col("v") % 3 === 0, Align.After),
        Slice.TriggerCol(col("v") % 3 === 0, Align.Before),
        Slice.Termination)
      specs.foreach { spec =>
        val buckets = EStream(stream(vs)).group(spec)
          .reduce("s" -> sum(col("v")), "n" -> count(lit(1)))
        withClue(s"spec=$spec vs=$vs: ") {
          buckets.agg(sum("s"), sum("n")).as[(Long, Long)].collect().head shouldBe
            ((vs.map(_.toLong).sum, vs.size.toLong))
        }
      }
    }
  }

  test("count law: Count(n) buckets are full except possibly the last") {
    cases(6).foreach { case (vs, n) =>
      val sizes = EStream(stream(vs)).group(Slice.Count(n))
        .reduce("n" -> count(lit(1)))
        .orderBy("window_id").select("n").as[Long].collect().toSeq
      withClue(s"n=$n vs=$vs: ") {
        sizes.init.foreach(_ shouldBe n.toLong)
        sizes.last should be <= n.toLong
        sizes.sum shouldBe vs.size.toLong
      }
    }
  }

  test("gate law: boolean-window per-session sums equal a sequential " +
    "simulation (random gates, close excludes its datum)") {
    cases(8).foreach { case (vs, _) =>
      // gate from the value stream itself: open when v is even
      val got = WindowKernel
        .withSessions(stream(vs), Nil, col("v") % 2 === 0)
        .filter(col("in_window"))
        .groupBy("session_id")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap

      var prev = false
      var sid = 0L
      val acc = collection.mutable.Map[Long, (Long, Long)]()
      vs.foreach { v =>
        val g = v % 2 == 0
        if (g && !prev) sid += 1
        if (g) {
          val (s, n) = acc.getOrElse(sid, (0L, 0L))
          acc(sid) = (s + v, n + 1)
        }
        prev = g
      }
      withClue(s"vs=$vs: ") { got shouldBe acc.toMap }
    }
  }

  test("alignment law: BEFORE and AFTER ids agree except on trigger rows") {
    cases(6).foreach { case (vs, _) =>
      val trig = col("v") % 3 === 0
      def ids(a: Align) = WindowKernel
        .withWindowId(stream(vs), Nil, Slice.TriggerCol(trig, a))
        .orderBy("seq")
        .select(col("v"), col(WindowKernel.WindowId)).as[(Int, Long)].collect()
      ids(Align.After).zip(ids(Align.Before)).foreach { case ((v, ia), (_, ib)) =>
        withClue(s"v=$v vs=$vs: ") {
          if (v % 3 == 0) ib shouldBe ia + 1
          else ib shouldBe ia
        }
      }
    }
  }

  test("keyed law: each key's rows of a keyed stream equal the no-key " +
    "stream of that key under slices, gates, scanAll and take") {
    cases(4).foreach { case (vs, w) =>
      val n = math.max(1, w / 2)
      val laws: Seq[(String, (KStream, KStream) => DataFrame)] = Seq(
        "group(Count).reduce" -> ((s, _) => s.group(Slice.Count(n))
          .reduce("s" -> sum(col("v")), "c" -> count(lit(1)))),
        "group(Count).scan" -> ((s, _) => s.group(Slice.Count(n)).scan("run", sum(col("v")))),
        "group(Tumbling).reduce" -> ((s, _) => s.group(Slice.Tumbling(w.toLong))
          .reduce("s" -> sum(col("v")), "c" -> count(lit(1)))),
        "group(Tumbling).scan" -> ((s, _) =>
          s.group(Slice.Tumbling(w.toLong)).scan("run", sum(col("v")))),
        "window.reduce" -> ((s, _) => s.window(col("v") % 2 === 0)
          .reduce("s" -> sum(col("v")), "c" -> count(lit(1)))),
        "scanAll" -> ((s, _) => s.scanAll("run", sum(col("v"))).df),
        "take" -> ((s, o) => s.take(o, Seq("rv" -> col("rv"))).df))
      val ks = KStream(keyed(vs), Seq("k"))
      val ko = KStream(other(vs), Seq("k"))
      val keys = ks.toKeySet.as[Long].collect().toSeq.sorted
      def rows(df: DataFrame) =
        df.drop("k").collect().map(_.toString).toSeq.sorted
      laws.foreach { case (name, f) =>
        val all = f(ks, ko)
        keys.foreach { k =>
          withClue(s"$name k=$k vs=$vs w=$w: ") {
            rows(all.filter(col("k") === k)) shouldBe rows(f(ks(k), ko(k)))
          }
        }
      }
    }
  }
}
