package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Residual IVF-PQ (coarse quantizer + product-quantized residuals + ADC
  * lookup) as a typed-JVM pipeline — the r16 rewrite of the catalog's most
  * job-heavy similarity query (VERDICT r15 #4).
  *
  * The DataFrame formulation ran ~38 SEQUENTIAL driver jobs over ≤2k-row
  * frames (three persists, two Lloyd/refit aggregation pyramids, four
  * broadcast builds, two ranking windows) — pure scheduling floor at
  * catalog scale, and interpreted `zip_with`/`slice` higher-order
  * expressions in every hot projection. This operator computes the SAME
  * values in three shuffle-free distributed passes (the
  * [[LinearProbe]]/[[KMeans]] loop discipline: broadcast k-bounded model
  * state down, merge k-bounded integer partials on the driver) plus one
  * tiny final top-k window:
  *
  *   pass A  assign every vector to its nearest seed centroid, partial
  *           per-cell Σ floor(x·1e9) + counts       → cents1 (k×d longs)
  *   pass B  re-assign under cents1, encode residual subvectors against
  *           the seed codebook, partial per-(subspace, code) sums
  *                                                   → cb1 (m·k×d/m longs)
  *   pass C  encode under cb1, emit (query, vec, ADC score) candidates
  *           for probed cells                        → row_number top-k
  *
  * Bit parity with the DataFrame/oracle formulation (pinned by
  * IvfPqResidualSpec): every float op mirrors the Column expression —
  * left-to-right dot products ([[graft.plans.DotD]] order),
  * `Math.floor(x·Q).toLong` for FLOOR(double), exact long partial sums
  * (commutative ⇒ partition-independent), double division of the same
  * exact operands, and `java.lang.Double.compare` for every (score,
  * tie-break id) ordering — the comparator Spark's struct min_by/max_by
  * and row_number orderings use.
  *
  * Scale shape: model state (centroids, codebooks, probe lists, LUTs) is
  * k-bounded driver state by construction — exactly what belongs on the
  * driver; the corpus is touched in three narrow passes (no shuffle until
  * the candidate top-k, which is probe-selected and query-bounded).
  */
object IvfPqResidual {

  final case class V(vec_id: Long, v: Seq[Double], n2: Double)

  private[operators] final case class Cent(cid: Long, cv: Array[Double], cn2: Double)
  private final case class Code(code: Long, cw: Array[Double], cwn2: Double)

  /** Left-to-right sequential dot product — the [[graft.plans.DotD]] /
    * oracle `list_reduce` accumulation order.
    */
  private[operators] def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** argmax_{cell} cosine(v, cv) with the (ccos desc, c_id asc) tie-break
    * — mirrors `max_by(struct(...), struct(ccos, -c_id))`: Double.compare
    * is Spark's double ordering; iterating cells in ascending c_id with
    * strict > keeps the lowest id on exact ties.
    */
  private[operators] def assignCell(cents: Array[Cent], v: Array[Double], n2: Double): Int = {
    var best = 0
    var bestS = Double.NaN
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val ccos = dot(c.cv, v) / (math.sqrt(c.cn2) * math.sqrt(n2))
      if (i == 0 || java.lang.Double.compare(ccos, bestS) > 0) {
        bestS = ccos; best = i
      }
      i += 1
    }
    best
  }

  /** argmin_{code} L2 via d2 = cwn2 − 2·⟨sub, cw⟩ with the (d2 asc, code
    * asc) tie-break — mirrors `min_by(code, struct(d2, code))` (codes
    * iterated ascending, strict <).
    */
  private def encodeSub(codes: Array[Code], sub: Array[Double]): Int = {
    var best = 0
    var bestD = Double.NaN
    var i = 0
    while (i < codes.length) {
      val c = codes(i)
      val d2 = c.cwn2 - 2.0 * dot(sub, c.cw)
      if (i == 0 || java.lang.Double.compare(d2, bestD) < 0) {
        bestD = d2; best = i
      }
      i += 1
    }
    best
  }

  private def residualSub(v: Array[Double], cv: Array[Double],
                          mm: Int, sub: Int): Array[Double] = {
    val r = new Array[Double](sub)
    var i = 0
    while (i < sub) { r(i) = v(mm * sub + i) - cv(mm * sub + i); i += 1 }
    r
  }

  private def rawSub(v: Array[Double], mm: Int, sub: Int): Array[Double] =
    java.util.Arrays.copyOfRange(v, mm * sub, (mm + 1) * sub)

  /** Quantized-mean rebuild from merged partials: exactly
    * `sum(floor(x·1e9)).cast(double) / (count·1e9).cast(double)`.
    */
  private[operators] def meansOf(sums: Array[Long], cnt: Long): Array[Double] = {
    val out = new Array[Double](sums.length)
    var i = 0
    while (i < sums.length) {
      out(i) = sums(i).toDouble / (cnt * 1000000000L).toDouble
      i += 1
    }
    out
  }

  /** @param e        (vec_id, v: array<double>, n2 = ⟨v,v⟩) corpus frame
    * @param m        PQ subspace count
    * @param sub      dims per subspace (m·sub = vector dim)
    * @param k        coarse cell count = residual codebook size (seeds =
    *                 vec_id < k)
    * @param nprobe   probed cells per query
    * @param nQueries queries = vec_id < nQueries (must be ≤ k)
    * @param topK     neighbours returned per query
    * @return (q_id, rk, vec_id, score_q) — identical to the DataFrame
    *         formulation (see IvfPqResidualSpec)
    */
  def topk(e: DataFrame, m: Int, sub: Int, k: Int, nprobe: Int,
           nQueries: Int, topK: Int, residual: Boolean = true,
           coarse: Boolean = true): DataFrame = {
    require(coarse || !residual, "residual codebooks need the coarse stage")
    require(nQueries <= k, "queries must be within the collected seed set")
    val s = e.sparkSession
    val sc = s.sparkContext
    import s.implicits._
    val dim = m * sub
    // 3 passes share the decode; the runner's clearCache releases the
    // persist (QueryDef lifecycle)
    val ds: Dataset[V] = e.select(col("vec_id"), col("v"), col("n2"))
      .as[V].persist()
    // ---- seeds (k-bounded driver state) ----
      // Column filter: pushdown, not a full-corpus deserializing lambda
      val seeds = ds.filter(col("vec_id") < k).collect().sortBy(_.vec_id)
      val cents0 = seeds.map(x => Cent(x.vec_id, x.v.toArray, x.n2))
      // no seed, no query (nQueries <= k) and no codebook: empty result
      if (seeds.isEmpty)
        return Seq.empty[(Long, Int, Long, Long)].toDF("q_id", "rk", "vec_id", "score_q")

      // ---- pass A: one Lloyd step → cents1 (skipped for the pure-PQ
      // ADC shape, which has no coarse stage) ----
      // partials ride as ONE flat Array[Long] (encoder-friendly, the
      // LinearProbe idiom): [cnt(k) | sums(k×dim) row-major]
      val bc0 = sc.broadcast(cents0)
      val nCells = cents0.length
      val pa = if (!coarse) Array.empty[Array[Long]] else ds.mapPartitions { it =>
        val cents = bc0.value
        val acc = new Array[Long](nCells + nCells * dim)
        var any = false
        it.foreach { x =>
          require(x.v.length == dim, s"vector dim ${x.v.length} != $dim")
          val v = x.v.toArray
          val cell = assignCell(cents, v, x.n2)
          any = true
          acc(cell) += 1L
          val off = nCells + cell * dim
          var i = 0
          while (i < dim) {
            acc(off + i) += Math.floor(v(i) * 1000000000L).toLong
            i += 1
          }
        }
        if (any) Iterator.single(acc) else Iterator.empty
      }.collect()
      val mergedA = new Array[Long](nCells + nCells * dim)
      pa.foreach { p =>
        var i = 0
        while (i < p.length) { mergedA(i) = Math.addExact(mergedA(i), p(i)); i += 1 }
      }
      // empty cells drop, exactly like the groupBy (no row, no centroid)
      val cents1 = (0 until nCells).collect {
        case i if mergedA(i) > 0 =>
          val cv = meansOf(java.util.Arrays.copyOfRange(
            mergedA, nCells + i * dim, nCells + (i + 1) * dim), mergedA(i))
          Cent(cents0(i).cid, cv, dot(cv, cv))
      }.toArray

      // ---- seed residual codebook cb0 (driver, k-bounded) ----
      val cb0: Array[Array[Code]] = {
        val perM = Array.fill(m)(Array.newBuilder[Code])
        seeds.foreach { x =>
          val v = x.v.toArray
          val cell = if (residual) assignCell(cents1, v, x.n2) else -1
          var mm = 0
          while (mm < m) {
            val r = if (residual) residualSub(v, cents1(cell).cv, mm, sub)
                    else rawSub(v, mm, sub)
            perM(mm) += Code(x.vec_id, r, dot(r, r))
            mm += 1
          }
        }
        perM.map(_.result().sortBy(_.code))
      }

      // ---- pass B: refit codebook on residuals → cb1 ----
      // flat partial: [cnt(m×nC0) | sums(m×nC0×sub) row-major]
      val nC0 = cb0(0).length
      val bc1 = sc.broadcast(cents1)
      val bcb0 = sc.broadcast(cb0)
      val pb = ds.mapPartitions { it =>
        val cents = bc1.value
        val codes = bcb0.value
        val acc = new Array[Long](m * nC0 + m * nC0 * sub)
        var any = false
        it.foreach { x =>
          val v = x.v.toArray
          val cell = if (residual) assignCell(cents, v, x.n2) else -1
          any = true
          var mm = 0
          while (mm < m) {
            val r = if (residual) residualSub(v, cents(cell).cv, mm, sub)
                    else rawSub(v, mm, sub)
            val ci = encodeSub(codes(mm), r)
            acc(mm * nC0 + ci) += 1L
            val off = m * nC0 + (mm * nC0 + ci) * sub
            var i = 0
            while (i < sub) {
              acc(off + i) += Math.floor(r(i) * 1000000000L).toLong
              i += 1
            }
            mm += 1
          }
        }
        if (any) Iterator.single(acc) else Iterator.empty
      }.collect()
      val mergedB = new Array[Long](m * nC0 + m * nC0 * sub)
      pb.foreach { p =>
        var i = 0
        // addExact fails fast on overflow where Spark's sum would wrap
        while (i < p.length) { mergedB(i) = Math.addExact(mergedB(i), p(i)); i += 1 }
      }
      val cb1: Array[Array[Code]] = Array.tabulate(m) { mm =>
        (0 until nC0).collect {
          case ci if mergedB(mm * nC0 + ci) > 0 =>
            val off = m * nC0 + (mm * nC0 + ci) * sub
            val cw = meansOf(java.util.Arrays.copyOfRange(mergedB, off, off + sub),
              mergedB(mm * nC0 + ci))
            Code(cb0(mm)(ci).code, cw, dot(cw, cw))
        }.toArray // ascending code order preserved
      }

      // ---- probes + ADC LUT (driver, query×cell / query×m×code bounded) ----
      val queries = seeds.filter(_.vec_id < nQueries)
      // per query: nprobe cells by (pcos desc, c_id asc) with the qc
      // score constant floor(⟨qv,cv⟩·1e6). Empty per-query cell list in
      // the coarse-less ADC shape = "every vector is a candidate".
      val probes: Array[(Long, Array[(Long, Long)])] =
      if (!coarse) queries.map(q => (q.vec_id, Array.empty[(Long, Long)]))
      else queries.map { q =>
        val qv = q.v.toArray
        val scoredCells = cents1.map { c =>
          val pcos = dot(qv, c.cv) / (math.sqrt(q.n2) * math.sqrt(c.cn2))
          (pcos, c.cid, Math.floor(dot(qv, c.cv) * 1e6).toLong)
        }
        val picked = scoredCells.sortWith { (a, b) =>
          val cmp = java.lang.Double.compare(a._1, b._1)
          if (cmp != 0) cmp > 0 else a._2 < b._2
        }.take(nprobe).map(t => (t._2, if (residual) t._3 else 0L))
        (q.vec_id, picked)
      }
      // lut(q)(mm)(code index in cb1(mm)) = floor(⟨qsub, cw⟩·1e6)
      val lut: Array[Array[Array[Long]]] = queries.map { q =>
        val qv = q.v.toArray
        Array.tabulate(m) { mm =>
          val qsub = java.util.Arrays.copyOfRange(qv, mm * sub, (mm + 1) * sub)
          cb1(mm).map(c => Math.floor(dot(qsub, c.cw) * 1e6).toLong)
        }
      }

      // ---- pass C: encode + ADC-score candidates in probed cells ----
      val bcb1 = sc.broadcast(cb1)
      val bprobes = sc.broadcast(probes)
      val blut = sc.broadcast(lut)
      val cands = ds.mapPartitions { it =>
        val cents = bc1.value
        val codes = bcb1.value
        val prb = bprobes.value
        val lt = blut.value
        it.flatMap { x =>
          val v = x.v.toArray
          val cell = if (coarse) assignCell(cents, v, x.n2) else -1
          val cid = if (coarse) cents(cell).cid else -1L
          val codeIdx = new Array[Int](m)
          var mm = 0
          while (mm < m) {
            codeIdx(mm) = encodeSub(codes(mm),
              if (residual) residualSub(v, cents(cell).cv, mm, sub)
              else rawSub(v, mm, sub))
            mm += 1
          }
          def scoreFrom(qi: Int, base: Long): Long = {
            var score = base
            var j = 0
            while (j < m) { score += lt(qi)(j)(codeIdx(j)); j += 1 }
            score
          }
          prb.indices.iterator.flatMap { qi =>
            val (qId, cells) = prb(qi)
            if (x.vec_id == qId) Iterator.empty
            else if (!coarse) Iterator.single((qId, x.vec_id, scoreFrom(qi, 0L)))
            else cells.find(_._1 == cid) match {
              case Some((_, qc)) =>
                Iterator.single((qId, x.vec_id, scoreFrom(qi, qc)))
              case None => Iterator.empty
            }
          }
        }
      }.toDF("q_id", "vec_id", "score_q")

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("score_q").desc, col("vec_id"))
      cands
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select("q_id", "rk", "vec_id", "score_q")
        .orderBy("q_id", "rk")
  }
}
