package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import IvfPqResidual.{V, Cent, dot, assignCell, meansOf}

/** IVF exact-cosine top-k (assign → probe the query's cell → cosine rank)
  * as a typed-JVM pipeline — the r16 collapse of the knn_ivf /
  * knn_ivf_trained / knn_ivf_append family (same mechanism as
  * [[IvfPqResidual]]: broadcast k-bounded model state, one shuffle-free
  * Lloyd pass with flat integer partials, one candidate-emission pass,
  * one tiny top-k window — instead of 5-7 sequential AQE jobs of
  * broadcast-join argmax pyramids per query).
  *
  * Bit parity: identical float ops in identical order as the Column
  * formulation (left-to-right dots, Math.floor quantization, exact long
  * partial sums, Double.compare orderings); candidate cosines are the
  * same doubles, so the final row_number window returns the same rows.
  * Pinned in IvfCosTopkSpec; the unchanged oracles hash-match at both
  * SFs.
  */
object IvfCosTopk {

  /** @param e         (vec_id, v: array<double>, n2) corpus frame
    * @param k         coarse cell count
    * @param nQueries  queries = vec_id < nQueries
    * @param topK      neighbours per query
    * @param lloyd     refine seeds with one exact-quantized Lloyd step
    * @param evenBase  build the index from the EVEN-id half only (the
    *                  append shape: seeds = even ids < 2k, Lloyd pass
    *                  over even ids; odd ids route to the frozen cells)
    * @return (q_id, rk, vec_id, cos)
    */
  def topk(e: DataFrame, k: Int, nQueries: Int, topK: Int,
           lloyd: Boolean, evenBase: Boolean = false): DataFrame = {
    val s = e.sparkSession
    val sc = s.sparkContext
    import s.implicits._
    // persist only when the Lloyd pass makes it three corpus reads; the
    // two-pass no-Lloyd shape is cheaper re-scanning the (pushdown-
    // filtered) source than materializing a cache (measured r16:
    // cache build ≈ 200 ms vs ~40 ms/scan at sf0.1). Runner clearCache
    // releases the persist (QueryDef lifecycle).
    val ds0 = e.select(col("vec_id"), col("v"), col("n2")).as[V]
    val ds: Dataset[V] = if (lloyd) ds0.persist() else ds0
    // ---- seeds + queries (k-bounded driver state) ----
    // Column (not lambda) filter: pushes down instead of deserializing
    // the whole corpus to find the k-bounded head
    val seedPred =
      if (evenBase) col("vec_id") % 2 === 0 && col("vec_id") < 2L * k
      else col("vec_id") < k
    val head = ds.filter(seedPred || col("vec_id") < nQueries)
      .collect().sortBy(_.vec_id)
    val seeds = head.filter(x =>
      if (evenBase) x.vec_id % 2 == 0 && x.vec_id < 2L * k else x.vec_id < k)
    val cents0 = seeds.map(x => Cent(x.vec_id, x.v.toArray, x.n2))
    // no seed, no cell: no query has a candidate, as in the SQL twin
    if (cents0.isEmpty)
      return Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rk", "vec_id", "cos")
    val dim = cents0(0).cv.length

    val cents: Array[Cent] =
      if (!lloyd) cents0
      else {
        // one Lloyd step over the index-build subset (flat partials, the
        // IvfPqResidual pass-A shape)
        val bc0 = sc.broadcast(cents0)
        val nCells = cents0.length
        val base = if (evenBase) ds.filter(col("vec_id") % 2 === 0) else ds
        val pa = base.mapPartitions { it =>
          val cs = bc0.value
          val acc = new Array[Long](nCells + nCells * dim)
          var any = false
          it.foreach { x =>
            val v = x.v.toArray
            val cell = assignCell(cs, v, x.n2)
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
        val merged = new Array[Long](nCells + nCells * dim)
        pa.foreach { p =>
          var i = 0
          while (i < p.length) { merged(i) = Math.addExact(merged(i), p(i)); i += 1 }
        }
        (0 until nCells).collect {
          case i if merged(i) > 0 =>
            val cv = meansOf(java.util.Arrays.copyOfRange(
              merged, nCells + i * dim, nCells + (i + 1) * dim), merged(i))
            Cent(cents0(i).cid, cv, dot(cv, cv))
        }.toArray
      }

    // queries with their cell under the final centroids — the same
    // assignment formula their distributed twin ran
    val queries = head.filter(_.vec_id < nQueries).map { q =>
      val qv = q.v.toArray
      (q.vec_id, qv, q.n2, cents(assignCell(cents, qv, q.n2)).cid)
    }

    // ---- candidate pass: same-cell cosines ----
    val bcents = sc.broadcast(cents)
    val bq = sc.broadcast(queries)
    val cands = ds.mapPartitions { it =>
      val cs = bcents.value
      val qs = bq.value
      it.flatMap { x =>
        val v = x.v.toArray
        val cid = cs(assignCell(cs, v, x.n2)).cid
        qs.iterator.collect {
          case (qId, qv, qn2, qcell) if qcell == cid && x.vec_id != qId =>
            (qId, x.vec_id, dot(qv, v) / (math.sqrt(qn2) * math.sqrt(x.n2)))
        }
      }
    }.toDF("q_id", "vec_id", "cos")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    cands
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("q_id", "rk", "vec_id", "cos")
      .orderBy("q_id", "rk")
  }
}
