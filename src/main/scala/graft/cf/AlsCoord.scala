package graft.cf

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.graph.ArrayGraph

/** Cyclic coordinate descent ALS — the reference's
  * `toolkits/collaborative_filtering/als_coord.cpp` (CCD++): instead of
  * a rank×rank solve per vertex, each factor coordinate d is updated in
  * turn with the closed-form 1-D least-squares solution
  *
  *   p_{u,d} ← Σ_i (e_ui + p_{u,d} q_{i,d}) q_{i,d} / (λ + Σ_i q_{i,d}²)
  *
  * where e = r − p·q is the current residual.
  *
  * Spark shape: [[AlsNormal]]'s ratings layout, built once per call.
  * Coordinate d of every user is one superstep over the reversed graph,
  * in which each item ships its factor once per partition pair, and of
  * every item one over the graph, in which each user ships its updated
  * factor. All 2·rank·iterations supersteps chain lazily into the one job
  * that collects the trace.
  */
object AlsCoord {

  /** Train CCD++ on `ratings`' integral `user` and `item` ids and their
    * `rating`; a `weight` column is ignored, rows with a null user, item
    * or rating are skipped, and duplicate rows each count. Users start
    * from `pmod(xxhash64(id, k, seed), 1000) / 1000` and items likewise
    * from `seed + 1`. Each iteration's unweighted train RMSE is folded
    * into its last item superstep.
    */
  def train(ratings: DataFrame, rank: Int = 4, iterations: Int = 3,
            lambda: Double = 0.065, seed: Long = 42L): AlsNormal.Model = {
    val l = new AlsNormal.Layout(ratings.drop("weight"), "AlsCoord.train")
    var state = AlsNormal.start(l, rank, seed + 1, userSeed = Some(seed))
    for (_ <- 1 to iterations; d <- 0 until rank)
      state = step(l.g, step(l.g.reversed, state, rank, lambda, d, items = false), rank, lambda, d, items = true)
    AlsNormal.model(l, state, iterations, rank)
  }

  /** Coordinate d of every item (`items`, over `g`) or user (over the
    * reversed graph); the last coordinate's item step logs the RMSE sums.
    */
  private def step(g: ArrayGraph, state: RDD[AlsNormal.Factors], rank: Int, lambda: Double, d: Int,
                   items: Boolean): RDD[AlsNormal.Factors] =
    g.superstep(state, rank) { (_, s) =>
      ((if (items) s.p else s.q).map(doubleToRawLongBits), ArrayGraph.All)
    } { (part, s, in) =>
      val (x, sums, last) = (if (items) s.q else s.p, new Array[Double](3), items && d == rank - 1)
      for (v <- 0 until part.size if part.inDegree(v) > 0) {
        val (k, e) = (in.gather(v), part.inOff(v)) // in-value j is in-edge e + j, which carries (rating, weight)
        def y(j: Int, i: Int) = longBitsToDouble(in.values(rank * j + i)) // entry i of in-value j's factor
        def err(j: Int) = { // in-edge e + j's residual r − p·q
          var (dot, i) = (0.0, 0)
          while (i < rank) { dot += x(rank * v + i) * y(j, i); i += 1 }
          part.inData(2 * (e + j)) - dot
        }
        var (num, den) = (0.0, 0.0)
        for (j <- 0 until k) {
          num += (err(j) + x(rank * v + d) * y(j, d)) * y(j, d)
          den += y(j, d) * y(j, d)
        }
        x(rank * v + d) = num / (lambda + den)
        if (last) for (j <- 0 until k) { val r = err(j); sums(0) += r * r; sums(1) += 1; sums(2) += 1 }
      }
      if (last) s.copy(log = s.log ++ sums) else s
    }
}
