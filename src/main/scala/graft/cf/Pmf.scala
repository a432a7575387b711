package graft.cf

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col

import graft.cf.AlsNormal.Factors

/** Bayesian probabilistic matrix factorization by Gibbs-style sampling —
  * the reference's `toolkits/collaborative_filtering/pmf.cpp` (433 LoC):
  * alternate conditional draws of user/item factors around the
  * regularized least-squares mean, then average predictions over the
  * post-burn-in samples (Rao-Blackwellized posterior mean). The draw
  * adds hash-derived noise (xxhash64 → uniforms → Box–Muller), so runs
  * are deterministic, with no driver RNG state.
  *
  * Spark shape: [[AlsNormal]]'s ratings layout, built once per call. The
  * noise is a narrow pass over the state and the ALS iteration two
  * supersteps; kept samples stay in the state, so the chain runs in the
  * one job that collects the trace. mean_s(p_s·q_s) is the dot product
  * of each side's kept factors concatenated, over the sample count: one
  * `AlsNormal.predict`.
  */
object Pmf {

  final case class Model(meanPrediction: DataFrame, trainRmse: Seq[Double])

  /** One ALS iteration from the hash-seeded start, then `burnIn +
    * samples` sweeps, each adding noise to the item factors and running
    * one ALS iteration conditioned on the draw; the trace is each sweep's
    * train RMSE. `meanPrediction` has one row per distinct (user, item)
    * pair of `ratings` whose user and item have factors: p·q averaged
    * over the last `samples` sweeps. `noiseScale` is the posterior scale
    * (σ/√n analog — the reference draws from the exact Wishart-posterior
    * covariance; we use the diagonal approximation). The draws are
    * unweighted: a `weight` column is ignored.
    */
  def train(ratings: DataFrame, rank: Int = 8, burnIn: Int = 2,
            samples: Int = 3, lambda: Double = 0.065,
            noiseScale: Double = 0.01, seed: Long = 42L): Model = {
    require(samples > 0, s"Pmf.train: samples must be positive, not $samples")
    val r = ratings.drop("weight")
    val l = new AlsNormal.Layout(r, "Pmf.train")
    var state = AlsNormal.iteration(l, AlsNormal.start(l, rank, seed), rank, lambda)
    for (sweep <- 1 to burnIn + samples) {
      state = AlsNormal.iteration(l, noisy(l, state, rank, sweep, noiseScale, seed), rank, lambda)
      if (sweep > burnIn) state = state.map(s => s.copy(kept = s.kept :+ ((s.p, s.q))))
    }
    val kept = AlsNormal.model(l, state.map(concatenated(rank)), 1 + burnIn + samples, rank * samples)
    Model(AlsNormal.predict(kept, r.select("user", "item").distinct())
      .select(col("user"), col("item"), (col("pred") / samples).as("pred")), kept.trainRmse.tail)
  }

  /** `s` with each vertex's factors those of every kept sample in turn;
    * every sample has the same vertices with a factor.
    */
  private def concatenated(rank: Int)(s: Factors): Factors = {
    def cat(xs: List[Array[Double]]) = Array.concat(s.p.indices.by(rank).flatMap(i => xs.map(_.slice(i, i + rank))): _*)
    s.copy(p = cat(s.kept.map(_._1)), q = cat(s.kept.map(_._2)), kept = Nil)
  }

  /** `state` plus `noiseScale` times N(0, 1) on each item factor entry:
    * Box–Muller over the uniforms `(pmod(xxhash64(id, k, sweep, s), 10⁶) +
    * 1) / (10⁶ + 1)` for s = `seed` and `seed + 77`, as Spark would hash.
    */
  private def noisy(l: AlsNormal.Layout, state: RDD[Factors], rank: Int, sweep: Int, noiseScale: Double,
                    seed: Long): RDD[Factors] = {
    val itemType = l.itemType
    l.g.parts.zipPartitions(state) { (ps, ss) =>
      val (part, s) = (ps.next(), ss.next())
      val q = s.q.clone()
      for (v <- 0 until part.size if s.hasQ.get(v); k <- 0 until rank) {
        val h = XXH64.hashInt(sweep, XXH64.hashInt(k, AlsNormal.idHash(part.ids(v), itemType)))
        def u(seed: Long) = (Math.floorMod(XXH64.hashLong(seed, h), 1000000L).toDouble + 1.0) / 1000001.0
        q(rank * v + k) += Math.sqrt(-2.0 * StrictMath.log(u(seed))) * Math.cos(2.0 * math.Pi * u(seed + 77)) * noiseScale
      }
      Iterator(s.copy(q = q))
    }
  }
}
