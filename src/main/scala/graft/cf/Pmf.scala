package graft.cf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bayesian probabilistic matrix factorization by Gibbs-style sampling —
  * the reference's `toolkits/collaborative_filtering/pmf.cpp` (433 LoC):
  * alternate conditional draws of user/item factors around the
  * regularized least-squares mean, then average predictions over the
  * post-burn-in samples (Rao-Blackwellized posterior mean).
  *
  * The conditional mean is the same per-vertex normal-equation solve as
  * ALS; the draw adds posterior-scale noise. Noise is hash-derived
  * (xxhash64 → uniforms → Box–Muller), so runs are deterministic and
  * distributed — no driver RNG state, no non-reproducible sampling.
  */
object Pmf {

  final case class Model(meanPrediction: DataFrame, trainRmse: Seq[Double])

  private def dotArr(a: Column, b: Column): Column =
    graft.functions.VecDot.of(a, b)

  /** Deterministic N(0,1) per (id, dim, sweep): Box–Muller over two
    * xxhash64-derived uniforms in (0,1].
    */
  private def gaussian(id: Column, dim: Column, sweep: Int, seed: Long): Column = {
    val u1 = (pmod(xxhash64(id, dim, lit(sweep), lit(seed)), lit(1000000L))
      .cast("double") + 1.0) / 1000001.0
    val u2 = (pmod(xxhash64(id, dim, lit(sweep), lit(seed + 77)), lit(1000000L))
      .cast("double") + 1.0) / 1000001.0
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** Run `burnIn + samples` Gibbs sweeps; predictions from the last
    * `samples` sweeps are averaged. `noiseScale` is the posterior scale
    * (σ/√n analog — the reference draws from the exact Wishart-posterior
    * covariance; we use the diagonal approximation).
    */
  def train(ratings: DataFrame, rank: Int = 8, burnIn: Int = 2,
            samples: Int = 3, lambda: Double = 0.065,
            noiseScale: Double = 0.01, seed: Long = 42L): Model = {
    val r = ratings.drop("weight") // the draws are unweighted
    var rmses = Vector.empty[Double]
    var accum: DataFrame = null
    var model = AlsNormal.train(r, rank, iterations = 1, lambda, seed)
    for (sweep <- 1 to (burnIn + samples)) {
      // perturb item factors with posterior-scale noise, then one ALS
      // sweep conditioned on the draw
      val noisy = model.itemFactors.select(col("id"),
        zip_with(col("f"),
          transform(sequence(lit(0), lit(rank - 1)),
            k => gaussian(col("id"), k, sweep, seed) * noiseScale),
          (f, n) => f + n).as("f"))
      model = AlsNormal.train(r, rank, iterations = 1, lambda, seed,
        warmStartItemFactors = Some(noisy))
      rmses :+= model.trainRmse.last
      if (sweep > burnIn) {
        val preds = AlsNormal.predict(model, r.select("user", "item"))
          .select(col("user"), col("item"), col("pred"))
        accum = if (accum == null) preds
          else accum.union(preds).groupBy("user", "item").agg(sum("pred").as("pred"))
            .transform(graft.graph.Iterate.ckpt)
      }
    }
    val mean = accum.groupBy("user", "item")
      .agg((sum("pred") / samples).as("pred"))
    Model(mean, rmses)
  }
}
