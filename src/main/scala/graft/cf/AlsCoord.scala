package graft.cf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cyclic coordinate descent ALS — the reference's
  * `toolkits/collaborative_filtering/als_coord.cpp` (CCD++): instead of
  * a rank×rank solve per vertex, each factor coordinate d is updated in
  * turn with the closed-form 1-D least-squares solution
  *
  *   p_{u,d} ← Σ_i (e_ui + p_{u,d} q_{i,d}) q_{i,d} / (λ + Σ_i q_{i,d}²)
  *
  * where e = r − p·q is the current residual. One coordinate update is
  * a join + groupBy (shuffle keyed by the updated side); an iteration
  * cycles all coordinates on both sides. Rank stays small (CCD's whole
  * point), so this is 2·rank shuffles per iteration of narrow scalar
  * rows.
  */
object AlsCoord {

  final case class Model(userFactors: DataFrame, itemFactors: DataFrame,
                         trainRmse: Seq[Double])

  private def dotArr(a: Column, b: Column): Column =
    graft.functions.VecDot.of(a, b)

  private def initFactors(ids: DataFrame, rank: Int, seed: Long): DataFrame =
    ids.select(col("id"),
      transform(sequence(lit(0), lit(rank - 1)),
        k => pmod(xxhash64(col("id"), k, lit(seed)), lit(1000L)).cast("double") / 1000.0)
        .as("f"))

  def train(ratings: DataFrame, rank: Int = 4, iterations: Int = 3,
            lambda: Double = 0.065, seed: Long = 42L): Model = {
    val r = ratings.select(col("user"), col("item"), col("rating").cast("double"))
      .repartition(col("user")).transform(graft.graph.Iterate.ckpt)
    var uf = initFactors(r.select(col("user").as("id")).distinct(), rank, seed)
      .select(col("id").as("user"), col("f").as("p"))
      .transform(graft.graph.Iterate.ckpt)
    var vf = initFactors(r.select(col("item").as("id")).distinct(), rank, seed + 1)
      .select(col("id").as("item"), col("f").as("q"))
      .transform(graft.graph.Iterate.ckpt)

    var rmses = Vector.empty[Double]
    // deferred trace (see MfSgd.train)
    var rmseFrames = Vector.empty[DataFrame]
    // r16: the coordinate update is computed INSIDE the solve aggregate
    // instead of joining the 1-column solve result back onto the factor
    // table. The executed before-shape (OPTIMIZATION_r16.md batch 2) ran
    // that update join as a SortMergeJoin with an exchange + sort on BOTH
    // 1500-row sides, 16× per query — the
    // aggregate side's estimated stats defeat the broadcast choice and
    // q54's stage table showed 159 near-sequential ~73 ms stages. The
    // old factor vector is constant within each group (it arrived via
    // the equi-join on the grouping key), so carrying its elements as
    // scalar first()s — fixed-width agg buffers, keeps the codegen'd
    // HashAggregate — and assembling the updated array in the output
    // projection is value-identical: same solve sums over the same rows
    // in the same stage and order, same factor doubles copied through.
    // The dropped left-join null branch was dead — factor ids are
    // exactly r's distinct keys, so every group exists on both sides.
    def firstsOf(vec: Column, prefix: String) =
      (0 until rank).map(i => first(element_at(vec, i + 1)).as(s"$prefix$i"))
    def updated(prefix: String, d: Int) =
      array((0 until rank).map(i =>
        if (i == d) col("nd") else col(s"$prefix$i")): _*)
    for (iter <- 1 to iterations) {
      for (d <- 0 until rank) {
        // user side, coordinate d
        val ju = r.join(uf, "user").join(vf, "item")
          .withColumn("e", col("rating") - dotArr(col("p"), col("q")))
          .withColumn("pd", element_at(col("p"), d + 1))
          .withColumn("qd", element_at(col("q"), d + 1))
        uf = ju.groupBy("user")
          .agg((sum((col("e") + col("pd") * col("qd")) * col("qd")) /
            (lit(lambda) + sum(col("qd") * col("qd")))).as("nd"),
            firstsOf(col("p"), "p"): _*)
          .select(col("user"), updated("p", d).as("p"))
          .transform(graft.graph.Iterate.ckpt)
        // item side, coordinate d
        val ji = r.join(uf, "user").join(vf, "item")
          .withColumn("e", col("rating") - dotArr(col("p"), col("q")))
          .withColumn("pd", element_at(col("p"), d + 1))
          .withColumn("qd", element_at(col("q"), d + 1))
        vf = ji.groupBy("item")
          .agg((sum((col("e") + col("pd") * col("qd")) * col("pd")) /
            (lit(lambda) + sum(col("pd") * col("pd")))).as("nd"),
            firstsOf(col("q"), "q"): _*)
          .select(col("item"), updated("q", d).as("q"))
          .transform(graft.graph.Iterate.ckpt)
      }
      val preds = r.join(uf, "user").join(vf, "item")
        .select(col("rating"), dotArr(col("p"), col("q")).as("pred"))
      rmseFrames :+= preds
        .agg(sqrt(avg(pow(col("rating") - col("pred"), 2))).as("rmse"))
        .select(lit(iter).as("it"), col("rmse"))
    }
    if (rmseFrames.nonEmpty)
      rmses = rmseFrames.reduce(_ unionAll _).orderBy("it").collect()
        .map(_.getDouble(1)).toVector
    Model(uf.select(col("user").as("id"), col("p").as("f")),
      vf.select(col("item").as("id"), col("q").as("f")), rmses)
  }
}
