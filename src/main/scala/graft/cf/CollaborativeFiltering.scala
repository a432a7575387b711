package graft.cf

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Collaborative-filtering toolkit — the reference's
  * `toolkits/collaborative_filtering/` programs (SURVEY.md §2.11) on a
  * ratings DataFrame (`user: LONG, item: LONG, rating: DOUBLE`).
  */
object CollaborativeFiltering {

  // ---- baseline predictors (baseline.cpp) ------------------------------

  /** Global mean + user bias + item bias predictor — `baseline.cpp`.
    * Returns (user, item, rating, pred).
    */
  def baselinePredictions(ratings: DataFrame): DataFrame = {
    val mu = ratings.agg(avg("rating")).collect()(0).getDouble(0)
    val userBias = ratings.groupBy("user").agg((avg("rating") - mu).as("bu"))
    val itemBias = ratings.groupBy("item").agg((avg("rating") - mu).as("bi"))
    ratings.join(userBias, "user").join(itemBias, "item")
      .select(col("user"), col("item"), col("rating"),
        (lit(mu) + col("bu") + col("bi")).as("pred"))
  }

  /** RMSE of a predictions frame — `rmse.hpp` semantics. */
  def rmse(preds: DataFrame, ratingCol: String = "rating",
           predCol: String = "pred"): Double =
    preds.agg(sqrt(avg(pow(col(ratingCol) - col(predCol), 2)))).collect()(0)
      .getDouble(0)

  // ---- ALS (als.cpp → ml.recommendation.ALS) ---------------------------

  /** Train explicit-feedback ALS — the reference's `als.cpp` per-vertex
    * normal-equation solver is exactly what ml.ALS distributes (blocked
    * normal equations + Cholesky).
    */
  def trainAls(ratings: DataFrame, rank: Int = 10, maxIter: Int = 10,
               regParam: Double = 0.065, implicitPrefs: Boolean = false,
               seed: Long = 42L): ALSModel =
    new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setImplicitPrefs(implicitPrefs).setSeed(seed)
      .setColdStartStrategy("drop")
      .fit(ratings)

  /** Validation-driven training with halt-on-RMSE-increase — the
    * reference's `rmse_engine.hpp:93-99` early stop. ml.ALS doesn't
    * expose per-iteration hooks, so this retrains with growing iteration
    * counts (cheap at the small ranks the reference uses) and stops when
    * validation RMSE rises.
    */
  def trainAlsEarlyStop(train: DataFrame, validation: DataFrame,
                        rank: Int = 10, maxIters: Int = 10,
                        regParam: Double = 0.065,
                        step: Int = 2): (ALSModel, Double, Int) = {
    var best: ALSModel = null
    var bestRmse = Double.MaxValue
    var bestIter = 0
    var it = step
    var halted = false
    while (it <= maxIters && !halted) {
      val m = trainAls(train, rank, it, regParam)
      val r = validationRmse(m, validation)
      if (r < bestRmse) { best = m; bestRmse = r; bestIter = it }
      else halted = true
      it += step
    }
    (best, bestRmse, bestIter)
  }

  def validationRmse(model: ALSModel, validation: DataFrame): Double =
    new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(model.transform(validation))

  /** Batch top-K recommendations for all users — the reference's
    * `rating.cpp` (`rating.cpp:24-48`). Returns (user, rank, item, score).
    *
    * With `excludeRatings` set, already-rated training pairs are skipped
    * exactly like the reference (`rating.cpp:233` `if (... rated) continue`).
    * The reference scores ALL items per user and drops rated ones from
    * the heap; here we request the top k+maxUserDegree from the blocked
    * GEMM top-K — strictly less work than that full per-user item scan —
    * then anti-join the training pairs and re-rank, which leaves ≥ k
    * survivors per user by construction.
    */
  def recommendTopK(model: ALSModel, k: Int,
                    excludeRatings: Option[DataFrame] = None,
                    pad: Int = -1,
                    maxBroadcastFloats: Long = MaxBroadcastFloats): DataFrame =
    excludeRatings match {
      case None =>
        model.recommendForAllUsers(k)
          .select(col("user"), posexplode(col("recommendations")))
          .select(col("user"), (col("pos") + 1).as("rank"),
            col("col.item").as("item"), col("col.rating").as("score"))
      case Some(ratings) =>
        // Two-phase exclusion. Asking the blocked GEMM for
        // top-(k+maxUserDegree) makes EVERY user pay the heaviest
        // user's heap depth (measured 33 s vs 1.5 s at sf0.1 for
        // k=5/maxDeg=105). Instead: top-(k+pad) for everyone, and only
        // users whose top-(k+pad) was swamped by already-rated items
        // (rare — ALS ranks trained pairs high, but pad absorbs it)
        // fall back to an exact scored scan of the full item set,
        // restricted to just those users. Results are exactly the
        // reference's (`rating.cpp:233`): any unrated item outside the
        // top-(k+pad) scores below k unrated survivors inside it.
        val train = ratings.select("user", "item").distinct()
          .transform(graft.graph.Iterate.ckpt)
        val p = if (pad >= 0) pad else 4 * k + 8
        val itemFloats = itemMatrixFloats(model) // one count job, reused below
        val top = topNByBroadcast(model, k + p, maxBroadcastFloats, itemFloats)
        val unrated = top.join(train, Seq("user", "item"), "left_anti")
          .transform(graft.graph.Iterate.ckpt)
        // Needy = users with < k unrated survivors, computed over the
        // FULL user set: a user whose entire top-(k+pad) is already
        // rated has no group in `unrated` at all, so deriving needy from
        // the groupBy alone would silently drop them from the output —
        // the reference still returns k unrated items for such users
        // (`rating.cpp:233`). Left-join the counts onto every model user
        // and coalesce missing counts to 0.
        val nOkPerUser = unrated.groupBy("user").agg(count(lit(1)).as("nOk"))
        val needy = model.userFactors.select(col("id").as("user"))
          .join(nOkPerUser, Seq("user"), "left")
          .filter(coalesce(col("nOk"), lit(0L)) < k).select("user")
        // exact fallback: score every item for the (few) needy users
        val uf = model.userFactors.join(needy, col("id") === needy("user"))
          .select(col("user"),
            transform(col("features"), x => x.cast("double")).as("ufeat"))
        val itemFeat = model.itemFactors.select(col("id").as("item"),
          transform(col("features"), x => x.cast("double")).as("ifeat"))
        val itemSide =
          if (itemFloats <= maxBroadcastFloats) broadcast(itemFeat)
          else itemFeat
        val fallback = uf.crossJoin(itemSide)
          .select(col("user"), col("item"),
            graft.functions.VecDot.of(col("ufeat"), col("ifeat")).as("score"))
          .join(train, Seq("user", "item"), "left_anti")
        val w = Window.partitionBy("user").orderBy(desc("score"), asc("item"))
        unrated.join(needy, Seq("user"), "left_anti").unionByName(fallback)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("user"), col("rank"), col("item"), col("score"))
    }

  /** Broadcast budget for the item-factor matrix, in float cells
    * (items × rank). The default (64M floats ≈ 256 MB) keeps the
    * driver collect + task-side broadcast comfortably inside typical
    * executor memory; beyond it [[recommendTopK]] routes through ml's
    * fully-distributed blocked top-N instead.
    */
  val MaxBroadcastFloats: Long = 64L * 1024 * 1024

  private def itemMatrixFloats(model: ALSModel): Long =
    model.itemFactors.count() * model.rank

  /** Top-N scored items per user by broadcast item-matrix GEMV — the
    * reference's own batch-ranking shape (`rating.cpp:190-240`: each
    * user scans every item with a bounded heap), distributed over user
    * partitions. The item factor matrix rides one broadcast as primitive
    * float arrays and each task runs an allocation-free dot+insertion
    * loop — ml's `recommendForAllUsers` routes the same 300M dots
    * through per-pair tuple allocations and was measured 10× slower.
    * Right-sized whenever items fit a broadcast (the usual CF shape:
    * users ≫ items; 10M items × rank 8 ≈ 320 MB); when the item matrix
    * exceeds `maxBroadcastFloats` cells the driver collect would OOM
    * (100M items × rank 10 = 4 GB), so the call routes through ml's
    * blocked GEMM top-N, which keeps both factor sides distributed.
    */
  private[cf] def topNByBroadcast(model: ALSModel, n: Int,
      maxBroadcastFloats: Long = MaxBroadcastFloats,
      precomputedItemFloats: Long = -1L): DataFrame = {
    val spark = model.userFactors.sparkSession
    import spark.implicits._
    val rank = model.rank
    val itemFloats =
      if (precomputedItemFloats >= 0) precomputedItemFloats
      else itemMatrixFloats(model)
    if (itemFloats > maxBroadcastFloats)
      return model.recommendForAllUsers(n)
        .select(col("user"), explode(col("recommendations")).as("rec"))
        .select(col("user"), col("rec.item").as("item"),
          col("rec.rating").cast("double").as("score"))
    val items = model.itemFactors
      .select(col("id"), col("features")).as[(Int, Array[Float])]
      .collect().sortBy(_._1)
    val ids = items.map(_._1)
    val mat = new Array[Float](items.length * rank)
    var i = 0
    while (i < items.length) {
      System.arraycopy(items(i)._2, 0, mat, i * rank, rank); i += 1
    }
    val bIds = spark.sparkContext.broadcast(ids)
    val bMat = spark.sparkContext.broadcast(mat)
    model.userFactors.repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), col("features")).as[(Int, Array[Float])]
      .mapPartitions { it =>
        val iids = bIds.value; val m = bMat.value
        val nItems = iids.length
        it.flatMap { case (u, uf) =>
          // bounded selection: sorted arrays of the current top n
          // (score desc, id asc on ties — ids scan ascending so
          // strict > keeps the lowest id)
          val ts = new Array[Float](n); val ti = new Array[Int](n)
          var filled = 0
          var j = 0
          while (j < nItems) {
            var s = 0.0f; var d = 0; val off = j * rank
            while (d < rank) { s += uf(d) * m(off + d); d += 1 }
            if (filled < n || s > ts(filled - 1)) {
              var p = math.min(filled, n - 1)
              while (p > 0 && ts(p - 1) < s) {
                ts(p) = ts(p - 1); ti(p) = ti(p - 1); p -= 1
              }
              ts(p) = s; ti(p) = iids(j)
              if (filled < n) filled += 1
            }
            j += 1
          }
          (0 until filled).iterator.map(x => (u, ti(x), ts(x).toDouble))
        }
      }.toDF("user", "item", "score")
  }

  // ---- item-item similarity (itemcf.cpp) -------------------------------

  /** Similarity metrics from `itemcf.cpp:52-58`. */
  sealed trait ItemSimMetric
  case object Jaccard extends ItemSimMetric
  case object AdamicAdar extends ItemSimMetric      // AA
  case object ResourceAllocation extends ItemSimMetric // RA
  case object AsymCosine extends ItemSimMetric
  case object Prob extends ItemSimMetric

  /** Item-item similarity via the co-rating self-join, with
    * `min_allowed_intersection` pruning pushed before the pair
    * explosion (the reference's pivot-intersection, `itemcf.cpp`).
    * For AA/RA the per-user weight 1/log(deg) / 1/deg is attached to
    * the shared user before pairing. Returns (i1, i2, sim).
    */
  /** @param maxUserDegree users rating more than this many items are
    *   excluded from pair generation — the standard cap on the quadratic
    *   per-user pair explosion under power-law skew (the role the
    *   reference's pivot memory bound plays). Item counts `n1`/`n2` are
    *   computed AFTER the cap so Jaccard denominators stay consistent
    *   with the numerators.
    */
  def itemSimilarity(ratings: DataFrame, metric: ItemSimMetric,
                     minIntersection: Int = 1,
                     alpha: Double = 0.5,
                     maxUserDegree: Int = 500): DataFrame =
    itemSimilarities(ratings, Seq(metric), minIntersection, alpha,
      maxUserDegree).drop("metric")

  /** Metric tags for the multi-metric form ("aa", "ra", …). */
  def metricTag(m: ItemSimMetric): String = m match {
    case Jaccard => "jaccard";         case AdamicAdar => "aa"
    case ResourceAllocation => "ra";   case AsymCosine => "asym_cos"
    case Prob => "prob"
  }

  /** Several metrics over ONE co-rating pair explosion: the quadratic
    * self-join and its aggregation run once — per-user weight sums for
    * AA/RA ride the same groupBy — and each metric is a projection of
    * the shared (co, w_aa, w_ra, n1, n2) row. Returns
    * (metric, i1, i2, sim).
    */
  def itemSimilarities(ratings: DataFrame, metrics: Seq[ItemSimMetric],
                       minIntersection: Int = 1,
                       alpha: Double = 0.5,
                       maxUserDegree: Int = 500): DataFrame = {
    val r0 = ratings.select("user", "item").distinct()
    val userDeg = r0.groupBy("user").agg(count(lit(1)).as("udeg"))
      .filter(col("udeg") <= maxUserDegree)
    val r = r0.join(userDeg.select("user"), "user")
    val itemCnt = r.groupBy("item").agg(count(lit(1)).as("n"))
    val withW = r.join(userDeg, "user")
    val pairs = withW.select(col("user"), col("item").as("i1"), col("udeg"))
      .join(withW.select(col("user"), col("item").as("i2")), "user")
      .filter(col("i1") < col("i2"))
    val needAa = metrics.contains(AdamicAdar)
    val needRa = metrics.contains(ResourceAllocation)
    val aggs =
      (if (needAa) Seq(sum(lit(1.0) / log(col("udeg"))).as("w_aa")) else Nil) ++
      (if (needRa) Seq(sum(lit(1.0) / col("udeg")).as("w_ra")) else Nil)
    val co = pairs.groupBy("i1", "i2")
      .agg(count(lit(1)).as("co"), aggs: _*)
    val pruned = co.filter(col("co") >= minIntersection)
      .join(broadcast(itemCnt.select(col("item").as("i1"), col("n").as("n1"))), "i1")
      .join(broadcast(itemCnt.select(col("item").as("i2"), col("n").as("n2"))), "i2")
      .transform(df => if (metrics.length > 1) graft.graph.Iterate.ckpt(df)
                       else df)
    def simOf(m: ItemSimMetric): Column = m match {
      case Jaccard    => col("co") / (col("n1") + col("n2") - col("co"))
      case AsymCosine => col("co") / (pow(col("n1"), alpha) * pow(col("n2"), 1 - alpha))
      case Prob       => col("co") / col("n1")
      case AdamicAdar => col("w_aa")
      case ResourceAllocation => col("w_ra")
    }
    metrics.map(m => pruned.select(lit(metricTag(m)).as("metric"),
        col("i1"), col("i2"), round(simOf(m), 6).as("sim")))
      .reduce(_ unionAll _)
  }

  /** Per-edge weighted Jaccard similarity — the reference's `itemcf3`
    * with `--distance=9` (JACCARD_WEIGHT, `itemcf3.cpp:225-296` +
    * `distance.hpp:68-79`): for each CONNECTED pair (a, b),
    * sim = w(a,b) / (strength(a) + strength(b) − w(a,b)) where
    * strength(v) = Σ incident edge values. One row per undirected edge,
    * printed (i1 = larger id, i2 = smaller id) like the reference's
    * "compare only to pivots smaller than this id" order; exact zeros
    * dropped (`itemcf3.cpp:292`). Input: (src, dst, value).
    */
  def edgeWeightedJaccard(edges: DataFrame): DataFrame = {
    val sym = graft.graph.PropertyGraph
      .fromEdges(edges.select(col("src"), col("dst"), col("value")))
      .bothDirections.edges
    val strength = sym.groupBy("src").agg(sum("value").as("s"))
    sym.filter(col("src") > col("dst"))
      .join(strength.select(col("src"), col("s").as("s1")), "src")
      .join(strength.select(col("src").as("d2"), col("s").as("s2")),
        col("dst") === col("d2"))
      .select(col("src").as("i1"), col("dst").as("i2"),
        (col("value") / (col("s1") + col("s2") - col("value"))).as("sim"))
      .filter(col("sim") =!= 0.0)
  }

  /** similarity ⋈ ratings → top-K recommendations per user — the
    * reference's `itemsim2rating.cpp`: score(u, j) = Σ_{i rated by u}
    * sim(i, j); already-rated items excluded.
    */
  def itemSimToRatings(ratings: DataFrame, sims: DataFrame, k: Int): DataFrame = {
    val r = ratings.select("user", "item").distinct()
    // r16 (guide §1.2 don't-recompute): both orientations of each sim
    // edge come from ONE explode instead of union(sims, sims.flipped) —
    // the union form instantiated the whole pair-explosion subtree
    // twice in the plan (ReuseExchange dedups only the shuffle below
    // the co-count aggregate, so the reduce-side aggregate and both
    // broadcast joins still executed twice). Same row multiset; the
    // per-(user, rec) score sums accumulate in probe-row order of the
    // unchanged ratings side, so scores are bit-identical.
    val bidir = sims.select(explode(array(
        struct(col("i1").as("item"), col("i2").as("other"), col("sim")),
        struct(col("i2").as("item"), col("i1").as("other"), col("sim"))))
        .as("e"))
      .select(col("e.item").as("item"), col("e.other").as("other"),
        col("e.sim").as("sim"))
    val scored = r.join(bidir, "item")
      .groupBy(col("user"), col("other").as("rec"))
      .agg(round(sum("sim"), 6).as("score"))
      .join(r.withColumnRenamed("item", "rec"), Seq("user", "rec"), "left_anti")
    val w = Window.partitionBy("user").orderBy(desc("score"), asc("rec"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- ranking metrics (metric_eval.cpp, mrr_engine.hpp) ---------------

  /** MAP@K / precision@K / MRR of recommendations vs held-out truth.
    * `recs`: (user, item, rank), `truth`: (user, item). Returns a
    * single-row frame (map_at_k, precision_at_k, mrr, n_users).
    */
  def rankingMetrics(recs: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val t = truth.select("user", "item").distinct()
    val hits = recs.filter(col("rank") <= k)
      .join(t.withColumn("hit", lit(1)), Seq("user", "item"), "left")
      .na.fill(0, Seq("hit"))
    val perUser = hits.withColumn("cumHits",
        sum("hit").over(Window.partitionBy("user").orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user")
      .agg(
        (sum(when(col("hit") === 1, col("cumHits") / col("rank")).otherwise(0.0)))
          .as("apNum"),
        sum("hit").as("nHits"),
        min(when(col("hit") === 1, col("rank"))).as("firstHit"))
    val truthCnt = t.groupBy("user").agg(count(lit(1)).as("nTruth"))
    perUser.join(truthCnt, "user")
      .select(
        (col("apNum") / least(col("nTruth"), lit(k))).as("ap"),
        (col("nHits") / lit(k.toDouble)).as("prec"),
        coalesce(lit(1.0) / col("firstHit"), lit(0.0)).as("rr"))
      .agg(round(avg("ap"), 6).as("map_at_k"),
           round(avg("prec"), 6).as("precision_at_k"),
           round(avg("rr"), 6).as("mrr"),
           count(lit(1)).as("n_users"))
  }

  /** Deterministic train/validation split by hashing (user, item) — the
    * reference's k-fold cross-validation shape (`common.hpp:69-70`).
    */
  def kFoldSplit(ratings: DataFrame, folds: Int, fold: Int): (DataFrame, DataFrame) = {
    val tagged = ratings.withColumn("__f",
      pmod(xxhash64(col("user"), col("item")), lit(folds)))
    (tagged.filter(col("__f") =!= fold).drop("__f"),
     tagged.filter(col("__f") === fold).drop("__f"))
  }
}
