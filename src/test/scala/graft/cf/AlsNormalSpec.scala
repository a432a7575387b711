package graft.cf

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[AlsNormal.train]] against a plain single-thread ALS written here,
  * plus its input contract, its partition invariance and its recompute
  * after the cache is dropped.
  */
class AlsNormalSpec extends SparkSpec {
  import spark.implicits._

  type Factors = Map[Long, Array[Double]]

  private val schema = new StructType().add("user", LongType).add("item", LongType)
    .add("rating", DoubleType).add("weight", DoubleType)

  private def frame(rows: Seq[(Any, Any, Any, Any)], weighted: Boolean = true): DataFrame = {
    val df = spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3, r._4)): _*), schema)
    if (weighted) df else df.drop("weight")
  }

  /** Seeded ratings over ids that serve as users and as items, with the
    * extreme ids, exact and same-pair duplicates, a user and an item with
    * one rating, and rows with a null weight on pairs that also have
    * valid rows.
    */
  private def ratings(seed: Int): Seq[(Any, Any, Any, Any)] = {
    val rnd = new scala.util.Random(seed)
    val pool = Seq(Long.MinValue, Long.MinValue + 1, -3L, 0L, 1L, 2L, 3L, 4L, 5L, 7L, 11L,
      Long.MaxValue - 1, Long.MaxValue)
    def any = pool(rnd.nextInt(pool.size))
    val base = Seq.fill(120)((any, any, (1 + rnd.nextInt(5)).toDouble + rnd.nextDouble(), 0.5 + rnd.nextDouble()))
    val dups = base.take(6) ++ base.slice(6, 10).map { case (u, i, r, w) => (u, i, r + 1.5, w) }
    val single = Seq((1000L, 3L, 4.0, 1.0), (5L, 2000L, 2.0, 1.5))
    val nullWeight = base.slice(10, 13).map { case (u, i, r, _) => (u, i, r, null) }
    base ++ dups ++ single ++ nullWeight
  }

  /** ALS's hash-seeded start as a frame: `pmod(xxhash64(id, k, seed), 1000) / 1000`. */
  private def hashInit(ids: DataFrame, rank: Int, seed: Long): DataFrame =
    ids.select(col("id"), transform(sequence(lit(0), lit(rank - 1)),
      k => pmod(xxhash64(col("id"), k, lit(seed)), lit(1000L)).cast("double") / 1000.0).as("f"))

  private def factors(df: DataFrame): Factors =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private def result(m: AlsNormal.Model): (Factors, Factors, Seq[Double]) =
    (factors(m.userFactors), factors(m.itemFactors), m.trainRmse)

  /** ALS over plain collections: per vertex, the Gram matrix, right-hand
    * side and row count of its ratings whose other end has a factor, then
    * [[AlsNormal.solveFromGram]]. Rows with a null field are skipped.
    */
  private def plainAls(rows: Seq[(Any, Any, Any, Any)], rank: Int, iterations: Int, lambda: Double,
                       start: Factors, sparsity: Option[Int]): (Factors, Factors, Seq[Double]) = {
    val valid = rows.collect { case (u: Long, i: Long, r: Double, w: Double) => (u, i, r, w) }
    def solve(by: ((Long, Long, Double, Double)) => Long, other: ((Long, Long, Double, Double)) => Long,
              x: Factors): Factors =
      valid.groupBy(by).flatMap { case (v, rs) =>
        val g = new Array[Double](rank * rank + rank + 1)
        for (t <- rs; q <- x.get(other(t))) {
          for (a <- 0 until rank) {
            for (b <- 0 until rank) g(a * rank + b) += t._4 * q(a) * q(b)
            g(rank * rank + a) += t._4 * t._3 * q(a)
          }
          g(rank * rank + rank) += 1
        }
        if (g.last == 0) None
        else Some(v -> sparsity.foldLeft(AlsNormal.solveFromGram(g.toSeq, rank, lambda))(AlsNormal.hardThreshold))
      }
    val items = valid.map(_._2).toSet
    var (p, q) = (Map.empty[Long, Array[Double]], start.filter(e => items(e._1)))
    val trace = (1 to iterations).map { _ =>
      p = solve(_._1, _._2, q)
      q = solve(_._2, _._1, p)
      val both = valid.filter(t => p.contains(t._1) && q.contains(t._2))
      val se = both.map { case (u, i, r, w) => val e = r - p(u).indices.map(k => p(u)(k) * q(i)(k)).sum; w * e * e }
      math.sqrt(se.sum / both.map(_._4).sum)
    }
    (p, q, trace)
  }

  /** CCD++ over plain collections: users start from [[hashInit]] with
    * `seed` and items with `seed + 1`; per coordinate d, every user and
    * then every item takes x_d ← Σ (e + p_d q_d) y_d / (λ + Σ y_d²) over
    * its ratings, y being the other end's factor and e = r − p·q. The
    * trace is each iteration's unweighted RMSE. Weights are ignored, and
    * rows with a null user, item or rating are skipped.
    */
  private def plainCcd(rows: Seq[(Any, Any, Any, Any)], rank: Int, iterations: Int, lambda: Double,
                       seed: Long): (Factors, Factors, Seq[Double]) = {
    type Row3 = (Long, Long, Double)
    val valid = rows.collect { case (u: Long, i: Long, r: Double, _) => (u, i, r) }
    def init(ids: Seq[Long], seed: Long) = factors(hashInit(ids.distinct.toDF("id"), rank, seed))
    val (p, q) = (init(valid.map(_._1), seed), init(valid.map(_._2), seed + 1))
    def err(t: Row3) = t._3 - dot(p(t._1), q(t._2))
    def update(x: Factors, y: Factors, mine: Row3 => Long, theirs: Row3 => Long, d: Int): Unit =
      valid.groupBy(mine).foreach { case (v, rs) =>
        var (num, den) = (0.0, 0.0)
        for (t <- rs) {
          val (a, b) = (x(v)(d), y(theirs(t))(d))
          num += (err(t) + a * b) * b
          den += b * b
        }
        x(v)(d) = num / (lambda + den)
      }
    val trace = (1 to iterations).map { _ =>
      for (d <- 0 until rank) { update(p, q, _._1, _._2, d); update(q, p, _._2, _._1, d) }
      math.sqrt(valid.map(t => err(t) * err(t)).sum / valid.size)
    }
    (p, q, trace)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = a.indices.foldLeft(0.0)((s, k) => s + a(k) * b(k))

  /** PMF's N(0, 1) draws as a frame: per id and dimension k, Box–Muller
    * over the uniforms `(pmod(xxhash64(id, k, sweep, s), 10⁶) + 1) / (10⁶ + 1)`
    * for s = `seed` and `seed + 77`.
    */
  private def gaussianInit(ids: DataFrame, rank: Int, sweep: Int, seed: Long): DataFrame = {
    def u(k: Column, s: Long) =
      (pmod(xxhash64(col("id"), k, lit(sweep), lit(s)), lit(1000000L)).cast("double") + 1.0) / 1000001.0
    ids.select(col("id"), transform(sequence(lit(0), lit(rank - 1)),
      k => sqrt(lit(-2.0) * log(u(k, seed))) * cos(lit(2.0 * math.Pi) * u(k, seed + 77))).as("f"))
  }

  /** PMF over plain collections: one unweighted [[plainAls]] iteration
    * from the hash-seeded start, then per sweep the item factors plus
    * `noiseScale` times [[gaussianInit]]'s draws and one more iteration.
    * The trace is each sweep's train RMSE; the mean prediction of each
    * distinct (user, item) pair is p·q averaged over the last `samples`
    * sweeps.
    */
  private def plainPmf(rows: Seq[(Any, Any, Any, Any)], rank: Int, burnIn: Int, samples: Int, lambda: Double,
                       noiseScale: Double, seed: Long): (Map[(Long, Long), Double], Seq[Double]) = {
    val plain = rows.collect { case (u: Long, i: Long, r: Double, _) => (u, i, r, 1.0) }
    val items = plain.map(_._2).distinct.toDF("id")
    var (p, q, _) = plainAls(plain, rank, 1, lambda, factors(hashInit(items, rank, seed)), None)
    val sums = scala.collection.mutable.Map.empty[(Long, Long), Double].withDefaultValue(0.0)
    val trace = (1 to burnIn + samples).map { sweep =>
      val noise = factors(gaussianInit(items, rank, sweep, seed))
      val noisy = q.map { case (i, f) => i -> f.indices.map(k => f(k) + noise(i)(k) * noiseScale).toArray }
      val (p2, q2, t) = plainAls(plain, rank, 1, lambda, noisy, None)
      p = p2; q = q2
      if (sweep > burnIn) for ((u, i) <- plain.map(t => (t._1, t._2)).distinct) sums((u, i)) += dot(p(u), q(i))
      t.last
    }
    (sums.map { case (k, s) => k -> s / samples }.toMap, trace)
  }

  private def close(got: Double, want: Double, what: => String): Unit =
    assert(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)), s"$what: $got vs $want")

  private def assertFactors(got: Factors, want: Factors, what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what: ids ${got.keySet.diff(want.keySet)} vs ${want.keySet.diff(got.keySet)}")
    for ((v, x) <- want; k <- x.indices) close(got(v)(k), x(k), s"$what of $v [$k]")
  }

  private def assertModel(got: (Factors, Factors, Seq[Double]), want: (Factors, Factors, Seq[Double]),
                          what: String): Unit = {
    assertFactors(got._1, want._1, s"$what: user factors")
    assertFactors(got._2, want._2, s"$what: item factors")
    assert(got._3.length == want._3.length, s"$what: trace ${got._3} vs ${want._3}")
    got._3.zip(want._3).foreach { case (a, b) => close(a, b, s"$what: train RMSE") }
  }

  private def coord(df: DataFrame, rank: Int, iterations: Int, seed: Long = 42L): (Factors, Factors, Seq[Double]) = {
    val m = AlsCoord.train(df, rank, iterations, seed = seed)
    (factors(m.userFactors), factors(m.itemFactors), m.trainRmse)
  }

  /** Pmf's mean prediction per (user, item), failing on a repeated pair, and its trace. */
  private def pmf(m: Pmf.Model): (Map[(Long, Long), Double], Seq[Double]) = {
    val rows = m.meanPrediction.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(rows.map(_._1).distinct.length == rows.length, "a (user, item) pair has two mean predictions")
    (rows.toMap, m.trainRmse)
  }

  private def assertPmf(got: (Map[(Long, Long), Double], Seq[Double]), want: (Map[(Long, Long), Double], Seq[Double]),
                        what: String): Unit = {
    assert(got._1.keySet == want._1.keySet, s"$what: pairs ${got._1.keySet.diff(want._1.keySet)} vs " +
      s"${want._1.keySet.diff(got._1.keySet)}")
    for ((k, x) <- want._1) close(got._1(k), x, s"$what: mean prediction of $k")
    assert(got._2.length == want._2.length, s"$what: trace ${got._2} vs ${want._2}")
    got._2.zip(want._2).foreach { case (a, b) => close(a, b, s"$what: train RMSE") }
  }

  private def pmfBits(r: (Map[(Long, Long), Double], Seq[Double])) =
    (r._1.map { case (k, x) => k -> java.lang.Double.doubleToRawLongBits(x) }, r._2.map(java.lang.Double.doubleToRawLongBits))

  private def bits(r: (Factors, Factors, Seq[Double])) =
    (Seq(r._1, r._2).map(_.map { case (v, x) => v -> x.toSeq.map(java.lang.Double.doubleToRawLongBits) }),
      r._3.map(java.lang.Double.doubleToRawLongBits))

  test("train matches a plain single-thread ALS: weights, sparsity, a partial warm start, one-rating users and items, duplicates, shared and extreme ids") {
    val rows = ratings(3)
    val items = rows.map(_._2.asInstanceOf[Long]).distinct
    for ((rank, iters, sparsity, weighted) <- Seq((4, 3, None, false), (8, 4, None, true), (4, 3, Some(2), true))) {
      val start = factors(hashInit(items.toDF("id"), rank, 42L))
      val plain = if (weighted) rows else rows.map { case (u, i, r, _) => (u, i, r, 1.0) }
      assertModel(result(AlsNormal.train(frame(rows, weighted), rank, iters, sparsity = sparsity)),
        plainAls(plain, rank, iters, 0.065, start, sparsity), s"rank $rank, weighted $weighted, sparsity $sparsity")
    }
    // a warm start that covers every other item, one that nothing rates,
    // and none of user 3000's: 3000 and its items never get a factor
    val rank = 4
    val rnd = new scala.util.Random(9)
    val warm: Factors = (items.sorted.zipWithIndex.collect { case (i, k) if k % 2 == 0 => i } :+ 123456L)
      .map(_ -> Array.fill(rank)(rnd.nextDouble())).toMap
    val partial = rows ++ Seq((3000L, 4001L, 3.0, 1.0), (3000L, 4002L, 5.0, 2.0))
    val m = AlsNormal.train(frame(partial), rank, 3,
      warmStartItemFactors = Some(warm.toSeq.map { case (i, f) => (i, f.toSeq) }.toDF("id", "f")))
    val want = plainAls(partial, rank, 3, 0.065, warm, None)
    assert(!want._1.contains(3000L) && !want._2.contains(4001L))
    assertModel(result(m), want, "partial warm start")
  }

  test("train's hash-seeded start is the xxhash64 init frame, for long and int ids") {
    def small(id: Any) = id.asInstanceOf[Long].isValidInt
    val rows = (ratings(4) :+ ((Int.MinValue.toLong, Int.MaxValue.toLong, 2.0, 1.0)))
      .filter(r => r._4 != null && small(r._1) && small(r._2))
    for (t <- Seq(LongType, IntegerType)) {
      val df = frame(rows).select(col("user").cast(t).as("user"), col("item").cast(t).as("item"), col("rating"))
      val start = AlsNormal.train(df, rank = 6, iterations = 0, seed = 17L).itemFactors
      assert(start.schema("id").dataType == t)
      def bits(d: DataFrame) = d.collect().map(r => r.get(0) -> r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap
      assert(bits(start) == bits(hashInit(df.select(col("item").as("id")).distinct(), 6, 17L)), s"$t ids")
    }
  }

  test("train's input contract: null rows are skipped, and empty ratings and non-integral ids fail loudly") {
    val rows = ratings(5).filter(_._4 != null)
    val clean = result(AlsNormal.train(frame(rows), rank = 4, iterations = 2))
    // a null user, item, rating or weight; user 77's only row has a null weight
    val nulls = Seq((null, 1L, 3.0, 1.0), (2L, null, 3.0, 1.0), (2L, 1L, null, 1.0), (77L, 1L, 3.0, null))
    val skipped = result(AlsNormal.train(frame(rows ++ nulls), rank = 4, iterations = 2))
    assert(!skipped._1.contains(77L))
    assert(bits(skipped) == bits(clean))
    assert(AlsNormal.train(frame(rows), rank = 4, iterations = 0).userFactors.count() == 0)

    val empty = intercept[IllegalArgumentException](AlsNormal.train(frame(Nil), rank = 4, iterations = 2))
    assert(empty.getMessage.contains("no rating row"), empty.getMessage)
    val allNull = intercept[IllegalArgumentException](AlsNormal.train(frame(nulls), rank = 4, iterations = 1))
    assert(allNull.getMessage.contains("no rating row"), allNull.getMessage)
    val text = frame(rows).select(col("user").cast("string").as("user"), col("item"), col("rating"))
    val e = intercept[IllegalArgumentException](AlsNormal.train(text, rank = 4, iterations = 1))
    assert(e.getMessage.contains("`user` must be an integral id"), e.getMessage)
  }

  test("ALS factors and trace do not depend on shuffle partitions and are bit-identical across runs") {
    val df = frame(ratings(6))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def run(parts: Int) = {
      spark.conf.set(key, parts.toString)
      try result(AlsNormal.train(df, rank = 4, iterations = 3, sparsity = Some(3)))
      finally spark.conf.set(key, saved)
    }
    val base = run(1)
    for (parts <- Seq(1, 7, 200)) {
      val got = run(parts)
      assert(bits(run(parts)) == bits(got), s"two runs differ at $parts partitions")
      assertModel(got, base, s"$parts partitions")
    }
  }

  test("ALS model frames recompute to the same bits after every cached RDD is dropped") {
    val m = AlsNormal.train(frame(ratings(7)), rank = 4, iterations = 2,
      warmStartItemFactors = Some(Seq((0L, Seq(0.1, 0.2, 0.3, 0.4))).toDF("id", "f")))
    val c = AlsCoord.train(frame(ratings(7)), rank = 3, iterations = 2)
    val p = Pmf.train(frame(ratings(7)), rank = 3, burnIn = 1, samples = 2)
    def all = (result(m), (factors(c.userFactors), factors(c.itemFactors), c.trainRmse), pmf(p))
    val first = all
    assert(first._1._1.nonEmpty && first._1._2.nonEmpty && first._2._1.nonEmpty && first._3._1.nonEmpty)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val again = all
    assert(bits(again._1) == bits(first._1))
    assert(bits(again._2) == bits(first._2))
    assert(pmfBits(again._3) == pmfBits(first._3))
  }

  test("AlsCoord matches a plain single-thread CCD++: one-rating users and items, duplicates, shared and extreme ids") {
    val rows = ratings(11)
    for ((rank, iters, seed) <- Seq((4, 3, 42L), (2, 2, 5L)))
      assertModel(coord(frame(rows, weighted = false), rank, iters, seed), plainCcd(rows, rank, iters, 0.065, seed),
        s"rank $rank, $iters iterations, seed $seed")
    // with no iteration, users start from the hash with `seed` and items with `seed + 1`, for int ids too
    val small = rows.filter(r => r._1.asInstanceOf[Long].isValidInt && r._2.asInstanceOf[Long].isValidInt)
    val ints = frame(small, weighted = false)
      .select(col("user").cast("int").as("user"), col("item").cast("int").as("item"), col("rating"))
    val m = AlsCoord.train(ints, rank = 3, iterations = 0, seed = 17L)
    def bitsOf(d: DataFrame) = d.collect().map(r => r.get(0) -> r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap
    assert(m.userFactors.schema("id").dataType == IntegerType && m.trainRmse.isEmpty)
    assert(bitsOf(m.userFactors) == bitsOf(hashInit(ints.select(col("user").as("id")).distinct(), 3, 17L)))
    assert(bitsOf(m.itemFactors) == bitsOf(hashInit(ints.select(col("item").as("id")).distinct(), 3, 18L)))
  }

  test("AlsCoord skips rows with a null user, item or rating, and ignores weights") {
    val rows = ratings(12).filter(_._4 != null)
    val clean = coord(frame(rows, weighted = false), rank = 3, iterations = 2)
    // user 77's only row has a null rating
    val nulls = Seq((null, 1L, 3.0, 1.0), (2L, null, 3.0, 1.0), (2L, 1L, null, 1.0), (77L, 1L, null, 1.0))
    val skipped = coord(frame(rows ++ nulls, weighted = false), rank = 3, iterations = 2)
    assert(!skipped._1.contains(77L))
    assert(bits(skipped) == bits(clean))
    assert(bits(coord(frame(rows.map { case (u, i, r, w) => (u, i, r, w.asInstanceOf[Double] * 3) }), 3, 2)) == bits(clean))
  }

  test("Pmf matches a plain single-thread PMF: one-rating users and items, duplicates, shared and extreme ids") {
    val rows = ratings(13)
    for ((rank, burnIn, samples, weighted) <- Seq((4, 1, 2, false), (3, 0, 1, true), (2, 2, 3, false)))
      assertPmf(pmf(Pmf.train(frame(rows, weighted), rank, burnIn, samples, noiseScale = 0.05)),
        plainPmf(rows, rank, burnIn, samples, 0.065, 0.05, 42L), s"rank $rank, burn-in $burnIn, $samples samples")
  }

  test("Pmf's mean prediction is one row per distinct pair and does not grow with a pair's repeats") {
    // every row twice doubles each vertex's Gram matrix, right-hand side and
    // λ·n alike, so the factors, and with them the means, stay as they were
    val rows = ratings(14).filter(_._4 != null)
    val once = pmf(Pmf.train(frame(rows), rank = 3, burnIn = 1, samples = 2))
    assertPmf(pmf(Pmf.train(frame(rows ++ rows), rank = 3, burnIn = 1, samples = 2)), once, "every row twice")
  }

  test("AlsCoord and Pmf results do not depend on shuffle partitions and are bit-identical across runs") {
    val df = frame(ratings(15))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def run(parts: Int) = {
      spark.conf.set(key, parts.toString)
      try (coord(df, rank = 3, iterations = 2), pmf(Pmf.train(df, rank = 3, burnIn = 1, samples = 2)))
      finally spark.conf.set(key, saved)
    }
    val base = run(1)
    for (parts <- Seq(1, 7, 200)) {
      val (c, p) = run(parts)
      val again = run(parts)
      assert(bits(again._1) == bits(c) && pmfBits(again._2) == pmfBits(p), s"two runs differ at $parts partitions")
      assertModel(c, base._1, s"AlsCoord at $parts partitions")
      assertPmf(p, base._2, s"Pmf at $parts partitions")
    }
  }

  test("AlsCoord and Pmf leave cached only the layout and the state that their frames read") {
    val sc = spark.sparkContext
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "AlsCoord" -> (() => AlsCoord.train(frame(ratings(16)), rank = 3, iterations = 2).itemFactors),
        "Pmf" -> (() => Pmf.train(frame(ratings(16)), rank = 3, burnIn = 1, samples = 2).meanPrediction))) {
      val before = sc.getPersistentRDDs.keySet
      run().collect()
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size == 2, s"$name left ${added.size} RDDs cached: ${added.map(sc.getPersistentRDDs(_))}")
    }
  }
}
