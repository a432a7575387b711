package graft.cf

import org.apache.spark.sql.{DataFrame, Row}
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
    val first = result(m)
    assert(first._1.nonEmpty && first._2.nonEmpty)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(bits(result(m)) == bits(first))
  }
}
