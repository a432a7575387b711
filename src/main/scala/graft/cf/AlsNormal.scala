package graft.cf

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import java.util.BitSet

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.graph.ArrayGraph

/** ALS by per-vertex normal equations — the reference's own algorithm
  * (`toolkits/collaborative_filtering/als.cpp:123-149`: accumulate
  * XᵗX / Xᵗy over incident edges, Cholesky solve) and its weighted
  * variant (`wals.cpp`: per-rating confidence weights in both the
  * Gram matrix and the right-hand side).
  *
  * Spark shape: the ratings are one [[Layout]], laid out once per call,
  * which the ALS family shares: [[AlsCoord]] and [[Pmf]] run their
  * supersteps on it from the same [[Factors]] state, start, RMSE log and
  * factor frames. An item half-step is one superstep: each user ships its
  * rank-wide factor once per partition pair that needs it (not once per
  * rating), one shuffle, and one narrow fold in which each item
  * accumulates w·p pᵗ, w·r·p and n over its in-edges in (source
  * partition, slot) order and solves; the train RMSE sums fold into the
  * same pass. A user half-step is the same over the reversed view. All
  * iterations chain lazily into the one job that collects the RMSE
  * trace, so there is no join, aggregate, UDF or checkpoint, and the
  * factors are bit-reproducible for a given partition count. Unlike
  * `ml.recommendation.ALS`, ratings carry arbitrary weights.
  */
object AlsNormal extends Serializable {

  final case class Model(userFactors: DataFrame, itemFactors: DataFrame,
                         trainRmse: Seq[Double])

  /** Solve (Σ w·q qᵗ + λ n I) p = Σ w·r·q for one vertex from its
    * incident edges. Plain Gaussian elimination with partial pivoting —
    * rank is tiny, numerical profile matches the reference's
    * `ldlt().solve` closely enough for CF.
    */
  private[cf] def solveOne(rows: Seq[(Seq[Double], Double, Double)], rank: Int,
                           lambda: Double): Array[Double] = {
    val a = Array.ofDim[Double](rank, rank + 1)
    val n = rows.size.toDouble
    rows.foreach { case (q, r, w) =>
      var i = 0
      while (i < rank) {
        var j = 0
        while (j < rank) { a(i)(j) += w * q(i) * q(j); j += 1 }
        a(i)(rank) += w * r * q(i)
        i += 1
      }
    }
    var i = 0
    while (i < rank) { a(i)(i) += lambda * n; i += 1 }
    eliminate(a, rank)
  }

  /** Solve from a [[graft.functions.GramAgg]] buffer: flat
    * [XᵗX (rank², row-major) | Xᵗy (rank) | n] with λ·n ridge added
    * here, so the distributed aggregate stays pure accumulation.
    */
  private[cf] def solveFromGram(g: Seq[Double], rank: Int,
                                lambda: Double): Array[Double] = {
    val a = Array.ofDim[Double](rank, rank + 1)
    val n = g(rank * rank + rank)
    var i = 0
    while (i < rank) {
      var j = 0
      while (j < rank) { a(i)(j) = g(i * rank + j); j += 1 }
      a(i)(rank) = g(rank * rank + i)
      a(i)(i) += lambda * n
      i += 1
    }
    eliminate(a, rank)
  }

  private def eliminate(a: Array[Array[Double]], rank: Int): Array[Double] = {
    // forward elimination with partial pivoting
    var col = 0
    while (col < rank) {
      var piv = col
      var row = col + 1
      while (row < rank) { if (math.abs(a(row)(col)) > math.abs(a(piv)(col))) piv = row; row += 1 }
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t }
      val d = a(col)(col)
      if (math.abs(d) > 1e-12) {
        row = col + 1
        while (row < rank) {
          val f = a(row)(col) / d
          var j = col
          while (j <= rank) { a(row)(j) -= f * a(col)(j); j += 1 }
          row += 1
        }
      }
      col += 1
    }
    val x = new Array[Double](rank)
    var i = rank - 1
    while (i >= 0) {
      var s = a(i)(rank)
      var j = i + 1
      while (j < rank) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = if (math.abs(a(i)(i)) > 1e-12) s / a(i)(i) else 0.0
      i -= 1
    }
    x
  }

  /** Keep the `s` largest-magnitude entries, zero the rest — the hard
    * thresholding step of the reference's sparse ALS
    * (`sparse_als.cpp` + `cosamp.hpp` CoSaMP pursuit).
    */
  private[cf] def hardThreshold(x: Array[Double], s: Int): Array[Double] = {
    if (s >= x.length) x
    else {
      val keep = x.map(math.abs).zipWithIndex.sortBy(-_._1).take(s).map(_._2).toSet
      x.zipWithIndex.map { case (v, i) => if (keep(i)) v else 0.0 }
    }
  }

  /** `ratings` as one [[graft.graph.ArrayGraph]] with edges user → item,
    * each carrying its (rating, weight); no `weight` column → 1.0. Rows
    * with a null are skipped, duplicates each count, and the `user` and
    * `item` ids must be integral. `who` names the trainer in failures.
    */
  private[cf] final class Layout(ratings: DataFrame, val who: String) {
    val (userType, itemType) = (idType(ratings, "user", who), idType(ratings, "item", who))
    val g: ArrayGraph = ArrayGraph.directed(ratings.select(col("user").as("src"), col("item").as("dst"), col("rating"),
      (if (ratings.columns.contains("weight")) col("weight") else lit(1.0d)).as("w")), col("rating"), col("w"))
  }

  /** One partition's factors, `rank` doubles per local vertex: the user
    * factor of vertex v at `rank * v` of `p`, valid when `hasP(v)`, and
    * its item factor likewise in `q`. A vertex is a user by its out-edges
    * and an item by its in-edges. `log` holds (Σ w·err², Σ w, rows) of
    * each iteration's train RMSE, and `kept` a sampler's kept (p, q).
    */
  private[cf] final case class Factors(p: Array[Double], hasP: BitSet, q: Array[Double], hasQ: BitSet,
                                       log: Array[Double], kept: List[(Array[Double], Array[Double])] = Nil)

  /** Train (weighted) ALS on the ratings [[Layout]]. λ follows the
    * reference's per-vertex `λ·n` regularization (weighted-λ ALS), n
    * counting the rows solved over. Each iteration solves every user from
    * the item factors, then every item from the new user factors; its
    * train RMSE is over the rows whose user and item both have a factor.
    * With no iteration the user frame is empty and the item frame holds
    * the start.
    *
    * @param warmStartItemFactors optional (id, f) item factors to resume
    *   from — the reference's `load_factors_from_file` warm start
    *   (`als.cpp:207-210`, `io.hpp:611-760`); absent → hash-seeded init.
    *   An item without a warm factor contributes nothing until it gets
    *   one, and a vertex with no neighbour that has a factor gets none.
    */
  def train(ratings: DataFrame, rank: Int = 8, iterations: Int = 5,
            lambda: Double = 0.065, seed: Long = 42L,
            warmStartItemFactors: Option[DataFrame] = None,
            sparsity: Option[Int] = None): Model = {
    val l = new Layout(ratings, "AlsNormal.train")
    var state = start(l, rank, seed, warm = warmStartItemFactors)
    for (_ <- 1 to iterations) state = iteration(l, state, rank, lambda, sparsity)
    model(l, state, iterations, rank)
  }

  /** The type of `df`'s id column `name`, which must be integral. */
  private def idType(df: DataFrame, name: String, who: String): DataType = df.schema(name).dataType match {
    case t @ (ByteType | ShortType | IntegerType | LongType) => t
    case t => throw new IllegalArgumentException(s"$who: `$name` must be an integral id, not ${t.simpleString}")
  }

  /** Spark's `xxhash64` of `id` alone, for an id column of type `t`. */
  private[cf] def idHash(id: Long, t: DataType): Long =
    if (t == LongType) XXH64.hashLong(id, 42L) else XXH64.hashInt(id.toInt, 42L) // 42: xxhash64's own seed

  /** The state before the first iteration: each item's warm-start factor,
    * or else `pmod(xxhash64(id, k, seed), 1000) / 1000` for k in
    * 0 until rank, hashed as Spark's `xxhash64` hashes an id of the item
    * column's type; with `userSeed`, each user's factor likewise.
    */
  private[cf] def start(l: Layout, rank: Int, seed: Long, userSeed: Option[Long] = None,
                        warm: Option[DataFrame] = None): RDD[Factors] = {
    val (n, userType, itemType, who, hashItems) = (l.g.parts.getNumPartitions, l.userType, l.itemType, l.who, warm.isEmpty)
    def hashed(h: Long, seed: Long) = // h: the id's `idHash`
      Array.tabulate(rank)(k => Math.floorMod(XXH64.hashLong(seed, XXH64.hashInt(k, h)), 1000L) / 1000.0)
    def fill(part: ArrayGraph.Part, rows: Iterator[(Long, Array[Double])]): Factors = {
      val s = Factors(new Array[Double](rank * part.size), new BitSet(part.size),
        new Array[Double](rank * part.size), new BitSet(part.size), Array.emptyDoubleArray)
      def set(x: Array[Double], has: BitSet, v: Int, f: Array[Double]) = { System.arraycopy(f, 0, x, rank * v, rank); has.set(v) }
      for (v <- 0 until part.size) {
        for (seed <- userSeed if part.outDegree(v) > 0) set(s.p, s.hasP, v, hashed(idHash(part.ids(v), userType), seed))
        if (hashItems && part.inDegree(v) > 0) set(s.q, s.hasQ, v, hashed(idHash(part.ids(v), itemType), seed))
      }
      rows.foreach { case (id, f) =>
        require(f.length == rank, s"$who: warm-start factor of item $id has ${f.length} values, not $rank")
        val v = java.util.Arrays.binarySearch(part.ids, id)
        if (v >= 0 && part.inDegree(v) > 0) {
          require(!s.hasQ.get(v), s"$who: item $id has two warm-start factors")
          set(s.q, s.hasQ, v, f)
        }
      }
      s
    }
    warm match {
      case None => l.g.parts.map(fill(_, Iterator.empty))
      case Some(df) =>
        idType(df, "id", who) // fails on a non-integral id, which the cast below would make null
        // (id, f) in the partition of its vertex
        val rows = df.select(col("id").cast(LongType), col("f")).queryExecution.toRdd
          .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None
            else Some((ArrayGraph.partOf(r.getLong(0), n), (r.getLong(0), r.getArray(1).toDoubleArray()))))
          .partitionBy(new HashPartitioner(n)).values
        l.g.parts.zipPartitions(rows)((ps, rs) => Iterator(fill(ps.next(), rs)))
    }
  }

  /** One ALS iteration: a user half-step over the reversed graph, then an
    * item half-step, which logs the iteration's RMSE sums.
    */
  private[cf] def iteration(l: Layout, state: RDD[Factors], rank: Int, lambda: Double,
                            sparsity: Option[Int] = None): RDD[Factors] =
    halfStep(l.g, halfStep(l.g.reversed, state, rank, lambda, sparsity, items = false),
      rank, lambda, sparsity, items = true)

  /** The model of `state` after `iterations`: their train RMSE in one
    * job, and the factor frames, `width` values per vertex, with the
    * ratings' id types. `state` is persisted, as that job computes it and
    * the frames read it; the reversed layout, unread, is dropped.
    */
  private[cf] def model(l: Layout, state: RDD[Factors], iterations: Int, width: Int): Model = {
    state.persist(StorageLevel.MEMORY_AND_DISK)
    val trace = if (iterations == 0) Nil else {
      val logs = l.g.each(state)(_.log)
      l.g.reversed.parts.unpersist(blocking = false)
      (0 until iterations).map { i =>
        val Seq(se, sw, n) = (0 until 3).map(j => logs.map(_(3 * i + j)).sum)
        require(n > 0, s"${l.who}: no rating row has a non-null user, item, rating and weight and a factor at both ends")
        math.sqrt(se / sw)
      }
    }
    def frame(users: Boolean) = l.g.column(state, "f", ArrayType(DoubleType, containsNull = false)) { s =>
      val (x, has) = if (users) (s.p, s.hasP) else (s.q, s.hasQ)
      Array.tabulate(x.length / width)(v =>
        if (has.get(v)) UnsafeArrayData.fromPrimitiveArray(x.slice(width * v, width * v + width)) else null)
    }.select(col("id").cast(if (users) l.userType else l.itemType).as("id"), col("f"))
    Model(frame(users = true), frame(users = false), trace)
  }

  /** One half-step over `g`: each vertex with a factor on the sending
    * side (users when `items`, else items) ships it, and each vertex with
    * in-edges from a sender with a factor solves its own from them. The
    * item half-step also appends its iteration's RMSE sums to the log.
    */
  private def halfStep(g: ArrayGraph, state: RDD[Factors], rank: Int, lambda: Double,
                       sparsity: Option[Int], items: Boolean): RDD[Factors] =
    // per slot: the factor's bits and then 1 if it is valid, 0 if not
    g.superstep(state, rank + 1) { (part, s) =>
      val (x, has) = if (items) (s.p, s.hasP) else (s.q, s.hasQ)
      val m = new Array[Long]((rank + 1) * part.size)
      for (v <- 0 until part.size) {
        for (k <- 0 until rank) m((rank + 1) * v + k) = doubleToRawLongBits(x(rank * v + k))
        if (has.get(v)) m((rank + 1) * v + rank) = 1L
      }
      (m, ArrayGraph.All)
    } { (part, s, in) =>
      val (y, has) = (new Array[Double](rank * part.size), new BitSet(part.size))
      val (a, sums) = (Array.ofDim[Double](rank, rank + 1), new Array[Double](3))
      // entry i of in-value j's factor, and whether that factor is valid
      def x(j: Int, i: Int) = longBitsToDouble(in.values((rank + 1) * j + i))
      def valid(j: Int) = in.values((rank + 1) * j + rank) != 0L
      for (v <- 0 until part.size) {
        val (k, e) = (in.gather(v), part.inOff(v)) // in-value j is in-edge e + j, which carries (rating, weight)
        require(k == part.inDegree(v)) // every pair ships, so every in-edge has its value
        a.foreach(java.util.Arrays.fill(_, 0.0))
        var n = 0
        for (j <- 0 until k if valid(j)) {
          val (r, w) = (part.inData(2 * (e + j)), part.inData(2 * (e + j) + 1))
          var i = 0
          while (i < rank) {
            val row = a(i)
            val wxi = w * x(j, i)
            var c = 0
            while (c < rank) { row(c) += wxi * x(j, c); c += 1 }
            row(rank) += wxi * r
            i += 1
          }
          n += 1
        }
        if (n > 0) {
          for (i <- 0 until rank) a(i)(i) += lambda * n
          System.arraycopy(sparsity.foldLeft(eliminate(a, rank))(hardThreshold), 0, y, rank * v, rank)
          has.set(v)
          if (items) for (j <- 0 until k if valid(j)) {
            val (r, w) = (part.inData(2 * (e + j)), part.inData(2 * (e + j) + 1))
            var pred = 0.0
            for (i <- 0 until rank) pred += x(j, i) * y(rank * v + i)
            sums(0) += w * (r - pred) * (r - pred); sums(1) += w; sums(2) += 1
          }
        }
      }
      if (items) s.copy(q = y, hasQ = has, log = s.log ++ sums) else s.copy(p = y, hasP = has)
    }

  /** Predict for (user, item) pairs. */
  def predict(model: Model, pairs: DataFrame): DataFrame =
    pairs
      .join(model.userFactors.select(col("id").as("user"), col("f").as("p")), "user")
      .join(model.itemFactors.select(col("id").as("item"), col("f").as("q")), "item")
      .withColumn("pred", graft.functions.VecDot.of(col("p"), col("q")))
      .drop("p", "q")
}
