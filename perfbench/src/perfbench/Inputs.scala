package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Each input is split into a fixed number of
  * parts, and every part draws from its own `SplittableRandom` keyed by
  * (seed, stream, part), so a seed gives the same rows on any core count.
  * The same per-part functions feed both the Spark frames (through a typed
  * `mapPartitions`) and the driver-side reference checks, which therefore
  * see exactly the rows the program sees without asking Spark for them.
  */
object Inputs {
  val Parts = 16

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, part: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + stream) + part))

  /** Per-part row counts that add up to `total`. */
  private def share(total: Long, part: Int): Long =
    total / Parts + (if (part < total % Parts) 1 else 0)

  /** Erdős–Rényi G(n, m = n·d) in out-neighbourhood form: every vertex
    * draws `d` uniform out-neighbours; self-draws are dropped.
    */
  def erdosRenyi(seed: Long, n: Long, d: Int): Int => Iterator[(Long, Long)] = part => {
    val r = rng(seed, 1, part)
    val lo = n * part / Parts
    val hi = n * (part + 1) / Parts
    (lo until hi).iterator.flatMap { s =>
      Iterator.fill(d)(r.nextLong(n)).filter(_ != s).map(t => (s, t))
    }
  }

  /** G(n, m): `m` uniform vertex pairs on [0, n), self-pairs dropped, plus
    * a path of `tail` extra vertices n, n+1, ... hanging off vertex 0. The
    * smallest label, 0, needs exactly `tail` hops to reach the path's end,
    * so label flooding runs the same number of supersteps on every seed
    * (as long as the random part settles sooner), and its last supersteps
    * each change a single label.
    */
  def gnmWithTail(seed: Long, n: Long, m: Long, tail: Int): Int => Iterator[(Long, Long)] = part => {
    val r = rng(seed, 2, part)
    val random = Iterator.fill(share(m, part).toInt)((r.nextLong(n), r.nextLong(n)))
      .filter { case (a, b) => a != b }
    val path = if (part == 0) (0 until tail).iterator.map(k => (if (k == 0) 0L else n + k - 1, n + k))
      else Iterator.empty
    random ++ path
  }

  /** R-MAT (Chakrabarti et al.): `m` draws on 2^scale vertices with
    * quadrant probabilities a, b, c and d = 1 - a - b - c.
    */
  def rmat(seed: Long, scale: Int, m: Long, a: Double, b: Double,
           c: Double): Int => Iterator[(Long, Long)] = part => {
    val r = rng(seed, 3, part)
    Iterator.fill(share(m, part).toInt) {
      var s = 0L; var t = 0L; var bit = 0
      while (bit < scale) {
        val x = r.nextDouble()
        s <<= 1; t <<= 1
        if (x >= a + b + c) { s |= 1; t |= 1 }
        else if (x >= a + b) s |= 1
        else if (x >= a) t |= 1
        bit += 1
      }
      (s, t)
    }
  }

  /** Planted low-rank ratings: hidden user and item factors with entries
    * drawn N(0, scale²) (scale chosen so a rating has unit variance), each
    * rating = ⟨p_u, q_i⟩ + N(0, noise²). Users are uniform, items follow a
    * cubic popularity skew (item = ⌊I·x³⌋), so low item ids are hot.
    * Stream 4 gives training ratings, stream 5 a disjoint-draw hold-out.
    */
  final case class Planted(users: Long, items: Long, rank: Int, noise: Double) {
    private val scale = math.pow(1.0 / rank, 0.25)

    def factor(seed: Long, side: Long, id: Long): Array[Double] = {
      val r = rng(seed, 100 + side, id)
      Array.fill(rank)(r.nextGaussian() * scale)
    }

    def ratings(seed: Long, stream: Long, total: Long): Int => Iterator[(Long, Long, Double)] = part => {
      val r = rng(seed, stream, part)
      Iterator.fill(share(total, part).toInt) {
        val u = r.nextLong(users)
        val x = r.nextDouble()
        val i = math.min(items - 1, (items * x * x * x).toLong)
        val p = factor(seed, 0, u)
        val q = factor(seed, 1, i)
        var dot = 0.0
        var k = 0
        while (k < rank) { dot += p(k) * q(k); k += 1 }
        (u, i, dot + noise * r.nextGaussian())
      }
    }
  }

  def edgeFrame(spark: SparkSession, gen: Int => Iterator[(Long, Long)]): DataFrame = {
    import spark.implicits._
    spark.range(0, Parts, 1, Parts).as[Long]
      .mapPartitions(_.flatMap(p => gen(p.toInt)))
      .toDF("src", "dst")
  }

  def ratingFrame(spark: SparkSession,
                  gen: Int => Iterator[(Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    spark.range(0, Parts, 1, Parts).as[Long]
      .mapPartitions(_.flatMap(p => gen(p.toInt)))
      .toDF("user", "item", "rating")
  }

  /** All parts, concatenated driver-side into two id arrays. */
  def edgeArrays(gen: Int => Iterator[(Long, Long)]): (Array[Long], Array[Long]) = {
    val s = Array.newBuilder[Long]; val t = Array.newBuilder[Long]
    (0 until Parts).foreach(p => gen(p).foreach { case (a, b) => s += a; t += b })
    (s.result(), t.result())
  }
}
