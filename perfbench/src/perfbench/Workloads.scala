package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cf.AlsNormal
import graft.graph.{Algorithms, Generators}

/** One benchmark workload: seeded inputs, the timed job, a check of the
  * job's output against a single-threaded reference, and the per-layer
  * decomposition the traced run publishes.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  type Out
  import Workload.Timer

  /** Input rows the job consumes (edges, or ratings for ALS). */
  def work: Long
  /** Rows of the job's vertex state table (vertices, or users for ALS). */
  def vertices: Long
  /** Untimed jobs before the timed ones in an untraced run. */
  def warmups: Int = 1
  /** Generate the inputs and materialize them, replacing any earlier copy. */
  def generate(): Unit
  /** Compute the reference answer the checks compare against. */
  def reference(): Unit
  /** The timed job: materialized input in, collected result out. */
  def job(): Out
  /** None when `out` is right, else what is wrong with it. */
  def check(out: Out): Option[String]
  /** (prep, first step, steady step, steps, tail steps) from calls timed
    * from outside; `jobS` is the traced median job time.
    */
  def decompose(jobS: Double, time: Timer): Seq[(String, Double)]
  /** (a, b, rating) rows for the GramAgg probe, grouped on `a`: edges as
    * (src, dst, 1), ratings as (user, item, rating).
    */
  def gramRows: DataFrame

  protected var input: DataFrame = _

  protected def materialize(df: DataFrame): Unit = {
    if (input != null) input.unpersist(true)
    input = df.persist(StorageLevel.MEMORY_ONLY)
    input.count()
  }

  protected def layers(prep: Double, first: Double, steady: Double,
                       steps: Int, tail: Int): Seq[(String, Double)] = Seq(
    "algo.prep_s" -> prep, "algo.first_step_s" -> first,
    "algo.steady_step_s" -> steady, "algo.steps" -> steps.toDouble,
    "algo.tail_steps" -> tail.toDouble)
}

object Workload {
  /** Runs a named call, returns its wall seconds. */
  type Timer = (String, () => Any) => Double

  def apply(name: String, size: String, spark: SparkSession, seed: Long): Workload = {
    val tiny = size == "tiny"
    name match {
      case "pagerank-er" =>
        new PageRankEr(spark, seed, if (tiny) 2000 else 12000, if (tiny) 8 else 16)
      case "cc-gnm" =>
        new CcGnm(spark, seed, if (tiny) 1000 else 3000, if (tiny) 4000 else 12000, 6)
      case "triangles-rmat" =>
        new TrianglesRmat(spark, seed, if (tiny) 11 else 16, if (tiny) 8000 else 250000)
      case "als-planted" =>
        new AlsPlanted(spark, seed,
          if (tiny) Inputs.Planted(500, 200, 8, 0.1) else Inputs.Planted(2000, 800, 8, 0.1),
          if (tiny) 10000 else 40000)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }
}

/** Shared parts of the graph workloads: an edge list on dense ids [0, n). */
abstract class GraphWorkload(spark: SparkSession, seed: Long, n: Int)
    extends Workload(spark, seed) {
  protected def gen: Int => Iterator[(Long, Long)]
  protected var src, dst = Array.empty[Long]
  protected def edges: DataFrame = input

  def work: Long = src.length.toLong
  def vertices: Long = n.toLong
  def generate(): Unit = materialize(Inputs.edgeFrame(spark, gen))
  def gramRows: DataFrame =
    input.select(col("src").as("a"), col("dst").as("b"), lit(1.0).as("rating"))
  def reference(): Unit = {
    val (s, t) = Inputs.edgeArrays(gen)
    src = s; dst = t
    referenceFrom()
  }
  protected def referenceFrom(): Unit
}

/** PageRank, ten fixed iterations, on a G(n, n·d) random graph. */
final class PageRankEr(spark: SparkSession, seed: Long, n: Int, d: Int)
    extends GraphWorkload(spark, seed, n) {
  type Out = Array[(Long, Double)]
  val Iterations = 10
  protected val gen = Inputs.erdosRenyi(seed, n, d)
  private var ref = Array.empty[Double]

  protected def referenceFrom(): Unit = ref = Oracles.pageRank(n, src, dst, Iterations)

  private def run(iterations: Int): Out = {
    import spark.implicits._
    Algorithms.pageRank(edges, iterations).select("id", "pr").as[(Long, Double)].collect()
  }

  def job(): Out = run(Iterations)

  def check(out: Out): Option[String] = {
    val expected = ref.count(!_.isNaN)
    if (out.length != expected) return Some(s"${out.length} ranks, expected $expected")
    out.collectFirst {
      case (id, pr) if id < 0 || id >= n || !(math.abs(pr - ref(id.toInt)) <= 1e-9) =>
        s"vertex $id: pr $pr, expected ${if (id >= 0 && id < n) ref(id.toInt) else Double.NaN}"
    }
  }

  def decompose(jobS: Double, time: Workload.Timer): Seq[(String, Double)] = {
    val prep = time("pagerank(iterations=0)", () => run(0))
    val one = time("pagerank(iterations=1)", () => run(1))
    layers(prep, one - prep, (jobS - one) / (Iterations - 1), Iterations, 0)
  }
}

/** Connected components to convergence on a sparse G(n, m) graph with a
  * planted tail of `tail` path vertices.
  */
final class CcGnm(spark: SparkSession, seed: Long, n0: Int, m: Long, tail: Int)
    extends GraphWorkload(spark, seed, n0 + tail) {
  /** (vertex labels, labels changed per superstep) */
  type Out = (Array[(Long, Long)], Array[Long])
  private val n = n0 + tail
  protected val gen = Inputs.gnmWithTail(seed, n0, m, tail)
  private var ref = Array.empty[Long]
  private var lastLog = Array.empty[Long]

  protected def referenceFrom(): Unit = ref = Oracles.components(n, src, dst)

  private def run(maxIter: Int): Out = {
    import spark.implicits._
    val (comp, log) = Algorithms.connectedComponentsWithDeltaLog(edges, maxIter)
    (comp.select("id", "component").as[(Long, Long)].collect(),
      log.orderBy("iter").select("nupdates").as[Long].collect())
  }

  def job(): Out = { val out = run(Int.MaxValue); lastLog = out._2; out }

  def check(out: Out): Option[String] = {
    val expected = ref.count(_ >= 0)
    if (out._1.length != expected) return Some(s"${out._1.length} labels, expected $expected")
    out._1.collectFirst {
      case (id, c) if id < 0 || id >= n || c != ref(id.toInt) =>
        s"vertex $id: component $c, expected ${if (id >= 0 && id < n) ref(id.toInt) else -1}"
    }
  }

  def decompose(jobS: Double, time: Workload.Timer): Seq[(String, Double)] = {
    val prep = time("cc(maxIter=0)", () => run(0))
    val one = time("cc(maxIter=1)", () => run(1))
    // the log has one row per superstep that changed a label; the final
    // superstep, which found nothing to change, is not logged
    val steps = lastLog.length + 1
    val labelled = ref.count(_ >= 0)
    val tail = lastLog.count(_ < 0.01 * labelled) + 1
    layers(prep, one - prep, (jobS - one) / math.max(1, steps - 1), steps, tail)
  }
}

/** Total triangle count on a hub-skewed R-MAT graph. */
final class TrianglesRmat(spark: SparkSession, seed: Long, scale: Int, m: Long)
    extends GraphWorkload(spark, seed, 1 << scale) {
  type Out = Long
  protected val gen = Inputs.rmat(seed, scale, m, 0.57, 0.19, 0.19)
  private var ref = 0L

  override def work: Long = m
  protected def referenceFrom(): Unit = ref = Oracles.triangles(1 << scale, src, dst)

  def job(): Out = Algorithms.totalTriangles(edges)

  def check(out: Out): Option[String] =
    if (out == ref) None else Some(s"$out triangles, expected $ref")

  /** prep: `Generators.orderByDegree` on the simple undirected edge set,
    * which is prepared here once and not timed; step: the rest of the
    * traced job (dedup, adjacency build, joins and the `SortedIntersect`
    * pass).
    */
  def decompose(jobS: Double, time: Workload.Timer): Seq[(String, Double)] = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .distinct().persist(StorageLevel.MEMORY_ONLY)
    und.count()
    Generators.orderByDegree(und)._1.count() // warms the plan of the timed call
    val prep = time("orderByDegree", () => Generators.orderByDegree(und)._1.count())
    und.unpersist(true)
    layers(prep, jobS - prep, jobS - prep, 1, 0)
  }
}

/** ALS (rank 8, three iterations) on planted low-rank ratings. */
final class AlsPlanted(spark: SparkSession, seed: Long, planted: Inputs.Planted,
                       ratings: Long) extends Workload(spark, seed) {
  /** (user factors, item factors, train RMSE per iteration) */
  type Out = (Map[Long, Array[Double]], Map[Long, Array[Double]], Seq[Double])
  val Iterations = 3
  private val train = planted.ratings(seed, 4, ratings)
  private val holdout = planted.ratings(seed, 5, ratings / 10)
  private var held = Array.empty[(Long, Long, Double)]
  private var mean = 0.0

  def work: Long = ratings
  def vertices: Long = planted.users
  // with one warm-up, the three timed jobs still sped up by 25-45%
  override def warmups: Int = 2
  def generate(): Unit = materialize(Inputs.ratingFrame(spark, train))
  def gramRows: DataFrame =
    input.select(col("user").as("a"), col("item").as("b"), col("rating").cast("double"))

  def reference(): Unit = {
    var s = 0.0
    (0 until Inputs.Parts).foreach(p => train(p).foreach(r => s += r._3))
    mean = s / ratings
    held = (0 until Inputs.Parts).flatMap(holdout).toArray
  }

  private def factors(df: DataFrame): Map[Long, Array[Double]] = {
    import spark.implicits._
    df.select("id", "f").as[(Long, Array[Double])].collect().toMap
  }

  private def run(iterations: Int): Out = {
    val m = AlsNormal.train(input, rank = planted.rank, iterations = iterations, seed = seed)
    (if (m.userFactors == null) Map.empty else factors(m.userFactors),
      factors(m.itemFactors), m.trainRmse)
  }

  def job(): Out = run(Iterations)

  /** The train RMSE never rises, and on held-out ratings the model beats
    * predicting the training mean (over the pairs both sides have factors for).
    */
  def check(out: Out): Option[String] = {
    val (uf, vf, trace) = out
    if (trace.length != Iterations) return Some(s"${trace.length} RMSE values, expected $Iterations")
    val rise = trace.sliding(2).collectFirst { case Seq(a, b) if !(b <= a) => (a, b) }
    if (rise.nonEmpty) return Some(s"train RMSE rose: ${trace.mkString(", ")}")
    val known = held.filter { case (u, i, _) => uf.contains(u) && vf.contains(i) }
    if (known.isEmpty) return Some("no hold-out pair has factors")
    val truth = known.map(_._3)
    val pred = known.map { case (u, i, _) =>
      val p = uf(u); val q = vf(i)
      p.indices.map(k => p(k) * q(k)).sum
    }
    val model = Oracles.rmse(truth, pred)
    val baseline = Oracles.rmse(truth, Array.fill(truth.length)(mean))
    if (model < baseline) None
    else Some(s"hold-out RMSE $model is not below the global-mean RMSE $baseline")
  }

  def decompose(jobS: Double, time: Workload.Timer): Seq[(String, Double)] = {
    val prep = time("als(iterations=0)", () => run(0))
    val one = time("als(iterations=1)", () => run(1))
    layers(prep, one - prep, (jobS - one) / (Iterations - 1), Iterations, 0)
  }
}
