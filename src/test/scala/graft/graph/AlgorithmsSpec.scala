package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("src", "dst")

  private def ranks(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** PageRank over plain arrays with the rules of [[Algorithms.pageRank]]:
    * duplicate edges and self-loops count, and a vertex without
    * out-edges emits nothing.
    */
  private def arrayPageRank(pairs: Seq[(Long, Long)], iterations: Int): Map[Long, Double] = {
    val ids = pairs.flatMap { case (s, d) => Seq(s, d) }.distinct
    val ix = ids.zipWithIndex.toMap
    val odeg = new Array[Int](ids.length)
    pairs.foreach { case (s, _) => odeg(ix(s)) += 1 }
    var pr = Array.fill(ids.length)(1.0)
    for (_ <- 1 to iterations) {
      val sum = new Array[Double](ids.length)
      pairs.foreach { case (s, d) => sum(ix(d)) += pr(ix(s)) / odeg(ix(s)) }
      pr = sum.map(0.15 + 0.85 * _)
    }
    ids.zip(pr).toMap
  }

  test("pageRank matches a plain-array PageRank on duplicates, self-loops, dangling vertices and extreme ids") {
    val rnd = new scala.util.Random(5)
    val pool = Seq(Long.MinValue, Long.MinValue + 1, -7L, -1L, 0L, 1L, 2L, 3L, 40L,
      Long.MaxValue - 2, Long.MaxValue - 1, Long.MaxValue)
    val pairs = Seq.fill(80)((pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)))) ++
      Seq(5L -> 6L, 5L -> 6L, 5L -> 6L, 5L -> 7L, // duplicates
        6L -> 6L, 7L -> 7L, 7L -> 5L,               // self-loops
        -9L -> 5L, 8L -> Long.MaxValue,             // pure sources
        5L -> 100L, Long.MaxValue - 1 -> 101L)      // dangling vertices
    for (iters <- Seq(1, 4, 60)) {
      val want = arrayPageRank(pairs, iters)
      val got = ranks(Algorithms.pageRank(edges(pairs: _*), iterations = iters))
      assert(got.keySet == want.keySet, s"iterations=$iters")
      for ((v, x) <- want)
        assert(math.abs(got(v) - x) <= 1e-9 * x, s"iterations=$iters vertex $v: ${got(v)} vs $x")
    }
  }

  /** Seeded random multigraph: duplicates, self-loops, a 25-vertex path
    * (a long tail of supersteps), a K5 (a 4-core) and ids at both ends
    * of the long range.
    */
  private def multigraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val pool = Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue) ++
      Seq.fill(56)(rnd.nextLong() / (1L << rnd.nextInt(60)))
    def any = pool(rnd.nextInt(pool.size))
    val random = Seq.fill(150)((any, any))
    val path = (0L until 25L).map(i => (1000L + i) -> (1001L + i)) :+ (any -> 1000L)
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (-a) -> (-b)
    val extras = Seq(Long.MinValue -> Long.MaxValue, Long.MaxValue -> Long.MinValue,
      -1L -> -1L, 1025L -> 1025L, 1025L -> 1024L)
    random ++ random.take(30) ++ path ++ k5 ++ ((-1L -> any) +: extras)
  }

  /** Each vertex's distinct neighbours, as `symmetrize` gives them: both
    * directions, duplicates once, a self-loop kept iff `loops`.
    */
  private def neighbours(pairs: Seq[(Long, Long)], loops: Boolean): Map[Long, Seq[Long]] =
    pairs.filter { case (a, b) => loops || a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).sorted }

  /** Synchronous min-label flooding: each round every label becomes the
    * least of its own and its neighbours'. Returns the labels and the
    * changed count of each round that changed a label.
    */
  private def plainComponents(pairs: Seq[(Long, Long)]): (Map[Long, Long], Seq[(Int, Long)]) = {
    val nbrs = neighbours(pairs, loops = true)
    var label = nbrs.map { case (v, _) => v -> v }
    val log = Seq.newBuilder[(Int, Long)]
    var round = 0
    var changed = 1L
    while (changed > 0) {
      val next = nbrs.map { case (v, ns) => v -> (label(v) +: ns.map(label)).min }
      changed = next.count { case (v, l) => l != label(v) }.toLong
      round += 1
      if (changed > 0) log += round -> changed
      label = next
    }
    (label, log.result())
  }

  /** The k-core by peeling vertices of live degree below k to a fixpoint. */
  private def plainKCore(pairs: Seq[(Long, Long)], k: Int): Set[Long] = {
    val nbrs = neighbours(pairs, loops = false)
    var alive = nbrs.keySet
    var peeled = true
    while (peeled) {
      val next = alive.filter(v => nbrs(v).count(alive) >= k)
      peeled = next.size < alive.size
      alive = next
    }
    alive
  }

  /** Core numbers by Batagelj–Zaversnik peeling: repeatedly remove a
    * vertex of least remaining degree; its core number is the largest
    * such degree seen so far.
    */
  private def plainCoreness(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = neighbours(pairs, loops = false)
    val deg = scala.collection.mutable.Map(nbrs.map { case (v, ns) => v -> ns.size }.toSeq: _*)
    val core = Map.newBuilder[Long, Long]
    var k = 0
    while (deg.nonEmpty) {
      val (v, d) = deg.minBy { case (u, du) => (du, u) }
      k = math.max(k, d)
      core += v -> k.toLong
      deg.remove(v)
      nbrs(v).foreach(u => deg.get(u).foreach(du => deg(u) = du - 1))
    }
    core.result()
  }

  /** Synchronous label propagation: each round every vertex takes the
    * most frequent label among its distinct neighbours (itself too if it
    * has a self-loop), the larger label on ties.
    */
  private def plainLabelPropagation(pairs: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val nbrs = neighbours(pairs, loops = true)
    var label = nbrs.map { case (v, _) => v -> v }
    for (_ <- 1 to iterations)
      label = nbrs.map { case (v, ns) =>
        v -> ns.map(label).groupBy(identity).toSeq.map { case (l, ls) => (ls.size, l) }.max._2
      }
    label
  }

  private def longPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("CC, kCore, coreness and labelPropagation equal plain single-thread loops on seeded multigraphs") {
    for (seed <- Seq(1, 2, 3)) {
      val pairs = multigraph(seed)
      val e = edges(pairs: _*)
      val (labels, log) = plainComponents(pairs)
      val (cc, ccLog) = Algorithms.connectedComponentsWithDeltaLog(e)
      assert(longPairs(cc) == labels, s"seed $seed: CC labels")
      assert(ccLog.orderBy("iter").collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq == log,
        s"seed $seed: CC delta log")
      assert(log.length >= 25, s"seed $seed: the path should take a superstep per hop")
      for (k <- 1 to 3)
        assert(Algorithms.kCore(e, k).collect().map(_.getLong(0)).toSet == plainKCore(pairs, k),
          s"seed $seed: $k-core")
      val core = plainCoreness(pairs)
      assert(longPairs(Algorithms.coreness(e, iterations = 1000)) == core, s"seed $seed: coreness")
      assert(core.values.max >= 4L, s"seed $seed: the K5 is a 4-core")
      for (iters <- Seq(1, 2, 5))
        assert(longPairs(Algorithms.labelPropagation(e, iterations = iters)) ==
          plainLabelPropagation(pairs, iters), s"seed $seed: labelPropagation, $iters iterations")
      val scc = Tarjan.components(pairs)
      assert(longPairs(Contraction.stronglyConnectedComponents(e)) == scc, s"seed $seed: SCC")
      assert(scc(Long.MaxValue) == Long.MinValue, s"seed $seed: the extreme ids share an SCC")
    }
    // a min-colour flood over the cycle 3→4→2→3, entered from 1: a vertex
    // that receives a colour but keeps its own must not keep sending
    val cycle = Seq(1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 2L)
    assert(longPairs(Contraction.stronglyConnectedComponents(edges(cycle: _*))) == Tarjan.components(cycle))
  }

  test("ArrayGraph.reversed numbers each partition's vertices as the forward layout does, and is the reversed graph's layout") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      val pairs = multigraph(1)
      def arrays(g: ArrayGraph) = g.parts.map(p => Seq(p.index, p.ids.toSeq, p.outDegree.toSeq,
        p.out.map(_.toSeq).toSeq, p.inOff.toSeq, p.inFrom.toSeq, p.inSlot.toSeq)).collect().toSeq
      val g = ArrayGraph.directed(edges(pairs: _*))
      val (fwd, rev) = (arrays(g), arrays(g.reversed))
      assert(rev.map(_.take(2)) == fwd.map(_.take(2)), "vertex numbering")
      assert(rev == arrays(ArrayGraph.directed(edges(pairs.map(_.swap): _*))), "layout")
    } finally spark.conf.set(key, saved)
  }

  test("pageRank: cycle converges to uniform ranks") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val pr = Algorithms.pageRank(e, iterations = 10).collect()
    assert(pr.length == 3)
    pr.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-6))
  }

  test("pageRank: iterations = 0 returns the uniform init, not an NPE") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val pr = Algorithms.pageRank(e, iterations = 0).collect()
    assert(pr.length == 3)
    pr.foreach(r => assert(r.getDouble(1) == 1.0))
  }

  test("coreness stops at the fixpoint: huge cap equals exact unroll") {
    // chain of triangles: needs a few h-index rounds; a cap of 1000 must
    // terminate early at the fixpoint and equal the capped-at-8 answer
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 6L -> 4L, 6L -> 7L)
    val a = Algorithms.coreness(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Algorithms.coreness(e, iterations = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a(1L) == 2L && a(7L) == 1L)
  }

  test("pageRank: star center collects mass") {
    val e = edges(1L -> 9L, 2L -> 9L, 3L -> 9L, 9L -> 1L)
    val pr = Algorithms.pageRank(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(9L) > pr(2L) && pr(9L) > pr(3L))
  }

  test("connectedComponents: two components get min labels") {
    val e = edges(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val cc = Algorithms.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: chain floods min label to the end") {
    val e = edges((1L to 9L).map(i => i -> (i + 1)): _*)
    val cc = Algorithms.connectedComponents(e).collect()
    assert(cc.forall(_.getLong(1) == 1L))
  }

  test("connectedComponentsWithDeltaLog: exact per-superstep counts on a path plus a pair") {
    // path 1-2-3-4-5 and pair 10-11. Superstep 1 relabels 2..5 and 11;
    // then only changed vertices send, so the path's min label moves one
    // hop per superstep: 3,4,5 change, then 4,5, then 5, then nothing.
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 10L -> 11L)
    def run(maxIter: Int) = {
      val (cc, log) = Algorithms.connectedComponentsWithDeltaLog(e, maxIter)
      (cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        log.orderBy("iter").collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq)
    }
    val (labels, log) = run(50)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    assert(log == Seq(1 -> 5L, 2 -> 3L, 3 -> 2L, 4 -> 1L))
    val (cut, cutLog) = run(2)
    assert(cut == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      10L -> 10L, 11L -> 10L))
    assert(cutLog == Seq(1 -> 5L, 2 -> 3L))
    val (ident, identLog) = run(0)
    assert(ident == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L,
      10L -> 10L, 11L -> 11L))
    assert(identLog.isEmpty)
  }

  test("CC, SCC, LPA, 2-core and PageRank results do not depend on shuffle partitions") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(260)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) ++
      (300L until 320L).map(i => i -> (i + 1)) // a path: a long tail of supersteps
    val e = edges(pairs: _*)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def results(parts: Int) = {
      spark.conf.set(key, parts.toString)
      try {
        val (cc, log) = Algorithms.connectedComponentsWithDeltaLog(e)
        (labels(cc),
          log.orderBy("iter").collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq,
          labels(Contraction.stronglyConnectedComponents(e)),
          labels(Algorithms.labelPropagation(e)),
          Algorithms.kCore(e, 2).collect().map(_.getLong(0)).toSet,
          ranks(Algorithms.pageRank(e, iterations = 10)),
          ranks(Algorithms.pageRank(e, iterations = 10)),
          labels(Algorithms.coreness(e, iterations = 1000)))
      } finally spark.conf.set(key, saved)
    }
    def bits(pr: Map[Long, Double]) = pr.map { case (v, x) => v -> java.lang.Double.doubleToRawLongBits(x) }
    val base = results(1)
    assert(base._1 == labels(Algorithms.unionFindConnectedComponents(e)))
    assert(base._2.length >= 20)
    assert(base._5.nonEmpty && !base._5.contains(320L))
    assert(bits(base._7) == bits(base._6), "PageRank differs between two runs at 1 partition")
    for (parts <- Seq(7, 200)) {
      val got = results(parts)
      assert(bits(got._7) == bits(got._6), s"PageRank differs between two runs at $parts partitions")
      assert(got._6.keySet == base._6.keySet, s"PageRank vertex set differs at $parts partitions")
      for ((v, x) <- got._6)
        assert(math.abs(x - base._6(v)) <= 1e-12 * base._6(v),
          s"PageRank of $v differs at $parts partitions: $x vs ${base._6(v)}")
      assert(got._1 == base._1, s"CC labels differ at $parts partitions")
      assert(got._2 == base._2, s"CC delta log differs at $parts partitions")
      assert(got._3 == base._3, s"SCC labels differ at $parts partitions")
      assert(got._4 == base._4, s"label propagation differs at $parts partitions")
      assert(got._5 == base._5, s"2-core differs at $parts partitions")
      assert(got._8 == base._8, s"coreness differs at $parts partitions")
    }
  }

  test("result frames recompute to the same bits after every cached RDD is dropped") {
    val pairs = multigraph(4)
    val e = edges(pairs: _*)
    val (cc, log) = Algorithms.connectedComponentsWithDeltaLog(e)
    val frames = Seq(Algorithms.pageRank(e, iterations = 6), cc, log,
      Algorithms.kCore(e, 2), Algorithms.coreness(e, iterations = 1000),
      Algorithms.labelPropagation(e, iterations = 3), Contraction.stronglyConnectedComponents(e))
    def rows = frames.map(_.collect().map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case x => x
    }).toSeq.sortBy(_.toString))
    val first = rows
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(rows == first)
  }

  test("labelPropagation: clique converges to a single label") {
    val ids = 1L to 4L
    val e = edges((for { a <- ids; b <- ids if a != b } yield a -> b): _*)
    val labels = Algorithms.labelPropagation(e, iterations = 6)
      .select("label").distinct().collect()
    assert(labels.length == 1)
  }

  test("kCore: triangle survives 2-core, pendant vertex does not") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    val core = Algorithms.kCore(e, 2).collect().map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
  }

  // Vertex 1's neighbours 2, 3 take label 9 and 4, 5 take label 7 in
  // superstep 1 (each breaks a 1-1 tie to the larger label), so in
  // superstep 2 vertex 1's in-labels tie 2-2 between 9 and 7.
  private val tieGraph = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L,
    2L -> 9L, 3L -> 9L, 4L -> 7L, 5L -> 7L)
  private val tieLabels = Map(1L -> 9L, 2L -> 5L, 3L -> 5L, 4L -> 5L,
    5L -> 5L, 7L -> 7L, 9L -> 9L)

  test("labelPropagation: a 2-2 tie of in-labels goes to the larger label") {
    val lp = Algorithms.labelPropagation(edges(tieGraph: _*), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == tieLabels)
  }

  test("labelPropagation: ids at both ends of the long range, duplicate edges counted once") {
    // Order-preserving relabellings put the tie's labels at Long.MaxValue
    // and vertex 1 at Long.MinValue. The duplicate of 4-1 (also as 1-4)
    // would make label 7 win vertex 1 three to two if it were counted.
    for (f <- Seq[Long => Long](_ + (Long.MaxValue - 9L), _ + (Long.MinValue - 1L))) {
      val dup = tieGraph ++ Seq(4L -> 1L, 1L -> 4L)
      val lp = Algorithms.labelPropagation(
          edges(dup.map { case (a, b) => f(a) -> f(b) }: _*), iterations = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lp == tieLabels.map { case (v, l) => f(v) -> f(l) })
    }
  }

  test("kCore: a path hanging off a triangle peels one vertex per superstep") {
    // 2-core of triangle 1-2-3 plus path 3-4-5-6-7: 7 starts below k,
    // then 6, 5 and 4 drop out one superstep each, and 3 keeps degree 2.
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L)
    def core(maxIter: Int) = Algorithms.kCore(e, 2, maxIter).collect().map(_.getLong(0)).toSet
    assert(core(50) == Set(1L, 2L, 3L))
    // a cut run has applied the initial cut plus maxIter peel rounds
    assert(core(2) == Set(1L, 2L, 3L, 4L))
    assert(core(0) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("coreness: K4 plus tail — clique is 3-core, tail peels at 1") {
    // K4 (ids 1..4) + chain 4-5-6: coreness 3 for the clique, 1 for
    // the tail (the chain peels in round 1).
    val ids = 1L to 4L
    val k4 = for { a <- ids; b <- ids if a < b } yield a -> b
    val e = edges(k4 ++ Seq(4L -> 5L, 5L -> 6L): _*)
    val c = Algorithms.coreness(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
  }

  test("coreness agrees with kCore membership on a mixed graph") {
    // two triangles sharing a bridge + pendants: {coreness >= k} must
    // equal the k-core peel for every k present.
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 6L -> 4L, 6L -> 7L)
    val c = Algorithms.coreness(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- 1 to 2) {
      val member = Algorithms.kCore(e, k).collect().map(_.getLong(0)).toSet
      assert(c.filter(_._2 >= k).keySet == member, s"k=$k")
    }
    assert(c.values.max == 2L && c(7L) == 1L)
  }

  test("triangleCounts: K4 has 4 triangles, 3 per vertex") {
    val ids = 1L to 4L
    val e = edges((for { a <- ids; b <- ids if a < b } yield a -> b): _*)
    val per = Algorithms.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Algorithms.totalTriangles(e) == 4L)
  }

  test("triangleCounts: bipartite graph has none") {
    val e = edges(1L -> 10L, 2L -> 10L, 1L -> 11L, 2L -> 11L)
    assert(Algorithms.totalTriangles(e) == 0L)
  }

  test("randomWalks: visit mass equals walkers * (steps+1) on a closed graph") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val sources = Seq(1L, 2L).toDF("id")
    val visits = Algorithms.randomWalks(e, sources, nWalks = 10, steps = 5)
    val total = visits.agg(sum("visits")).collect()(0).getLong(0)
    assert(total == 2 * 10 * 6)
  }

  test("pregel: SSSP fixpoint on a small weighted graph") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 10.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val dist = Pregel.run(
      vertices = v, edges = e,
      initial = Map("dist" -> when(col("id") === 1L, 0.0).otherwise(lit(Double.PositiveInfinity))),
      sendMsg = when(col("src_dist") + col("w") < lit(Double.PositiveInfinity),
        col("src_dist") + col("w")),
      aggMsg = min(col("msg")),
      update = Map("dist" -> least(col("dist"), col("msg"))),
      maxIter = 10)
    val got = dist.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0, 4L -> 4.0))
  }

  test("khopSubgraph: one hop from a seed") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val g = PropertyGraph.fromEdges(e)
    val sub = g.khopSubgraph(Seq(1L).toDF("id"), 1)
    val es = sub.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(es == Set((1L, 2L)))
  }

  test("degrees and dedupEdgesMinBy") {
    val e = Seq((1L, 2L, 5.0), (1L, 2L, 3.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val g = PropertyGraph.fromEdges(e)
    val deg = g.degrees.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(deg == Set((1L, 0L, 2L), (2L, 2L, 1L), (3L, 1L, 0L)))
    val dd = g.dedupEdgesMinBy("w").edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dd == Set((1L, 2L, 3.0), (2L, 3L, 1.0)))
  }

  test("clampMaxVertexId drops edges past the declared bound") {
    val e = Seq((1L, 2L), (2L, 9L), (10L, 1L)).toDF("src", "dst")
    val kept = PropertyGraph.fromEdges(e).clampMaxVertexId(5L).edges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L)))
  }

  // Shape specs for the shared graph preparation in PropertyGraph.

  test("pageRank and Functional.bulkSync match the closed form on a hub with chunk-1, chunk and chunk+1 out-edges") {
    // bidirectional star: hub 0 <-> leaves 1..n. The hub's 16k out-edges
    // sit in one pageRank partition, and its out-list straddles the
    // adjacency chunk boundary of Functional.bulkSync. From pr = 1 everywhere,
    // leaf' = 0.15 + 0.85·hub/n and hub' = 0.15 + 0.85·n·leaf.
    val iters = 3
    for (n <- Seq(PropertyGraph.AdjacencyChunk - 1, PropertyGraph.AdjacencyChunk,
                  PropertyGraph.AdjacencyChunk + 1)) {
      val e = spark.range(1, n + 1L)
        .selectExpr("explode(array(named_struct('src', 0L, 'dst', id), " +
          "named_struct('src', id, 'dst', 0L))) AS e")
        .select("e.src", "e.dst")
      var hub = 1.0
      var leaf = 1.0
      for (_ <- 1 to iters) {
        val h = 0.15 + 0.85 * n * leaf
        leaf = 0.15 + 0.85 * hub / n
        hub = h
      }
      val pr = Algorithms.pageRank(e, iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr.size == n + 1, s"n=$n")
      assert(math.abs(pr(0L) - hub) <= 1e-9 * hub, s"n=$n hub ${pr(0L)} != $hub")
      assert(pr.removed(0L).values.forall(v => math.abs(v - leaf) <= 1e-12),
        s"n=$n leaf != $leaf")
      val ew = e.withColumn("w", when(col("src") === 0L, lit(1.0 / n)).otherwise(lit(1.0)))
      val fn = Functional.bulkSync(ew, FunctionalKernel(
          initialValue = lit(1.0),
          valueToNeighbor = col("src_value") * col("w"),
          plus = sum(col("msg")),
          compute = lit(0.15) + lit(0.85) * coalesce(col("msg"), lit(0.0))),
        iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(fn.keySet == pr.keySet, s"n=$n")
      for ((v, x) <- pr)
        assert(math.abs(fn(v) - x) <= 1e-9 * x, s"n=$n vertex $v: Pregel ${fn(v)} vs $x")
    }
  }

  test("empty edge set: pageRank, connectedComponents, kCore and coreness return nothing") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Algorithms.pageRank(e, iterations = 3).collect().isEmpty)
    val (cc, log) = Algorithms.connectedComponentsWithDeltaLog(e)
    assert(cc.collect().isEmpty)
    assert(log.collect().isEmpty)
    assert(log.columns.toSeq == Seq("iter", "nupdates"))
    assert(Algorithms.kCore(e, 1).collect().isEmpty)
    assert(Algorithms.coreness(e).collect().isEmpty)
    assert(Contraction.stronglyConnectedComponents(e).collect().isEmpty)
    // SCC's vertices are the endpoints of non-self-loop edges
    assert(Contraction.stronglyConnectedComponents(edges(5L -> 5L, 7L -> 7L, 7L -> 7L)).collect().isEmpty)
  }

  test("self-loops only: CC and labelPropagation keep the vertex, kCore and coreness drop it") {
    val e = edges(5L -> 5L, 7L -> 7L, 7L -> 7L)
    val cc = Algorithms.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(5L -> 5L, 7L -> 7L))
    val lp = Algorithms.labelPropagation(e, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == Map(5L -> 5L, 7L -> 7L))
    assert(Algorithms.kCore(e, 1).collect().isEmpty)
    assert(Algorithms.coreness(e).collect().isEmpty)
  }
}
