package graft.graph

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Graph algorithm library — the reference's `example_apps/` and
  * `toolkits/graph_analytics/` programs (SURVEY.md §2.10), re-expressed as
  * declarative DataFrame iteration. Each takes an edge DataFrame
  * (`src`, `dst` [, props]) and returns a result DataFrame.
  */
object Algorithms {

  /** PageRank, fixed iterations, damping 0.85 — the reference's
    * `example_apps/pagerank.cpp:73-113` (pr = 0.15 + 0.85·Σ in-values,
    * in-value = neighbor pr / outdeg). Dangling-vertex mass follows the
    * reference: a vertex with no out-edges emits nothing, and its mass is
    * dropped, not redistributed. Duplicate edges and self-loops count.
    *
    * The superstep is the reference's in-memory multiply-add
    * (`pagerank.cpp:121-146`) over dense arrays, partitioned as in GraphX:
    * vertices are hash-partitioned by id into `spark.sql.shuffle.partitions`
    * partitions, each holding its ids sorted, and a vertex's local index
    * is its position in that order. One shuffle of edge blocks, which
    * sends each edge to its source's and to its destination's partition,
    * builds, once per call, a cached [[RankPart]] per partition:
    *   - sender side: 1/outdeg per local source and, per target
    *     partition, each edge's local source and its slot among the
    *     distinct destinations of that (source, target) partition pair;
    *   - receiver side: per source partition, slot → local destination.
    * Both sides number a pair's slots by sorted destination id, so they
    * agree without exchanging a routing table. A superstep is one narrow
    * pass (`out(slot) += pr(s)/outdeg(s)`, one array per target
    * partition; superstep 1 sends from pr = 1.0), one shuffle of those
    * `Array[Double]`s, and one narrow reduce that adds them in
    * source-partition order and sets pr = resetProb + (1 − resetProb)·sum.
    * A vertex that receives nothing sits at resetProb. Every sum runs in
    * a fixed order, so the ranks are bit-reproducible for a given
    * partition count.
    *
    * The result is lazy: the build and every superstep run as stages of
    * the job of the caller's action, with no Spark job, query plan or
    * checkpoint of their own. Edges with a null endpoint are skipped;
    * `iterations <= 0` gives the uniform init (pr = 1.0).
    */
  def pageRank(edges: DataFrame, iterations: Int = 4,
               resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val byIndex = new HashPartitioner(n) // an Int key is its own partition
    val parts = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd
      .mapPartitions(RankPart.route(n, _))
      .partitionBy(byIndex)
      .mapPartitionsWithIndex((p, blocks) => Iterator(RankPart.build(p, n, blocks.map(_._2))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = parts.map(p => Array.fill(p.ids.length)(1.0))
    for (_ <- 1 to iterations) {
      val inbox = parts.zipPartitions(ranks)((p, pr) => p.next().send(pr.next()))
        .partitionBy(byIndex)
      ranks = parts.zipPartitions(inbox)(
        (p, msgs) => Iterator(p.next().receive(msgs.map(_._2), resetProb)))
    }
    val rows = parts.zipPartitions(ranks) { (p, pr) =>
      val (ids, r) = (p.next().ids, pr.next())
      ids.indices.iterator.map(i => Row(ids(i), r(i)))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pr", DoubleType, nullable = false))))
  }

  /** One vertex partition of [[pageRank]]: `ids` sorted, `w` = 1/outdeg
    * per local vertex (0 without out-edges); per target partition q,
    * `sendSrc(q)`/`sendSlot(q)` give each edge's local source and slot,
    * ordered by (slot, source); per source partition p, `recv(p)` maps
    * slot → local destination.
    */
  private final class RankPart(val index: Int, val ids: Array[Long], w: Array[Double],
      sendSrc: Array[Array[Int]], sendSlot: Array[Array[Int]],
      recv: Array[Array[Int]]) extends Serializable {

    /** (target partition, (this partition, per-slot sums of pr/outdeg)). */
    def send(pr: Array[Double]): Iterator[(Int, (Int, Array[Double]))] = {
      val c = new Array[Double](ids.length)
      var i = 0
      while (i < c.length) { c(i) = w(i) * pr(i); i += 1 }
      sendSlot.indices.iterator.filter(sendSlot(_).nonEmpty).map { q =>
        val (src, slot) = (sendSrc(q), sendSlot(q))
        val out = new Array[Double](slot.last + 1)
        var e = 0
        while (e < src.length) { out(slot(e)) += c(src(e)); e += 1 }
        (q, (index, out))
      }
    }

    /** The next ranks from the (source partition, sums) this partition got. */
    def receive(msgs: Iterator[(Int, Array[Double])], resetProb: Double): Array[Double] = {
      val from = new Array[Array[Double]](recv.length)
      msgs.foreach { case (p, m) => from(p) = m }
      val sum = new Array[Double](ids.length)
      for (p <- from.indices if from(p) != null) {
        val (m, to) = (from(p), recv(p))
        var k = 0
        while (k < m.length) { sum(to(k)) += m(k); k += 1 }
      }
      var i = 0
      while (i < sum.length) { sum(i) = resetProb + (1 - resetProb) * sum(i); i += 1 }
      sum
    }
  }

  private object RankPart {
    /** A vertex id's partition, after a 64-bit mix so that strided ids spread. */
    def partOf(id: Long, n: Int): Int =
      Math.floorMod(java.lang.Long.hashCode(scala.util.hashing.byteswap64(id)), n)

    /** Pairs per edge block of [[route]]. */
    private val Block = 4096

    /** The edge rows of one input partition as blocks keyed by vertex
      * partition: each edge goes to its source's partition as an out-edge
      * (src, dst) and to its destination's as an in-edge (dst, src),
      * interleaved into `Array[Long]`s of at most [[Block]] pairs, flagged
      * `true` for in-edges. Rows with a null endpoint are skipped.
      */
    def route(n: Int, rows: Iterator[InternalRow]): Iterator[(Int, (Boolean, Array[Long]))] = {
      val bufs = Array.fill(2 * n)(new ArrayBuilder.ofLong) // 2p: out-edges of p, 2p + 1: in-edges
      def take(b: Int) = { val a = bufs(b).result(); bufs(b).clear(); (b / 2, (b % 2 == 1, a)) }
      rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        val (o, i) = (2 * partOf(s, n), 2 * partOf(d, n) + 1)
        bufs(o).addOne(s).addOne(d)
        bufs(i).addOne(d).addOne(s)
        if (bufs(o).length < 2 * Block && bufs(i).length < 2 * Block) Iterator.empty
        else Iterator(o, i).filter(bufs(_).length >= 2 * Block).map(take)
      } ++ bufs.indices.iterator.filter(bufs(_).length > 0).map(take)
    }

    /** Partition `index`'s arrays from its [[route]] blocks. */
    def build(index: Int, n: Int, blocks: Iterator[(Boolean, Array[Long])]): RankPart = {
      val (oSrc, oDst, iDst, iSrc) = unzip(blocks)
      val ids = sortedDistinct(Array.concat(oSrc, iDst))
      val oLoc = localIndex(ids, oSrc)
      val deg = new Array[Int](ids.length)
      oLoc.foreach(s => deg(s) += 1)
      val w = deg.map(d => if (d == 0) 0.0 else 1.0 / d)
      // sender: out-edges by target partition, a slot per distinct dst
      val byTarget = groupByPart(oDst, n)
      val sendSrc, sendSlot = new Array[Array[Int]](n)
      for (q <- 0 until n) {
        val es = byTarget(q)
        val dsts = sortedDistinct(es.map(e => oDst(e)))
        val keyed = es.map(e =>
          (java.util.Arrays.binarySearch(dsts, oDst(e)).toLong << 32) | oLoc(e))
        java.util.Arrays.sort(keyed)
        sendSlot(q) = keyed.map(k => (k >>> 32).toInt)
        sendSrc(q) = keyed.map(_.toInt)
      }
      // receiver: in-edges by source partition, slots numbered alike
      val bySource = groupByPart(iSrc, n)
      val recv = Array.tabulate(n)(p =>
        localIndex(ids, sortedDistinct(bySource(p).map(e => iDst(e)))))
      new RankPart(index, ids, w, sendSrc, sendSlot, recv)
    }

    /** (out-edge src, out-edge dst, in-edge dst, in-edge src) of the blocks. */
    private def unzip(blocks: Iterator[(Boolean, Array[Long])]) = {
      val (oSrc, oDst, iDst, iSrc) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong,
        new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
      blocks.foreach { case (in, pairs) =>
        val (a, b) = if (in) (iDst, iSrc) else (oSrc, oDst)
        var k = 0
        while (k < pairs.length) { a.addOne(pairs(k)); b.addOne(pairs(k + 1)); k += 2 }
      }
      (oSrc.result(), oDst.result(), iDst.result(), iSrc.result())
    }

    /** Sorts `xs` in place and returns its distinct values. */
    private def sortedDistinct(xs: Array[Long]): Array[Long] = {
      java.util.Arrays.sort(xs)
      var k = 0
      for (i <- xs.indices if i == 0 || xs(i) != xs(i - 1)) { xs(k) = xs(i); k += 1 }
      java.util.Arrays.copyOf(xs, k)
    }

    private def localIndex(ids: Array[Long], xs: Array[Long]): Array[Int] =
      xs.map(x => java.util.Arrays.binarySearch(ids, x))

    /** Indices of `keys`, grouped by the partition of each key. */
    private def groupByPart(keys: Array[Long], n: Int): Array[Array[Int]] = {
      val part = keys.map(partOf(_, n))
      val size = new Array[Int](n)
      part.foreach(q => size(q) += 1)
      val groups = size.map(new Array[Int](_))
      val fill = new Array[Int](n)
      for (e <- part.indices) { groups(part(e))(fill(part(e))) = e; fill(part(e)) += 1 }
      groups
    }
  }

  /** Connected components by min-label flooding to a fixpoint — the
    * reference's `example_apps/connectedcomponents.cpp:79-138`: a
    * [[Pregel]] `activeOnly` run, so only vertices whose label changed
    * send, and it converges when no label changes, mirroring the
    * reference's scheduler-driven termination
    * (`graphchi_engine.hpp:802-810`).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithDeltaLog(edges, maxIter)._1

  /** Connected components plus the reference's per-iteration delta log
    * (`src/engine/graphchi_engine.hpp:593-599`: iter, nupdates, work) —
    * here (iter, nupdates) with nupdates = labels changed that round,
    * one row per superstep that changed a label. The counts are the
    * runner's per-superstep changed counts (one tiny row per superstep
    * on the driver, same as the reference's CSV).
    */
  def connectedComponentsWithDeltaLog(edges: DataFrame,
                                      maxIter: Int = 50): (DataFrame, DataFrame) = {
    // materialized once: the vertex set and the runner's adjacency are
    // both built from it without re-reading `edges`
    val sym = PropertyGraph.fromEdges(edges).symmetrize.edges
      .transform(graft.graph.Iterate.ckpt)
    // symmetric: every vertex is a source
    val (comp, changed) = Pregel.run(sym.select(col("src").as("id")).distinct(), sym,
      initial = Map("component" -> col("id")),
      sendMsg = col("src_component"),
      aggMsg = min(col("msg")),
      update = Map("component" -> least(col("component"), col("msg"))),
      maxIter = maxIter, activeOnly = true)
    val spark = edges.sparkSession
    import spark.implicits._
    val log = changed.takeWhile(_ > 0).zipWithIndex.map { case (n, i) => (i + 1, n) }
    (comp, log.toDF("iter", "nupdates"))
  }

  /** Community detection by label propagation (most-frequent neighbor
    * label, larger label wins ties) — the reference's
    * `example_apps/communitydetection.cpp:100-171` (tie-break `:150-153`):
    * a [[Pregel]] run in which every vertex sends its label each
    * superstep. Synchronous variant; fixed iteration budget like the
    * reference's default.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val sym = PropertyGraph.fromEdges(edges).symmetrize.edges
      .transform(graft.graph.Iterate.ckpt)
    // symmetric: every vertex is a source
    Pregel.run(sym.select(col("src").as("id")).distinct(), sym,
      initial = Map("label" -> col("id")),
      sendMsg = col("src_label"),
      // the most frequent label, the larger on ties: `mode` breaks ties
      // to the smallest value, and bitwise_not reverses the order
      // without overflowing at Long.MinValue
      aggMsg = bitwise_not(mode(bitwise_not(col("msg")), deterministic = true)),
      update = Map("label" -> coalesce(col("msg"), col("label"))),
      maxIter = iterations)._1
  }

  /** k-core decomposition by iterative peeling for a given k — the
    * reference's `toolkits/graph_analytics/kcores.cpp:81-142`: a
    * [[Pregel]] `activeOnly` run in which a vertex whose live degree
    * drops below k deactivates and tells each neighbour once, and the
    * neighbour lowers its live degree. Returns the vertices that
    * survive in the k-core.
    *
    * The initial state already removes the vertices of degree < k, so a
    * run cut by `maxIter` has applied `maxIter + 1` peel rounds; the run
    * stops early at the first superstep that changes no vertex.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    val sym = PropertyGraph.fromEdges(edges).withoutSelfEdges.symmetrize.edges
      .transform(graft.graph.Iterate.ckpt)
    val (deg, below) = graft.graph.Iterate.ckptSum(
      sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        .withColumn("below", (col("d") < k).cast("long")),
      "below")
    // only a vertex below k ever sends; with none the graph is its own
    // k-core, and the run and its adjacency build are skipped
    if (below == 0L) return deg.select("id")
    val (state, _) = Pregel.run(deg, sym,
      initial = Map("alive" -> (col("d") >= k), "deg" -> col("d")),
      sendMsg = when(!col("src_alive"), 1L),
      aggMsg = sum(col("msg")),
      update = Map(
        "alive" -> (col("alive") && col("deg") - col("msg") >= k),
        "deg" -> when(col("alive"), col("deg") - col("msg")).otherwise(col("deg"))),
      maxIter = maxIter, activeOnly = true)
    state.filter(col("alive")).select("id")
  }

  /** Per-vertex core number — the full decomposition the reference's
    * `toolkits/graph_analytics/kcores.cpp:81-142,208-223` emits: each
    * vertex's `kcore` is the peel round (the k) at which it was removed,
    * which equals the standard coreness (v is removed in round k iff it
    * belongs to the k-core but not the (k+1)-core).
    *
    * Spark shape: instead of mirroring the reference's nested
    * peel-to-fixpoint-per-k driver loop (data-dependent round count,
    * each round touching the shrinking remainder), this runs the
    * h-index fixpoint [Lü et al., Nature Communications 7:10168 (2016)]:
    * start from degree, repeatedly replace each label with the H-index
    * of its neighbors' labels; the fixpoint is exactly the coreness.
    * Every superstep is one uniform join + window-aggregate over the
    * full edge set — no shrinking actives needed, extra supersteps past
    * convergence are no-ops, and the round count is small in practice
    * (monotone non-increasing labels bounded below by coreness).
    * Vertices are those incident to ≥1 edge (as in the reference, where
    * the vertex set comes from the edge file).
    */
  def coreness(edges: DataFrame, iterations: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = PropertyGraph.fromEdges(edges).withoutSelfEdges.symmetrize.edges
      .repartition(col("dst"))
      .transform(graft.graph.Iterate.ckpt)
    // r16 (guide §2 job cadence): the initial label sum rides the same
    // checkpoint job; each round's convergence test compares label sums
    // (see below) instead of running a separate moved-count action.
    var (lab, labSum) = graft.graph.Iterate.ckptSum(
      sym.groupBy("src").agg(count(lit(1)).as("c"))
        .select(col("src").as("id"), col("c")),
      "c")
    // `iterations` is a cap, not an unroll: each round checks whether any
    // label moved and stops at the fixpoint (labels are monotone
    // non-increasing, so once a round is a no-op every later round is
    // too — a capped run that converges early is bit-identical to the
    // full unroll). Hitting the cap unconverged means the result is a
    // (valid upper-bound) approximation; callers needing certainty raise
    // the cap.
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      // H-index of the neighbor multiset: sort labels desc, take
      // max(min(label, position)) — h neighbors with label ≥ h.
      val nbr = sym.join(lab.select(col("id").as("dst"), col("c").as("nc")), "dst")
        .select(col("src"), col("nc"))
      // r16 (guide §2.3 aggregate before you shuffle): the h-index needs
      // only the per-(src, nc) multiplicity, not every neighbor row —
      // pre-aggregate counts (map-side partials collapse duplicate
      // labels) and run the per-src window over DISTINCT labels. With
      // labels sorted desc and cum = Σ counts so far (= #neighbors with
      // label ≥ nc), max(min(nc, row_number)) over all rows equals
      // max(min(nc, cum)) over distinct labels: within one equal-label
      // run min(nc, rn) is maximal at the run's last row, where rn = cum.
      // Exact same h, smaller sort, no window ties (keys distinct).
      val hist = nbr.groupBy("src", "nc").agg(count(lit(1)).as("m"))
      val w = Window.partitionBy("src").orderBy(desc("nc"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // Convergence folded into the round's ONE materializing job (r16,
      // guide §2 job cadence; supersedes the r9 shape, which still ran a
      // separate moved-count aggregate per round and joined the previous
      // labels just to compute `moved`): labels are monotone
      // non-increasing under the h-index operator (H(f) ≤ f pointwise
      // when f started at degree, and H is monotone — the same property
      // the early-stop equivalence argument above already relies on),
      // so "no label moved" ⟺ "Σc is unchanged" — exact long arithmetic,
      // no increase can mask a decrease. The sum rides the checkpoint's
      // materializing pass: one job per round, no prev-join, and the
      // materialized rows shrink to (id, c).
      val (staged, newSum) = graft.graph.Iterate.ckptSum(
        hist.withColumn("cum", sum("m").over(w))
          .groupBy("src").agg(max(least(col("nc"), col("cum"))).as("c"))
          .select(col("src").as("id"), col("c")),
        "c")
      converged = newSum == labSum
      labSum = newSum
      lab = staged
      it += 1
    }
    lab
  }

  /** Shared triangle prep: degree-ordered orientation + per-edge sorted
    * out-adjacency pair — the reference's order_by_degree pre-pass
    * (`src/preprocessing/util/orderbydegree.hpp:59`) + pivot-scan layout
    * (`examples/trianglecounting.cpp:134-161`), not the wedge self-join:
    * a wedge join materializes Σ_u d_out(u)² rows through a shuffle
    * (≈8·|E| even on a 16-regular graph, quadratic on hubs), while the
    * adjacency form moves each edge once per side (2 shuffles of 8-byte
    * pairs) and intersects sorted arrays inside codegen
    * ([[graft.functions.SortedIntersect]], O(d_u + d_v) per edge).
    * Degree-ordered orientation bounds out-degree by ~2·√|E| (standard
    * orientation bound), so the collected neighbor arrays stay KBs even
    * on hub-skewed graphs — the property that makes `collect_list` safe
    * here when it is banned elsewhere. Returns (edge rows `(u, v, nu,
    * nv)` with both endpoints' sorted out-neighbor arrays, and the
    * newid→id mapping for callers that need original ids).
    */
  private def triangleEdgeAdj(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = PropertyGraph.fromEdges(edges).withoutSelfEdges.edges
      .select(least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .transform(graft.graph.Iterate.ckpt)
    // Degree-order relabel: after it, ascending new-id == ascending
    // degree, so orientation is a plain id comparison and every
    // triangle u<v<w is found exactly once, at edge (u, v).
    val (relabeled, mapping) = Generators.orderByDegree(und)
    val oriented = relabeled.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .transform(graft.graph.Iterate.ckpt)
    val adj = oriented.groupBy(col("u").as("w"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .transform(graft.graph.Iterate.ckpt)
    val emptyNbrs = array().cast("array<bigint>")
    val withAdj = oriented
      .join(adj.select(col("w").as("u"), col("nbrs").as("nu")), "u")
      .join(adj.select(col("w").as("v"), col("nbrs").as("nv")),
        Seq("v"), "left")
      .select(col("u"), col("v"), col("nu"),
        coalesce(col("nv"), emptyNbrs).as("nv"))
    (withAdj, mapping)
  }

  /** Triangle count per vertex — the reference's
    * `example_apps/trianglecounting.cpp:282-427`: every undirected
    * triangle adds one to each of its three corners. Self-loops and
    * duplicate edges are ignored; returns `(id, triangles)` for the
    * vertices on at least one triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val (withAdj, mapping) = triangleEdgeAdj(edges)
    // Edge (u,v) closes one triangle per common out-neighbor w: u and v
    // each gain |∩|, every w gains 1. Rows: 2|E| + #triangles — not the
    // 3-per-wedge explode of the join formulation. The three corner
    // contributions come out of ONE pass over the intersect rows (a
    // per-row concat + explode), NOT a 3-branch union: union branches
    // each re-evaluate their (uncached) input subtree, so the union
    // formulation executed the adjacency joins + intersect kernel
    // THREE times per query (visible as triplicated SortMergeJoins in
    // the final plan).
    val inter = withAdj.select(col("u"), col("v"),
      graft.functions.SortedIntersect.of(col("nu"), col("nv")).as("ws"))
    val c = size(col("ws")).cast("long")
    val corners = inter.select(explode(concat(
        array(struct(col("u").as("newid"), c.as("c")),
              struct(col("v").as("newid"), c.as("c"))),
        transform(col("ws"), w => struct(w.as("newid"), lit(1L).as("c")))))
        .as("p"))
      .select(col("p.newid").as("newid"), col("p.c").as("c"))
      .groupBy("newid").agg(sum("c").as("triangles"))
      .filter(col("triangles") > 0)
    corners.join(mapping, corners("newid") === mapping("newid"))
      .select(mapping("id"), col("triangles"))
  }

  /** Total triangle count (each triangle once): Σ per-edge sorted
    * intersection counts — no wedge materialization, no per-corner
    * explode, one scalar aggregate over |E| rows.
    */
  def totalTriangles(edges: DataFrame): Long = {
    val (withAdj, _) = triangleEdgeAdj(edges)
    val r = withAdj.select(
      graft.functions.SortedIntersect.countOf(col("nu"), col("nv")).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("t")).first()
    r.getLong(0)
  }

  /** Random walks: `nWalks` walkers from each source vertex take `steps`
    * uniform random out-edge steps; returns visit counts per vertex —
    * the reference's `example_apps/randomwalks.cpp:57-137`, with the
    * per-edge `chivector` walker buffers re-formulated as a walker
    * Dataset (SURVEY.md §7.5).
    */
  def randomWalks(edges: DataFrame, sources: DataFrame, nWalks: Int,
                  steps: Int, seed: Long = 42L): DataFrame = {
    val e = edges.select("src", "dst").repartition(col("src"))
      .transform(graft.graph.Iterate.ckpt)
    // Walk ids are globally unique (source*nWalks + k), never just the
    // per-vertex index: two walkers meeting at a vertex must keep moving
    // independently, not merge (randomwalks.cpp moves each walker).
    var walkers = sources.select(col(sources.columns.head).as("cur"))
      .withColumn("w", explode(array((0 until nWalks).map(lit): _*)))
      .select(col("cur"), (col("cur") * nWalks + col("w")).as("w"))
    var visits = walkers.groupBy(col("cur").as("id")).agg(count(lit(1)).as("visits"))
    for (step <- 1 to steps) {
      // Pick a uniform random out-edge per walker: join to out-edges,
      // keep min by hash(rand) — one shuffle, no per-vertex adjacency
      // materialization on the driver.
      val moved = walkers.join(e, walkers("cur") === e("src"))
        .withColumn("r", rand(seed + step))
        .groupBy(col("cur"), col("w"))
        .agg(min_by(col("dst"), col("r")).as("next"))
        .select(col("next").as("cur"), col("w"))
        .transform(graft.graph.Iterate.ckpt)
      walkers = moved
      visits = visits.union(
        moved.groupBy(col("cur").as("id")).agg(count(lit(1)).as("visits")))
      // fold the union periodically so lineage stays O(1) in steps
      if (step % 4 == 0)
        visits = visits.groupBy("id").agg(sum("visits").as("visits"))
          .transform(graft.graph.Iterate.ckpt)
    }
    visits.groupBy("id").agg(sum("visits").as("visits"))
  }

  /** Seeded, damped label propagation over a weighted graph — the
    * reference's `toolkits/graph_analytics/label_propagation.cpp:79-101`:
    * seed vertices keep a fixed label distribution; others take the
    * α-damped, renormalized weighted average of their in-neighbors'
    * distributions. State is an `ArrayType(double)` probability vector
    * indexed by label id.
    *
    * @param seeds (id, label) — label ∈ [0, numLabels)
    */
  def seededLabelPropagation(edges: DataFrame, seeds: DataFrame,
                             numLabels: Int, iterations: Int = 10,
                             alpha: Double = 0.15): DataFrame =
      graft.GraftSession.withTrainerAggCapacity(edges.sparkSession) {
    // materialized once: the vertex set and the runner's adjacency are
    // both built from it without re-reading `edges`
    val e = edges.select(col("src"), col("dst"),
        (if (edges.columns.contains("weight")) col("weight").cast("double")
         else lit(1.0)).as("w"))
      .transform(graft.graph.Iterate.ckpt)
    val verts = PropertyGraph.fromEdges(e).vertices
      .join(seeds.withColumnRenamed("label", "__seed"), Seq("id"), "left")
    val oneHot = (l: Column) => transform(sequence(lit(0), lit(numLabels - 1)),
      i => when(i === l, 1.0d).otherwise(0.0d))
    val uniform = array_repeat(lit(1.0d / numLabels), numLabels)
    // r15: native VecScale for the per-edge weighted copy and the
    // per-vertex renormalize (interpreted HOFs before; bit-exact)
    val avg = graft.functions.VecMath.scaleDiv(col("msg.sumd"), col("msg.sw"))
    val (state, _) = Pregel.run(verts, e,
      initial = Map("fixed" -> col("__seed").isNotNull,
        "dist" -> when(col("__seed").isNotNull, oneHot(col("__seed"))).otherwise(uniform)),
      sendMsg = struct(
        graft.functions.VecMath.scale(col("src_dist"), col("w")).as("wd"), col("w")),
      aggMsg = struct(graft.functions.VecSum.of(col("msg.wd"), numLabels).as("sumd"),
        sum(col("msg.w")).as("sw")),
      update = Map("fixed" -> col("fixed"),
        "dist" -> when(col("fixed") || col("msg").isNull, col("dist"))
          .otherwise(zip_with(col("dist"), avg,
            (d, m) => lit(alpha) * d + lit(1 - alpha) * m))),
      maxIter = iterations)
    state.select(col("id"),
      expr("array_position(dist, array_max(dist)) - 1").as("label"), col("dist"))
  }

  /** Union-find connected components — the reference's in-memory
    * single-pass variant (`example_apps/unionfind_connectedcomps.cpp:
    * 23-31`), which the reference itself restricts to graphs whose
    * vertex array fits in RAM. Mirrored honestly: edges stream to the
    * driver partition-by-partition (`toLocalIterator`, never a full
    * collect), a weighted disjoint-set with path compression labels
    * them, and the labels return as a DataFrame. Unions always root at
    * the smaller id, so each component's label is its minimum member id
    * and the output matches [[connectedComponents]] exactly; use that
    * distributed variant when the vertex set exceeds driver memory.
    */
  def unionFindConnectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val it = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (a, b) = (find(u), find(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = parent.keys.toSeq.map(v => (v, find(v)))
    labels.toDF("id", "component")
  }
}
