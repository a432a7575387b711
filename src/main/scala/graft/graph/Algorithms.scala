package graft.graph

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import java.util.{Arrays, BitSet}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}

/** Graph algorithm library — the reference's `example_apps/` and
  * `toolkits/graph_analytics/` programs (SURVEY.md §2.10), on
  * [[ArrayGraph]] supersteps, [[Pregel]] or plain DataFrame plans. Each
  * takes an edge DataFrame (`src`, `dst` [, props]) and returns a result
  * DataFrame.
  */
object Algorithms {

  /** PageRank, fixed iterations, damping 0.85 — the reference's
    * `example_apps/pagerank.cpp:73-113` (pr = 0.15 + 0.85·Σ in-values,
    * in-value = neighbor pr / outdeg). Dangling-vertex mass follows the
    * reference: a vertex with no out-edges emits nothing, and its mass is
    * dropped, not redistributed. Duplicate edges and self-loops count.
    *
    * An [[ArrayGraph]] sum over the directed graph, from pr = 1.0; a
    * vertex that receives nothing sits at resetProb. The ranks are
    * bit-reproducible for a given partition count. The result is lazy:
    * the build and every superstep run as stages of the job of the
    * caller's action, with no Spark job, query plan or checkpoint of
    * their own. Edges with a null endpoint are skipped.
    */
  def pageRank(edges: DataFrame, iterations: Int = 4,
               resetProb: Double = 0.15): DataFrame = {
    val g = ArrayGraph.directed(edges)
    var ranks = g.parts.map(p => Array.fill(p.size)(1.0))
    for (_ <- 1 to iterations)
      ranks = g.superstep(ranks) { (p, pr) =>
        // a vertex without out-edges has no slot, so its value never ships
        (Array.tabulate(p.size)(v => doubleToRawLongBits(pr(v) / p.outDegree(v))), ArrayGraph.All)
      } { (p, _, in) =>
        Array.tabulate(p.size) { v =>
          val k = in.gather(v)
          var (sum, j) = (0.0, 0)
          while (j < k) { sum += longBitsToDouble(in.values(j)); j += 1 }
          resetProb + (1 - resetProb) * sum
        }
      }
    g.column(ranks, "pr", DoubleType)(identity)
  }

  /** Connected components by min-label flooding to a fixpoint: the
    * labels of [[connectedComponentsWithDeltaLog]].
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithDeltaLog(edges, maxIter)._1

  /** Connected components by min-label flooding to a fixpoint — the
    * reference's `example_apps/connectedcomponents.cpp:79-138`: an
    * [[ArrayGraph]] min over the undirected graph with the reference's
    * selective scheduling (`bitset_scheduler.hpp:38-96`). Every vertex
    * sends in superstep 1, afterwards only those whose label changed (a
    * partition pair with none ships nothing), and the run stops when no
    * label changes (`graphchi_engine.hpp:802-810`). Also returns the
    * reference's delta log (`graphchi_engine.hpp:593-599`) as (iter,
    * nupdates): the labels changed in each superstep that changed one,
    * from the supersteps' collected counts.
    */
  def connectedComponentsWithDeltaLog(edges: DataFrame,
                                      maxIter: Int = 50): (DataFrame, DataFrame) = {
    val g = ArrayGraph.undirected(edges)
    // (labels, the vertices whose label changed in the last superstep)
    val init = g.parts.map { p => val all = new BitSet(p.size); all.set(0, p.size); (p.ids.clone(), all) }
    val (state, changed) = g.converge(init, maxIter)(_._2.cardinality.toLong) {
      g.superstep(_) { case (_, (label, moved)) => (label, moved.get _) } { case (_, (label, _), in) =>
        val (next, moved) = (label.clone(), new BitSet(label.length))
        for (v <- next.indices) {
          for (j <- 0 until in.gather(v)) next(v) = math.min(next(v), in.values(j))
          if (next(v) != label(v)) moved.set(v)
        }
        (next, moved)
      }
    }
    val log = changed.takeWhile(_ > 0).zipWithIndex.map { case (n, i) => Row(i + 1, n) }
    // rows and a schema derive no encoder by reflection; one partition, so sorting plans no exchange
    (g.column(state, "component", LongType)(_._1), edges.sparkSession.createDataFrame(Arrays.asList(log: _*),
      new StructType().add("iter", IntegerType, false).add("nupdates", LongType, false)).coalesce(1))
  }

  /** Community detection by label propagation (most-frequent neighbor
    * label, larger label wins ties) — the reference's
    * `example_apps/communitydetection.cpp:100-171` (tie-break `:150-153`):
    * an [[ArrayGraph]] mode over the undirected graph, every vertex
    * sending its label each superstep. Synchronous variant; fixed
    * iteration budget like the reference's default. Lazy, like
    * [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val g = ArrayGraph.undirected(edges)
    var labels = g.parts.map(_.ids.clone())
    for (_ <- 1 to iterations)
      labels = g.superstep(labels)((_, label) => (label, ArrayGraph.All)) { (p, label, in) =>
        Array.tabulate(p.size) { v =>
          val k = in.gather(v)
          Arrays.sort(in.values, 0, k)
          // the longest run of equal labels, the later (larger) on ties
          var (best, bestRun, run) = (label(v), 0, 0)
          for (j <- 0 until k) {
            run = if (j > 0 && in.values(j) == in.values(j - 1)) run + 1 else 1
            if (run >= bestRun) { best = in.values(j); bestRun = run }
          }
          best
        }
      }
    g.column(labels, "label", LongType)(identity)
  }

  /** k-core decomposition by iterative peeling for a given k — the
    * reference's `toolkits/graph_analytics/kcores.cpp:81-142`: an
    * [[ArrayGraph]] count over the undirected graph without self-loops.
    * A vertex whose live degree drops below k dies and, in the next
    * superstep, tells each neighbour once, which lowers its live degree.
    * Returns the vertices that survive in the k-core.
    *
    * The initial state already removes the vertices of degree < k, so a
    * run cut by `maxIter` has applied `maxIter + 1` peel rounds; the run
    * stops early at the first superstep in which no vertex dies.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    val g = ArrayGraph.undirected(PropertyGraph.fromEdges(edges).withoutSelfEdges.edges)
    // (live degree, the vertices that died in the last superstep); a
    // vertex is alive while its live degree is at least k
    val init = g.parts.map { p =>
      val (live, died) = (Array.tabulate(p.size)(p.inDegree), new BitSet(p.size))
      for (v <- live.indices if live(v) < k) died.set(v)
      (live, died)
    }
    val (state, _) = g.converge(init, maxIter)(_._2.cardinality.toLong) {
      g.superstep(_) { case (p, (_, died)) =>
        (Array.tabulate(p.size)(v => if (died.get(v)) 1L else 0L), died.get _)
      } { case (p, (live, _), in) =>
        val (next, died) = (live.clone(), new BitSet(p.size))
        for (v <- next.indices) {
          for (j <- 0 until in.gather(v)) next(v) -= in.values(j).toInt
          if (live(v) >= k && next(v) < k) died.set(v)
        }
        (next, died)
      }
    }
    g.column(state, "live", IntegerType)(_._1).filter(col("live") >= k).select("id")
  }

  /** Per-vertex core number — the full decomposition the reference's
    * `toolkits/graph_analytics/kcores.cpp:81-142,208-223` emits — as the
    * h-index fixpoint [Lü et al., Nature Communications 7:10168 (2016)]
    * instead of the reference's peel-to-fixpoint-per-k loop: an
    * [[ArrayGraph]] fold over the undirected graph without self-loops
    * that starts from degree and replaces each label with the h-index of
    * its neighbours' labels; the fixpoint is exactly the coreness. Labels
    * never increase, so `iterations` is a cap: the run stops at the first
    * round that changes no label, bit-identical to the full unroll, and a
    * run cut unconverged leaves a valid upper bound. Vertices are those
    * incident to ≥1 edge, as in the reference.
    */
  def coreness(edges: DataFrame, iterations: Int = 20): DataFrame = {
    val g = ArrayGraph.undirected(PropertyGraph.fromEdges(edges).withoutSelfEdges.edges)
    // (labels, how many changed in the last round)
    val init = g.parts.map(p => (Array.tabulate(p.size)(p.inDegree(_).toLong), 0L))
    val (state, _) = g.converge(init, iterations)(_._2) {
      g.superstep(_) { case (_, (label, _)) => (label, ArrayGraph.All) } { case (p, (label, _), in) =>
        val next = Array.tabulate(p.size) { v =>
          // the largest h with h in-labels >= h
          val k = in.gather(v)
          Arrays.sort(in.values, 0, k)
          (0 until k).foldLeft(0L)((h, j) => math.max(h, math.min(in.values(j), (k - j).toLong)))
        }
        (next, next.indices.count(v => next(v) != label(v)).toLong)
      }
    }
    g.column(state, "c", LongType)(_._1)
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
    // each gain |∩|, every w gains 1, in ONE pass over the intersect
    // rows (concat + explode). A 3-branch union would evaluate the
    // adjacency joins and the intersect kernel once per branch.
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
    // native VecScale for the per-edge weighted copy and the renormalize
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
