package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Property graph over plain DataFrames — the Spark-native replacement for
  * the reference's sharded on-disk graph (shards + vertex-data file, see
  * reference `src/engine/graphchi_engine.hpp:65` and
  * `src/engine/auxdata/vertex_data.hpp`).
  *
  * Contract: `edges` has `src: LONG, dst: LONG` plus arbitrary property
  * columns; `vertices` has `id: LONG` plus property columns. Both are
  * ordinary DataFrames so the full Spark SQL operator surface (join /
  * window / agg) applies directly. 64-bit ids from day one (the reference
  * is 32-bit, `src/graphchi_types.hpp:26` — too small for 100 TB).
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {
  import PropertyGraph._

  /** Drop self-edges, as the reference does at ingest
    * (`src/preprocessing/sharder.hpp:427-431`).
    */
  def withoutSelfEdges: PropertyGraph =
    copy(edges = edges.filter(col("src") =!= col("dst")))

  /** Clamp to a declared max vertex id — the reference's
    * `set_max_vertex_id` / `maxvertex` option (`sharder.hpp:353-355`,
    * `conversions.hpp:644-647`): edges touching a vertex above the
    * bound are dropped.
    */
  def clampMaxVertexId(maxId: Long): PropertyGraph =
    copy(edges = edges.filter(col("src") <= maxId && col("dst") <= maxId))

  /** Keep one edge per (src,dst), choosing the row minimizing `by` — the
    * reference's `DuplicateEdgeFilter` / `AcceptMinimum`
    * (`src/preprocessing/sharder.hpp:76-80`,
    * `example_apps/minimumspanningforest.cpp:98-102`).
    * Implemented as min_by over a single hash aggregation (one shuffle,
    * partial aggregation map-side) rather than a window sort.
    */
  def dedupEdgesMinBy(by: String): PropertyGraph = {
    val others = edges.columns.filterNot(c => c == "src" || c == "dst")
    val packed = edges.groupBy("src", "dst")
      .agg(min_by(struct(others.map(col).toSeq: _*), col(by)).as("e"))
    copy(edges = packed.select(
      (Seq(col("src"), col("dst")) ++ others.map(c => col(s"e.$c"))): _*))
  }

  /** (in, out) degree per vertex — the reference's degree file
    * (`src/engine/auxdata/degree_data.hpp:24-27`, built at
    * `src/preprocessing/sharder.hpp:989-1006`). Single shuffle: explode
    * each edge into two (id, direction) rows, then one aggregation —
    * cheaper at scale than two groupBys + a full outer join.
    */
  def degrees: DataFrame =
    edges.select(explode(array(
        struct(col("src").as("id"), lit(0).as("in"), lit(1).as("out")),
        struct(col("dst").as("id"), lit(1).as("in"), lit(0).as("out"))))
        .as("d"))
      .groupBy(col("d.id").as("id"))
      .agg(sum("d.in").as("in_degree"), sum("d.out").as("out_degree"))

  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))

  /** Histogram of a vertex label column, descending, top `k` — the
    * reference's `analyze_labels` (`src/util/labelanalysis.hpp:67-189`).
    */
  def labelHistogram(labelCol: String, k: Int = 20): DataFrame =
    vertices.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("label"))
      .limit(k)

  /** Induced subgraph reachable within `hops` of `seeds` — the reference's
    * `toolkits/graph_analytics/subgraph.cpp:20-28` BFS expansion, as an
    * iterated semi-join (frontier stays distributed; no driver collect).
    */
  def khopSubgraph(seeds: DataFrame, hops: Int): PropertyGraph = {
    var reached = seeds.select(col(seeds.columns.head).as("id")).distinct()
    for (_ <- 1 to hops) {
      val next = edges.join(reached, edges("src") === reached("id"), "left_semi")
        .select(col("dst").as("id")).distinct()
      reached = reached.union(next).distinct().transform(graft.graph.Iterate.ckpt)
    }
    val e = edges
      .join(reached.withColumnRenamed("id", "srcok"), col("src") === col("srcok"), "left_semi")
      .join(reached.withColumnRenamed("id", "dstok"), col("dst") === col("dstok"), "left_semi")
    PropertyGraph(reached, e)
  }

  /** Each edge plus its reverse, property columns carried along and
    * nothing deduplicated (a duplicate edge or a self-loop appears
    * twice): the multigraph view weighted undirected programs sum over.
    */
  def bothDirections: PropertyGraph = {
    val rev = edges.select(edges.columns.toSeq.map {
      case "src" => col("dst").as("src")
      case "dst" => col("src").as("dst")
      case c => col(c)
    }: _*)
    copy(edges = edges.union(rev))
  }

  /** Undirected view: each edge plus its reverse, deduplicated, property
    * columns dropped. Self-loops stay (one `(v, v)` row); callers that
    * drop them call [[withoutSelfEdges]] first.
    */
  def symmetrize: PropertyGraph = {
    val both = copy(edges = edges.select("src", "dst")).bothDirections
    copy(edges = both.edges.distinct())
  }

  /** Chunked out-adjacency — GraphChi's out-edge shard shape
    * (`src/engine/auxdata/`): each source's out-edges split by `dst`
    * residue into `odeg / AdjacencyChunk + 1` chunks (`odeg` the source's
    * out-degree, counted over a window in the same pass over `edges`),
    * one row per (src, chunk) with `nbrs = collect_list(item)` over the
    * chunk's edges, hash-partitioned and sorted on `src`. A [[Pregel]]
    * superstep joins these ~|V| rows to the source state and explodes
    * `nbrs` inside the task instead of joining |E| edge rows; the
    * chunking keeps a power-law hub's out-list out of one row. `item` is
    * evaluated over the edge row.
    */
  def chunkedOutAdjacency(item: Column): DataFrame =
    edges.withColumn("__odeg", count(lit(1)).over(Window.partitionBy("src")))
      .groupBy(col("src"),
        pmod(col("dst"), (col("__odeg") / AdjacencyChunk).cast("long") + 1).as("__chunk"))
      .agg(collect_list(item).as("nbrs"))
      .repartition(col("src")).sortWithinPartitions("src")
      .select("src", "nbrs")
}

object PropertyGraph {
  /** Chunk size of [[chunkedOutAdjacency]]: a source's chunks average at
    * most this many out-edges. 16384 keeps a row of Pregel's
    * edge-attribute structs, ~32 bytes per (dst, weight) edge, near half
    * a MB; a hub pays one extra adjacency row per 16384 out-edges, noise
    * next to the ~|V| rows a superstep joins. [[ArrayGraph]] programs do
    * not use the adjacency.
    */
  val AdjacencyChunk = 16384

  /** Build from an edge DataFrame alone; vertices = endpoint union (how
    * the reference infers the vertex set from shards, `sharder.hpp:908-926`).
    */
  def fromEdges(edges: DataFrame): PropertyGraph = {
    val vs = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    PropertyGraph(vs, edges)
  }

  /** Per-key top-k rows (the reference's `toolkits/parsers/topk.cpp:30-42`). */
  def topKPerKey(df: DataFrame, keyCol: String, valueCol: String, k: Int,
                 tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy((desc(valueCol) +: tieBreak): _*)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }
}
