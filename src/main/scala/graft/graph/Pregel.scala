package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BSP vertex-program runner over DataFrames — the Spark-native
  * replacement for the reference's engine loop
  * (`src/engine/graphchi_engine.hpp:718-992`) and its GAS / functional
  * APIs (`src/api/graphlab2_1_GAS_api/graphchi_graphlabv2_1.hpp:42-67`,
  * `src/api/functional/functional_api.hpp:55-137`).
  *
  * Semantics: bulk-synchronous. The reference defaults to asynchronous
  * updates (`README.md:30`); fixpoints agree, iteration counts may not
  * (SURVEY.md §7.5). Selective scheduling
  * (`src/engine/bitset_scheduler.hpp:38-96`) maps to the active-message
  * set: a superstep's messages only reach vertices that must recompute,
  * and the loop terminates when no messages flow.
  *
  * Execution shape per superstep (all declarative, Catalyst-planned):
  * edges are grouped ONCE into chunked out-adjacency rows — GraphChi's
  * own out-edge-shard storage shape (`src/engine/auxdata/`); each
  * superstep joins RANK rows (~|V| adjacency rows) instead of |E| edge
  * rows, explodes the chunk inside the task, evaluates `sendMsg` on the
  * restored (edge ⋈ src-state) row, and aggregates:
  *   messages  = adj ⋈ vertices ON src → explode(chunk) → msgExpr
  *   inbox     = messages.groupBy(dst).agg(aggExpr)      (one shuffle)
  *   vertices' = vertices LEFT JOIN inbox  →  update columns
  * Chunking splits a power-law hub's out-list over several rows
  * (about [[PropertyGraph.AdjacencyChunk]] edges each).
  * The adjacency and vertex sides stay hash-partitioned on the join key
  * across supersteps (the checkpoint preserves partitioning), so one
  * superstep runs a single exchange — the inbox aggregation.
  * Lineage is cut with localCheckpoint every `checkpointInterval`
  * supersteps, else the plan grows unboundedly (SURVEY.md §7.5).
  */
object Pregel {

  /** Column-expression Pregel, GraphFrames-style.
    *
    * @param vertices   DataFrame with `id` + state columns
    * @param edges      DataFrame with `src`, `dst` + property columns
    * @param initial    per-state-column init expressions, over `vertices`
    * @param sendMsg    message expression evaluated over the joined row
    *                   (edge cols + `src_*` vertex state cols);
    *                   null means "send nothing" (selective scheduling)
    * @param aggMsg     merge expression over column `msg`
    * @param update     per-state-column new-value expressions, over the
    *                   vertex state joined with aggregated `msg`
    *                   (null `msg` = vertex received nothing)
    * @param maxIter    superstep cap
    * @param activeOnly true = Pregel active-set semantics (the
    *                   reference's bitset scheduler): messages are sent
    *                   only by vertices that were active (all vertices in
    *                   superstep 1; afterwards only message receivers), a
    *                   vertex with no inbound message keeps its state
    *                   untouched, and the loop stops once no messages
    *                   flow
    */
  def run(
      vertices: DataFrame,
      edges: DataFrame,
      initial: Map[String, Column],
      sendMsg: Column,
      aggMsg: Column,
      update: Map[String, Column],
      maxIter: Int,
      activeOnly: Boolean = false,
      checkpointInterval: Int = 2): DataFrame = {

    val stateCols = initial.keys.toSeq
    var v = vertices.select(
      (col("id") +: stateCols.map(c => initial(c).as(c))): _*)
    v = v.transform(graft.graph.Iterate.ckpt)

    // Chunked out-adjacency, built once, carrying every non-src edge
    // column as a struct list; the chunk explodes inside the task, after
    // the per-superstep join.
    val edgeAttrs = edges.columns.filterNot(_ == "src").toSeq
    val adj = PropertyGraph(vertices, edges)
      .chunkedOutAdjacency(struct(edgeAttrs.map(col): _*))
      .select("src", "nbrs")
      .transform(graft.graph.Iterate.ckpt)

    var frontier: DataFrame = null  // null = all vertices active
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val srcState = v.select(
        (col("id").as("__src_id") +: stateCols.map(c => col(c).as(s"src_$c"))): _*)
      val srcV = if (activeOnly && frontier != null)
        srcState.join(frontier, srcState("__src_id") === frontier("__fid"), "left_semi")
      else srcState
      val srcCols = Seq(col("src")) ++ stateCols.map(c => col(s"src_$c"))
      val msgs = adj.join(srcV, adj("src") === col("__src_id"))
        .select(srcCols :+ explode(col("nbrs")).as("__e"): _*)
        .select(srcCols ++ edgeAttrs.map(a => col(s"__e.$a").as(a)): _*)
        .select(col("dst").as("__dst"), sendMsg.as("msg"))
        .filter(col("msg").isNotNull)
      val agg = msgs.groupBy(col("__dst")).agg(aggMsg.as("msg"))
      // activeOnly: the inbox is the next frontier, so it is materialized
      // anyway; its row count — the termination test — comes from that
      // same job rather than a separate isEmpty job per superstep.
      val (inbox, received) =
        if (activeOnly) graft.graph.Iterate.ckptN(agg) else (agg, -1L)

      if (received == 0L) {
        done = true
      } else {
        val joined = v.join(inbox, v("id") === col("__dst"), "left")
        val updated = joined.select(
          (col("id") +: stateCols.map { c =>
            val u = update(c)
            (if (activeOnly) when(col("msg").isNull, col(c)).otherwise(u) else u).as(c)
          }): _*)
        v = if ((iter + 1) % checkpointInterval == 0 || activeOnly)
          updated.transform(graft.graph.Iterate.ckpt)
        else updated
        if (activeOnly) frontier = inbox.select(col("__dst").as("__fid"))
        iter += 1
      }
    }
    v.transform(graft.graph.Iterate.ckpt)
  }
}
