package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BSP vertex-program runner over DataFrames — the Spark-native
  * replacement for the reference's engine loop
  * (`src/engine/graphchi_engine.hpp:718-992`) and its GAS / functional
  * APIs (`src/api/graphlab2_1_GAS_api/graphchi_graphlabv2_1.hpp:42-67`,
  * `src/api/functional/functional_api.hpp:55-137`) for programs given
  * as Column expressions. The graph library's own fixpoints run on
  * [[ArrayGraph]] instead.
  *
  * Semantics: bulk-synchronous, every vertex sending in every superstep.
  * The reference defaults to asynchronous updates (`README.md:30`);
  * fixpoints agree, iteration counts may not (SURVEY.md §7.5).
  *
  * Execution shape per superstep (all Catalyst-planned): edges are
  * grouped ONCE into chunked out-adjacency rows — GraphChi's out-edge
  * shard shape (`src/engine/auxdata/`), about
  * [[PropertyGraph.AdjacencyChunk]] edges per row — and each superstep
  * joins those ~|V| rows to the senders, explodes the chunk in-task,
  * evaluates `sendMsg`, and aggregates per receiver (one shuffle):
  *   messages  = adj ⋈ vertices ON src → explode(chunk) → sendMsg
  *   inbox     = messages.groupBy(dst).agg(aggMsg)
  *   vertices' = vertices LEFT JOIN inbox  →  update columns
  * Under AQE the checkpoints report unknown partitioning, so a superstep
  * also re-shuffles the state and the adjacency. A run cuts lineage
  * every `CheckpointInterval` supersteps (SURVEY.md §7.5) and once at
  * the end if the last superstep was not materialized.
  */
object Pregel {

  /** Supersteps between lineage cuts. */
  private val CheckpointInterval = 2

  /** Column-expression Pregel, GraphFrames-style.
    *
    * @param vertices   DataFrame with `id` + state columns
    * @param edges      DataFrame with `src`, `dst` + property columns
    * @param initial    per-state-column init expressions, over `vertices`
    * @param sendMsg    message expression evaluated over the joined row
    *                   (edge cols + `src_*` vertex state cols);
    *                   null means "send nothing"
    * @param aggMsg     merge expression over column `msg`
    * @param update     per-state-column new-value expressions, over the
    *                   vertex state joined with aggregated `msg`
    *                   (null `msg` = vertex received nothing)
    * @param maxIter    supersteps to run
    * @return the final state (`id` + state columns)
    */
  def run(
      vertices: DataFrame,
      edges: DataFrame,
      initial: Map[String, Column],
      sendMsg: Column,
      aggMsg: Column,
      update: Map[String, Column],
      maxIter: Int): DataFrame = {

    val stateCols = initial.keys.toSeq
    var v = vertices.select(
      (col("id") +: stateCols.map(c => initial(c).as(c))): _*)

    // Chunked out-adjacency, built once, carrying every non-src edge
    // column as a struct list; the chunk explodes inside the task, after
    // the per-superstep join.
    val edgeAttrs = edges.columns.filterNot(_ == "src").toSeq
    lazy val adj = PropertyGraph(vertices, edges)
      .chunkedOutAdjacency(struct(edgeAttrs.map(col): _*))
      .select("src", "nbrs")
      .transform(graft.graph.Iterate.ckpt)
    val srcCols = "src" +: stateCols.map(c => s"src_$c")

    var materialized = false // v is a checkpoint
    for (iter <- 1 to maxIter) {
      val msgs = adj.join(v, adj("src") === v("id"))
        .select(adj("src") +: stateCols.map(c => v(c).as(s"src_$c")) :+
          explode(adj("nbrs")).as("__e"): _*)
        .select(srcCols.map(col) ++ edgeAttrs.map(a => col(s"__e.$a").as(a)): _*)
        .select(col("dst").as("__dst"), sendMsg.as("msg"))
        .filter(col("msg").isNotNull)
      val inbox = msgs.groupBy(col("__dst")).agg(aggMsg.as("msg"))
      v = v.join(inbox, v("id") === col("__dst"), "left")
        .select(col("id") +: stateCols.map(c => update(c).as(c)): _*)
      materialized = iter % CheckpointInterval == 0
      if (materialized) v = v.transform(graft.graph.Iterate.ckpt)
    }
    if (materialized) v else v.transform(graft.graph.Iterate.ckpt)
  }
}
