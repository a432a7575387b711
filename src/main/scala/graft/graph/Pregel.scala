package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BSP vertex-program runner over DataFrames — the Spark-native
  * replacement for the reference's engine loop
  * (`src/engine/graphchi_engine.hpp:718-992`) and its GAS / functional
  * APIs (`src/api/graphlab2_1_GAS_api/graphchi_graphlabv2_1.hpp:42-67`,
  * `src/api/functional/functional_api.hpp:55-137`) for programs given
  * as Column expressions: SCC's forward colour flood and backward
  * confirm, seeded label propagation, and the GAS / functional facades
  * run on it. PageRank, connected components, k-core, coreness and
  * plain label propagation run on [[ArrayGraph]] instead.
  *
  * Semantics: bulk-synchronous. The reference defaults to asynchronous
  * updates (`README.md:30`); fixpoints agree, iteration counts may not
  * (SURVEY.md §7.5). Selective scheduling
  * (`src/engine/bitset_scheduler.hpp:38-96`) maps to `activeOnly`: a
  * vertex sends only in the superstep after its state changed, and the
  * loop stops at the first superstep that changes nothing.
  *
  * Execution shape per superstep (all Catalyst-planned): edges are
  * grouped ONCE into chunked out-adjacency rows — GraphChi's out-edge
  * shard shape (`src/engine/auxdata/`), about
  * [[PropertyGraph.AdjacencyChunk]] edges per row — and each superstep
  * joins those ~|V| rows to the senders, explodes the chunk in-task,
  * evaluates `sendMsg`, and aggregates per receiver (one shuffle):
  *   messages  = adj ⋈ senders ON src → explode(chunk) → sendMsg
  *   inbox     = messages.groupBy(dst).agg(aggMsg)
  *   vertices' = vertices LEFT JOIN inbox  →  update columns
  * Under AQE the checkpoints report unknown partitioning, so a superstep
  * also re-shuffles the state, the senders and the adjacency. An
  * `activeOnly` superstep is one checkpoint of the new state plus a
  * changed flag, whose count is summed in the same pass
  * ([[Iterate.ckptSum]]); the next senders are that checkpoint filtered
  * on the flag. Other runs cut lineage every `CheckpointInterval`
  * supersteps (SURVEY.md §7.5) and once at the end if the last superstep
  * was not materialized.
  */
object Pregel {

  /** Supersteps between lineage cuts of a run that is not `activeOnly`. */
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
    * @param maxIter    superstep cap
    * @param activeOnly true = the reference's selective scheduling: every
    *                   vertex sends in superstep 1, afterwards only the
    *                   vertices whose state changed (a null-safe compare
    *                   of every state column) in the previous superstep;
    *                   a vertex with no inbound message keeps its state
    *                   untouched; the loop stops after the first
    *                   superstep that changes no vertex. A vertex that
    *                   receives messages but keeps its value does not
    *                   send again, so a flood over a cycle terminates.
    * @return the final state (`id` + state columns) and, for an
    *         `activeOnly` run, the number of vertices changed in each
    *         superstep run (one entry per superstep, the last one 0
    *         unless `maxIter` cut the run); empty otherwise
    */
  def run(
      vertices: DataFrame,
      edges: DataFrame,
      initial: Map[String, Column],
      sendMsg: Column,
      aggMsg: Column,
      update: Map[String, Column],
      maxIter: Int,
      activeOnly: Boolean = false): (DataFrame, Seq[Long]) = {

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

    var senders = v // every vertex, or (activeOnly) those changed last superstep
    var materialized = false // v is a checkpoint
    val changed = scala.collection.mutable.ArrayBuffer.empty[Long]
    var iter = 0
    while (iter < maxIter && !changed.lastOption.contains(0L)) {
      val msgs = adj.join(senders, adj("src") === senders("id"))
        .select(adj("src") +: stateCols.map(c => senders(c).as(s"src_$c")) :+
          explode(adj("nbrs")).as("__e"): _*)
        .select(srcCols.map(col) ++ edgeAttrs.map(a => col(s"__e.$a").as(a)): _*)
        .select(col("dst").as("__dst"), sendMsg.as("msg"))
        .filter(col("msg").isNotNull)
      val inbox = msgs.groupBy(col("__dst")).agg(aggMsg.as("msg"))
      val joined = v.join(inbox, v("id") === col("__dst"), "left")
      val next = stateCols.map { c =>
        if (activeOnly) when(col("msg").isNull, col(c)).otherwise(update(c))
        else update(c)
      }
      val newState = col("id") +: stateCols.zip(next).map { case (c, u) => u.as(c) }
      iter += 1
      materialized = activeOnly || iter % CheckpointInterval == 0
      if (activeOnly) {
        val flag = stateCols.zip(next).map { case (c, u) => !(u <=> col(c)) }
          .reduce(_ || _)
        val (state, n) = graft.graph.Iterate.ckptSum(
          joined.select(newState :+ flag.cast("long").as("__changed"): _*),
          "__changed")
        v = state.select((col("id") +: stateCols.map(col)): _*)
        senders = state.filter(col("__changed") === 1L)
        changed += n
      } else {
        v = joined.select(newState: _*)
        if (materialized) v = v.transform(graft.graph.Iterate.ckpt)
        senders = v
      }
    }
    (if (materialized) v else v.transform(graft.graph.Iterate.ckpt), changed.toSeq)
  }
}
