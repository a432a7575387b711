package graft.graph

import org.apache.spark.sql.{Column, DataFrame}

/** GAS (Gather–Apply–Scatter) programming facade — the reference's
  * GraphLab v2.1 API (`src/api/graphlab2_1_GAS_api/graphchi_graphlabv2_1.hpp:
  * 42-67`) and the functional kernel API (`src/api/functional/
  * functional_api.hpp:55-137`), both thin adapters over the same BSP
  * runner, exactly as in the reference (SURVEY.md §2.9).
  *
  * gather   → [[Pregel]] message expression over (edge ⋈ src-state)
  * sum      → the message merge aggregate
  * apply    → the vertex update expressions
  * scatter  → implicit: the next superstep's gather reads the new state;
  *            a null gather sends nothing, and with `activeOnly` only
  *            the vertices whose state changed last superstep gather
  *            again (the reference's selective signalling); the run
  *            stops when a superstep changes nothing
  */
final case class GasProgram(
    initial: Map[String, Column],
    gather: Column,
    sum: Column,
    apply: Map[String, Column],
    activeOnly: Boolean = false)

object Gas {
  /** Run a GAS program for `iterations` supersteps. */
  def run(vertices: DataFrame, edges: DataFrame, program: GasProgram,
          iterations: Int): DataFrame =
    Pregel.run(vertices, edges,
      initial = program.initial,
      sendMsg = program.gather,
      aggMsg = program.sum,
      update = program.apply,
      maxIter = iterations,
      activeOnly = program.activeOnly)._1
}
