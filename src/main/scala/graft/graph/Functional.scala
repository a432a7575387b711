package graft.graph

import org.apache.spark.sql.{Column, DataFrame}

/** Functional kernel API — the reference's bulk-synchronous functional
  * programming surface (`src/api/functional/functional_api.hpp:55-137`,
  * engine `functional_bulksync.hpp:52-110`): a kernel is
  * `initial_value` / `value_to_neighbor` / `plus` / `compute_vertexvalue`,
  * and every superstep folds each vertex's in-neighbor contributions
  * with `plus` then recomputes the vertex value.
  *
  * This is exactly one [[Pregel]] state column (`value`), so the adapter
  * is declarative: `valueToNeighbor` is evaluated over the edge row with
  * the sender's state as `src_value` (plus any edge property columns),
  * `plus` aggregates column `msg`, and `compute` sees `value` + the
  * folded `msg` (null when no neighbor contributed).
  *
  * The reference's semi-synchronous engine variant is intentionally not
  * reproduced (SURVEY.md §2.9: semisync = drop — BSP reaches the same
  * fixpoints).
  */
final case class FunctionalKernel(
    initialValue: Column,
    valueToNeighbor: Column,
    plus: Column,
    compute: Column)

object Functional {

  /** Run a bulk-sync functional kernel for `iterations` supersteps over
    * `edges(src, dst, …)`; vertices are derived from edge endpoints.
    * Returns (id, value).
    */
  def bulkSync(edges: DataFrame, kernel: FunctionalKernel,
               iterations: Int): DataFrame = {
    Pregel.run(PropertyGraph.fromEdges(edges).vertices, edges,
      initial = Map("value" -> kernel.initialValue),
      sendMsg = kernel.valueToNeighbor,
      aggMsg = kernel.plus,
      update = Map("value" -> kernel.compute),
      maxIter = iterations)
  }
}
