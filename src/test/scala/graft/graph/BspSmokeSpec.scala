package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Port of the reference's engine-invariant smoke test
  * (`src/tests/basic_smoketest.cpp:50-144`): every vertex writes
  * (id + iteration) to its out-edges each superstep, and every vertex
  * asserts that the values it reads came from exactly the previous
  * superstep — i.e. message visibility follows the execution model. The
  * reference asserts async visibility; under BSP the invariant is that
  * after superstep k every vertex's inbox total equals
  * Σ_{u→v} (u + (k-1)) — no stale or same-superstep values.
  */
class BspSmokeSpec extends SparkSpec {
  import spark.implicits._

  test("BSP message visibility: inbox is exactly last superstep's writes") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val k = 4
    val result = Pregel.run(
      vertices, edges,
      initial = Map("it" -> lit(0L), "value" -> lit(0L)),
      sendMsg = col("src_it") + col("src"),          // id + iteration
      aggMsg = sum(col("msg")),
      update = Map("it" -> (col("it") + 1L),
                   "value" -> coalesce(col("msg"), lit(0L))),
      maxIter = k)
    val got = result.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // after k supersteps every vertex has it == k, and value equals
    // Σ over in-neighbors u of (u + (k-1))
    val inNbrs = Map(1L -> Seq(3L), 2L -> Seq(1L), 3L -> Seq(2L, 1L))
    for ((v, (it, value)) <- got) {
      assert(it == k, s"vertex $v ran $it supersteps")
      val expected = inNbrs(v).map(u => u + (k - 1)).sum
      assert(value == expected, s"vertex $v inbox $value != $expected")
    }
  }
}
