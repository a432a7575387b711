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
    val (result, counts) = Pregel.run(
      vertices, edges,
      initial = Map("it" -> lit(0L), "value" -> lit(0L)),
      sendMsg = col("src_it") + col("src"),          // id + iteration
      aggMsg = sum(col("msg")),
      update = Map("it" -> (col("it") + 1L),
                   "value" -> coalesce(col("msg"), lit(0L))),
      maxIter = k)
    assert(counts.isEmpty)
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

  test("active-set termination: loop stops when no messages flow") {
    // one-shot flood: each vertex forwards the flag once; the last
    // superstep's sender has no out-edge, so nothing flows and nothing
    // changes → activeOnly stops
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val (result, counts) = Pregel.run(
      vertices, edges,
      initial = Map("seen" -> (col("id") === 1L)),
      sendMsg = when(col("src_seen"), lit(true)),
      aggMsg = max(col("msg")),
      update = Map("seen" -> (col("seen") || coalesce(col("msg"), lit(false)))),
      maxIter = 100, activeOnly = true)
    val seen = result.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(seen == Map(1L -> true, 2L -> true, 3L -> true))
    assert(counts == Seq(1L, 1L, 0L))
  }

  test("active-set termination: no edges means no messages and one superstep") {
    // the changed count that ends an activeOnly run comes from the state
    // checkpoint; with nothing to send the state must stay at its
    // initial value
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val vertices = Seq(1L, 2L).toDF("id")
    val (result, counts) = Pregel.run(
      vertices, edges,
      initial = Map("x" -> col("id") * 10L),
      sendMsg = col("src_x"),
      aggMsg = sum(col("msg")),
      update = Map("x" -> (col("x") + col("msg"))),
      maxIter = 100, activeOnly = true)
    val got = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 2L -> 20L))
    assert(counts == Seq(0L))
  }

  test("active set is the changed vertices: a receiver that keeps its value does not send") {
    // min-flood over 1→3, 2→3 and the cycle 3→4→2→3. Superstep 1: 3 takes
    // 1, 4 takes 3, and 2 receives 4 but keeps 2, so only {3, 4} send in
    // superstep 2: 4 takes 1, and 2 again receives and keeps. Superstep 3:
    // 2 takes 1. Superstep 4: 3 receives 1, keeps it, and nothing changed,
    // so the run stops. Were every receiver to send, the cycle would keep
    // messages flowing until maxIter.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val (result, counts) = Pregel.run(
      vertices, edges,
      initial = Map("x" -> col("id")),
      sendMsg = col("src_x"),
      aggMsg = min(col("msg")),
      update = Map("x" -> least(col("x"), col("msg"))),
      maxIter = 100, activeOnly = true)
    val got = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(counts == Seq(2L, 1L, 1L, 0L))
  }
}
