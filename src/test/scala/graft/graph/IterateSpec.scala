package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the r16 counted-checkpoint contract (`Iterate.ckptN` /
  * `ckptSum`): the count/sum must come from the materializing pass
  * itself (no separate action), the returned frame must be materialized
  * and row-identical to the input, re-reads must not perturb the
  * harvested values, and a join over it must plan like a join over the
  * plain checkpoint (same LogicalRDD rebuild path).
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  test("ckptN returns the materialized row count and identical rows") {
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val (out, n) = Iterate.ckptN(df.filter(col("a") > 1L))
    assert(n === 2L)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === Array((3L, 4L), (5L, 6L)))
    // the returned frame is a bare materialized scan (no lineage)
    assert(out.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
  }

  test("ckptSum accumulates a long column during the same pass") {
    val df = Seq(1L, 2L, 3L, 4L).toDF("x")
      .withColumn("chg", (col("x") % 2 === 0).cast("long"))
    val (out, moved) = Iterate.ckptSum(df.select("x", "chg"), "chg")
    assert(moved === 2L)
    assert(out.count() === 4L)
    // re-reading the frame does not re-fire or change the harvested sum
    assert(out.count() === 4L)
  }

  test("ckptSum skips nulls; empty frames read 0") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "v")
    val (_, s) = Iterate.ckptSum(df, "v")
    assert(s === 12L)
    val empty = Seq(1L).toDF("x").filter(col("x") < 0)
    val (outC, n) = Iterate.ckptN(empty)
    assert(n === 0L)
    assert(outC.isEmpty)
    val (_, s0) = Iterate.ckptSum(
      empty.withColumn("chg", lit(1L)), "chg")
    assert(s0 === 0L)
  }

  test("ckptSum requires the named column to exist") {
    val df = Seq(1L).toDF("x")
    intercept[IllegalArgumentException] {
      Iterate.ckptSum(df, "nope")
    }
  }

  test("a join over ckptN output plans as many hash exchanges as over ckpt output") {
    // broadcast off: a broadcast join plans no exchange on either side,
    // whatever partitioning the checkpoint reports
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = Seq((1L, 2L), (3L, 4L), (1L, 5L)).toDF("k", "v")
        .repartition(col("k"))
      val other = Seq((1L, 9L)).toDF("k", "w").repartition(col("k"))
      def exchanges(ck: org.apache.spark.sql.DataFrame) = {
        val plan = ck.join(other, "k").queryExecution.executedPlan.toString
        ("Exchange hashpartitioning".r.findAllIn(plan).length, plan)
      }
      val (nCkpt, planCkpt) = exchanges(Iterate.ckpt(df))
      val (nCkptN, planCkptN) = exchanges(Iterate.ckptN(df)._1)
      assert(nCkptN === nCkpt, s"ckpt plan:\n$planCkpt\nckptN plan:\n$planCkptN")
    } finally spark.conf.set(key, saved)
  }
}
