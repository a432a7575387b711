package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins declarative == imperative for the r16 codegen'd trainer
  * aggregates: [[VecSumDecl]]/[[VecScaleSumDecl]] must reproduce the
  * TypedImperativeAggregate forms EXACTLY (same no-add null skip, same
  * min-length truncation, same element order and double arithmetic) —
  * the guarantee that lets `VecSum.of`/`VecScaleSum.of` dispatch to the
  * HashAggregate form inside declared-query paths without moving any
  * oracle hash.
  */
class VecDeclarativeSpec extends SparkSpec {
  import spark.implicits._

  // force the IMPERATIVE forms (the spec-pinned reference) regardless of
  // the .of dispatch threshold
  private def impVecSum(vec: Column, k: Int): Column =
    GraftShims.column(VecSum(GraftShims.expression(vec), k).toAggregateExpression())
  private def impVecScaleSum(s: Column, vec: Column, k: Int): Column =
    GraftShims.column(VecScaleSum(GraftShims.expression(s),
      GraftShims.expression(vec), k).toAggregateExpression())
  private def declVecSum(vec: Column, k: Int): Column =
    GraftShims.column(VecSumDecl(GraftShims.expression(vec), k).toAggregateExpression())
  private def declVecScaleSum(s: Column, vec: Column, k: Int): Column =
    GraftShims.column(VecScaleSumDecl(GraftShims.expression(s),
      GraftShims.expression(vec), k).toAggregateExpression())

  // awkward doubles (non-representable fractions, huge/denormal, -0.0),
  // a null vector row, a RAGGED (short) row, and a null scale row —
  // every branch of the contract, across two groups
  private val rows = Seq(
    (1L, Some(2.7), Some(Seq(0.1, -2.7, 1.0 / 3.0))),
    (1L, Some(-0.3), Some(Seq(3.4028235e37, 5e-324, -0.0))),
    (1L, Some(1.1), None),                      // null vec: no-add
    (1L, None, Some(Seq(9.9, 9.9, 9.9))),       // null scale: no-add
    (2L, Some(0.5), Some(Seq(1.5, 2.5))),       // ragged: truncates
    (2L, Some(-1.0 / 7.0), Some(Seq(4.0, -5.0, 6.0))))
  private val df = rows.toDF("k", "s", "v")

  private def collectMap(c: Column): Map[Long, Seq[Double]] =
    df.groupBy("k").agg(c.as("out")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap

  test("VecSumDecl == VecSum bit-for-bit (nulls, ragged, awkward doubles)") {
    val dec = collectMap(declVecSum(col("v"), 3))
    val imp = collectMap(impVecSum(col("v"), 3))
    assert(dec.keySet == imp.keySet)
    for (k <- dec.keySet; i <- 0 until 3)
      assert(java.lang.Double.doubleToRawLongBits(dec(k)(i)) ==
        java.lang.Double.doubleToRawLongBits(imp(k)(i)),
        s"group $k slot $i: ${dec(k)(i)} vs ${imp(k)(i)}")
  }

  test("VecScaleSumDecl == VecScaleSum bit-for-bit") {
    val dec = collectMap(declVecScaleSum(col("s"), col("v"), 3))
    val imp = collectMap(impVecScaleSum(col("s"), col("v"), 3))
    assert(dec.keySet == imp.keySet)
    for (k <- dec.keySet; i <- 0 until 3)
      assert(java.lang.Double.doubleToRawLongBits(dec(k)(i)) ==
        java.lang.Double.doubleToRawLongBits(imp(k)(i)),
        s"group $k slot $i: ${dec(k)(i)} vs ${imp(k)(i)}")
  }

  test("the .of dispatch plans a HashAggregate (codegen), not ObjectHashAggregate") {
    val plan = df.groupBy("k")
      .agg(VecScaleSum.of(col("s"), col("v"), 3).as("g"),
        VecSum.of(col("v"), 3).as("t"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(!plan.contains("ObjectHashAggregate"), plan)
  }

  test("above the slot cap the imperative form is kept") {
    val big = VecSum.of(col("v"), VecDeclarative.MaxSlots + 1)
    val plan = df.groupBy("k").agg(big.as("t"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }
}
