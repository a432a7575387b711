package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Internal shim for graft's iterative drivers.
  *
  * Spark 4's `Dataset.localCheckpoint` truncates the RDD lineage but
  * carries the parent plan's *estimated* statistics onto the resulting
  * `LogicalRDD` (`LogicalRDD.rewriteStatsAndConstraints`). In an
  * iterative join loop the size-in-bytes estimate therefore squares
  * every superstep — after ~25 iterations the BigInt estimate has
  * ~2^30 bits and the stats visitor melts down in BigInteger multiply
  * (observed: minutes of driver CPU, then "BigInteger would overflow
  * supported range").
  *
  * `freshCheckpoint` materializes like localCheckpoint but rebuilds the
  * frame on a bare `LogicalRDD` with no inherited stats, so every
  * superstep starts from a clean leaf estimate. Runtime adaptivity
  * (AQE) still sees the true materialized sizes, so join strategy
  * selection is unaffected at execution time.
  */
object GraftShims {
  /** `types.AbstractDataType` is private[sql]; alias it so graft's
    * native expressions can declare `ExpectsInputTypes.inputTypes`.
    */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Column ↔ Expression bridges (the classic helpers are private[sql];
    * graft's native expressions need them to surface as Columns).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Flush the scheduler listener bus (private[spark]) so metrics
    * harvested by a SparkListener are complete before they are read —
    * listener delivery is async relative to job completion.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Stop the streaming state-store maintenance thread. Sessions that
    * ran stateful streaming queries (the EdgeStream family) leave it
    * running after `SparkSession.stop()`, and its next tick logs a
    * spurious "SparkEnv not active, cannot do maintenance" [error] into
    * every artifact tail (r11 What's-wrong #3) — call this BEFORE
    * stopping the session.
    */
  def stopStateStoreMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Storage level for iterative-driver checkpoints — localCheckpoint's
    * own default (MEMORY_AND_DISK, deserialized), kept after a measured
    * A/B (r15): jstack showed deserialized caching paying
    * `SizeEstimator` object-graph walks during unroll, but a full-suite
    * roll with MEMORY_AND_DISK_SER was strictly worse — these
    * checkpoints exist precisely BECAUSE they are re-read several times
    * per superstep, and serialized blocks pay a per-row deserialization
    * on every read (q135 per-query cpu 13.5→50.9 s, q44 42.7→96.4 s in
    * the A/B roll; Java-serde of rank/dim-length array rows dwarfs the
    * estimation walk it saved). Values are storage-level-independent.
    */
  private val ckptLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  def freshCheckpoint(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    val spark = cdf.sparkSession.asInstanceOf[CSparkSession]
    val ck = cdf.localCheckpoint(true, ckptLevel).asInstanceOf[CDataset[Row]]
    // localCheckpoint's own LogicalRDD carries the materialized plan's
    // output partitioning/ordering (attribute-rewritten). Keep those —
    // they let EnsureRequirements elide one exchange per superstep when
    // the loop re-joins on the same key — while still dropping the
    // inherited stats (the blowup documented above).
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        CDataset.ofRows(spark,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming)(spark))
      case other =>
        CDataset.ofRows(spark,
          LogicalRDD(other.output, ck.queryExecution.toRdd)(spark))
    }
  }

  /** Like [[freshCheckpoint]], but ALSO returns the materialized row
    * count — and, when `sumCol` names a long column, that column's sum —
    * harvested from the materializing pass itself (r16, guide §2 job
    * cadence: superstep loops need a convergence/progress count, and
    * both a separate count() job and a `Dataset.observe` read cost more
    * than this — the former a full re-scan of the just-written blocks
    * plus a scheduler round-trip per superstep, the latter a listener-
    * bus wait that stalls the driver tens of ms per superstep when the
    * bus is busy).
    *
    * Mirrors `Dataset.localCheckpoint(eager = true, level)` exactly:
    * execute the physical plan, copy rows, persist at the checkpoint
    * level, mark for local checkpointing, materialize with `count()` —
    * whose return value IS the row count (the stock path discards it) —
    * and rebuild on a bare stats-free `LogicalRDD` with the
    * attribute-rewritten partitioning/ordering kept
    * (`LogicalRDD.fromDataset`, the same helper the stock checkpoint
    * uses). The optional column sum rides a `LongAccumulator` updated in
    * the same pass; accumulator task-retry semantics make zero-tests
    * exact (a re-run of rows that sum to zero adds zero; duplicated
    * nonzero reports stay nonzero) — every caller tests == 0 or
    * round-over-round equality of a monotone quantity.
    */
  def freshCheckpointCounted(df: DataFrame,
                             sumCol: Option[String] = None): (DataFrame, Long, Long) = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    val spark = cdf.sparkSession.asInstanceOf[CSparkSession]
    val qe = cdf.queryExecution
    val acc = sumCol.map(c =>
      spark.sparkContext.longAccumulator(s"graft.ckptSum($c)"))
    val (rdd, n) = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("graftCkptCounted")) {
        val base = qe.executedPlan.execute()
        val mapped = (acc, sumCol) match {
          case (Some(a), Some(c)) =>
            val i = qe.executedPlan.output.indexWhere(_.name == c)
            require(i >= 0, s"freshCheckpointCounted: no column '$c' in " +
              qe.executedPlan.output.map(_.name).mkString(", "))
            base.mapPartitions { it =>
              it.map { r => if (!r.isNullAt(i)) a.add(r.getLong(i)); r.copy() }
            }
          case _ => base.map(_.copy())
        }
        mapped.persist(ckptLevel)
        mapped.localCheckpoint()
        (mapped, mapped.count())
      }
    val lr = LogicalRDD.fromDataset(rdd, cdf, cdf.isStreaming)
    val out = CDataset.ofRows(spark,
      LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
        lr.outputOrdering, lr.isStreaming)(spark))
    (out, n, acc.map(_.value.longValue).getOrElse(0L))
  }
}
