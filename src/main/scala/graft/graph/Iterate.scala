package graft.graph

import org.apache.spark.sql.{DataFrame, GraftShims}

/** Checkpoint helper for iterative drivers. Always use this instead of
  * `localCheckpoint` inside superstep loops: it materializes the frame
  * AND drops inherited plan statistics (see
  * [[org.apache.spark.sql.GraftShims.freshCheckpoint]] — Spark 4's
  * localCheckpoint propagates estimated stats through the checkpoint,
  * which squares per iteration in join loops and eventually overflows
  * the BigInt size estimate).
  */
object Iterate {
  def ckpt(df: DataFrame): DataFrame = GraftShims.freshCheckpoint(df)

  /** Checkpoint `df` and return its row count, harvested from the
    * materializing `count()` action itself (r16, guide §2 job cadence) —
    * superstep loops need a convergence/progress count every round, and
    * a separate `count()`/`isEmpty` action costs one more
    * driver-blocking job per superstep plus a full re-scan of the
    * just-materialized blocks. Synchronous — no extra job, no listener
    * round-trip (a `Dataset.observe` variant was A/B'd and REJECTED: its
    * metric arrives via the shared listener bus, and the per-superstep
    * `get` wait regressed the many-superstep CC queries 15–25%).
    * See [[org.apache.spark.sql.GraftShims.freshCheckpointCounted]].
    */
  def ckptN(df: DataFrame): (DataFrame, Long) = {
    val (out, n, _) = GraftShims.freshCheckpointCounted(df)
    (out, n)
  }

  /** Checkpoint `df` and return the sum of long column `sumCol`,
    * accumulated during the materializing pass (same mechanism as
    * [[ckptN]]; the column must be materialized in the frame). Callers
    * test the sum against 0 or for round-over-round equality of a
    * monotone quantity — both exact under accumulator task-retry
    * semantics (re-running rows that sum to zero adds zero; a decrease
    * in a monotone non-increasing sum cannot be masked because every
    * per-row contribution is non-negative).
    */
  def ckptSum(df: DataFrame, sumCol: String): (DataFrame, Long) = {
    val (out, _, s) = GraftShims.freshCheckpointCounted(df, Some(sumCol))
    (out, s)
  }

  /** Materialize several INDEPENDENT frames concurrently (r15, guide
    * §2.6 "overlap independent jobs"): each `ckpt` is an eager blocking
    * action whose job under-fills the cluster at the tail, so a
    * superstep that updates two or more independent state tables (user
    * and item factors, say) wastes most cores while the second
    * materialization waits for the first. Submitting them from a small
    * thread pool lets the later jobs' tasks back-fill executors freed
    * by the earlier jobs' stragglers — identical results (the jobs do
    * not depend on each other), less wall-clock. Spark's scheduler
    * supports concurrent job submission natively; FIFO scheduling gives
    * exactly the back-fill behavior. Callers MUST pass frames with no
    * data dependency on one another.
    */
  def ckptAll(dfs: DataFrame*): Seq[DataFrame] = {
    if (dfs.size <= 1) return dfs.map(ckpt)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dfs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(dfs.map(df => Future(ckpt(df)))), Duration.Inf)
    finally pool.shutdown()
  }
}
