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
    * materializing `count()` action itself, so a loop's per-round count
    * costs no extra job or re-scan (a `Dataset.observe` variant waited on
    * the listener bus and was measured slower). See
    * [[org.apache.spark.sql.GraftShims.freshCheckpointCounted]].
    */
  def ckptN(df: DataFrame): (DataFrame, Long) = {
    val (out, n, _) = GraftShims.freshCheckpointCounted(df)
    (out, n)
  }

  /** Checkpoint `df` and return the sum of its long column `sumCol`,
    * accumulated in the materializing pass. Callers test the sum against
    * 0, which accumulator task-retry semantics keep exact.
    */
  def ckptSum(df: DataFrame, sumCol: String): (DataFrame, Long) = {
    val (out, _, s) = GraftShims.freshCheckpointCounted(df, Some(sumCol))
    (out, s)
  }

  /** Materialize several INDEPENDENT frames concurrently, so the later
    * jobs' tasks back-fill the cores the earlier jobs' stragglers leave
    * idle (FIFO scheduling). Same results as one `ckpt` each; callers
    * MUST pass frames with no data dependency on one another.
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
