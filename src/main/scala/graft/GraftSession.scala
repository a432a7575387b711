package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so driver mains and tests share the same
  * scale-oriented defaults (AQE on, shuffle partitions sized to local
  * cores not 200, nanos-parquet readable).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted
      // in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default generated-class cache (100 entries) is smaller than
      // ONE trainer run's ~104 codegen units, so an iterative workload
      // permanently thrashes it: every run re-Janino-compiles ~30 units
      // and the JVM re-C2-compiles the fresh classes — measured 10–50 s
      // of JIT per trainer run attributed to this (graft.tools.Debug
      // codegen A/B: run-2 compiles 30 → 2 when the cache fits; see
      // FM_INFLATION_ANALYSIS.md r10 addendum). 2000 entries ≈ a few
      // hundred MB worst case on a driver sized for this engine.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
  def local(cpus: String): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Run `f` with ObjectHashAggregate's sort fallback raised to 4M
    * in-memory groups, restoring the previous setting after.
    *
    * The trainer gradient aggregates (VecScaleSum/VecSum, and GramAgg in
    * AlsTensor) need this; AlsNormal folds its normal equations inside
    * ArrayGraph supersteps and does not use it. The default fallback
    * threshold is 128 DISTINCT KEYS, so any real-scale gradient
    * aggregate (one group per feature/item id) immediately degrades to
    * sort-based aggregation, which SERIALIZES
    * every vector buffer through the sorter/spill files — r7 caught FM
    * runs stalled 300 s with executor threads inside buffer-serialize +
    * FileOutputStream. Those aggregates bound memory structurally
    * (groups/task ≈ (features or vertices)/partitions, rank-sized
    * buffers), so 4M in-memory groups per task is a few hundred MB
    * worst-case. The raise is SCOPED here rather than set session-wide:
    * an unrelated high-cardinality TypedImperativeAggregate
    * (collect_list, percentile over millions of groups) should keep the
    * spill-safe default, not inherit a trainer-sized OOM budget.
    * Trainers materialize inside their loops (Iterate.ckpt /
    * end-of-loop collects), so wrapping the trainer body covers every
    * execution of these aggregates.
    */
  def withTrainerAggCapacity[T](spark: SparkSession)(f: => T): T = {
    val prev = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, "4194304")
    try f finally prev match {
      case Some(v) => spark.conf.set(FallbackKey, v)
      case None    => spark.conf.unset(FallbackKey)
    }
  }
}
