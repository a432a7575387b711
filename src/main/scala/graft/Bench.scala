package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
object Bench {
  /** The retry-keep estimator, extracted so the rule that decides
    * which run gets PUBLISHED is spec-pinned (BenchEstimatorSpec).
    * A triggered retry replaces the first run only when it is clean:
    * no error, compile time materially dropped (≤ half the first
    * run's, with a 5 s floor), no bursty post-run mini-calib, and —
    * the r11 gate — NOT slower than the first run beyond jitter
    * (dt1 ≤ 1.2·dt0): "run 1 = run 2 + one-time contamination"
    * requires dt1 ≤ dt0, and a materially slower retry is by
    * construction a repeated same-plan execution artifact, never a
    * cleaner measurement (the r10 committed artifact published a
    * 122.4 s retry for a 14.3 s query exactly this way).
    */
  def keepRetry(err1: Option[String], dt0: Double, dt1: Double,
                jitDelta: Long, jit1: Long,
                retryMiniBursty: Boolean): Boolean =
    err1.isEmpty &&
      dt1 <= dt0 * 1.2 &&
      jit1 <= math.max(5000L, jitDelta / 2) &&
      !retryMiniBursty

  /** The burst-trigger/normalization reference over the mini-calib
    * timeline, extracted so the rule is spec-pinned alongside
    * [[keepRetry]]. ROBUST running low, not the raw min (r12 ADVICE): a
    * single anomalously FAST sample (timer/scheduling outlier) must not
    * permanently tighten the 1.5x trigger band for the rest of the run
    * or rescale every normalized probe value — so the reference is the
    * SECOND smallest sample (= median of the 3 smallest) once the
    * timeline has ≥3 samples, which keeps the r12 self-healing property
    * (a bursty suite head stops disabling the trigger within a few
    * samples) while requiring two independent samples to attest any
    * new low.
    */
  def robustLow(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      Some(if (s.size >= 3) s(1) else s.head)
    }

  /** Per-query host-ratio attribution (spec-pinned like [[keepRetry]]/
    * [[robustLow]]): max of the calib-sample-group medians within
    * ±window suite indices of the query — plus, unconditionally, the
    * nearest group on each side — over the session's robust low. The
    * nearest-bracket terms are redundant whenever a group exists
    * inside the window on that side (the nearest group is then IN the
    * window) and extend coverage where sampling is sparse (groups land
    * every ~10th query, so a side's window can be empty).
    *
    * A windowed MAX, not just the two nearest brackets: a retried
    * query's own settled post-sample is labeled with its own index, so
    * a nearest-bracket rule would let that clean sample MASK a burst a
    * few indices earlier — exactly the r12 roll-b q86 shape (burst at
    * suite indices 129-130, q86 at 134 with a clean own-sample), the
    * one this layer exists to catch. The cost is deliberate: a clean
    * query NEAR a burst also reads elevated — host_ratio is an
    * ATTRIBUTION aid for entries that disagree with their sibling
    * rolls, never a correctness verdict on its own. No groups at all
    * (or a degenerate reference) reads clean (1.0).
    */
  def hostRatio(groups: Map[Int, Double], qIdx: Int, ref: Double,
                window: Int = 5): Double =
    if (ref <= 0 || groups.isEmpty) 1.0
    else {
      val near = groups.collect {
        case (i, v) if (i - qIdx).abs <= window => v }
      val before = groups.keys.filter(_ <= qIdx).maxOption.map(groups)
      val after = groups.keys.filter(_ > qIdx).minOption.map(groups)
      (near ++ before ++ after).max / ref
    }

  /** Cross-roll stall classifier for the zero-steal contention mode
    * this box exhibits (minutes-scale host stalls with NO steal
    * jiffies, flat faults, flat GC, clean calib samples — the r13
    * roll-c q51 22.1 s entry vs 7.2–8.2 s in the five sibling rolls,
    * clean on every per-row instrument). The discriminator is the
    * process-CPU delta: a stalled query did the SAME work (cpu_sec at
    * its sibling level) while its wall ballooned, i.e. the process
    * simply wasn't scheduled; a query whose cpu moved WITH its wall
    * genuinely did different work (plan/AQE variance), which is not a
    * stall.
    *
    * Spec-pinned like [[keepRetry]]/[[robustLow]]/[[hostRatio]], but
    * with NO live caller in the suite loop: a stall is only visible
    * against same-query SIBLING-ROLL medians, which do not exist
    * inside a single run (and per-query wall/cpu ratios vary too
    * widely for any universal in-run threshold). The rule is executed
    * by `tools/recompute_stall.py` — an exact mirror, the same
    * relationship recompute_host_ratio.py has to [[hostRatio]] — over
    * a round's committed rolls, and stamped into each artifact as
    * `queries_stall` with rule/sibling provenance.
    *
    * Inputs: the entry's own kept-run bracket plus the sibling-roll
    * medians (medianOf convention: sorted upper-middle). Negative
    * `cpu`/`sibCpuMed`/`gcMs` mean the field predates that
    * instrument's layer (rolls before r13's mid-round commits).
    * Returns:
    *  - None — in sibling agreement (≤1.4×), sub-second, or already
    *    attributed by another instrument. The attribution thresholds
    *    are EXACTLY the audit acceptance-test's: steal_frac > 0.004,
    *    minflt > 1e6, gc_ms > 20% of wall, host_ratio > 1.4, or a
    *    published retry — one consistent cleanliness notion repo-wide.
    *  - Some("stall") — wall > 1.4× sibling median, every instrument
    *    clean, cpu within the ±1.15× band of ITS sibling median: the
    *    confirmed same-work-not-scheduled shape.
    *  - Some("excess_cpu") / Some("low_cpu") — wall inflated and clean
    *    but cpu materially above/below its sibling median: NOT a
    *    stall (the work itself differed); published so the entry still
    *    carries a mechanical flag instead of reading unattributed.
    *  - Some("stall_cpu_unconfirmed") — the stall shape in a roll that
    *    predates the cpu_sec layer (the r13 _c/_b/_d rolls): wall
    *    inflated, all available instruments clean, no cpu to confirm.
    *    Legacy branch: every r14+ roll carries cpu_sec, so only
    *    re-stamps over those three pre-cpu r13 rolls can reach it.
    */
  def stallFlag(wall: Double, sibWallMed: Double,
                cpu: Double, sibCpuMed: Double,
                steal: Double, minflt: Long, gcMs: Long,
                retried: Boolean, hostRatio: Double): Option[String] =
    if (wall < 1.0 || sibWallMed <= 0 || wall <= 1.4 * sibWallMed) None
    else if (steal > 0.004 || minflt > 1000000L ||
             (gcMs >= 0 && gcMs > 0.2 * wall * 1000) ||
             retried || hostRatio > 1.4) None
    else if (cpu >= 0 && sibCpuMed > 0) {
      val band = math.max(cpu, sibCpuMed) / math.min(cpu, sibCpuMed)
      if (band <= 1.15) Some("stall")
      else if (cpu > sibCpuMed) Some("excess_cpu")
      else Some("low_cpu")
    } else Some("stall_cpu_unconfirmed")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.local(cpus)
    // Hypervisor steal time: the direct attribution for slow windows on
    // a shared host. A 32-task barrier waits for its worst-stolen
    // straggler every superstep, so barrier-heavy trainers/probes
    // degrade SUPERLINEARLY in the steal fraction — r7 measured the same
    // probe binary at 14 s and 95+ s across windows whose CPU calibs
    // moved only ~2×; steal_frac in the artifact makes that a published
    // number instead of an inference. Minor-fault deltas per probe run
    // make fault-storm contamination equally mechanical to attribute
    // (see graft.tools.Proc for both readers' semantics).
    // envFlag everywhere a boolean flag is read (r12 ADVICE): one
    // convention — set-and-truthy — instead of presence-only contains,
    // so FLAG=0 means OFF for every SPARK_GRAFT_*/GRAFT_DEBUG toggle.
    import graft.tools.Proc.{stealJiffies, minorFaults, envFlag}
    val jiffiesPerSec = 100.0 // USER_HZ on linux
    // Fraction of the HOST's whole vCPU capacity stolen during the
    // window. Denominator = the number of per-CPU "cpuN" lines in
    // /proc/stat (what the aggregate first line actually sums), NOT
    // availableProcessors: under a cgroup CPU quota the two diverge and
    // the runtime-based denominator inflates the published fraction.
    val allCpus = {
      val n = try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().count(l => l.startsWith("cpu") && l.length > 3 &&
          l.charAt(3).isDigit)
        finally src.close()
      } catch { case _: Throwable => 0 }
      if (n > 0) n.toDouble else Runtime.getRuntime.availableProcessors.toDouble
    }
    def stealFrac(s0: Long, s1: Long, elapsedSec: Double): Double =
      if (elapsedSec <= 0) 0.0
      else (s1 - s0) / jiffiesPerSec / (elapsedSec * allCpus)
    val suiteSteal0 = stealJiffies()
    val suiteT0 = System.nanoTime()
    // Engine-metrics harvest (metrics.hpp / reps analog): scheduler-bus
    // counters reported as one JSON map at the end of the run.
    val mlistener = graft.metrics.SparkMetricsListener.install(spark, "bench")
    // Warm the session (codegen, parquet footer reads, shuffle machinery)
    // so the first measured query doesn't absorb JVM startup.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()
    // Untimed mini-trainer: the first gradient-trainer query of a session
    // otherwise absorbs ~20 s of one-time C2/codegen compilation of the
    // shared superstep stage shapes (join → native vector aggregate →
    // checkpoint) — measured as a 2-3× spike concentrated in its first
    // iterations while every later trainer runs steady-state. Same
    // methodology as the throughput probe's untimed warm run (and
    // BASELINE.md, whose published times exclude one-time costs).
    //
    // r6: the GRAFT_DEBUG JVM telemetry showed the 2k-row warm was not
    // enough — the suite's first trainer of EACH distinct plan family
    // still absorbed tens of seconds of JIT (q41 trainMulti +53 s jit,
    // q48 als_tensor +59 s in a subset run), because (a) 2k rows over 32
    // partitions never drives any generated loop past C2's invocation
    // thresholds, and (b) trainMulti / als_tensor / timesvdpp compile
    // codegen classes the plain-train warm never touches. So: 20k rows
    // in 4 partitions (≥5k rows per task puts the hot per-row loops into
    // C2 territory) and one warm iteration per distinct trainer family.
    locally {
      import org.apache.spark.sql.functions._
      // 160k rows over the FULL shuffle-partition count (32), not 4:
      // r7's GRAFT_DEBUG runs showed q53/q86 still absorbing 36-47 s of
      // C2 compilation right after the 4-partition warm — AQE coalesces
      // a 4-partition 20k-row input into stage shapes the sf0.1 queries
      // never execute, so the real shapes compiled inside the timed
      // region. ≥5k rows per task × 32 tasks keeps every hot loop in
      // C2 territory at the partitioning the suite actually runs.
      val warm = spark.range(160000L).select(
        (col("id") % 50).as("user"), (col("id") % 40).as("item"),
        (col("id") % 5).cast("double").as("rating"))
        .repartition(32).transform(graft.graph.Iterate.ckpt)
      graft.cf.MfSgd.train(warm, rank = 4, iterations = 2)
      graft.cf.MfSgd.trainMulti(warm,
        Seq(graft.cf.MfSgd.AbsLoss, graft.cf.MfSgd.LogisticLoss,
          graft.cf.MfSgd.SquareLoss), rank = 4, iterations = 1)
      graft.cf.Fm.train(
        graft.cf.Fm.featuresFromRatings(warm, Seq("user", "item")),
        rank = 4, iterations = 2)
      val warmT = warm.withColumn("time", col("item") % 3)
      graft.cf.AlsTensor.train(warmT, rank = 2, iterations = 1)
      graft.cf.AlsTensor.trainTimeSvdPP(warmT, rank = 2, iterations = 1)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }
    // Schema-exact warm: the synthetic-ratings warm above covers the
    // shared trainer kernels but NOT the query-specific codegen — r7's
    // GRAFT_DEBUG showed q53/q86 loading ~600 classes and absorbing
    // 36-47 s of C2 time inside the timed region even straight after
    // the synthetic warm, because whole-stage codegen classes are keyed
    // by (plan subtree, schema) and the lineitem-derived featurization
    // never appears in a synthetic warm at any size. Running the heavy
    // trainer queries themselves once at sf0.001 (seconds each,
    // untimed) compiles the real classes — the same exclude-one-time-
    // compilation methodology as the probes' full-size untimed warm run
    // and BASELINE.md's published numbers.
    // Optional comma-separated name-prefix filter for local tuning runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    locally {
      val warmDir = "/root/testdata/sf0.001"
      if (new java.io.File(warmDir).isDirectory && !envFlag("SPARK_GRAFT_NO_SCHEMA_WARM")) {
        // The measured worst in-suite JIT payers (GRAFT_DEBUG r7:
        // q53 +47 s, q86 +36 s, q41 +53 s, q48 +59 s of compiler time
        // inside the timed region) — not every trainer: the full
        // 18-family warm cost 322 s of untimed time for coverage the
        // shared-kernel warm above already gives the rest.
        // q51/q52 joined in r12: solo A/B showed q51_pmf at 10.5 s with
        // jit +17.5 s cold vs 5.8-6.7 s steady, and both published
        // 1.4-1.8x their steady cost across two otherwise-clean rolls —
        // the same first-execution-JIT shape as the r7 six, landing
        // just under the 5 s retry trigger.
        val families = Seq(
          "q41_biassgd2_losses", "q48_als_tensor", "q49_timesvdpp",
          "q51_pmf", "q52_rbm", "q53_fm", "q54_als_coord",
          "q86_fm_side_features")
          .filter(n => only.forall(_.exists(n.startsWith)))
        val t0 = System.nanoTime()
        for (n <- families; fn <- SparkEntry.queries.get(n))
          try fn(spark, warmDir).count()
          catch { case _: Throwable => () }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        System.gc()
        if (families.nonEmpty) System.err.println(
          f"[bench] schema warm (${families.size} families @ sf0.001) ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }
    // Host-speed calibration: a fixed, deterministic, purely-CPU Spark
    // job (xxhash64 over 2B longs across all cores), timed 5× with the
    // median published as calib_sec. Observed host noise swings
    // identical-code wall times several-fold between measurement windows
    // (r4: probe 1.3 vs 10.3 M edge-iters/s on the same commit), so
    // cross-round per-query comparisons need a common yardstick: divide
    // query times by (calib_sec of their run) to compare rounds on equal
    // footing. Isolated in a try like the probes: a calibration failure
    // must not abort the query suite or suppress the artifact line.
    val calibRuns = try (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      // modulo keeps the ANSI-mode sum far from Long overflow
      spark.range(2000000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
      (System.nanoTime() - t0) / 1e9
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] calibration failed: ${e.getMessage}"); Seq()
    }
    // Second yardstick, shuffle-bound: the r4 CPU calib did NOT track a
    // window where the (shuffle-heavy) probes ran 1.7× slow, so publish
    // a shuffle-path speed too — 100M longs exchanged into 1M groups,
    // ~800 MB through the shuffle machinery, 3× with the median
    // published as calib_shuffle_sec. Trainer/probe queries (shuffle+IO
    // dominated) should be normalized by this one; scan/agg queries by
    // the CPU calib.
    val calibShuffleRuns = try (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("id % 1048576 as k")
        .repartition(32, org.apache.spark.sql.functions.col("k"))
        .selectExpr("max(k)").collect()
      (System.nanoTime() - t0) / 1e9
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] shuffle calibration failed: ${e.getMessage}"); Seq()
    }
    def medianOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val calibJson =
      (if (calibRuns.nonEmpty)
        Seq(s""""calib_sec":${medianOf(calibRuns)}""",
          s""""calib_sec_runs":${calibRuns.mkString("[", ",", "]")}""")
      else Seq()) ++
      (if (calibShuffleRuns.nonEmpty)
        Seq(s""""calib_shuffle_sec":${medianOf(calibShuffleRuns)}""",
          s""""calib_shuffle_sec_runs":${calibShuffleRuns.mkString("[", ",", "]")}""")
      else Seq()) match {
        case Seq() => ""
        case fields => fields.mkString(",", ",", "")
      }
    if (calibRuns.nonEmpty)
      System.err.println(f"[bench] calib_sec ${medianOf(calibRuns)}%.3f (median of 5: " +
        calibRuns.map(t => f"$t%.2f").mkString(", ") + ")")
    if (calibShuffleRuns.nonEmpty)
      System.err.println(f"[bench] calib_shuffle_sec ${medianOf(calibShuffleRuns)}%.3f (median of 3: " +
        calibShuffleRuns.map(t => f"$t%.2f").mkString(", ") + ")")
    // Probe-only mode: skip the query suite, run just the throughput
    // probes (for probe-methodology tuning without an 8-minute suite).
    val probeOnly = envFlag("SPARK_GRAFT_PROBE_ONLY")
    // In-suite calibration timeline: the start-of-suite calibrations
    // cannot see host contention that arrives MID-run — exactly what the
    // r5 artifact showed (per-query inflation vs r4 ramping from ~1.26×
    // in the suite's first minute to ~2× by minute 4+, while the suite
    // head's calib read only the baseline slowdown; the same queries at
    // identical shuffle-calib readings ran 3-4× faster in the r6
    // evidence window). A 1/20-scale CPU mini-calib before every 10th
    // query timestamps host speed THROUGH the run; the artifact's
    // calib_timeline [[query_index, sec], …] lets any per-query number
    // be normalized by the host speed at the moment it ran, not the
    // speed at suite start.
    val calibTimeline = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // 1/5 scale (400M rows), NOT 1/20: at 100M rows the job is
    // scheduling-overhead-dominated on 32 cores and reads 0.07–0.7 s on
    // a steady host — too noisy to be a burst detector. 400M keeps the
    // sample compute-dominated (~0.15 s) at ~0.2 s per sample.
    def miniCalib(idx: Int): Double = {
      val t0 = System.nanoTime()
      spark.range(400000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      calibTimeline += ((idx, dt))
      dt
    }
    // Suite-head reference for the burst trigger below: the mini-calib
    // INSTRUMENT'S OWN clean-window reading (median of 3), not a
    // scaled-down calib_sec — a smaller job does not run at
    // proportionally smaller time (fixed per-job overhead), so
    // calib_sec/20 under-estimates the clean mini by several × and a
    // threshold derived from it trips on every sample (the r9 first
    // roll retried 45 queries, all spuriously).
    // Median-of-3 everywhere the trigger reads the instrument: a single
    // ~0.2 s parallel job still swings ±2× on a steady host (straggler
    // scheduling), which a median de-noises to well inside the 1.5×
    // trigger band.
    def miniSample(idx: Int): Double =
      medianOf((1 to 3).map(_ => miniCalib(idx)))
    val refMini: Option[Double] =
      if (calibRuns.isEmpty) None else Some(miniSample(-1))
    // The burst trigger's reference must be the CLEANEST host window
    // observed so far, not the suite-head sample alone: the r12 roll-A
    // artifact caught a contention burst covering exactly the suite
    // head, which inflated calib_mini_ref_sec to 0.65 s (steady state
    // 0.15 s) — a threshold of 1.5x THAT was above every later sample,
    // so the calib trigger was structurally disabled for the whole run
    // and the burst-hit q01-q08 block published undetected. Running
    // min over the timeline self-heals within a few samples; published
    // as calib_mini_min_sec so the trigger threshold is auditable.
    // Robust running low, spec-pinned in robustLow (see its doc).
    def minMini: Option[Double] =
      robustLow(calibTimeline.map(_._2).toSeq).orElse(refMini)
    // Per-query JVM-health telemetry (GRAFT_DEBUG): the suite runs 90+
    // queries in ONE JVM, so resources that grow monotonically across
    // queries (JIT code cache, metaspace, loaded classes) can degrade
    // late queries in ways solo A/B runs never reproduce. Deltas of the
    // compilation- and GC-time beans per query localize that.
    import java.lang.management.ManagementFactory
    val debug = envFlag("GRAFT_DEBUG")
    // Stage-level capture for watchlist queries (r14 VERDICT next#2):
    // q135's excess-cpu draw needs FULL-SUITE state (solo A/B flat,
    // 15-query predecessor mini-suite negative), so the only way to see
    // WHERE the extra cpu goes is to record the draw's own executed
    // stages inside a full roll. For each query whose name starts with
    // an entry of SPARK_GRAFT_STAGE_QUERIES (default: the q135
    // watchlist row whenever GRAFT_DEBUG is on), every completed
    // stage's id/attempt/name/tasks/wall/run/cpu lands in the
    // artifact's `queries_stages` map — a clean draw and a slow draw
    // then diff at stage granularity (same stages slower = scheduling;
    // EXTRA stages or extra tasks = recomputation, the localCheckpoint
    // eviction hypothesis). Attribution uses a volatile query tag set
    // only around the timed fn execution and cleared after a listener-
    // bus drain, so mini-calib/settle jobs never pollute the rows;
    // when a retry fires, both runs' stages land under the same key in
    // execution order (the retried map brackets which is which).
    // r16 (VERDICT r15 #4): the default watchlist tracks the CURRENT
    // draw-prone set — q91/q15/q14 (the r15 fix made q135 8× faster, so
    // the instrument was watching the wrong query). Extended mid-r16:
    // the round's two after-rolls drew q106 (26.0/25.5 s first runs vs
    // 4.7 s clean, jit 31 s) and one drew q105/q77-retry in the same
    // burst window, so the streaming-dedup pair joins the default set.
    val stageWatch: Seq[String] = sys.env.get("SPARK_GRAFT_STAGE_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(if (debug) Seq("q91_dynamic_graph",
        "q15_triangles_per_vertex", "q14_triangle_count",
        "q106_stream_dedup", "q105_dedup_clusters") else Seq.empty)
    case class StageRow(q: String, id: Int, attempt: Int, name: String,
                        tasks: Int, wallMs: Long, runMs: Long, cpuMs: Long)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    @volatile var stageQ = ""
    if (stageWatch.nonEmpty)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val q = stageQ
            if (q.nonEmpty) {
              val si = ev.stageInfo
              val wall = (for { a <- si.completionTime; b <- si.submissionTime }
                yield a - b).getOrElse(-1L)
              stageRows.add(StageRow(q, si.stageId, si.attemptNumber(),
                si.name.take(48), si.numTasks, wall,
                si.taskMetrics.executorRunTime,
                si.taskMetrics.executorCpuTime / 1000000L))
            }
          }
        })
    def codeCacheUsed: Long = ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    // getCompilationMXBean is null on JVMs without a JIT — fall back to 0
    def jitMillis: Long = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    // One timed execution's full bracket: wall time, error, JIT delta,
    // and — r12 VERDICT #1a — the hypervisor-steal fraction,
    // minor-fault delta, and GC-time delta over the query's own window
    // (see onceTimed). gc_ms is the third attribution layer: a query
    // that is slow with clean steal/minflt/jit and a clean calib
    // timeline can still be a GC pause (heap debt from a heavyweight
    // predecessor), which only its own GC bracket can show. cpu is the
    // process-CPU delta in seconds — the zero-steal stall
    // discriminator: wall ballooning while the CPU delta matches the
    // steady siblings means same work, not scheduled (the r13 roll-c
    // q51 22 s entry read clean on EVERY other instrument).
    case class Timed(sec: Double, err: Option[String], jit: Long,
                     steal: Double, minflt: Long, gc: Long, cpu: Double)
    // Both runs of every retried query — published in the artifact so
    // every cut is auditable (trigger: "jit" = first run absorbed >5 s
    // of measured compilation; "calib" = the post-query mini-calib read
    // >1.5x the cleanest host reading, i.e. a contention burst;
    // "jit+calib").
    case class Retry(name: String, first: Timed, retry: Timed,
                     trigger: String, kept: String)
    val retried = scala.collection.mutable.ArrayBuffer.empty[Retry]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        !probeOnly && only.forall(_.exists(name.startsWith)) }
      .zipWithIndex
      .map { case ((name, fn), qIdx) =>
      if (qIdx % 10 == 0) miniCalib(qIdx)
      val (cc0, gc0, jit0, cls0) =
        if (debug) (codeCacheUsed, gcMillis, jitMillis,
          ManagementFactory.getClassLoadingMXBean.getLoadedClassCount)
        else (0L, 0L, 0L, 0)
      // Iterative queries leave localCheckpoint blocks pinned until the
      // ContextCleaner notices the RDDs are unreachable; across 80+
      // queries that lag accumulates gigabytes of dead blocks and the
      // later queries degrade several-fold. Drop them deterministically —
      // and BLOCKING, so the next query's timing never includes the
      // previous query's eviction/GC debt (async unpersist showed 2-3x
      // run-to-run swings on heavyweight trainer queries).
      def cleanup(): Unit = {
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        // collect the dead query's garbage OUTSIDE any timed region, so
        // a heavyweight predecessor's GC debt is never billed to the
        // next query (q29 measured 4x slower in-suite than solo)
        System.gc()
      }
      // One timed execution, bracketed by steal-jiffy and minor-fault
      // reads (r12 VERDICT #1a): the post-query mini-calib samples host
      // speed AFTER the query, so a contention burst that covers a long
      // query's window and subsides before the sample goes undetected —
      // exactly how roll b published q86 at 75 s unflagged. Per-query
      // steal_frac/minflt_delta make an intra-query burst mechanically
      // attributable from the query's OWN row even when every calib
      // sample around it reads clean.
      def onceTimed(): Timed = {
        // tag the window for the stage listener BEFORE the first job
        // (events carry the tag read at delivery time)
        if (stageWatch.exists(name.startsWith)) stageQ = name
        val j0 = jitMillis
        val s0 = stealJiffies()
        val mf0 = minorFaults()
        val g0 = gcMillis
        val c0 = graft.tools.Proc.processCpuNanos()
        val t0 = System.nanoTime()
        // A failing query is recorded as an error, never as a fast
        // success.
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Read the JIT/steal/fault deltas BEFORE cleanup(): compiler and
        // GC activity during the unpersist/gc epilogue is not the
        // query's and used to spuriously trip the retry threshold.
        val jd = jitMillis - j0
        val st = stealFrac(s0, stealJiffies(), dt)
        val mf = minorFaults() - mf0
        val gd = gcMillis - g0
        val c1 = graft.tools.Proc.processCpuNanos()
        val cd = if (c0 >= 0 && c1 >= 0) (c1 - c0) / 1e9 else -1.0
        // drain the listener bus before untagging so a watched query's
        // trailing stage-completed events still carry its tag; AFTER
        // the instrument bracket reads so the drain is never billed to
        // the query's own steal/cpu window
        if (stageQ.nonEmpty) {
          org.apache.spark.sql.GraftShims.waitListenerBus(spark)
          stageQ = ""
        }
        cleanup()
        Timed(dt, err, jd, st, mf, gd, cd)
      }
      val run0 = onceTimed()
      val (dt0, err0, jitDelta) = (run0.sec, run0.err, run0.jit)
      // Contamination retry, two triggers, one retry:
      //  - "jit": whole-stage-codegen classes are keyed by generated
      //    source, so the FIRST in-suite execution of a heavy trainer
      //    can absorb tens of seconds of C2 compilation a steady-state
      //    run never pays (r8 solo A/B: q86 57 s with jit+55 s on run
      //    1, 17.8 s on run 2 — the sf0.001 schema warm compiles the
      //    small-scale AQE plan shapes, not the sf0.1 ones). r10
      //    root-caused the RECURRING part: the 100-entry default
      //    generated-class cache is smaller than one trainer run's
      //    ~104 units, so the suite thrashed it and re-C2-compiled
      //    ~30 units per trainer run — GraftSession now sizes the
      //    cache to 2000 (Debug codegen A/B: repeat-run Janino
      //    compiles 30 → 2), so this trigger should fire rarely.
      //  - "calib": a hypervisor contention burst over the query's
      //    window. A 1/20-scale mini-calib right after every non-trivial
      //    query samples host speed; >1.5x the cleanest reading so far means
      //    the number is a host artifact (the r8 refresh shipped a
      //    q64-q71 block 3-5x inflated by exactly such a burst, visible
      //    only in the calib timeline).
      // Estimator: publish the RETRY (steady-state) run whenever a
      // retry was triggered and the retry itself is clean (no error, no
      // >5 s JIT, NOT slower than the first run, and — for calib
      // triggers — a clean post-run mini-calib); keep the FIRST run
      // otherwise. Never min-of-two in the variance-harvesting sense: a
      // retry only replaces the first run when the trigger's own causal
      // story holds — "run 1 = run 2 + one-time contamination" — which
      // REQUIRES dt1 ≤ dt0. A retry materially SLOWER than its first
      // run cannot be "the first run minus one-time JIT/burst"; it is
      // by construction a second execution of the same plan in one
      // warm JVM, i.e. exactly the documented repeat-run anomaly's
      // trigger shape (FM_INFLATION_ANALYSIS.md r10 addendum 2 — run 2
      // of an identical plan 4-10x run 1/3, JIT family refuted, so the
      // JIT/calib guards below cannot catch it). The r10 committed
      // artifact published such a retry as q53_fm's number (first
      // 14.3 s, retry 122.4 s, kept retry) — ~108 s of known
      // instrument artifact in the headline (r10 VERDICT What's-wrong
      // #1). Gate: dt1 <= dt0 * 1.2 (the 1.2 allows ordinary jitter —
      // an equal-time clean retry is still the better-attested
      // number). Both runs land in `retried` with the trigger and the
      // kept side, so every cut is auditable.
      val retryEnabled = err0.isEmpty && dt0 > 3.0 &&
        !envFlag("SPARK_GRAFT_NO_RETRY")
      def burstyMini(m: Double): Boolean = minMini.exists(r => m > 1.5 * r)
      // Settle before sampling (the probes' settle() lesson): right
      // after a heavy query the async ContextCleaner/listener backlog
      // elevates a short job 2×+ for a few hundred ms, which would
      // read as a phantom burst.
      def settledMini(): Double = {
        org.apache.spark.sql.GraftShims.waitListenerBus(spark)
        Thread.sleep(300)
        miniSample(qIdx)
      }
      val postMini: Option[Double] =
        if (retryEnabled && refMini.isDefined) Some(settledMini()) else None
      val jitTrig = retryEnabled && jitDelta > 5000
      val calibTrig = postMini.exists(burstyMini)
      val trigger = (if (jitTrig) Seq("jit") else Seq()) ++
        (if (calibTrig) Seq("calib") else Seq())
      val kept = if (trigger.nonEmpty) {
        val run1 = onceTimed()
        val (dt1, err1, jit1) = (run1.sec, run1.err, run1.jit)
        val retryMini: Option[Double] =
          if (calibTrig && refMini.isDefined) Some(settledMini()) else None
        // "The retry excluded the one-time compilation" ⟺ the observed
        // compile time dropped materially (≤ half the first run's, or
        // under the 5 s floor). The halving test predates the r10
        // codegen-cache fix (trainers used to recompile 10–20 s EVERY
        // run off cache eviction, so an absolute ≤5 s bar could never
        // publish a trainer retry); with the 2000-entry cache the
        // steady-state JIT is small and the halving test still catches
        // the one-time 55 s→16 s drops (the r8 q86 solo A/B).
        val retryClean =
          keepRetry(err1, dt0, dt1, jitDelta, jit1, retryMini.exists(burstyMini))
        val keptSide = if (retryClean) "retry" else "first"
        retried += Retry(name, run0, run1, trigger.mkString("+"), keptSide)
        if (retryClean) run1 else run0
      } else run0
      val (dt, err) = (kept.sec, kept.err)
      System.err.println(f"[bench] $name%-28s $dt%8.2f s" +
        (if (trigger.nonEmpty)
          f" (first ${dt0}%.2f s, jit +${jitDelta} ms, trigger ${trigger.mkString("+")})"
         else "") +
        (if (kept.steal > 0.01) f" steal=${kept.steal}%.4f" else "") +
        (if (kept.minflt > 1000000L) s" minflt=${kept.minflt}" else "") +
        err.map(m => s"  ERROR: $m").getOrElse(""))
      if (debug) System.err.println(
        f"[bench-jvm] $name%-28s codecache ${codeCacheUsed / 1048576.0}%6.1f MB" +
          f" (+${(codeCacheUsed - cc0) / 1048576.0}%5.1f)" +
          f" gc +${gcMillis - gc0}%5d ms  jit +${jitMillis - jit0}%5d ms" +
          f"  classes ${ManagementFactory.getClassLoadingMXBean.getLoadedClassCount}%7d" +
          f" (+${ManagementFactory.getClassLoadingMXBean.getLoadedClassCount - cls0}%5d)")
      (name, kept)
    }
    if (results.nonEmpty) miniCalib(results.size)
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    val qs = results.map { case (k, t) => s"\"" + k + "\":" + t.sec }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, t) if t.err.isDefined =>
        s"\"" + k + "\":" + jstr(t.err.get) }
      .mkString("{", ",", "}")
    // Per-query host-attribution maps (r12 VERDICT #1a), keyed like
    // `queries` and describing the KEPT run: steal_frac = fraction of
    // the host's whole vCPU capacity stolen during the query's own
    // window; minflt = the process's minor-fault delta over it (~45 µs
    // task-CPU each on this microVM — see graft.tools.Proc). A published
    // value that disagrees with its sibling rolls now carries its
    // mechanical attribution in its own row instead of relying on the
    // post-query calib sample, which is structurally blind to a burst
    // that ends before it (the r12 roll-b q86 75 s entry).
    val qSteal = results.map { case (k, t) =>
        f""""$k":${t.steal}%.5f""" }.mkString("{", ",", "}")
    val qMinflt = results.map { case (k, t) =>
        s"\"" + k + "\":" + t.minflt }.mkString("{", ",", "}")
    val qGc = results.map { case (k, t) =>
        s"\"" + k + "\":" + t.gc }.mkString("{", ",", "}")
    val qCpu = results.map { case (k, t) =>
        f""""$k":${t.cpu}%.3f""" }.mkString("{", ",", "}")
    // Fourth attribution layer, for the ZERO-steal contention mode this
    // box exhibits (minutes-scale host stalls with no steal jiffies and
    // small fault counts — README lesson (2)): per-query host ratio,
    // the ±5-index windowed max over calib-sample-group medians ÷ the
    // robust low (rule + rationale in hostRatio's scaladoc; the
    // windowing is what catches the r12 roll-b q86 shape a
    // nearest-bracket rule misses). It also flags a bursty suite HEAD
    // — where the retry trigger is structurally blind because its
    // reference hasn't healed yet (r13 roll _b: head samples
    // 0.77-1.38 s vs the 0.13 s floor put q01-q08 at host_ratio ~7-9x
    // with zero steal and no retry flag).
    val sampleGroups: Map[Int, Double] = calibTimeline.toSeq.groupBy(_._1)
      .map { case (i, g) => i -> medianOf(g.map(_._2)) }
    val qHostRatio = results.zipWithIndex.map { case ((k, _), i) =>
      val r = hostRatio(sampleGroups, i, minMini.getOrElse(0.0))
      f""""$k":$r%.2f"""
    }.mkString("{", ",", "}")
    // Watched queries' executed-stage tables (empty when no watchlist
    // query ran or SPARK_GRAFT_STAGE_QUERIES/GRAFT_DEBUG is off). Rows
    // in execution order; run/cpu are the stage's summed task
    // executorRunTime/executorCpuTime in ms.
    val stagesJson = {
      val rows = stageRows.asScala.toSeq
      if (rows.isEmpty) "" else {
        s""","stage_queries":${stageWatch.map(jstr).mkString("[", ",", "]")}""" +
          s""","queries_stages":""" +
          rows.groupBy(_.q).toSeq.sortBy(_._1).map { case (q, rs) =>
            s""""$q":""" + rs.map(r =>
              s"""{"id":${r.id},"attempt":${r.attempt},"name":${jstr(r.name)},""" +
                s""""tasks":${r.tasks},"wall_ms":${r.wallMs},""" +
                s""""run_ms":${r.runMs},"cpu_ms":${r.cpuMs}}""")
              .mkString("[", ",", "]")
          }.mkString("{", ",", "}")
      }
    }
    def timedJson(t: Timed): String =
      f""""sec":${t.sec}%.3f,"jit_ms":${t.jit},"steal_frac":${t.steal}%.5f,"minflt":${t.minflt},"gc_ms":${t.gc},"cpu_sec":${t.cpu}%.3f"""
    val retriedJson = retried
      .map { r =>
        s""""${r.name}":{"first":${r.first.sec},"retry":${r.retry.sec},""" +
          s""""trigger":"${r.trigger}","kept":"${r.kept}",""" +
          s""""first_run":{${timedJson(r.first)}},"retry_run":{${timedJson(r.retry)}}}""" }
      .mkString(""","retried":{""", ",", "}")
    val total = results.map(_._2.sec).sum
    // Throughput probe at a larger edge scale (synthetic, deterministic):
    // per-edge-iteration PageRank rate, comparable to BASELINE.md's
    // published edge-throughput numbers (README.md:118). Skipped for
    // SPARK_GRAFT_BENCH_ONLY subset runs: a local tuning loop on two
    // queries should not pay two 32M-edge probes.
    // SPARK_GRAFT_FORCE_PROBES: run the probes even for a BENCH_ONLY
    // subset — the suite-state A/B tool (probes after a chosen query
    // subset vs probes alone) that localized the r7 probe degradation.
    val thr = if (only.nonEmpty && !probeOnly &&
        !envFlag("SPARK_GRAFT_FORCE_PROBES")) "" else try {
      // 2M vertices × 16 = 32M edges: large enough that per-superstep
      // scheduling overhead amortizes and the rate is comparable to
      // BASELINE.md's edge-throughput numbers. Blocking cleanup first:
      // dead blocks from the query suite otherwise GC-throttle the probe.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val n = sys.env.getOrElse("SPARK_GRAFT_THROUGHPUT_N", "2000000").toLong
      val g = graft.graph.Generators.erdosRenyiSparse(spark, n, 16)
        .transform(graft.graph.Iterate.ckpt)
      val nEdges = g.count()
      val iters = 4
      // g's blocks must survive every settle below; everything persisted
      // from here on is a dead intermediate of a finished probe run.
      val keepIds = spark.sparkContext.getPersistentRDDs.keySet
      // Steady-state methodology: one untimed FULL-SIZE run first, so
      // C2/codegen compilation AND the scale-dependent AQE plan shapes
      // are both warm before the first timed run — BASELINE.md's
      // published numbers likewise time the engine run, not one-time
      // preprocessing. (A reduced 2-iteration warm left the first timed
      // run 7× the best in the r5 driver artifact: the 4-iteration loop
      // body compiles different stage shapes than the 2-iteration one
      // never reached steady state.)
      graft.graph.Algorithms.pageRank(g, iterations = iters)
        .agg(org.apache.spark.sql.functions.sum("pr")).collect()
      // Each run leaves the previous run's localCheckpoint blocks dead
      // but not yet reclaimed; the ContextCleaner removes them only
      // after a GC notices the weak refs, and removal itself is async.
      // Without an explicit settle the FIRST timed run absorbs the WARM
      // run's whole eviction/GC debt (r6 evidence: 44.7/13.4/15.4 s
      // with a full-size warm but no settle). Deterministic version:
      // unpersist the dead intermediates BLOCKING while they are still
      // strongly referenced (getPersistentRDDs holds weak values — act
      // before gc clears them), then gc + bus-drain, all OUTSIDE the
      // timed region.
      def settle(): Unit = {
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => keepIds.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
        System.gc()
        org.apache.spark.sql.GraftShims.waitListenerBus(spark)
        Thread.sleep(500)
      }
      // Host-speed sample right before each timed probe run (1/5-scale
      // CPU mini-calib, outside the timed region; 400M rows so the
      // sample is compute-dominated — see miniCalib): the probes run
      // minutes after the suite-head calibration, and r6's clean run
      // showed 3× probe spread on identical code — *_calib_runs lets a
      // wide spread be attributed to the host window vs the engine.
      // MEDIAN OF 3 (r10, the r9 judge's What's-wrong #4): a single
      // ~0.2 s sample swings ±2× on a steady host and a point-sample
      // DIVISOR amplifies instrument noise straight into the published
      // normalized spread (the r9 refresh read [31.1, 21.0, 6.4]
      // normalized on a steady engine because ONE bracket caught a
      // burst) — the same median-of-3 discipline the retry trigger
      // already uses.
      def probeCalib(): Double = {
        def one(): Double = {
          val t0 = System.nanoTime()
          spark.range(400000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
          (System.nanoTime() - t0) / 1e9
        }
        medianOf((1 to 3).map(_ => one()))
      }
      // Calib-normalized runs: each timed run ÷ the host speed sampled
      // around it (geometric mean of a PRE and a POST probeCalib,
      // rescaled so a steady host gives normalized == raw: the
      // mini-calib is the suite-head CPU calib at 1/20 scale). The r6
      // artifact's raw TC spread was 3.65× while its per-run calibs
      // swung ~5× — the spread was the host window, not the engine —
      // but attributing that required manual cross-reading.
      // *_sec_runs_normalized publishes the attribution: the ≤2 bar is
      // gated on the normalized max/min. Bracketing (pre+post) exists
      // because a single pre-run sample over/under-corrects when a
      // contention burst starts or ends MID-run (the first r7 rerun's
      // pre-only normalization turned a 3.6× raw spread into a
      // nonsense 35× "normalized" one); the bracket geomean is the
      // best instantaneous estimate of the run's own window, published
      // raw in *_calib_brackets so the correction is auditable.
      def normalize(runs: Seq[Double], calibs: Seq[Double],
                    brackets: Seq[(Double, Double)]): Seq[(Double, Boolean)] = {
        // ref = the mini instrument's cleanest session reading (a steady
        // host then gives normalized == raw); calib_sec/20 was wrong —
        // per-job overhead means 1/20 of the work is NOT 1/20 of the
        // time, and a mis-scaled ref amplifies instrument noise into
        // the published normalized spread. Running-min (not the head
        // sample): a burst over the suite head otherwise inflates the
        // ref and every normalized probe value with it (r12 roll A).
        val ref = minMini.getOrElse(if (calibs.nonEmpty) calibs.min else 1.0)
        // A correction is only trustworthy when its own PRE and POST
        // brackets agree (≤1.3×): disagreement means the window moved
        // mid-run and the bracket geomean is a guess — publish the RAW
        // number for that run instead of a fabricated "normalized" one
        // (the run's bracket pair is in *_calib_brackets either way).
        // Returns (value, applied): the boolean says whether THIS entry
        // is calib-corrected or raw, published as *_calib_applied so a
        // mixed-basis normalized array is explicit in the artifact
        // instead of only re-derivable from the brackets (r10 ADVICE —
        // the r10 pr run 1, 36.8 s, was such a silently-raw value).
        runs.lazyZip(calibs).lazyZip(brackets).toSeq.map {
          case (r, c, (pre, post)) =>
            val agree = pre > 0 && post > 0 &&
              math.max(pre, post) / math.min(pre, post) <= 1.3
            if (agree && c > 0) (r * ref / c, true) else (r, false)
        }
      }
      def spread(runs: Seq[Double]): Double =
        if (runs.isEmpty || runs.min <= 0) 0.0 else runs.max / runs.min
      // 3 timed runs, ALL persisted (pr_sec_runs) so the spread is
      // auditable: host-level noise on this box swings a single run
      // ±50% (observed 7.6 vs 4.0 M edge-iters/s on identical code).
      // The headline rate stays best-of (steady-state capability,
      // matching how BASELINE.md's published numbers were taken) and
      // the median rides along for comparison with mean/median-based
      // measurements.
      val prCalibs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val prBrackets = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val prSteal = scala.collection.mutable.ArrayBuffer.empty[Double]
      val prMinflt = scala.collection.mutable.ArrayBuffer.empty[Long]
      val runs = (1 to 3).map { _ =>
        settle()
        val pre = probeCalib()
        val s0 = stealJiffies()
        val mf0 = minorFaults()
        val t0 = System.nanoTime()
        graft.graph.Algorithms.pageRank(g, iterations = iters)
          .agg(org.apache.spark.sql.functions.sum("pr")).collect()
        val dt = (System.nanoTime() - t0) / 1e9
        prSteal += stealFrac(s0, stealJiffies(), dt)
        prMinflt += (minorFaults() - mf0)
        val post = probeCalib()
        prBrackets += ((pre, post))
        prCalibs += math.sqrt(pre * post)
        dt
      }
      val dt = runs.min
      val dtMed = runs.sorted.apply(runs.size / 2)
      val rate = nEdges.toDouble * iters / dt
      val prNormed = normalize(runs, prCalibs.toSeq, prBrackets.toSeq)
      val prNorm = prNormed.map(_._1)
      val prApplied = prNormed.map(_._2)
      System.err.println(f"[bench] pagerank_throughput $nEdges%d edges x $iters iters = $dt%.2f s best / $dtMed%.2f s median (${rate / 1e6}%.2f M edge-iters/s best); spread raw ${spread(runs)}%.2fx / normalized ${spread(prNorm)}%.2fx")
      // Second commensurable baseline row: triangle counting — BASELINE.md
      // times twitter-2010 (1.5 B edges) at 55 min ≈ 454k edges/s. Same
      // synthetic graph, one warm run (codegen) + 2 timed runs, best
      // published with both runs auditable. NO cache purge here: g itself
      // is a localCheckpoint and a blanket unpersist would destroy its
      // blocks; the PageRank runs' dead state is unreachable and the
      // ContextCleaner reclaims it. Own try: a triangle failure must not
      // erase the PageRank fields.
      val tc = try {
        // Full-size untimed warm: r4's 1M-edge warm and r5's 25% warm
        // both left scale-dependent AQE/codegen plans cold (first timed
        // run 1.8× the best in the r5 artifact) — only the identical
        // computation warms the identical plan. 3 timed runs so best-of
        // has support.
        graft.graph.Algorithms.totalTriangles(g)
        val tcCalibs = scala.collection.mutable.ArrayBuffer.empty[Double]
        val tcBrackets = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
        val tcSteal = scala.collection.mutable.ArrayBuffer.empty[Double]
        val tcMinflt = scala.collection.mutable.ArrayBuffer.empty[Long]
        val tcRuns = (1 to 3).map { _ =>
          settle()
          val pre = probeCalib()
          val s0 = stealJiffies()
          val mf0 = minorFaults()
          val t0 = System.nanoTime()
          graft.graph.Algorithms.totalTriangles(g)
          val dt = (System.nanoTime() - t0) / 1e9
          tcSteal += stealFrac(s0, stealJiffies(), dt)
          tcMinflt += (minorFaults() - mf0)
          val post = probeCalib()
          tcBrackets += ((pre, post))
          tcCalibs += math.sqrt(pre * post)
          dt
        }
        val tcDt = tcRuns.min
        val tcRate = nEdges.toDouble / tcDt
        val tcNormed = normalize(tcRuns, tcCalibs.toSeq, tcBrackets.toSeq)
        val tcNorm = tcNormed.map(_._1)
        val tcApplied = tcNormed.map(_._2)
        System.err.println(f"[bench] triangle_throughput $nEdges%d edges = $tcDt%.2f s best (${tcRate / 1e3}%.0f k edges/s); spread raw ${spread(tcRuns)}%.2fx / normalized ${spread(tcNorm)}%.2fx")
        s""","tc_sec":$tcDt,"tc_sec_runs":${tcRuns.mkString("[", ",", "]")},"tc_calib_runs":${tcCalibs.mkString("[", ",", "]")},"tc_calib_brackets":${tcBrackets.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")},"tc_steal_frac_runs":${tcSteal.mkString("[", ",", "]")},"tc_minflt_runs":${tcMinflt.mkString("[", ",", "]")},"tc_sec_runs_normalized":${tcNorm.mkString("[", ",", "]")},"tc_calib_applied":${tcApplied.mkString("[", ",", "]")},"tc_spread_normalized":${spread(tcNorm)},"tc_edges_per_sec":$tcRate"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] triangle probe failed: $e")
        e.printStackTrace()
        ""
      }
      s""","pr_edges":$nEdges,"pr_iters":$iters,"pr_sec":$dt,"pr_sec_median":$dtMed,"pr_sec_runs":${runs.mkString("[", ",", "]")},"pr_calib_runs":${prCalibs.mkString("[", ",", "]")},"pr_calib_brackets":${prBrackets.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")},"pr_steal_frac_runs":${prSteal.mkString("[", ",", "]")},"pr_minflt_runs":${prMinflt.mkString("[", ",", "]")},"pr_sec_runs_normalized":${prNorm.mkString("[", ",", "]")},"pr_calib_applied":${prApplied.mkString("[", ",", "]")},"pr_spread_normalized":${spread(prNorm)},"pr_edge_iters_per_sec":$rate$tc"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] throughput probe failed: ${e.getMessage}")
      ""
    }
    if (calibTimeline.nonEmpty) System.err.println("[bench] calib_timeline " +
      calibTimeline.map { case (i, t) => f"$i:$t%.2f" }.mkString(" "))
    System.err.println("[bench] metrics " +
      graft.metrics.MetricsReporter.json(mlistener.metrics))
    val timelineJson = if (calibTimeline.isEmpty) "" else
      s""","calib_timeline":${calibTimeline
        .map { case (i, t) => s"[$i,$t]" }.mkString("[", ",", "]")}"""
    val wallSec = (System.nanoTime() - suiteT0) / 1e9
    val stealJson = s""","steal_frac_wall":${stealFrac(suiteSteal0, stealJiffies(), wallSec)},"wall_sec":$wallSec"""
    // the burst-trigger threshold (1.5× this) — published so every
    // calib-triggered retry decision is auditable from the artifact.
    // calib_mini_min_sec has been the ROBUST low (second-smallest
    // timeline sample), not the raw min, since the r13 robustLow fix —
    // the name predates the rule change and is kept for cross-round
    // field continuity, so the statistic is self-described by
    // calib_mini_min_rule and the raw min stays recomputable from the
    // published calib_timeline (a reader recomputing min(timeline)
    // would otherwise read a value BELOW this field whenever one
    // outlier-fast sample exists and conclude the artifact is
    // inconsistent with its own raw data).
    val miniRefJson =
      refMini.map(r => s""","calib_mini_ref_sec":$r""").getOrElse("") +
        minMini.map(r =>
          s""","calib_mini_min_sec":$r,"calib_mini_min_rule":"second_smallest_since_r13"""").getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"queries_steal_frac":$qSteal,"queries_minflt":$qMinflt,"queries_gc_ms":$qGc,"queries_cpu_sec":$qCpu,"queries_host_ratio":$qHostRatio$retriedJson,"sf":"$sfDir"$calibJson$miniRefJson$timelineJson$stealJson$stagesJson$thr}"""
    // Default deliberately does NOT point at the committed round
    // artifact (bench_full_rNN.json): the round driver re-runs Bench
    // after the round's last commit, and a default aimed at the
    // committed file silently mutated it three rounds running (the
    // r8-r10 artifact-hygiene findings). The driver's own roll lands
    // in a fresh *_driver file, adjudicated against the committed run
    // by the authority rule (README) at the next commit.
    // r16 (VERDICT r15 #2): the filename carries the CPU count — the
    // driver's 8-core scaling run used to clobber its own 32-core
    // per-query artifact because both defaulted to the same file.
    val benchFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      s"/root/repo/bench_full_r16_driver_c$cpus.json")
    // Persist the complete per-query JSON — the round artifact only
    // keeps the stdout tail, which truncated half the r2 numbers. Full
    // (unfiltered) runs at sf0.1 only, so neither a local subset run nor
    // a small-sf smoke run ever clobbers the judge's sf0.1 artifact.
    if (only.isEmpty && !probeOnly && sfDir.contains("sf0.1"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(benchFile), line + "\n")
    // Probe-only runs persist their full line too (separate .probes
    // suffix, never the full-suite file): the compact stdout drops the
    // run/calib/bracket/minflt arrays, which are exactly what a probe
    // measurement is FOR. APPEND, one JSON line per run — consecutive
    // probe windows are the whole point of a probe journal, and the
    // default truncate-on-write kept only the last window (r11 ADVICE).
    if (probeOnly && sfDir.contains("sf0.1"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          benchFile.stripSuffix(".json") + ".probes.json"), line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    // STDOUT gets a COMPACT headline line instead of the full one: the
    // round driver keeps only the last 2000 bytes of stdout and parses
    // the trailing JSON line — the full line (5 KB+ at 116 queries)
    // never fit, so BENCH_r1..r7 all recorded "parsed": null. Headline =
    // totals, error map, the 12 slowest queries, calibration, and the
    // two baseline-comparable probe rates; everything else lives in
    // `full_artifact`.
    def pick(key: String): String =
      ("\"" + key + "\":(-?[0-9][0-9.eE+-]*)").r.findFirstMatchIn(line)
        .map(m => s""","$key":${m.group(1)}""").getOrElse("")
    val slow = results.filter(_._2.err.isEmpty).sortBy(-_._2.sec).take(12)
      .map { case (k, t) => f""""$k":${t.sec}%.2f""" }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries":$slow,"errors":$errs""" +
      f""","wall_sec":$wallSec%.1f,"n_retried":${retried.size}""" +
      pick("calib_sec") + pick("calib_shuffle_sec") + pick("steal_frac_wall") +
      pick("pr_sec") + pick("pr_spread_normalized") +
      pick("pr_edge_iters_per_sec") +
      pick("tc_sec") + pick("tc_spread_normalized") +
      pick("tc_edges_per_sec") +
      s""","full_artifact":${jstr(benchFile)}}"""
    // Streaming queries (q80/q84/q91) leave the state-store maintenance
    // thread running past session stop; its next tick logged a spurious
    // [error] into every round artifact's tail (r11 What's-wrong #3).
    // r16 (VERDICT r15 #1): the contract line is printed as the LAST
    // thing this process emits — after session stop, whose WARN logs
    // land on stderr and used to risk trailing the line in a merged
    // 2>&1 capture. Paired with build.sbt's `run / outputStrategy :=
    // StdoutOutput` (raw child stdout, no sbt `[info] ` prefix) and
    // `showSuccess := false` (no trailing `[success]` line), the
    // trailing stdout line of `sbt "runMain graft.Bench"` is now the
    // bare JSON the round driver parses — `parsed: null` in every
    // BENCH_r01..r15.json was the sbt logger prefix, not the line.
    try {
      org.apache.spark.sql.GraftShims.stopStateStoreMaintenance()
      spark.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] session stop failed: ${e.getMessage}")
    }
    println(compact)
    System.out.flush()
  }
}
