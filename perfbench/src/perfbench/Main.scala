package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.functions.GramAgg
import graft.graph.Iterate

/** The benchmark's driver process. One run: start the session, generate
  * the workload's inputs, compute the reference answer, warm up, then run
  * jobs back to back from this thread (a closed loop with one client)
  * for the requested seconds, checking every job's output outside its
  * timed region. `--trace 0` prints the end-to-end metrics; `--trace 1`
  * alternates untraced and traced jobs and prints the per-layer metrics.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *        --size full|tiny --launch-ms EPOCH_MS --out FILE
  * where --launch-ms is when the process was launched and --out is the
  * file that receives the full run record.
  */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Sample(wallS: Double, cpuS: Double, ok: Boolean, traced: Boolean)

  /** A traced call: its label, wall seconds and the Spark counters of the
    * jobs it submitted.
    */
  final case class Span(name: String, wallS: Double, counters: Seq[(String, Double)]) {
    def json: String =
      "{\"name\":" + quote(name) + ",\"wall_s\":" + num(wallS) + "," +
        counters.map { case (k, v) => quote(k) + ":" + num(v) }.mkString(",") + "}"
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    System.exit(run(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("size"), need("launch-ms").toLong, need("out")))
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, size: String,
          launchMs: Long, out: String): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores.toString)
    try {
      val sessionS = (System.currentTimeMillis - launchMs) / 1e3
      val wl = Workload(name, size, spark, seed)
      val ledger = new Ledger(spark)
      val spans = mutable.ArrayBuffer.empty[Span]
      val samples = mutable.ArrayBuffer.empty[Sample]
      val errors = mutable.ArrayBuffer.empty[String]
      var attempted, failed = 0

      // Set-up is repeated where it can be: the inputs are generated and
      // materialized three times and the median counts; the session and
      // the warm-up happen once per process.
      val genS = median((1 to 3).map(_ => timeS(wl.generate())))
      val oracleS = timeS(wl.reference())

      def cachedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val inputIds = cachedIds

      /** Unpersist every cached RDD not in `keep`. */
      def dropCachedExcept(keep: Set[Int]): Unit =
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!keep.contains(id)) rdd.unpersist(blocking = true)
        }

      /** Drop what the previous job left cached, then collect garbage, so
        * every job starts from the same state.
        */
      def reset(): Unit = {
        dropCachedExcept(inputIds)
        System.gc()
      }

      def timedJob(traced: Boolean, label: String): Sample = {
        reset()
        attempted += 1
        val c0 = cpuBean.getProcessCpuTime
        val t0 = System.nanoTime
        val result = try {
          if (traced) {
            val (o, t) = ledger.scoped(label)(wl.job())
            Right((o, Some(t)))
          } else Right((wl.job(), None))
        } catch { case NonFatal(e) => Left(s"$label threw $e") }
        val wallS = (System.nanoTime - t0) / 1e9
        val cpuS = (cpuBean.getProcessCpuTime - c0) / 1e9
        val verdict = result.flatMap { case (o, t) =>
          t.foreach(tally => spans += Span(label, wallS, tally.metrics(cores)))
          wl.check(o).map(m => s"$label: $m").toLeft(())
        }
        verdict.left.foreach { m => failed += 1; errors += m; System.err.println(s"[perfbench] FAIL $m") }
        Sample(wallS, cpuS, verdict.isRight, traced)
      }

      // a traced run warms up longer: its untraced-vs-traced difference
      // must not carry the early jobs' JIT speed-up
      val warm = (1 to wl.warmups + (if (trace) 1 else 0))
        .map(i => timedJob(traced = false, s"warmup$i"))
      val setupS = sessionS + genS + warm.map(_.wallS).sum

      val t0 = System.nanoTime
      var i = 0
      var streak = 0
      // a traced run alternates untraced and traced jobs in the order
      // U T T U U T T U ..., so a drift during the run weighs on both alike
      val minJobs = if (trace) 6 else 3
      while (((System.nanoTime - t0) / 1e9 < seconds || i < minJobs) && streak < 3) {
        val s = timedJob(traced = trace && (i % 4 == 1 || i % 4 == 2), s"job$i")
        samples += s
        streak = if (s.ok) 0 else streak + 1
        i += 1
      }

      val plain = samples.filter(s => s.ok && !s.traced)
      val traced = samples.filter(s => s.ok && s.traced)
      val metrics: Seq[(String, Double, String)] =
        if (failed > 0 || plain.isEmpty || (trace && traced.isEmpty)) Seq.empty
        else if (!trace) {
          val jobS = median(plain.map(_.wallS).toSeq)
          Seq(("setup_s", setupS, "s"), ("job_s", jobS, "s"),
            ("edges_per_s", wl.work / jobS, "1/s"),
            ("cpu_s", median(plain.map(_.cpuS).toSeq), "s"))
        } else {
          val plainS = median(plain.map(_.wallS).toSeq)
          val tracedS = median(traced.map(_.wallS).toSeq)
          // a timed call keeps what the decomposition cached before it and
          // drops what it cached itself
          val time: Workload.Timer = (label, f) => {
            val before = cachedIds
            System.gc()
            val t = System.nanoTime
            val (_, tally) = ledger.scoped(label)(f())
            val s = (System.nanoTime - t) / 1e9
            spans += Span(label, s, tally.metrics(cores))
            dropCachedExcept(before)
            s
          }
          val algo = wl.decompose(tracedS, time)
          val ckpt = median((1 to 5).map(_ => time("Iterate.ckptN(|V| rows)", () =>
            Iterate.ckptN(spark.range(wl.vertices).selectExpr("id", "id % 1000 AS label")))))
          val floor = median((1 to 5).map(_ => time("Iterate.ckptN(1 row)", () =>
            Iterate.ckptN(spark.range(1).selectExpr("id", "id AS label")))))
          val gram = gramProbe(spark, wl, time)
          val perJob = spans.filter(_.name.startsWith("job")).map(_.counters.toMap)
          val sparkMetrics = perJob.head.keys.toSeq.sorted.map(k => (k, median(perJob.map(_(k)).toSeq)))
          (algo ++ Seq("iterate.ckpt_s" -> ckpt, "iterate.job_floor_s" -> floor,
            "gramagg.half_sweep_s" -> gram) ++ sparkMetrics ++
            Seq("trace.job_s" -> tracedS, "trace.overhead_ratio" -> tracedS / plainS,
              "oracle_single_thread_s" -> oracleS))
            .map { case (k, v) => (k, v, unitOf(k)) }
        }

      val correct = failed == 0 && metrics.nonEmpty
      val line = "{\"correct\": " + correct + ", \"attempted\": " + attempted +
        ", \"failed\": " + failed + ", \"metrics\": {" +
        metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
          .mkString(", ") + "}}"
      val w = new PrintWriter(new File(out))
      try {
        w.println("{\"workload\": \"" + name + "\", \"seed\": " + seed + ", \"trace\": " + trace +
          ", \"cores\": " + cores + ", \"work\": " + wl.work +
          ", \"session_s\": " + num(sessionS) + ", \"generate_s\": " + num(genS) +
          ", \"warmup_s\": [" + warm.map(s => num(s.wallS)).mkString(", ") + "]" +
          ", \"job_s\": [" + samples.map(s => num(s.wallS)).mkString(", ") + "]" +
          ", \"cpu_s\": [" + samples.map(s => num(s.cpuS)).mkString(", ") + "]" +
          ", \"traced\": [" + samples.map(_.traced).mkString(", ") + "]" +
          ", \"jobs\": " + samples.length +
          ", \"error_rate\": " + num(failed.toDouble / attempted) +
          ", \"errors\": [" + errors.map(quote).mkString(", ") + "]" +
          ", \"spans\": [" + spans.map(_.json).mkString(", ") + "]" +
          ", \"result\": " + line + "}")
      } finally w.close()
      println(line)
      if (correct) 0 else 1
    } finally spark.stop()
  }

  /** Median of three `GramAgg.of` passes in the shape of ALS's user
    * half-sweep: the workload's (a, b, rating) rows, each with a rank-8
    * design vector derived from b, grouped on a under the trainers'
    * aggregate capacity. The design frame is built once, untimed.
    */
  private def gramProbe(spark: SparkSession, wl: Workload, time: Workload.Timer): Double = {
    val rank = 8
    val design = wl.gramRows.select(col("a"),
      array((1 to rank).map(k => sin(col("b") * k)): _*).as("q"), col("rating"))
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = design.count()
    val sweep = () => GraftSession.withTrainerAggCapacity(spark) {
      design.groupBy("a").agg(GramAgg.of(col("q"), col("rating"), lit(1.0), rank).as("g"))
        .agg(sum(element_at(col("g"), -1))).first().getDouble(0)
    }
    // the last slot of each group's buffer is its row count
    require(sweep() == rows, "GramAgg row counts do not add up to the input rows")
    val s = median((1 to 3).map(_ => time("GramAgg.of half-sweep", sweep)))
    design.unpersist(true)
    s
  }

  private def timeS(f: => Any): Double = {
    val t = System.nanoTime
    f
    (System.nanoTime - t) / 1e9
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("core_util") || k.endsWith("ratio")) "ratio" else "count"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
}
