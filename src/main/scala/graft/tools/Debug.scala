package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Ad-hoc driver for profiling pieces locally (not part of the driver
  * contract). Usage: sbt "runMain graft.tools.Debug <what>".
  */
object Debug {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._
    args.headOption.getOrElse("mfsgd") match {
      case "mfsgd" =>
        val rows = (1L to 8L).flatMap(u => (10L to 15L).map(i =>
          (u, i, if ((u <= 4) == (i <= 12)) 4.5 + (u + i) % 2 * 0.5
                 else 1.0 + (u + i) % 2 * 0.5)))
        val ratings = rows.toDF("user", "item", "rating")
        val t0 = System.currentTimeMillis
        val model = graft.cf.MfSgd.train(ratings, rank = 4, iterations = 10, lr = 0.05)
        println("TRAIN_MS=" + (System.currentTimeMillis - t0))
        println("RMSES=" + model.trainRmse.mkString(","))
        val preds = graft.cf.MfSgd.predict(model, ratings)
        println("FINAL_RMSE=" + graft.cf.CollaborativeFiltering.rmse(preds))
      case "explain" =>
        val sf = "/root/testdata/sf0.01"
        for (q <- args.drop(1)) {
          println(s"==== $q")
          graft.SparkEntry.queries(q)(spark, sf).explain("formatted")
        }
      case "time" =>
        // args: time <sfDir> <q1> [<q2> ...] — bench-style: warm each
        // query once at sf0.001 (schema-exact codegen), then time at
        // the target SF. Mirrors Bench's per-query methodology so a
        // local number is comparable to the driver artifact.
        val sfDir = args(1)
        import java.lang.management.ManagementFactory
        def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
          .stream.mapToLong(_.getCollectionTime).sum
        def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
          .map(_.getTotalCompilationTime).getOrElse(0L)
        val warmDir =
          sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
        for (q <- args.drop(2)) {
          val fn = graft.SparkEntry.queries(q)
          try fn(spark, warmDir).count()
          catch { case _: Throwable => () }
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache(); System.gc()
          val (g0, j0) = (gcMs, jitMs)
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"TIMED $q ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n" +
            f" gc+${gcMs - g0} ms jit+${jitMs - j0} ms")
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache(); System.gc()
        }
      case "stages" =>
        // args: stages <sfDir> <q> <repeats> — per-run stage table
        // (tasks, wall ms, max task ms) to localize repeat-run
        // parallelism collapses.
        val sfDir = args(1)
        val q = args(2)
        val reps = args.drop(3).headOption.map(_.toInt).getOrElse(2)
        val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Int, Long, Long, Long, Long, Long)]()
        @volatile var runIdx = 0
        val taskDur = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
        // Per-stage sums of the EXECUTED tasks' named SQL-metric
        // accumulable updates (r10 VERDICT next#2's instrument): the
        // plan-walk AGGMETRICS below reads the final df's plan
        // INSTANCES, which show 0 when the heavy aggregate executed in
        // a reused-exchange / subquery stage — the task-level
        // accumulables are attributed to the stage that actually ran,
        // so "number of sort fallback tasks" / spill are read from the
        // executed instance no matter which plan tree owns it.
        val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentHashMap[String, Long]]()
        val accKeys = Seq("fallback", "spill", "avg hash probe")
        val jobCount = new java.util.concurrent.atomic.AtomicLong()
        val stageCount = new java.util.concurrent.atomic.AtomicLong()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobCount.incrementAndGet()
            override def onTaskEnd(
                te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
              taskDur.computeIfAbsent(te.stageId,
                _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
                .add(te.taskInfo.duration)
              val m = stageAcc.computeIfAbsent(te.stageId,
                _ => new java.util.concurrent.ConcurrentHashMap[String, Long]())
              te.taskInfo.accumulables.foreach { ai =>
                ai.name.filter(n => accKeys.exists(n.toLowerCase.contains))
                  .foreach { n =>
                    val upd = ai.update.map(_.toString.toLongOption.getOrElse(0L))
                      .getOrElse(0L)
                    if (upd != 0L) m.merge(n, upd, (a, b) => a + b)
                  }
              }
            }
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              stageCount.incrementAndGet()
              val si = sc.stageInfo
              val wall = (for {a <- si.completionTime; b <- si.submissionTime}
                yield a - b).getOrElse(-1L)
              import scala.jdk.CollectionConverters._
              val ds = Option(taskDur.get(si.stageId))
                .map(_.asScala.toSeq.sorted).getOrElse(Seq.empty)
              val tmax = if (ds.nonEmpty) ds.last else -1L
              val tmed = if (ds.nonEmpty) ds(ds.size / 2) else -1L
              rows.add((runIdx, si.stageId, si.numTasks, wall,
                si.taskMetrics.executorRunTime, tmed, tmax,
                si.taskMetrics.executorCpuTime / 1000000))
              if (wall > 5000)
                println(s"  SLOWSTAGE ${si.stageId} name=${si.name} " +
                  s"details=${si.details.linesIterator.take(3).mkString(" | ")}")
            }
          })
        val fn = graft.SparkEntry.queries(q)
        // Per-run MINOR-fault delta of this (forked, in-process-Spark)
        // JVM: -Xms=-Xmx commits the heap but does not TOUCH it, so the
        // first allocation sweep through untouched address space pays
        // page-zeroing/fault kernel CPU attributed to the faulting TASK
        // thread — exactly the signature the r10 vmstat sample (THP /
        // major-fault / compaction counters only) could not see.
        def minorFaults(): Long = graft.tools.Proc.minorFaults()
        for (i <- 1 to reps) {
          runIdx = i
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache(); System.gc()
          // SPARK_GRAFT_SETTLE_S: sleep before each run (C2-queue-drain
          // A/B for the repeat-run slowdown investigation)
          sys.env.get("SPARK_GRAFT_SETTLE_S").foreach(s =>
            Thread.sleep(s.toLong * 1000))
          val mf0 = minorFaults()
          // r16: per-run JOB and STAGE totals — the job-cadence metric
          // for superstep loops; deterministic for a given code shape,
          // unlike wall time.
          val jobs0 = jobCount.get(); val stages0 = stageCount.get()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.count()
          org.apache.spark.sql.GraftShims.waitListenerBus(spark)
          println(f"RUN $i total ${(System.nanoTime() - t0) / 1e9}%.2f s" +
            f" minorFaults+${minorFaults() - mf0}" +
            f" jobs=${jobCount.get() - jobs0} stages=${stageCount.get() - stages0}")
          // Per-aggregate SQL metrics for THIS run's plan instance:
          // ObjectHashAggregate publishes "number of sort fallback
          // tasks" — the direct confirm/refute for the repeat-run
          // sort-fallback hypothesis (fallback serializes every
          // buffer through the sorter: a known ~50x CPU cliff).
          import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
          import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
          def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
            p match {
              case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(q.plan)
              case agg: BaseAggregateExec =>
                val ms = agg.metrics.map { case (k, m) =>
                    s"$k=${m.value}" }.toSeq.sorted.mkString(" ")
                println(s"  AGGMETRICS ${agg.getClass.getSimpleName} " +
                  s"groups=${agg.groupingExpressions.map(_.name).mkString(",")} $ms")
              case _ => ()
            }
            p.children.foreach(walk)
            p.subqueries.foreach(walk)
          }
          walk(df.queryExecution.executedPlan)
          val joins = df.queryExecution.executedPlan.toString.linesIterator
            .filter(l => l.contains("Join") || l.contains("Exchange"))
            .map(_.trim.takeWhile(_ != '(')).toSeq
          println(s"  PLANJOINS ${joins.groupBy(identity).map { case (k, v) => s"${v.size}x $k" }.toSeq.sorted.mkString("; ")}")
          Thread.sleep(500) // let stage-completed events drain
          import scala.jdk.CollectionConverters._
          rows.asScala.toSeq.filter(_._1 == i).sortBy(-_._4).take(8)
            .foreach { case (_, sid, n, wall, run, tmed, tmax, cpu) =>
              val acc = Option(stageAcc.get(sid))
                .map(_.asScala.toSeq.sorted
                  .map { case (k, v) => s"$k=$v" }.mkString(" "))
                .filter(_.nonEmpty).map("  [" + _ + "]").getOrElse("")
              println(f"  STAGE $sid%4d tasks=$n%5d wall=${wall}%6d ms sumTaskRun=${run}%7d ms" +
                f" taskMed=${tmed}%6d ms taskMax=${tmax}%6d ms sumTaskCpu=${cpu}%7d ms$acc")
            }
        }
      case "codegen" =>
        // Does a trainer superstep's generated source repeat across
        // iterations (Janino cache hit → C2 compiles once) or is every
        // iteration a fresh class (the 10–50 s/run C2 recompile)?
        // Prints per-run Janino compile counts + JVM JIT deltas for a
        // tiny FM train, then diffs the whole-stage codegen SOURCE of
        // two consecutive loop iterations of the same shape.
        import java.lang.management.ManagementFactory
        import org.apache.spark.metrics.source.CodegenMetrics
        def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
          .map(_.getTotalCompilationTime).getOrElse(0L)
        def janinoN: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        def janinoMs: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
          .getValues.sum
        val rows = (1L to 40L).flatMap(u => (100L to 139L).map(i =>
          (u, i, ((u * i) % 7).toDouble)))
        val ratings = rows.toDF("user", "item", "rating")
        for (run <- 1 to 2) {
          val (j0, n0, t0) = (jitMs, janinoN, System.nanoTime())
          val ex = graft.cf.Fm.featuresFromRatings(ratings, Seq("user", "item"))
          graft.cf.Fm.train(ex, rank = 4, iterations = 4)
          println(f"CODEGEN_RUN $run wall=${(System.nanoTime() - t0) / 1e9}%.2f s" +
            s" janinoCompiles+${janinoN - n0} jit+${jitMs - j0} ms" +
            s" janinoTotal=${janinoMs} ms")
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
        }
        // Now the source diff: two structurally identical single
        // supersteps built the way the loop builds them (fresh Column
        // trees per iteration), compared as generated source text.
        import org.apache.spark.sql.execution.debug._
        def superstep(w: org.apache.spark.sql.DataFrame) = {
          val flat = graft.cf.Fm.featuresFromRatings(ratings, Seq("user", "item"))
            .select(col("example_id"), col("y"),
              explode(col("features")).as("feature"))
          val joined = flat.join(w, "feature")
          joined.groupBy("example_id").agg(
            first("y").as("y"),
            graft.functions.VecSum.of(col("v"), 4).as("S"),
            sum("w").as("wsum"))
        }
        val w0 = ratings.select(xxhash64(lit(0), col("user")).as("feature"))
          .distinct()
          .select(col("feature"),
            transform(sequence(lit(0), lit(3)),
              k => k.cast("double") / 10).as("v"), lit(0.0d).as("w"))
        val s1 = codegenStringSeq(superstep(w0).queryExecution.executedPlan)
        val s2 = codegenStringSeq(superstep(w0).queryExecution.executedPlan)
        println(s"CODEGEN_UNITS run1=${s1.size} run2=${s2.size}")
        s1.zip(s2).zipWithIndex.foreach { case (((_, c1, _), (_, c2, _)), i) =>
          if (c1 == c2) println(s"UNIT $i IDENTICAL (${c1.length} chars)")
          else {
            val d = c1.linesIterator.zip(c2.linesIterator).zipWithIndex
              .filter { case ((a, b), _) => a != b }.take(8).toSeq
            println(s"UNIT $i DIFFERS (${d.size}+ lines):")
            d.foreach { case ((a, b), ln) =>
              println(s"  L$ln\n   1| $a\n   2| $b") }
          }
        }
      case "tri" =>
        // Bisect the repeat-run anomaly: run the triangle pipeline in
        // pieces, repeated. args: tri <sfDir> <piece> <reps> where
        // piece ∈ adj (triangleEdgeAdj via totalTriangles' scalar agg) |
        // counts (full triangleCounts incl. corner explode + mapping
        // join).
        val sfDir = args(1)
        val piece = args(2)
        val reps = args.drop(3).headOption.map(_.toInt).getOrElse(3)
        val edges = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_suppkey").as("src"),
            (col("l_partkey") % 100).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
          .transform(graft.graph.Iterate.ckpt)
        edges.count()
        val keep = spark.sparkContext.getPersistentRDDs.keySet
        for (i <- 1 to reps) {
          spark.sparkContext.getPersistentRDDs
            .filterNot { case (id, _) => keep.contains(id) }
            .values.foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          val out = piece match {
            case "adj" => graft.graph.Algorithms.totalTriangles(edges)
            case "counts" => graft.graph.Algorithms.triangleCounts(edges)
              .agg(coalesce(org.apache.spark.sql.functions.sum("triangles"),
                lit(0L))).first().getLong(0)
            case other => sys.error(s"unknown piece: $other")
          }
          println(f"TRI $piece RUN $i ${(System.nanoTime() - t0) / 1e9}%.2f s out=$out")
        }
      case "obd" =>
        // Minimal repeat-run repro candidate: just the orderByDegree
        // pre-pass (RDD sort + zipWithIndex hop) over the q14 graph,
        // repeated in one warm JVM.
        val sfDir = args(1)
        val reps = args.drop(2).headOption.map(_.toInt).getOrElse(3)
        val edges = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_suppkey").as("src"),
            (col("l_partkey") % 100).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst")).distinct()
          .transform(graft.graph.Iterate.ckpt)
        edges.count()
        for (i <- 1 to reps) {
          spark.sparkContext.getPersistentRDDs.values
            .filterNot(_.id <= 10).foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          val (rel, mapping) = graft.graph.Generators.orderByDegree(edges)
          val n = rel.count()
          val m = mapping.count()
          println(f"OBD RUN $i ${(System.nanoTime() - t0) / 1e9}%.2f s rel=$n map=$m")
        }
      case other =>
        sys.error(s"unknown: $other")
    }
    spark.stop()
  }
}
