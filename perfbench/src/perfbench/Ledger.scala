package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark runtime counters for the work of one job group. */
final class Tally {
  var jobs, stages, tasks = 0L
  var cpuNs, taskMs, shuffleWrite, shuffleRead = 0L
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  var startMs, endMs = 0L

  def wallS: Double = (endMs - startMs) / 1e3

  /** Wall time inside [startMs, endMs] in which no task was running. */
  def noTaskS: Double = {
    var covered = 0L
    var reach = startMs
    busy.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (endMs - startMs - covered) / 1e3
  }

  def metrics(cores: Int): Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.no_task_s" -> noTaskS,
    "spark.core_util" -> taskMs / 1e3 / math.max(1e-3, wallS * cores),
    "spark.task_cpu_s" -> cpuNs / 1e9,
    "spark.shuffle_write_mb" -> shuffleWrite / 1e6,
    "spark.shuffle_read_mb" -> shuffleRead / 1e6)
}

/** A listener that files every job, stage and task under the job group
  * set on the thread that submitted the job. [[scoped]] runs a block
  * under a fresh group and returns the block's result with its tally.
  * Jobs submitted from threads the block starts inherit the group.
  */
final class Ledger(spark: SparkSession) extends SparkListener {
  private val tallies = mutable.Map.empty[String, Tally]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def tally(g: String): Tally = tallies.getOrElseUpdate(g, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(tallies.contains).foreach { g =>
        tally(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(tally(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val t = tally(g)
      val info = e.taskInfo
      t.tasks += 1
      t.taskMs += info.finishTime - info.launchTime
      t.busy += ((info.launchTime, info.finishTime))
      Option(e.taskMetrics).foreach { m =>
        t.cpuNs += m.executorCpuTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  private var serial = 0

  def scoped[T](name: String)(body: => T): (T, Tally) = {
    val sc = spark.sparkContext
    serial += 1
    val group = s"$name#$serial"
    val t = synchronized(tally(group))
    sc.addSparkListener(this)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    t.startMs = System.currentTimeMillis()
    try {
      val out = body
      t.endMs = System.currentTimeMillis()
      (out, t)
    } finally {
      sc.clearJobGroup()
      BusDrain(sc)
      sc.removeSparkListener(this)
      synchronized { stageGroup.filterInPlace((_, g) => g != group) }
    }
  }
}
