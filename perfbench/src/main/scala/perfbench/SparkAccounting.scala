package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** What Spark did for one operation: every job started under the
  * operation's job group, its stages and tasks. */
final case class GroupStats(
    jobs: Int, stages: Int, tasks: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    executorRunMs: Long, executorCpuMs: Double, gcMs: Long,
    /** Wall milliseconds covered by the union of the jobs' intervals. */
    jobUnionMs: Double)

object GroupStats {
  val empty: GroupStats = GroupStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Length of the union of closed intervals, in the intervals' unit. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

/** Listener that accounts jobs, stages and task metrics per job group.
  * The benchmark sets a fresh group around each operation; [[finish]]
  * then waits until every job started in that group has ended and its
  * events are delivered, so a late event cannot leak into the next
  * operation's numbers. */
final class SparkAccounting(sc: SparkContext) extends SparkListener {
  import SparkAccounting._

  private final class Acc {
    var jobsStarted = 0
    var jobsEnded = 0
    var stages = 0
    var tasks = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .foreach { g =>
        val a = groups.getOrElseUpdate(g, new Acc)
        a.jobsStarted += 1
        a.jobStart(e.jobId) = e.time
        jobGroup(e.jobId) = g
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).flatMap(groups.get).foreach { a =>
      a.jobsEnded += 1
      a.jobStart.remove(e.jobId).foreach(s => a.intervals += ((s, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).flatMap(groups.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      g <- stageGroup.get(e.stageId)
      a <- groups.get(g)
    } {
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }
  }

  private def settled(g: String): Boolean = synchronized {
    groups.get(g).forall(a => a.jobsStarted == a.jobsEnded)
  }

  /** Waits until the group's jobs have all ended and their events are
    * delivered, then returns and forgets the group's numbers. */
  def finish(group: String, timeoutMs: Long = 60000L): GroupStats = {
    val deadline = System.currentTimeMillis() + timeoutMs
    PerfbenchBus.drain(sc, timeoutMs)
    while (!settled(group)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"jobs of group $group did not end within $timeoutMs ms")
      Thread.sleep(2)
      PerfbenchBus.drain(sc, timeoutMs)
    }
    synchronized {
      stageGroup.filterInPlace((_, g) => g != group)
      groups.remove(group) match {
        case None => GroupStats.empty
        case Some(a) => GroupStats(a.jobsEnded, a.stages, a.tasks,
          a.inputBytes, a.inputRecords, a.outputBytes, a.shuffleRead,
          a.shuffleWrite, a.spill, a.runMs, a.cpuNs / 1e6, a.gcMs,
          GroupStats.unionLength(a.intervals.toSeq).toDouble)
      }
    }
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object SparkAccounting {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}
