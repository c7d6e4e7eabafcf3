package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spark runtime totals of one timed call: what the listener saw between
  * the call's start and end. Times in milliseconds, sizes in bytes. */
final case class CallStats(
    jobs: Int = 0, tasks: Int = 0, taskMs: Double = 0, shuffleBytes: Long = 0,
    spillBytes: Long = 0, jobUnionMs: Double = 0, taskMsList: Vector[Double] = Vector.empty) {
  def +(o: CallStats): CallStats = CallStats(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    jobUnionMs + o.jobUnionMs, taskMsList ++ o.taskMsList)
}

/** Benchmark-side listener. The harness opens a call with [[begin]] and
  * closes it with [[end]]; every job that starts while a call is open is
  * attributed to that call, whichever thread submits it (streaming
  * micro-batches run on the query's own thread and carry its job group,
  * not the caller's). Calls never overlap: the benchmark is one client. */
final class Trace extends SparkListener {
  private final class Open {
    val stages = mutable.Set.empty[Int]
    val jobStart = mutable.Map.empty[Int, Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var s = CallStats()
  }
  @volatile private var open: Open = null
  private val stageOwner = mutable.Map.empty[Int, Open]
  private val jobOwner = mutable.Map.empty[Int, Open]

  def begin(): Unit = synchronized { open = new Open }

  /** Close the current call once the listener bus has delivered every
    * event of its jobs. */
  def end(sc: org.apache.spark.SparkContext): CallStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val o = open
      open = null
      stageOwner.filterInPlace((_, v) => v ne o)
      jobOwner.filterInPlace((_, v) => v ne o)
      if (o == null) CallStats()
      else o.s.copy(jobUnionMs = unionMs(o.intervals.toSeq))
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val o = open
    if (o != null) {
      jobOwner(e.jobId) = o
      o.jobStart(e.jobId) = e.time
      e.stageIds.foreach { id => stageOwner(id) = o; o.stages += id }
      o.s = o.s.copy(jobs = o.s.jobs + 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { o =>
      o.jobStart.remove(e.jobId).foreach(t0 => o.intervals += ((t0, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { o =>
      val m = e.taskMetrics
      if (m != null) {
        val sh = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        o.s = o.s.copy(tasks = o.s.tasks + 1,
          taskMs = o.s.taskMs + m.executorRunTime,
          shuffleBytes = o.s.shuffleBytes + sh,
          spillBytes = o.s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          taskMsList = o.s.taskMsList :+ m.executorRunTime.toDouble)
      } else o.s = o.s.copy(tasks = o.s.tasks + 1)
    }
  }
}
