package perfbench

import org.apache.spark.scheduler._

/** Spark-engine counters for the traced run, from the benchmark's own
  * listener. Ops run one at a time, so after the bus is drained every
  * counted event belongs to the operation that just ended; a snapshot
  * before and after an operation gives that operation's share. */
final class EngineListener extends SparkListener {
  final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          emptyTasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                          gcMs: Long = 0, deserMs: Long = 0, shuffleRead: Long = 0,
                          shuffleWrite: Long = 0, spill: Long = 0) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      emptyTasks - o.emptyTasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
      deserMs - o.deserMs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      spill - o.spill)
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      emptyTasks + o.emptyTasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      deserMs + o.deserMs, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
      spill + o.spill)
  }

  @volatile private var c = Counts()
  // job intervals in epoch ms, as the scheduler stamped them
  private val starts = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot: Counts = synchronized(c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    starts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      c = c + Counts(tasks = 1, emptyTasks = if (read == 0) 1 else 0,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        deserMs = m.executorDeserializeTime,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled)
    } else c = c.copy(tasks = c.tasks + 1, emptyTasks = c.emptyTasks + 1)
  }

  /** Milliseconds of [fromMs, toMs] during which at least one job ran;
    * forgets the intervals it has read. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.map { case (a, b) => (a max fromMs, b min toMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    intervals.clear()
    var busy = 0L
    var reach = fromMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { busy += b - (a max reach); reach = b }
    }
    busy
  }
}
