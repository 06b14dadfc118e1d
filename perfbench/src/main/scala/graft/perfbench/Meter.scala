package graft.perfbench

import org.apache.spark.scheduler._

/** Per-job-group execution counters, read from Spark's public listener
  * events. `Run` sets one job group per timed sample, so every job,
  * stage and task (including those AQE submits from its own threads, which
  * inherit the group) is attributed to the sample that caused it. */
final class Meter extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spillDisk, spillMemory = 0L
    var inputBytes, inputRows, peakExecution = 0L
    val jobStartsMs = scala.collection.mutable.ArrayBuffer.empty[Long]

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
      "task_gc_s" -> gcMs / 1e3, "fetch_wait_s" -> fetchWaitMs / 1e3,
      "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead,
      "spill_disk_bytes" -> spillDisk, "spill_memory_bytes" -> spillMemory,
      "input_bytes" -> inputBytes, "input_rows" -> inputRows,
      "peak_execution_bytes" -> peakExecution,
      "job_starts_ms" -> jobStartsMs.toSeq)
  }

  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val accs = scala.collection.mutable.Map.empty[String, Acc]

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      e.stageIds.foreach(stageGroup(_) = group)
      val a = acc(group)
      a.jobs += 1
      a.jobStartsMs += e.time
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spillDisk += m.diskBytesSpilled
        a.spillMemory += m.memoryBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.peakExecution = math.max(a.peakExecution, m.peakExecutionMemory)
      }
    }
  }

  /** Remove and return the counters of `group` (empty if it ran no job). */
  def take(group: String): Acc = synchronized {
    stageGroup.filterInPlace((_, g) => g != group)
    accs.remove(group).getOrElse(new Acc)
  }
}
