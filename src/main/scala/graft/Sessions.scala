package graft
import org.apache.spark.sql.SparkSession

/** Session sizing, inter-key hygiene and per-key metering shared by the
  * three mains (Bench / Verify / Explain). The one session builder,
  * with its per-conf rationale, is [[Bench.session]]; the DATA-dependent
  * sizing it uses lives here so it can be spec-pinned once.
  */
object Sessions {
  /** Data-driven AQE start parallelism (r16, VERDICT r15 task 3).
    *
    * AQE coalesces every shuffle DOWN from
    * `coalescePartitions.initialPartitionNum` to the advisory size, so
    * that conf is the reduce-side parallelism CEILING. The previous
    * fixed 8×cpus ceiling binds before the 16 MB advisory does once a
    * shuffle carries more than 8×cpus×16 MB ≈ 4 GB (~1000× fixture
    * scale): past that point per-reducer bytes grow with data again and
    * the 300×-class sort-spill defect returns one decade later. Derive
    * the ceiling from the INPUT footprint instead — parquet bytes on
    * disk divided by the advisory — so the conf needs no manual retune
    * per SF:
    *
    *  - floor 8×cpus: fixture SFs (footprint ≪ 8×cpus×advisory) keep
    *    exactly the r15 plans and task counts;
    *  - ceiling 4096: a runaway footprint must not schedule 100k no-op
    *    reducers at local[32] (task dispatch is ~0.15 ms each; AQE
    *    coalesces real bytes but pays planning per initial partition).
    *    On a real cluster raise the cap with the executor count.
    *
    * Parquet bytes UNDERSTATE shuffle bytes (columnar+dictionary vs lz4
    * rows, measured 2–6× on the grown fixtures), but the advisory
    * over-splits in the same direction (AQE merges small reducers for
    * free; it can never split one giant one without the headroom), so
    * the footprint is the right cheap proxy for the ceiling.
    */
  def initialPartitions(sfDir: String, cpus: Int, advisoryBytes: Long): Int = {
    require(advisoryBytes > 0, s"advisoryBytes must be > 0: $advisoryBytes")
    val byData = parquetFootprint(new java.io.File(sfDir)) / advisoryBytes + 1
    math.min(4096L, math.max(8L * cpus, byData)).toInt
  }

  /** Recursive on-disk bytes of `*.parquet` files under `dir` (Spark
    * writes directories of part-…….parquet files; both layouts match).
    * Unreadable/absent paths count 0 — sizing falls back to the floor,
    * never throws (the read itself will surface a real missing-dir). */
  private[graft] def parquetFootprint(f: java.io.File): Long =
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids == null) 0L else kids.map(parquetFootprint).sum
    } else if (f.getName.endsWith(".parquet")) f.length
    else 0L

  /** Silence two benign-but-flooding executor warnings (r17, VERDICT r16
    * noise item): every audited unpartitioned window in the registry sits
    * on a domain-bounded post-aggregate (PlanSpec's single-partition
    * sweep is the structural guarantee), yet WindowExec warns per plan —
    * hundreds of lines per Verify/test run that bury real warnings; the
    * DistRank localCheckpoint unpersist warning is likewise by-design
    * (each key rebuilds its own blocks). Log level only — no behavior
    * change. Called by the mains after setLogLevel. */
  def quietBenignWarnings(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        org.apache.logging.log4j.Level.ERROR)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Inter-key executor-state hygiene (r16, VERDICT r15 task 2).
    *
    * A 187-key suite leaves two kinds of litter in the block manager
    * between keys, and both were measured taxing LATER keys at 100×
    * grown (vec_ann_ivfpq: 9.5 s suite-context vs 1.7 s isolated —
    * every new broadcast put had to disk-evict dead blocks first):
    *
    *  - finished localCheckpoints (DistRank's range-sorted frames, the
    *    dedup superstep cuts): each key rebuilds its own on the next
    *    invocation, so after the key's action returns they are dead
    *    weight — unpersist explicitly (non-blocking; removal overlaps
    *    the next key's planning).
    *  - finished broadcasts: destroyed only by ContextCleaner once the
    *    driver-side references are GC'd, and a 32 GB driver heap under
    *    no allocation pressure may not GC for many keys. Force the GC
    *    so the cleaner's reference queue drains NOW — but only when the
    *    heap is actually littered (> half of max used while idle
    *    between keys): an unconditional System.gc() per sample is a
    *    full STW pause ×561 samples, and at fixture SF the litter never
    *    accumulates enough to matter (anchor timings stay untouched).
    *
    * Runs OUTSIDE every timed region (Bench and Explain call it before
    * each sample's t0; Verify between key writes).
    */
  def releaseKeyState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val rt = Runtime.getRuntime
    if (rt.totalMemory - rt.freeMemory > rt.maxMemory / 2) System.gc()
  }

  /** Wait until the listener bus has delivered every event posted so far,
    * so one key's [[KeyMeter]] counters never bleed into the next.
    * LiveListenerBus#waitUntilEmpty is private[spark], reached
    * reflectively; if it moves, a fixed sleep makes attribution
    * approximate. NonFatal only: an OOM or interrupt must surface. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(150) }
}

/** The one listener of the mains: cumulative job/stage/task, shuffle and
  * spill counters that a caller diffs across a sample ([[Sessions.drain]]
  * first), plus, when `keepStages`, one row per completed stage for
  * Explain's per-stage tables. It only counts; it never changes a plan. */
final class KeyMeter(keepStages: Boolean = false)
    extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  import org.apache.spark.scheduler.{SparkListenerJobStart,
    SparkListenerStageCompleted}
  private val jobs, stages, tasks, shuffleWrite, shuffleRead, diskSpill,
    memorySpill = new AtomicLong
  private val stageRows =
    new java.util.concurrent.ConcurrentLinkedQueue[KeyMeter.Stage]

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(si.numTasks)
    val m = si.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      diskSpill.addAndGet(m.diskBytesSpilled)
      memorySpill.addAndGet(m.memoryBytesSpilled)
      if (keepStages) stageRows.add(KeyMeter.Stage(si.stageId, si.name,
        si.numTasks, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.diskBytesSpilled, m.memoryBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten))
    }
  }

  def snapshot(): KeyMeter.Counts = KeyMeter.Counts(jobs.get, stages.get,
    tasks.get, shuffleWrite.get, shuffleRead.get, diskSpill.get,
    memorySpill.get)

  /** The stage rows recorded since the previous call, oldest first. */
  def takeStages(): Seq[KeyMeter.Stage] =
    Iterator.continually(stageRows.poll()).takeWhile(_ != null).toSeq
}

object KeyMeter {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleWrite: Long, shuffleRead: Long, diskSpill: Long,
      memorySpill: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, diskSpill - o.diskSpill,
      memorySpill - o.memorySpill)
  }

  /** One completed stage: executor run time in ms, CPU time in ns (as
    * Spark's TaskMetrics report them), bytes otherwise. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      cpuNs: Long, inputBytes: Long, diskSpill: Long, memorySpill: Long,
      shuffleWrite: Long)
}
