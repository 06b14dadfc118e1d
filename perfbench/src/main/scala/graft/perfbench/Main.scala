package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{Sessions, SparkEntry}

/** JVM side of the benchmark. Drives the engine only through
  * `SparkEntry.queries(key)(spark, dir)`, in a session built with exactly
  * `graft.Bench`'s session confs, and writes one JSON result file that
  * `run.py` turns into metrics.
  *
  * Modes:
  *  - `confs CPUS DIR`: print the session confs as JSON and exit.
  *  - `run CPUS DIR OUT WARMUP PASSES TRACE DUMP_DIR KEY...`: a cold
  *    first pass, the host probes (TRACE=1 only), WARMUP unmeasured
  *    passes, then PASSES measured warm passes. After each cold
  *    sample, outside its timed region, the sample's own result RDD is
  *    written to DUMP_DIR/KEY for the output check: this re-runs only the
  *    result stage, since AQE has already materialized the shuffles
  *    before it. With TRACE=1 the cold pass and every second warm pass
  *    are traced: phases split, jobs/stages/tasks read from a listener,
  *    SQL metrics read from the executed plan. The other warm passes stay
  *    untraced so the tracing overhead is measured in the same JVM.
  */
object Main {
  /** The session confs of `graft.Bench.main`, in its order. */
  def sessionConfs(cpus: Int, sfDir: String): Seq[(String, String)] = {
    val advisoryMb = sys.env.getOrElse("GRAFT_ADVISORY_MB", "16")
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.codegen.hugeMethodLimit" -> "8000",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        Sessions.initialPartitions(sfDir, cpus, advisoryMb.toLong << 20)
          .toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (advisoryMb + "m"),
      "spark.memory.storageFraction" -> "0.25",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  private[perfbench] def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private[perfbench] def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(
      org.json4s.DefaultFormats)

  /** Build the session and register graft's functions, as Bench does. */
  def setup(cpus: Int, sfDir: String): (SparkSession, Map[String, Any]) = {
    val t0 = System.nanoTime()
    val spark = sessionConfs(cpus, sfDir)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietBenignWarnings()
    val t1 = System.nanoTime()
    graft.plans.GraftFunctions.register(spark)
    val t2 = System.nanoTime()
    (spark, Map("build_s" -> secs(t0, t1), "register_s" -> secs(t1, t2)))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "confs" :: cpus :: dir :: Nil =>
      println(toJson(sessionConfs(cpus.toInt, dir).toMap))
    case "run" :: cpus :: dir :: out :: warmup :: warm :: trace :: dump :: keys =>
      new Run(cpus.toInt, dir, warmup.toInt, warm.toInt, trace == "1", dump,
        keys).execute(out)
    case _ =>
      System.err.println("usage: Main confs|run ...")
      sys.exit(2)
  }

  /** Every node of an executed plan, descending into AQE query stages. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** SQL-metric totals of one executed plan. */
  def planMetrics(plan: SparkPlan): Map[String, Any] = {
    val nodes = allNodes(plan).filterNot(n =>
      n.isInstanceOf[AdaptiveSparkPlanExec] || n.isInstanceOf[QueryStageExec])
    def sum(pred: SparkPlan => Boolean, metric: String): Double =
      nodes.filter(pred).flatMap(_.metrics.get(metric)).map { m =>
        m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case _ => m.value.toDouble
        }
      }.sum
    def rows(pred: SparkPlan => Boolean): Seq[Long] =
      nodes.filter(pred).flatMap(_.metrics.get("numOutputRows")).map(_.value)
    val scan = (n: SparkPlan) => n.nodeName.startsWith("Scan")
    val join = (n: SparkPlan) =>
      n.nodeName.contains("Join") || n.nodeName == "CartesianProduct"
    Map(
      "nodes" -> nodes.size,
      "exchanges" -> nodes.count(n => n.nodeName.endsWith("Exchange") &&
        !n.nodeName.startsWith("Reused")),
      "scan_s" -> sum(scan, "scanTime"),
      "scan_rows" -> rows(scan).sum,
      "sort_s" -> sum(_ => true, "sortTime"),
      "agg_s" -> sum(_ => true, "aggTime"),
      "join_build_s" -> sum(_ => true, "buildTime"),
      "join_rows_max" -> (rows(join) :+ 0L).max,
      "generate_rows_max" -> (rows(_.nodeName == "Generate") :+ 0L).max)
  }
}

/** One benchmark run in one session. */
final class Run(cpus: Int, dir: String, warmupPasses: Int, warmPasses: Int,
    trace: Boolean,
    dump: String, keys: List[String]) {
  import Main.{secs, toJson}

  private val (spark, setupStats) = Main.setup(cpus, dir)
  println("READY " + toJson(setupStats))
  Console.out.flush()
  private val sc = spark.sparkContext
  private val meter = new Meter
  if (trace) sc.addSparkListener(meter)
  private val queries = keys.map(k => k -> SparkEntry.queries(k))
  private var group = 0

  /** Drain the listener bus (private[spark], reached reflectively as in
    * Bench) so a sample's events are all counted before it is read. */
  private def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(150) }

  private def trainSnapshot(): Map[String, Long] =
    graft.operators.PipelineOps.TrainClock.phaseNanos

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** One timed query: build -> toRdd -> count, as in Bench. A traced
    * sample forces each lazy planning step in turn so its time is split
    * by phase; the work done is the same. */
  private def sample(key: String, fn: (SparkSession, String) => DataFrame,
      traced: Boolean, dumpTo: Option[String]): Map[String, Any] = {
    Sessions.releaseKeyState(spark)
    drain()
    group += 1
    val g = s"$key#$group"
    sc.setJobGroup(g, key, interruptOnCancel = false)
    val wall0 = System.currentTimeMillis()
    val t = Array.fill(6)(0L)
    t(0) = System.nanoTime()
    var rows = -1L
    var err: String = null
    var df: DataFrame = null
    try {
      df = fn(spark, dir)
      t(1) = System.nanoTime()
      val qe = df.queryExecution
      if (traced) {
        qe.optimizedPlan
        t(2) = System.nanoTime()
        qe.executedPlan
        t(3) = System.nanoTime()
      }
      val rdd = qe.toRdd
      t(4) = System.nanoTime()
      rows = rdd.count()
      t(5) = System.nanoTime()
      dumpTo.foreach { path =>
        val schema = df.schema
        val enc = ExpressionEncoder(RowEncoder.encoderFor(schema))
          .resolveAndBind()
        val external = rdd.mapPartitions { it =>
          val toRow = enc.createDeserializer()
          it.map(toRow)
        }
        spark.createDataFrame(external, schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
      }
    } catch { case e: Throwable =>
      err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    sc.clearJobGroup()
    val ok = err == null
    val base = Map("key" -> key, "ok" -> ok, "rows" -> rows,
      "error" -> err, "wall_s" -> (if (ok) secs(t(0), t(5)) else -1.0))
    if (!traced || err != null) base
    else {
      drain()
      val qe = df.queryExecution
      val phases = qe.tracker.phases
      def tracked(name: String): Double =
        phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
      base ++ Map(
        "start_ms" -> wall0,
        "build_end_ms" -> (wall0 + (t(1) - t(0)) / 1000000L),
        "build_s" -> secs(t(0), t(1)),
        "analyze_s" -> tracked("analysis"),
        "optimize_s" -> secs(t(1), t(2)),
        "physical_s" -> secs(t(2), t(3)),
        "stages_s" -> secs(t(3), t(4)),
        "final_s" -> secs(t(4), t(5)),
        "exec" -> meter.take(g).toMap,
        "plan" -> Main.planMetrics(qe.executedPlan))
    }
  }

  /** One pass over every key; pass `n` starts at key n (mod the key
    * count), so no key always runs right after the same neighbour. */
  private def pass(n: Int, kind: String, traced: Boolean,
      dump: Option[String] = None): Map[String, Any] = {
    val gc0 = gcMillis()
    val train0 = trainSnapshot()
    val order = queries.drop(n % queries.size) ++ queries.take(n % queries.size)
    var wall = 0.0
    val samples = order.map { case (k, fn) =>
      val s = sample(k, fn, traced, dump.map(d => s"$d/$k"))
      wall += s("wall_s").asInstanceOf[Double].max(0.0)
      s
    }
    val gc = (gcMillis() - gc0) / 1e3
    val train1 = trainSnapshot()
    val train = train1.map { case (k, n) => k -> (n - train0.getOrElse(k, 0L)) / 1e9 }
    // Heap used after a full collection: the live set this pass left.
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
    Map("kind" -> kind, "traced" -> traced, "wall_s" -> wall, "gc_s" -> gc,
      "train_s" -> train, "heap_after_gc_mb" -> heapMb, "samples" -> samples)
  }

  /** graft.Bench's three dispatch-floor probes, each the median of three
    * runs (Bench takes five; three keep a run inside its time budget). */
  private def probes(): Map[String, Double] = {
    def median3(f: Int => Unit): Double = (1 to 3).map { i =>
      val t0 = System.nanoTime(); f(i); secs(t0, System.nanoTime())
    }.sorted.apply(1)
    Map(
      "empty_tasks_s" -> median3(_ => sc.parallelize(1 to 256, 256).count()),
      "sql_1stage_s" -> median3(i => spark.sql(
        s"SELECT count(*) FROM range(1000000) WHERE id % ${i + 1} = 0")
        .queryExecution.toRdd.count()),
      "sql_2stage_s" -> median3(i => spark.sql(
        s"SELECT id % ${i + 1} AS k, count(*) FROM range(1000000) GROUP BY k")
        .queryExecution.toRdd.count()))
  }

  def execute(out: String): Unit = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    val timeline = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = timeline(name) = secs(start, System.nanoTime())
    passes += pass(0, "cold", trace, Some(dump))
    mark("cold")
    val probe = if (trace) probes() else Map.empty[String, Double]
    mark("probes")
    // Unmeasured passes first: at these data sizes each query is mostly
    // query-planning code that the JIT is still compiling after the
    // cold pass (the first pass after it reads 40-60% slower than the
    // third). The measured passes start where that curve has flattened.
    for (_ <- 1 to warmupPasses)
      passes += pass(passes.size, "warmup", traced = false)
    mark("warmup")
    for (i <- 0 until warmPasses)
      passes += pass(passes.size, "warm", trace && i % 2 == 1)
    mark("warm")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val result = Map(
      "setup" -> setupStats, "cpus" -> cpus, "trace" -> trace,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "probes" -> probe, "passes" -> passes.toSeq, "timeline_s" -> timeline,
      "oracle_sql" -> oracle)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      toJson(result))
    spark.stop()
  }
}
