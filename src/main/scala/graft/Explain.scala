package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}

/** The diagnostics main, never part of the graded surface:
  * `runMain graft.Explain k1,k2 [sfDir] [runs]`. The keys run in sequence
  * in ONE session ([[Bench.session]]), reproducing bench-order
  * interaction effects a single-key run can't show. Per key it prints the
  * formatted plan (single-key runs only), the whole-stage method sizes,
  * one JSON line per timed run, and the stages that spilled or took the
  * most executor time over the warmup and the runs.
  *
  * A run's JSON splits its wall into the phases that can be attributed
  * (Bench's plan_sec/exec_sec split is too coarse under AQE, where
  * `toRdd` materializes every intermediate query stage): build (the Q
  * builder call, where eager DistRank/training jobs land), analyze,
  * optimize, plan (physical planning, pre-AQE), toRdd (AQE stage
  * materialization + final-stage codegen) and count (the terminal stage),
  * plus the jobs/stages/tasks it launched — at fixture SF each job is
  * mostly dispatch floor, so jobs×floor models a key's cost there.
  *
  * With GRAFT_PLAN_DIR set, each key's formatted initial plan and, after
  * one execution, its AQE-final plan go first to
  * `<dir>/<key>_<GRAFT_PLAN_SUFFIX, default after>.txt` — the
  * before/after evidence under plans/.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Bench.session(sfDir)
    val keys = args(0).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val qmap = SparkEntry.queries
    keys.foreach(k => require(qmap.contains(k), s"unknown key: $k"))
    // Before anything else runs: plan text carries expression ids (#90),
    // which depend on everything the JVM planned before, so the dump
    // pass keeps one fixed sequence whatever the other diagnostics do.
    sys.env.get("GRAFT_PLAN_DIR").foreach { dir =>
      val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "after")
      new java.io.File(dir).mkdirs()
      keys.foreach { k =>
        val df = qmap(k)(spark, sfDir)
        val formatted = df.queryExecution.explainString(FormattedMode)
        df.queryExecution.toRdd.count()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/${k}_$suffix.txt"),
          s"=== $k @ $sfDir (explain formatted, initial plan)\n" + formatted +
            s"\n=== $k AQE-final executed plan\n" +
            df.queryExecution.executedPlan + "\n")
        println(s"[explain] wrote $dir/${k}_$suffix.txt")
      }
    }
    val meter = new KeyMeter(keepStages = true)
    spark.sparkContext.addSparkListener(meter)
    keys.foreach { k =>
      val fn = qmap(k)
      println(s"=== $k @ $sfDir")
      if (keys.size == 1) fn(spark, sfDir).explain("formatted")
      Sessions.drain(spark)
      meter.takeStages()
      // This execution is also the warmup: it pays codegen and the
      // train-once memos before the timed runs.
      printMethodSizes(k, fn(spark, sfDir))
      (1 to runs).foreach(i => println(timedRun(spark, meter, k, i,
        fn(spark, sfDir))))
      Sessions.drain(spark)
      val stages = meter.takeStages()
      val spilled = stages.filter(s => s.diskSpill > 0 || s.memorySpill > 0)
      // Per-STAGE spill attribution (r13): the bench's per-query counters
      // say THAT a query spilled, not WHERE — the stage is the difference
      // between "agg state outgrew memory" (a plan bug) and "a big
      // exchange streamed through the shuffle writer" (expected).
      if (spilled.nonEmpty) {
        println(s"--- stages with spill ($k, warmup + $runs runs):")
        spilled.foreach(s => println(
          f"  stage ${s.id}%4d [${s.name.take(60)}] tasks=${s.tasks} " +
          f"spillDisk=${s.diskSpill / 1048576.0}%.1f MB " +
          f"spillMem=${s.memorySpill / 1048576.0}%.1f MB " +
          f"shufWrite=${s.shuffleWrite / 1048576.0}%.1f MB"))
      }
      // Per-STAGE time attribution (r14, VERDICT r13 task 7): which stage
      // is this query's wall.
      if (stages.nonEmpty) {
        println(s"--- top stages by executor run time ($k, warmup + $runs runs):")
        stages.sortBy(-_.runMs).take(10).foreach(s => println(
          f"  stage ${s.id}%4d [${s.name.take(70)}] tasks=${s.tasks} " +
          f"runTime=${s.runMs / 1000.0}%.2f s cpuTime=${s.cpuNs / 1e9}%.2f s " +
          f"input=${s.inputBytes / 1048576.0}%.1f MB"))
      }
    }
    spark.stop()
  }

  /** One timed run of a freshly built `df` as a JSON line of phase
    * seconds and the jobs/stages/tasks it launched. The builder call
    * itself is the first phase, so `df` is passed by name. */
  private def timedRun(spark: SparkSession, meter: KeyMeter, key: String,
      run: Int, df: => DataFrame): String = {
    Sessions.releaseKeyState(spark)
    Sessions.drain(spark)
    val before = meter.snapshot()
    val t0 = System.nanoTime()
    val qe = df.queryExecution
    val t1 = System.nanoTime()
    qe.assertAnalyzed()
    val t2 = System.nanoTime()
    qe.optimizedPlan
    val t3 = System.nanoTime()
    qe.executedPlan
    val t4 = System.nanoTime()
    val rdd = qe.toRdd
    val t5 = System.nanoTime()
    val rows = rdd.count()
    val t6 = System.nanoTime()
    Sessions.drain(spark)
    val d = meter.snapshot() - before
    def s(a: Long, b: Long): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, (b - a) / 1e9)
    s"""{"key":"$key","run":$run,"build":${s(t0, t1)},""" +
      s""""analyze":${s(t1, t2)},"optimize":${s(t2, t3)},""" +
      s""""plan":${s(t3, t4)},"toRdd":${s(t4, t5)},"count":${s(t5, t6)},""" +
      s""""total":${s(t0, t6)},"jobs":${d.jobs},"stages":${d.stages},""" +
      s""""tasks":${d.tasks},"rows":$rows}"""
  }

  /** Whole-stage max method bytecode sizes (r15, the ivfpq lesson's
    * diagnostic half): a stage whose generated method lands over
    * HotSpot's 8000-byte JIT refusal runs per-operator (or interpreted on
    * stock confs) — invisible in plan strings, 10x visible on the CPU.
    * PlanSpec's registry audit gates this; Explain prints the sizes so a
    * bisection can see WHICH stage is near/over the line, and the subtree
    * of any stage over it. CollapseCodegenStages runs per query stage at
    * MATERIALIZATION, so `df` is executed first and the FINAL plan is
    * walked (PlanSpec discipline). */
  private def printMethodSizes(key: String, df: DataFrame): Unit = {
    df.queryExecution.toRdd.count()
    // collect() does not descend into materialized QueryStageExec
    // leaves (subtree on .plan, not .children) — walk explicitly
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }).flatMap(allNodes)
    val sizes = allNodes(df.queryExecution.executedPlan).collect {
      case w: WholeStageCodegenExec =>
        val (_, code) = w.doCodeGen()
        val (_, stats) = CodeGenerator.compile(code)
        (w.codegenStageId, w.child.nodeName, stats.maxMethodCodeSize,
          w.child.treeString)
    }
    if (sizes.nonEmpty) {
      println(s"--- whole-stage max method bytecode sizes ($key, " +
        "JIT limit 8000):")
      sizes.foreach { case (id, n, sz, _) =>
        val mark = if (sz > 8000)
          "  <-- OVER: runs per-operator/interpreted" else ""
        println(f"  stage *($id%d) $n%-28s $sz%6d$mark")
      }
      sizes.foreach { case (id, _, sz, tree) =>
        if (sz > 8000) {
          println(s"--- OVER-limit stage *($id) subtree:")
          println(tree.linesIterator.take(14).map("  " + _).mkString("\n"))
        }
      }
    }
  }
}
