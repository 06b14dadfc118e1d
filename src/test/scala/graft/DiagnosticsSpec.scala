package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The diagnostics plumbing: one session builder, one listener and one
  * listener-bus drain in the main sources, and the Explain main run end
  * to end. */
class DiagnosticsSpec extends AnyFunSuite {
  /** Occurrences of `pattern` per file under src/main/scala (keyed by
    * the path below it), comment lines and trailing `//` comments
    * excluded. */
  private def codeOccurrences(pattern: String): Map[String, Int] = {
    val re = pattern.r
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map { f =>
        val code = Files.readAllLines(f).asScala.iterator
          .filterNot { l =>
            val t = l.trim
            t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
          }
          .map(_.replaceAll("\\s//.*$", ""))
        root.relativize(f).toString -> code.map(re.findAllIn(_).size).sum
      }.filter(_._2 > 0).toMap
  }

  test("one session builder, one SparkListener and one drain in the " +
      "main sources") {
    assert(codeOccurrences("""SparkSession\.builder""") ===
      Map("graft/Bench.scala" -> 1))
    assert(codeOccurrences(
      """(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""")
      === Map("graft/Sessions.scala" -> 1))
    assert(codeOccurrences("waitUntilEmpty") ===
      Map("graft/Sessions.scala" -> 1))
  }

  test("Explain end-to-end: plan dump + one phase JSON line per run") {
    // A subprocess, because Explain stops the session it builds.
    val cwd = Files.createTempDirectory("graft_explain")
    val planDir = cwd.resolve("plans")
    val (exit, out) = MainProcess.run("graft.Explain",
      Seq("agg_hash_groupby", "/root/testdata/sf0.001", "2"), cwd,
      Map("SPARK_GRAFT_CPUS" -> "2", "GRAFT_PLAN_DIR" -> planDir.toString),
      unset = Seq("GRAFT_PLAN_SUFFIX"))
    assert(exit == 0, s"Explain exited $exit:\n" +
      out.linesIterator.toSeq.takeRight(30).mkString("\n"))
    val dump = planDir.resolve("agg_hash_groupby_after.txt")
    assert(Files.exists(dump), s"no plan dump; stdout:\n$out")
    val text = Files.readString(dump)
    assert(text.startsWith("=== agg_hash_groupby @ /root/testdata/sf0.001 " +
      "(explain formatted, initial plan)\n== Physical Plan =="))
    assert(text.contains("\n=== agg_hash_groupby AQE-final executed plan\n"))
    val runs = out.linesIterator
      .filter(_.startsWith("""{"key":"agg_hash_groupby","run":""")).toSeq
    assert(runs.size === 2, s"want one phase line per run; stdout:\n$out")
    runs.foreach { l =>
      val jobs = """"jobs":(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toInt)
      assert(jobs.exists(_ >= 1), s"a run launches at least one job: $l")
      Seq("build", "analyze", "optimize", "plan", "toRdd", "count", "total",
        "stages", "tasks").foreach(f =>
        assert(l.contains("\"" + f + "\":"), s"$f missing: $l"))
    }
  }
}
