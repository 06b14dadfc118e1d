package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated key filter for fast local smokes
    // (`runMain graft.Verify <sf> <out> key1,key2`). The driver always
    // passes exactly two args → full dump; contract unchanged.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // GRAFT_VERIFY_EXCLUDE=k1,k2 (r15, VERDICT r14 task 5): the
    // exactness-tier decision caps text_ngram_jaccard's tier at ~100x
    // (its 300x shuffle projection exceeds this host's disk), so sweeps
    // above that must drop the key WITHOUT enumerating the other 186 —
    // scale_sweep.sh sets this env. Excluded runs are marked filtered in
    // keys.json, exactly like an explicit include filter.
    val exclude = Bench.envKeys("GRAFT_VERIFY_EXCLUDE")
      .getOrElse(Set.empty[String])
    // Key-set manifest (VERDICT r8 missing #2): r08's fixture drift made 19
    // keys throw at plan time; the per-key catch below kept the dump alive
    // but nothing downstream noticed the holes. Record registry/attempted/
    // failed so preflight.py can hard-fail when ANY registry key is absent
    // from the verified output instead of silently grading a subset.
    val attempted = Bench.selectKeys(SparkEntry.queries.keySet, only,
      exclude, "key filter", "GRAFT_VERIFY_EXCLUDE").toSeq.sorted
    val spark = Bench.session(sfDir)
    // Confs whose declared DuckDB oracle is pinned to the default value:
    // running a correctness dump with a non-default override would make
    // the hash-checked key silently diverge from its oracle and read as
    // an engine bug (ADVICE r5). Parameter sweeps belong in the property
    // tests, not here — fail fast.
    Seq("graft.cm.depth" -> "2", "graft.cm.width" -> "4096").foreach {
      case (k, default) =>
        val v = spark.conf.getOption(k)
        require(v.forall(_ == default),
          s"$k=${v.get} overrides the oracle-pinned default $default; " +
            "unset it for a correctness run")
    }
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    attempted.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Sessions.releaseKeyState(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")
    // "filtered" records whether a key filter was explicitly passed, so
    // preflight can distinguish a legitimate local smoke from a full run
    // that silently dropped registry keys (ADVICE r9: deriving "full run"
    // from attempted==registry made the never-attempted hard-fail dead code).
    Files.writeString(Paths.get(s"$outDir/keys.json"),
      s"""{"registry": ${arr(SparkEntry.queries.keys.toSeq.sorted)},""" +
        s""" "attempted": ${arr(attempted)},""" +
        s""" "failed": ${arr(failed.toSeq.sorted)},""" +
        s""" "filtered": ${only.nonEmpty || exclude.nonEmpty}}""")
    spark.stop()
    // Exit 0 even with failures so a partial dump still reaches the
    // driver's compare (partial grades beat none); the manifest makes the
    // holes impossible to miss — preflight.py hard-fails on them locally.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} key(s) FAILED: " +
        failed.mkString(", "))
  }
}
