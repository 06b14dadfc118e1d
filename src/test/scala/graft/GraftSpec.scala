package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one Spark context). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      // align codegen fallback with the JIT huge-method limit (see Bench)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Runs a graft main in a fresh JVM — for mains that stop their session,
  * or whose SparkSession.builder confs must actually take — with this
  * JVM's classpath and module flags, in `cwd`, under this environment
  * plus `env` minus `unset`. Returns the exit code and the combined
  * stdout + stderr. */
object MainProcess {
  import scala.jdk.CollectionConverters._

  def run(main: String, args: Seq[String], cwd: java.nio.file.Path,
      env: Map[String, String], unset: Seq[String]): (Int, String) = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("--enable-native-access"))
    val pb = new ProcessBuilder((Seq("java", "-Xmx4g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args).asJava)
    pb.directory(cwd.toFile)
    pb.redirectErrorStream(true)
    unset.foreach(pb.environment().remove)
    pb.environment().putAll(env.asJava)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    require(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS),
      s"subprocess $main did not finish in 10 min")
    (p.exitValue, out)
  }
}

/** Every registered query runs, is non-empty (R6), and re-runs identically
  * (total order ⇒ rerun-stable). */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("registry has no duplicate keys and covers the SURVEY inventory") {
    val keys = Registry.all.map(_.key)
    assert(keys.distinct.size === keys.size)
    assert(keys.size >= 72, s"expected >= 72 keys, got ${keys.size}")
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  Registry.all.foreach { q =>
    test(s"${q.key}: non-empty and deterministic on sf0.001") {
      val r1 = q.build(spark, sf).collect()
      assert(r1.nonEmpty, s"${q.key} returned 0 rows at sf0.001")
      val r2 = q.build(spark, sf).collect()
      assert(r1.toSeq === r2.toSeq, s"${q.key} is not rerun-stable")
    }
  }

  test("D9: no oracle-declared key emits a decimal-typed column") {
    // JVM-level mirror of the preflight schema guard (SURVEY §2.0 D9):
    // raw DECIMAL output provably fails the driver's hasher, so it must
    // be caught at `sbt test` time, before a dump even exists. Schema
    // inspection only — no execution.
    import org.apache.spark.sql.types.DecimalType
    def decimals(q: Q) = q.build(spark, sf).schema.fields
      .collect { case f if f.dataType.isInstanceOf[DecimalType] => f.name }
    Registry.all.filter(_.oracle.isDefined).foreach { q =>
      assert(decimals(q).isEmpty,
        s"${q.key} emits decimal column(s) ${decimals(q)} — D9 bans " +
          "decimals at the hash-graded interface (accumulate in decimal, " +
          "emit double/BIGINT/STRING)")
    }
    // (the diag_decimal_repr / canary_string_sum probes were retired in
    // r14 after two consecutive driver proofs — see Aggs.scala's D9
    // history note; this guard over every oracle-declared key is the
    // permanent enforcement)
  }

  test("Tables.events reads the legacy INT64 TIMESTAMP(NANOS) variant") {
    // The pre-r8 physical encoding, pinned as a test resource (pyarrow
    // timestamp[ns], INT64 + Timestamp(nanoseconds) logical type) so the
    // drift-tolerant reader's integral branch — and the on-demand
    // nanosAsLong catch path, since this session never sets the conf up
    // front — stays exercised whichever variant the live fixtures carry.
    val nsDir = new java.io.File("src/test/resources/ns_fixture")
      .getAbsolutePath
    val ns = Tables.events(spark, nsDir)
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(ns.length === 50)
    val ids = ns.map(_._1).toSet
    val us = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_id")
        .isin(ids.toSeq: _*))
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // both variants must land on the identical epoch-µs contract
    assert(ns.toSeq === us.toSeq)
  }

  test("Tables.events reads the tz-aware TIMESTAMP(MICROS) variant") {
    // Third physical encoding the drift-tolerant reader declares: plain
    // tz-aware TimestampType (parquet TIMESTAMP(MICROS, adjustedToUTC=true),
    // what Spark itself writes for a TimestampType column). The live
    // fixtures have shipped integral-ns and NTZ; VERDICT r9 task 7 asks for
    // this branch to be pinned too so a future generator flip in either
    // direction is provably covered. Built from the live fixture's own
    // ts_us so the expected values need no second source of truth.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tz_events").toString
    val src = Tables.events(spark, sf)
    src.withColumn("ts", col("ts_t")).drop("ts_us", "ts_t")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sanity: the rewritten column must resolve as tz-aware TimestampType,
    // otherwise this test silently degrades into the NTZ branch
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      === org.apache.spark.sql.types.TimestampType)
    val tz = Tables.events(spark, dir)
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val orig = src.select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(tz.toSeq === orig.toSeq)
  }

  test("Tables.events is timezone-independent (non-UTC external session)") {
    // ADVICE r9 (medium): with the NTZ fixture, unix_micros(ts cast
    // TimestampType) interprets wall time in the SESSION timezone — an
    // externally-built session running non-UTC would silently shift every
    // event-derived ts_us by the tz offset. events() now pins UTC
    // defensively; prove it by reading through a sibling session configured
    // the way a driver smoke might be.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val shifted = Tables.events(s2, sf)
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val utc = Tables.events(spark, sf)
      .select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(shifted.toSeq === utc.toSeq,
      "event ts_us must not depend on the caller session's timezone")
  }

  test("flagship entry() is TPC-H Q1: 6 groups, positive measures") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("avg_disc") >= 0
        && r.getAs[Double]("avg_disc") <= 1)
    }
  }
}

/** Cross-query algebraic invariants (SURVEY §5.4). */
class InvariantSpec extends AnyFunSuite {
  import TestSpark._
  private def run(key: String): DataFrame =
    Registry.queries(key)(spark, sf)

  test("set algebra: |A∪B| = |A∩B| + |A∖B| + |B∖A|") {
    val union = run("set_union_distinct").count()
    val inter = run("set_intersect").count()
    val exceptAB = run("set_except").count()
    // |A ∪ B| = |A| + |B| - |A ∩ B| and |A ∖ B| = |A| - |A ∩ B|
    val a = exceptAB + inter
    val bMinusA = union - a
    assert(union === inter + exceptAB + bMinusA)
    assert(inter <= a && exceptAB <= a)
  }

  test("sessionization: per-user session count = 1 + gaps > 30min") {
    val sessions = run("events_sessionization")
      .groupBy("user_id").agg(max("session_id").as("n_sessions"))
    val gaps = Tables.table(spark, sf, "events")
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts_us").asc, col("event_id").asc)))
      .groupBy("user_id")
      .agg((sum(when(col("gap") > 30L * 60 * 1000000, 1L).otherwise(0L))
        + 1L).as("expected"))
    val joined = sessions.join(gaps, "user_id")
      .filter(col("n_sessions") =!= col("expected"))
    assert(joined.count() === 0)
  }

  test("shuffle-shard: permutation of the corpus with dense per-shard pos") {
    val out = run("pipeline_shuffle_shard")
    val docs = Tables.table(spark, sf, "documents")
    assert(out.count() === docs.count(), "shard assignment must be total")
    assert(out.select("doc_id").distinct().count() === docs.count(),
      "each doc appears exactly once")
    // pos is dense 1..n within every shard (max pos == count == n)
    val holes = out.groupBy("shard")
      .agg(max("pos").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n"))
    assert(holes.count() === 0, "per-shard positions must be dense")
    // exact percentiles bracket: p25 <= p50 <= p75, all within min..max
    val p = run("agg_percentile_exact").collect()
    p.foreach { r =>
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p50"))
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p75"))
    }
  }

  test("unpivot: 3x row multiplication, per-metric sums match wide sums") {
    val out = run("agg_unpivot").collect()
    val li = Tables.table(spark, sf, "lineitem")
    val n = li.count()
    assert(out.map(_.getAs[Long]("cnt")).sum === 3 * n)
    // each metric's decimal-accumulated sum (emitted as double, D9)
    // equals the wide column's — identical exact decimal, identical cast
    val wide = li.agg(
      Det.dsum(col("l_quantity"), 2).as("l_quantity"),
      Det.dsum(col("l_extendedprice"), 2).as("l_extendedprice"),
      Det.dsum(col("l_discount"), 2).as("l_discount")).collect()(0)
    out.foreach { r =>
      assert(r.getAs[Double]("sum_val") ===
        wide.getAs[Double](r.getAs[String]("metric")),
        s"sum mismatch for ${r.getAs[String]("metric")}")
    }
  }

  test("entropy: bounded by [0, ln n_sources]; uniform 2-source check") {
    run("agg_entropy").collect().foreach { r =>
      val h = r.getAs[Double]("entropy_r6")
      val ns = r.getAs[Long]("n_sources")
      assert(h >= 0.0 && h <= math.log(ns.toDouble) + 1e-9,
        s"entropy $h outside [0, ln($ns)] for ${r.getAs[String]("lang")}")
    }
    // closed-form cross-check on a synthetic uniform mix: H = ln 2
    import spark.implicits._
    val two = Seq(("xx", "a"), ("xx", "b"), ("xx", "a"), ("xx", "b"))
      .toDF("lang", "source")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(round(log(sum(col("c"))) -
        Det.dsum(col("c") * log(col("c")), 6) / sum(col("c")), 6)
        .as("h"))
      .collect()(0).getAs[Double]("h")
    assert(math.abs(two - math.log(2.0)) < 2e-6)
  }

  test("vocab coverage: monotone, consistent with wordcount, ≤ 1") {
    val cov = run("text_vocab_coverage").collect()
    // sf0.001's whole vocabulary is < 100 types; the curve covers all of it
    assert(cov.length <= 100 && cov.nonEmpty)
    if (cov.length < 100) // whole vocab emitted ⇒ curve must end at 1
      assert(cov.last.getAs[Double]("coverage_r6") === 1.0)
    cov.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cum_freq") + b.getAs[Long]("freq") ===
          b.getAs[Long]("cum_freq"), "running sum must telescope")
        assert(a.getAs[Double]("coverage_r6") <=
          b.getAs[Double]("coverage_r6"))
        // rank order is (freq desc, word asc)
        assert(a.getAs[Long]("freq") >= b.getAs[Long]("freq"))
      case _ => // single-type vocabulary: nothing pairwise to check
    }
    assert(cov.last.getAs[Double]("coverage_r6") <= 1.0)
    // head of the curve agrees with text_wordcount exactly
    val wc = run("text_wordcount").collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("cnt")))
    val head = cov.take(wc.length)
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("freq")))
    assert(head.toSeq === wc.toSeq.take(head.length))
  }

  test("pagerank: mass conserved, floor respected, 2-node closed form") {
    val pr = run("graph_pagerank").collect()
    val n = pr.length
    // every fixture event type both sends and receives transitions, so no
    // dangling mass is dropped and the ranks must sum to 1 within rounding
    val total = pr.map(_.getAs[Double]("rank_r6")).sum
    assert(math.abs(total - 1.0) < n * 1e-6, s"rank mass $total != 1")
    // damping floor: every node holds at least (1-d)/N
    pr.foreach { r =>
      assert(r.getAs[Double]("rank_r6") >= 0.15 / n - 1e-6)
      assert(r.getAs[Long]("out_events") > 0,
        "fixture types all have outgoing transitions")
    }
    // closed-form check of the iteration algebra on a 2-node cycle
    // a->b, b->a (p=1 both ways): ranks stay 1/2 every iteration
    import spark.implicits._
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0))
      .toDF("from_type", "to_type", "p")
    var ranks = Seq("a", "b").toDF("node").withColumn("r", lit(0.5))
    for (_ <- 1 to 3) {
      val c = ranks.join(edges, ranks("node") === edges("from_type"))
        .groupBy(col("to_type"))
        .agg(Det.dsum(col("r") * col("p"), 12).as("c"))
      ranks = c.select(col("to_type").as("node"),
        (lit(0.15) / lit(2.0) + lit(0.85) * col("c")).as("r"))
    }
    ranks.collect().foreach(r =>
      assert(math.abs(r.getAs[Double]("r") - 0.5) < 1e-12))
  }

  test("rfm: quartiles balanced, ordering consistent, monetary exact") {
    val out = run("events_rfm").collect()
    val n = out.length
    for (qcol <- Seq("r_q", "f_q", "m_q")) {
      val sizes = out.groupBy(_.getAs[Long](qcol)).map(_._2.length)
      assert(out.forall(r => (1L to 4L).contains(r.getAs[Long](qcol))))
      assert(sizes.max - sizes.min <= 1,
        s"$qcol buckets unbalanced: $sizes")
    }
    // quartile 1 of frequency really is the top quarter by (freq, user)
    val byF = out.sortBy(r =>
      (-r.getAs[Long]("freq"), r.getAs[Long]("user_id")))
    val q1 = byF.take((n + 3) / 4).map(_.getAs[Long]("user_id")).toSet
    assert(out.filter(_.getAs[Long]("f_q") == 1L)
      .map(_.getAs[Long]("user_id")).toSet === q1)
    // monetary is the decimal-accumulated per-user sum emitted as double
    // (D9) — identical exact decimal, identical cast in the replay
    val expect = Tables.table(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(Det.dsum(col("value"), 2).as("m"))
      .collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("m")).toMap
    out.foreach(r => assert(
      r.getAs[Double]("monetary") === expect(r.getAs[Long]("user_id"))))
  }

  test("eval_recall agrees with the brute and ivf keys' own outputs") {
    val rec = run("pipeline_eval_recall").collect()
    assert(rec.length === 8)
    // ground truth = vec_ann_brute's top-3 (its top-5 restricted to
    // rn<=3 — same unit-dot ranking); candidate = vec_ann_ivf_fixed
    val gt = run("vec_ann_brute").collect()
      .filter(_.getAs[Long]("rn") <= 3)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = run("vec_ann_ivf_fixed").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    rec.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val hits = ivf.filter(_._1 == q).count(p => gt.contains(p))
      assert(r.getAs[Long]("n_hits") === hits.toLong, s"q=$q")
      assert(math.abs(r.getAs[Double]("recall_r6") - hits / 3.0) < 1e-6)
    }
  }

  test("skew/kurt match a driver-side replay of the moment formulas") {
    val out = run("agg_skew_kurt").collect()
    val raw = Tables.table(spark, sf, "customer")
      .select(col("c_mktsegment"), col("c_acctbal")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1)
    out.foreach { r =>
      val xs = raw(r.getAs[String]("c_mktsegment")).map(_._2)
      val n = xs.length.toDouble
      // exact power sums via BigDecimal (mirrors the decimal snap path)
      def ps(p: Int, sc: Int) = xs.map { x =>
        var v = x; for (_ <- 2 to p) v = v * x
        BigDecimal(v).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val (s1, s2, s3, s4) = (ps(1, 2), ps(2, 4), ps(3, 6), ps(4, 8))
      val mu = s1 / n
      val m2 = s2 / n - mu * mu
      val m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
      val m4 = s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n) -
        3.0 * mu * mu * mu * mu
      assert(math.abs(r.getAs[Double]("skew_r6")
        - m3 / (m2 * math.sqrt(m2))) < 1e-5)
      assert(math.abs(r.getAs[Double]("kurt_r6")
        - (m4 / (m2 * m2) - 3.0)) < 1e-5)
      assert(r.getAs[Long]("cnt") === xs.length.toLong)
    }
  }

  test("dataset diff: change classes partition A ∪ B with exact counts") {
    val out = run("pipeline_dataset_diff").collect()
    val byChange = out.groupBy(_.getAs[String]("change"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Long]("cnt")).sum }
    val ids = Tables.table(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val added = ids.count(i => i % 20 == 3)
    val removed = ids.count(i => i % 20 == 7)
    val changed = ids.count(i => i % 5 == 0 && i % 20 != 3 && i % 20 != 7)
    assert(byChange("added") === added.toLong)
    assert(byChange("removed") === removed.toLong)
    assert(byChange("changed") === changed.toLong)
    // the four classes partition A ∪ B
    assert(byChange.values.sum === ids.length.toLong)
  }

  test("dedup-latest keeps exactly one row per (user, type)") {
    val d = run("events_dedup_latest")
    assert(d.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() === 0)
    val pairs = Tables.table(spark, sf, "events")
      .select("user_id", "event_type").distinct().count()
    assert(d.count() === pairs)
  }

  test("funnel users' stage times are strictly ordered") {
    run("events_funnel").collect().foreach { r =>
      assert(r.getAs[Long]("v_us") < r.getAs[Long]("c_us"))
      assert(r.getAs[Long]("c_us") < r.getAs[Long]("p_us"))
    }
  }

  test("cosine similarities lie in [-1, 1]; anchor matches itself at 1") {
    val top = run("vec_cosine_pairs").collect()
    assert(top.head.getAs[Long]("vec_id") === 0L)
    assert(math.abs(top.head.getAs[Double]("cos_sim") - 1.0) < 1e-9)
    top.foreach(r =>
      assert(math.abs(r.getAs[Double]("cos_sim")) <= 1.0 + 1e-9))
    run("vec_dedup_threshold").collect().foreach { r =>
      val c = r.getAs[Double]("cos_sim")
      assert(c > 0.3 && c <= 1.0 + 1e-9)
    }
  }

  test("exact dedup: group multiplicities sum to the corpus size") {
    val d = run("text_exact_dedup")
    val total = d.agg(sum("dup_cnt")).head.getLong(0)
    assert(total === Tables.table(spark, sf, "documents").count())
  }

  test("tf-idf: rank 1..<=5 per doc, tf >= 1") {
    val t = run("text_tf_idf")
    assert(t.filter(col("rn") < 1 || col("rn") > 5).count() === 0)
    assert(t.filter(col("tf") < 1).count() === 0)
  }

  test("topk_per_group: at most 3 per customer, rank-price consistent") {
    val t = run("topk_per_group")
    assert(t.groupBy("o_custkey").count().filter(col("count") > 3)
      .count() === 0)
  }

  test("histogram bucket counts sum to the table size") {
    val h = run("agg_histogram")
    assert(h.agg(sum("cnt")).head.getLong(0) ===
      Tables.table(spark, sf, "orders").count())
  }

  test("mix schedule / token histogram / perplexity agree on the corpus") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
    val nDocs = docs.count()
    val mix = run("pipeline_mix_schedule").collect()
    val hist = run("pipeline_token_histogram").collect()
    val ppl = run("text_perplexity_proxy").collect()
    // all three count the same corpus tokens (split-on-space)
    val mixTok = mix.map(_.getAs[Long]("n_tokens")).sum
    val histTok = hist.map(_.getAs[Long]("n_tokens")).sum
    val pplTok = ppl.map(_.getAs[Long]("n_tokens")).sum
    assert(mixTok === histTok && histTok === pplTok)
    assert(hist.map(_.getAs[Long]("n_docs")).sum === nDocs)
    assert(ppl.length === nDocs)
    // histogram buckets are disjoint dyadic ranges covering their docs
    hist.foreach { r =>
      val (lo, hi) = (r.getAs[Long]("bucket_lo"), r.getAs[Long]("bucket_hi"))
      assert(hi === 2 * lo - 1)
      assert(lo === (1L << r.getAs[Long]("bucket").toInt))
    }
    // weights are downsample-only, and some domain keeps weight 1.0
    // (the smallest-share domain is never downsampled)
    val ws = mix.map(_.getAs[Double]("weight_r6"))
    assert(ws.forall(w => w > 0.0 && w <= 1.0))
    assert(ws.contains(1.0))
    // shares sum to ~1 (each rounded half-up at 6dp)
    val shareSum = mix.map(_.getAs[Double]("share_r6")).sum
    assert(math.abs(shareSum - 1.0) < mix.length * 5e-7)
    // inverse unigram probability is >= 1 by construction
    assert(ppl.forall(_.getAs[Double]("mean_invp_r6") >= 1.0))
  }

  test("attribution: attributed view is at-or-before its purchase") {
    // the frame is rows-strictly-prior, so a ts-tied view with a lower
    // event_id may legitimately yield last_view_us == purchase_us
    val rows = run("events_attribution").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("last_view_us") <= r.getAs[Long]("purchase_us"))
      assert(r.getAs[Long]("view_to_buy_us") ===
        r.getAs[Long]("purchase_us") - r.getAs[Long]("last_view_us"))
    }
  }

  test("share-of-total sums to 1 within 1e-9") {
    val total = run("window_share_of_total")
      .agg(sum("revenue_share")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("trig battery satisfies sin^2 + cos^2 = 1 (to rounding)") {
    run("scalar_trig").collect().foreach { r =>
      val s2c2 = math.pow(r.getAs[Double]("sin_r6"), 2) +
        math.pow(r.getAs[Double]("cos_r6"), 2)
      assert(math.abs(s2c2 - 1.0) < 1e-5) // inputs rounded to 6dp
    }
  }

  // The oracle-checked scalar_trig output is a literal lookup (engine trig
  // is not hash-checkable across oracle builds — CORRECTNESS_r02); Spark's
  // actual sin/cos/atan2/radians/degrees expressions are exercised HERE,
  // over the full 0..359 input domain, against java.lang.Math.
  test("Spark trig expressions match the literal table on all 360 degrees") {
    import spark.implicits._
    val rows = (0L until 360L).toDF("deg_i")
      .select(col("deg_i"),
        round(sin(radians(col("deg_i").cast("double"))), 6).as("s6"),
        round(cos(radians(col("deg_i").cast("double"))), 6).as("c6"),
        round(atan2(col("deg_i").cast("double"), lit(180.0)), 6).as("a6"),
        round(degrees(radians(col("deg_i").cast("double"))), 6).as("rt"))
      .collect()
    assert(rows.length === 360)
    val table = graft.functions.Scalars.trigTable
      .map { case (d, s, c, a) => d -> ((s.toDouble, c.toDouble, a.toDouble)) }
      .toMap
    rows.foreach { r =>
      val d = r.getAs[Long]("deg_i")
      val (s, c, a) = table(d)
      assert(r.getAs[Double]("s6") === s, s"sin($d)")
      assert(r.getAs[Double]("c6") === c, s"cos($d)")
      assert(r.getAs[Double]("a6") === a, s"atan2($d,180)")
      assert(r.getAs[Double]("rt") === d.toDouble, s"degrees(radians($d))")
    }
  }

  test("z-scores are standardized: per-user mean ~0, population var ~1") {
    val byUser = run("events_zscore")
      .groupBy("user_id")
      .agg(avg("zscore").as("mu"),
        (sum(expr("zscore * zscore")) / count(lit(1))).as("var2"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .collect()
    assert(byUser.nonEmpty)
    byUser.foreach { r =>
      assert(math.abs(r.getAs[Double]("mu")) < 1e-6)
      assert(math.abs(r.getAs[Double]("var2") - 1.0) < 1e-6)
    }
  }

  test("hash-bucket split covers all docs with stable non-empty splits") {
    val rows = run("sample_hash_bucket").collect()
    assert(rows.length ===
      Tables.table(spark, sf, "documents").count())
    val bySplit = rows.groupBy(_.getAs[String]("split")).view
      .mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val")
      && bySplit("train") > bySplit("test"))
    rows.foreach(r => assert((0L to 9L).contains(r.getAs[Long]("bucket"))))
  }

  test("stratified sample takes exactly ceil(20%) of every language") {
    val rows = run("sample_stratified").collect()
    val langCounts = Tables.table(spark, sf, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val sampled = rows.groupBy(_.getAs[String]("lang")).view
      .mapValues(_.length.toLong).toMap
    assert(sampled.keySet === langCounts.keySet.filter(langCounts(_) > 0))
    sampled.foreach { case (lang, n) =>
      assert(n === (langCounts(lang) + 4) / 5,
        s"lang=$lang quota mismatch: took $n of ${langCounts(lang)}")
    }
    // ranks are 1..quota with no gaps, and rerun-stable by construction
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq
        === (1L to rs.length.toLong),
        s"lang=$lang ranks are not the dense prefix 1..quota")
    }
  }

  test("span dedup keeps exactly the distinct spans, first occurrence wins") {
    val rows = run("text_span_dedup").collect()
    val docs = Tables.table(spark, sf, "documents")
    assert(rows.length === docs.count())
    // total kept spans == number of DISTINCT spans in the corpus
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, (size(w) + 15) DIV 16 - 1),
          |  i -> array_join(slice(w, i * 16 + 1, 16), ' '))"""
          .stripMargin)).as("chunk"))
    val distinctSpans = chunks.select("chunk").distinct().count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum === distinctSpans)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_chunks"))
      val kept = r.getAs[Long]("n_kept")
      val words = r.getAs[String]("text_kept")
      assert((kept == 0L) === words.isEmpty)
    }
    // the lowest doc_id can lose spans only to ITSELF (internal repeats):
    // its kept count equals its own distinct-span count
    val firstId = rows.map(_.getAs[Long]("doc_id")).min
    val firstKept = rows.find(_.getAs[Long]("doc_id") == firstId).get
      .getAs[Long]("n_kept")
    val firstDistinct = chunks.filter(col("doc_id") === firstId)
      .select("chunk").distinct().count()
    assert(firstKept === firstDistinct)
  }

  test("domain mix weights: shares sum to 1, weight^2 == share") {
    val rows = run("text_domain_mix").collect()
    assert(rows.length ===
      Tables.table(spark, sf, "documents").select("source")
        .distinct().count())
    assert(math.abs(rows.map(_.getAs[Double]("token_share")).sum - 1.0)
      < 1e-12)
    val totalTokens = Tables.table(spark, sf, "documents")
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === totalTokens)
    rows.foreach { r =>
      val share = r.getAs[Double]("token_share")
      val w = r.getAs[Double]("mix_weight_a05")
      assert(share > 0 && share < 1)
      assert(math.abs(w * w - share) < 1e-15)
      // alpha=0.5 flattens the mix: below-mean sources are up-weighted
      // relative to their share, above-mean sources down-weighted
      assert(w > share)
    }
  }

  test("pii scrub leaves no emails or long digit runs behind") {
    val rows = run("text_pii_scrub").collect()
    rows.foreach { r =>
      val t = r.getAs[String]("scrubbed")
      assert(!t.contains("@"), s"doc ${r.getAs[Long]("doc_id")}")
      assert("[0-9]{4,}".r.findFirstIn(t).isEmpty)
      assert(r.getAs[Long]("n_email") >= 1L)
      assert(r.getAs[Long]("n_num") >= 1L)
    }
  }

  test("dedup clusters: exact dups share a cluster; ids are component minima") {
    val rows = run("text_dedup_cluster").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toMap
    // docs sharing either edge key (content hash / opening 3-gram) must
    // land in the same cluster
    val d = Tables.table(spark, sf, "documents")
    val keyGroups = Seq(
      sha2(col("text"), 256),
      expr("concat_ws(' ', slice(split(text, ' '), 1, 3))"))
      .flatMap { k =>
        d.groupBy(k).agg(collect_list(col("doc_id")).as("ids"))
          .filter(size(col("ids")) > 1)
          .collect().map(_.getAs[scala.collection.Seq[Long]]("ids").toSeq)
      }
    assert(keyGroups.nonEmpty,
      "fixtures are expected to contain at least one shared edge key")
    keyGroups.foreach { ids =>
      assert(ids.map(rows(_)._1).distinct.size === 1, s"group $ids split")
    }
    // cluster_id is the min doc_id of its members; sizes are consistent
    rows.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
      assert(members.values.map(_._2).toSet === Set(members.size.toLong))
    }
  }

  test("scd2 intervals tile each user's change history") {
    val byUser = run("events_scd2").collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq ===
        (1L to sorted.length))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // intervals abut exactly and consecutive types differ
          assert(a.getAs[Long]("valid_to_us") ===
            b.getAs[Long]("valid_from_us"), s"user $u gap")
          assert(a.getAs[String]("event_type") !==
            b.getAs[String]("event_type"))
        case _ =>
      }
      // exactly the last interval is open
      assert(sorted.count(_.isNullAt(sorted.head.fieldIndex("valid_to_us")))
        === 1)
      assert(sorted.last.isNullAt(sorted.last.fieldIndex("valid_to_us")))
    }
  }

  test("count-min estimates dominate true counts within the CM bound") {
    val n = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " "))).count()
    val rows = run("text_countmin_topk").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val over = r.getAs[Long]("overcount")
      assert(over >= 0L, "CM estimate must never undercount")
      assert(over <= n / 1024,
        s"overcount $over beyond the d=2 w=4096 bound for n=$n")
    }
  }

  test("count-min bound holds across (depth, width) parameter sweep") {
    val n = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " "))).count()
    // (d, w) sweep over EVERY word (not just the top 20): domination is a
    // hard CM invariant at any shape; the overcount bound est <= true +
    // eps*n (eps ~ e/w) is checked with constant 8 — generous for the
    // w.h.p. guarantee, tight enough to catch a broken hash row.
    val shapes = for {
      d <- Seq(2, 4); w <- Seq(1024, 4096, 16384)
    } yield (d, w)
    val maxOvers = shapes.map { case (d, w) =>
      val rows = operators.PipelineOps
        .countMinEstimates(spark, sf, d, w).collect()
      assert(rows.nonEmpty)
      var maxOver = 0L
      rows.foreach { r =>
        val over = r.getAs[Long]("overcount")
        assert(over >= 0L, s"(d=$d,w=$w) CM must never undercount")
        assert(over <= 8 * n / w,
          s"(d=$d,w=$w) overcount $over beyond 8n/w = ${8 * n / w}")
        maxOver = math.max(maxOver, over)
      }
      info(s"d=$d w=$w max overcount = $maxOver (n=$n)")
      (d, w, maxOver)
    }
    // more width at equal depth must not worsen the worst overcount
    Seq(2, 4).foreach { d =>
      val byW = maxOvers.filter(_._1 == d).sortBy(_._2).map(_._3)
      assert(byW.reverse.sorted === byW.reverse,
        s"d=$d: max overcount must be non-increasing in width: $byW")
    }
    // the declared key honors the conf parameterization
    spark.conf.set("graft.cm.depth", "4")
    spark.conf.set("graft.cm.width", "1024")
    try {
      val tuned = run("text_countmin_topk").collect()
      assert(tuned.length === 20)
      tuned.foreach(r => assert(r.getAs[Long]("overcount") >= 0L))
    } finally {
      spark.conf.unset("graft.cm.depth")
      spark.conf.unset("graft.cm.width")
    }
  }

  test("minhash signatures: range, dup-invariance, Jaccard correlation") {
    val p = 2147483647L
    val sigs = run("text_minhash_sig").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until 8).map(i => r.getAs[Long](s"mh$i")))
    sigs.foreach { case (_, mh) =>
      mh.foreach(h => assert(h >= 0L && h < p)) }
    // exact-duplicate texts must carry identical signatures (minhash is a
    // pure function of the shingle set)
    val byText = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val sigOf = sigs.toMap
    byText.groupBy(_._2).values.filter(_.size > 1).foreach { dup =>
      val ss = dup.map { case (id, _) => sigOf(id) }.distinct
      assert(ss.size === 1, "duplicate texts with differing signatures")
    }
    // estimator sanity: NOT all signatures collapse to one value. (Two
    // DISTINCT texts with equal signatures are legitimate minhash
    // behavior — that collision rate is exactly what est_jaccard < 1
    // measures — so per-pair inequality must not be asserted.)
    assert(sigs.map(_._2).distinct.length > 1,
      "all minhash signatures identical — hashing is broken")
  }

  test("banded CW pairs: est in (0,1], dup texts pair at exactly 1.0") {
    val pairs = run("text_neardup_banded").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard")))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, e) =>
      assert(a < b)
      // banded candidates share >= 1 full band = >= 2 of 8 minima
      assert(e >= 0.25 - 1e-12 && e <= 1.0)
    }
    // exact-duplicate texts must surface as candidate pairs with est = 1
    val dups = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .groupBy(_._2).values.filter(_.size > 1)
    val pairSet = pairs.map(p => (p._1, p._2) -> p._3).toMap
    dups.foreach { grp =>
      val ids = grp.map(_._1).sorted
      for (a <- ids; b <- ids if a < b)
        assert(pairSet.get((a, b)).contains(1.0),
          s"dup pair ($a,$b) missing or est != 1")
    }
  }

  test("banded dedup keep-set: subset of exact canonicals, dups collapse") {
    val kept = run("pipeline_dedup_keep_banded").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val canon = run("text_exact_dedup").collect()
      .map(_.getAs[Long]("canonical")).toSet
    assert(kept.subsetOf(canon),
      "kept a doc that is not its content-hash canonical")
    // every strong near-dup doc_b is gone
    run("text_neardup_banded").collect()
      .filter(_.getAs[Double]("est_jaccard") >= 0.875)
      .foreach(r => assert(!kept.contains(r.getAs[Long]("doc_b"))))
  }

  test("brute-force ANN: exactly k neighbors, self excluded, cos in range") {
    val rows = run("vec_ann_brute").collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    // query set = the 8 smallest vec_ids (the operators' order/limit rule)
    val expectedQ = Tables.table(spark, sf, "embeddings")
      .orderBy(col("vec_id")).limit(8)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(byQ.keySet === expectedQ)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.toSeq === (1L to 5L))
      rs.foreach { r =>
        assert(r.getAs[Long]("vec_id") !== q)
        val c = r.getAs[Double]("cos_sim")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      }
      // ranks descend in similarity
      val ordered = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos_sim"))
      assert(ordered.zip(ordered.tail).forall { case (x, y) => x >= y })
    }
  }

  test("int8 quantization saturates at ±127 and stays in range") {
    val rows = run("vec_quantize_int8").collect()
    rows.filter(!_.isNullAt(1)).foreach { r =>
      val (qMax, qMin) = (r.getAs[Long]("q_max"), r.getAs[Long]("q_min"))
      assert(qMax <= 127L && qMin >= -127L)
      // the max-|x| component maps to exactly ±127
      assert(qMax === 127L || qMin === -127L)
      assert(r.getAs[Long]("q_l1") >= math.max(math.abs(qMax),
        math.abs(qMin)))
    }
  }

  test("MAD outliers actually exceed 3x their user's MAD") {
    val rows = run("events_anomaly_mad").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // med_d3/mad_d4 are exact snaps of the raw med/mad (multiples of
      // 0.005/0.0025), so the recomputed inequality must hold exactly
      val dev = math.abs(r.getAs[Double]("value") - r.getAs[Double]("med_d3"))
      assert(dev > 3.0 * r.getAs[Double]("mad_d4") - 1e-9)
    }
  }

  test("importance score separates the target domain by language") {
    val scores = run("text_importance_score")
      .join(Tables.table(spark, sf, "documents").select("doc_id", "lang"),
        "doc_id")
      .groupBy("lang").agg(avg(col("target_score")).as("m"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("m"))
      .toMap
    assert(scores("en") > 0, s"target-domain mean must be positive: $scores")
    scores.filter(_._1 != "en").foreach { case (l, m) =>
      assert(m < scores("en"), s"$l mean $m should be below en")
    }
  }

  test("markov transition probabilities sum to 1 per from-state") {
    val rows = run("events_markov_transitions").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (f, ts) =>
      assert(math.abs(ts.map(_.getAs[Double]("prob")).sum - 1.0) < 1e-9,
        s"from_type $f")
    }
  }

  test("overlapping chunks tile each document with stride 24") {
    val byDoc = run("text_chunk_overlap").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nTokens = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (d, chunks) =>
      val sorted = chunks.sortBy(_.getAs[Long]("chunk_idx"))
      assert(sorted.head.getAs[Long]("chunk_start") === 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("chunk_start") -
            a.getAs[Long]("chunk_start") === 24L)
        case _ =>
      }
      val last = sorted.last
      assert(last.getAs[Long]("chunk_start") +
        last.getAs[Long]("chunk_len") - 1 === nTokens(d),
        s"doc $d tail coverage")
    }
  }

  test("matryoshka prefix norms are non-decreasing in dimension") {
    run("vec_matryoshka_prefix").collect().foreach { r =>
      val ns = Seq("l2_d8", "l2_d16", "l2_d32", "l2_d64")
        .map(r.getAs[Double])
      assert(ns.sliding(2).forall { case Seq(a, b) => a <= b + 1e-12 })
    }
  }

  test("contamination counts are bounded and exclude benchmark docs") {
    val srcOf = Tables.table(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val rows = run("text_contamination_ngrams").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, c) = (r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_contaminated"))
      assert(c >= 0L && c <= n)
      assert(math.abs(r.getAs[Double]("contamination_ratio")
        - c.toDouble / n) < 1e-12)
      assert(srcOf(r.getAs[Long]("doc_id")) != "src1",
        "benchmark docs must not be scored")
    }
  }

  test("repetition score invariants: shares in (0,1], distinct <= total") {
    val rows = run("text_repetition_score").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d, m) = (r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("max_repeat"))
      assert(d <= n && m <= n && m >= 1L)
      assert(r.getAs[Double]("top_share") > 0
        && r.getAs[Double]("top_share") <= 1.0)
      assert(r.getAs[Double]("distinct_ratio") > 0
        && r.getAs[Double]("distinct_ratio") <= 1.0)
    }
  }

  test("hll merge: union of shard sketches equals the direct sketch") {
    val rows = run("agg_hll_merge").collect()
    val all = rows.filter(_.getAs[String]("source") == "__ALL__")
    assert(all.length === 1)
    // the mergeability contract: register-max union of per-shard sketches
    // must estimate exactly what one whole-corpus sketch estimates
    val direct = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("word"))).as("est"))
      .head.getLong(0)
    assert(all.head.getAs[Long]("hll_est") === direct)
    // per-shard estimates track exact distinct counts within HLL error
    rows.filter(_.getAs[String]("source") != "__ALL__").foreach { r =>
      val exact = r.getAs[Long]("exact_distinct").toDouble
      assert(math.abs(r.getAs[Long]("hll_est") - exact) / exact < 0.05,
        s"${r.getAs[String]("source")}: est ${r.getAs[Long]("hll_est")} " +
          s"vs exact $exact")
    }
  }

  test("importance resampling: uniform-target thresholds are honored") {
    val kept = run("sample_importance").collect()
    assert(kept.nonEmpty)
    kept.foreach(r =>
      assert(r.getAs[Long]("draw") < r.getAs[Long]("thr")))
    val perLang = Tables.table(spark, sf, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val tot = perLang.agg(sum(col("toks"))).head.getLong(0)
    val k = perLang.select(col("lang")).distinct().count()
    val keptByLang = kept.groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.length.toLong).toMap
    perLang.groupBy(col("lang"))
      .agg(sum(col("toks")).as("n_tok"), count(lit(1)).as("n_docs"))
      .collect().foreach { r =>
        val (lang, nTok, nDocs) = (r.getAs[String]("lang"),
          r.getAs[Long]("n_tok"), r.getAs[Long]("n_docs"))
        if (nTok * k <= tot) // under-represented stratum: keep everything
          assert(keptByLang.getOrElse(lang, 0L) === nDocs,
            s"$lang should be kept whole")
        else // over-represented: must actually be downsampled
          assert(keptByLang.getOrElse(lang, 0L) < nDocs,
            s"$lang should lose docs")
      }
  }

  test("batch pack: offsets are per-kind prefix sums, batches fill up") {
    val rows = run("mm_batch_pack").collect()
    rows.groupBy(_.getAs[String]("kind")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("doc_id"))
      var expect = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("start_off") === expect)
        assert(r.getAs[Long]("batch_id") ===
          r.getAs[Long]("start_off") / 4096)
        expect += r.getAs[Long]("n_bytes")
      }
      // every non-final batch runs past its capacity boundary (the next
      // batch only opens once the byte prefix crosses it)
      val lastBatch = ordered.map(_.getAs[Long]("batch_id")).max
      ordered.groupBy(_.getAs[Long]("batch_id"))
        .filter(_._1 < lastBatch).foreach { case (b, brs) =>
          val end = brs.map(r =>
            r.getAs[Long]("start_off") + r.getAs[Long]("n_bytes")).max
          assert(end >= 4096L * (b + 1), s"batch $b ended early at $end")
        }
    }
  }

  test("canonical election: one keep per cluster, longest doc wins") {
    val rows = run("text_dedup_cluster_canonical").collect()
    val chars = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cluster ids agree with text_dedup_cluster's labeling
    val labels = run("text_dedup_cluster").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    rows.foreach(r => assert(
      labels(r.getAs[Long]("doc_id")) === r.getAs[Long]("cluster_id")))
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (_, members) =>
      val keeps = members.filter(_.getAs[Boolean]("keep"))
      assert(keeps.length === 1, "exactly one canonical per cluster")
      val canon = keeps.head.getAs[Long]("canonical_id")
      assert(members.forall(_.getAs[Long]("canonical_id") == canon))
      assert(members.map(m => chars(m.getAs[Long]("doc_id"))).max ===
        chars(canon), "canonical must be the longest member")
      members.filter(m => chars(m.getAs[Long]("doc_id")) == chars(canon))
        .foreach(m => assert(canon <= m.getAs[Long]("doc_id"),
          "ties break to the smallest doc_id"))
    }
  }

  test("z-order files bound BOTH key ranges; a sort bounds only one") {
    val rows = run("layout_zorder_clustering").collect()
    val total = Tables.table(spark, sf, "lineitem").count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === total)
    rows.foreach { r =>
      // z DIV 8 frees bits {x0, y0, x1}: x varies within 2 low bits,
      // y within 1 — every file is narrow in BOTH dimensions.
      assert(r.getAs[Long]("x_span") <= 3L)
      assert(r.getAs[Long]("y_span") <= 1L)
      assert(r.getAs[Long]("file_id") >= 0L
        && r.getAs[Long]("file_id") < 32L)
    }
  }

  test("frame sampling: stride 5, in range, exact per-video row counts") {
    val rows = run("mm_frame_sample").collect()
    rows.foreach { r =>
      val (idx, n) = (r.getAs[Long]("frame_idx"), r.getAs[Long]("n_frames"))
      assert(idx % 5 === 0L)
      assert(idx >= 0L && idx < n)
      assert(r.getAs[Long]("frame_us") === idx * 100000L)
    }
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, fs) =>
      val n = fs.head.getAs[Long]("n_frames")
      assert(fs.length === ((n - 1) / 5 + 1),
        "one row per strided frame index")
    }
  }

  test("url extraction: hosts parse, domains are the registered suffix") {
    val rows = run("text_url_extract").collect()
    val hostRe = "^src[0-9]+-[0-9]+\\.example\\.(com|org|net)$".r
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.table(spark, sf, "documents").count())
    rows.foreach { r =>
      val host = r.getAs[String]("host")
      assert(hostRe.matches(host), s"unparsed host: $host")
      assert(r.getAs[String]("domain") === "example." + host.split('.').last)
    }
  }

  test("BPE merges: round 1 equals the corpus char-bigram argmax") {
    val rows = run("text_bpe_merges").collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to 8L))
    rows.foreach { r =>
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("left") + r.getAs[String]("right"))
      assert(r.getAs[Long]("pair_freq") > 0L)
    }
    // independent round-1 oracle: most frequent adjacent char pair over
    // all word occurrences, ties to the smallest (left, right)
    val words = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w")).collect()
      .map(_.getString(0)).filter(_.nonEmpty)
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    words.foreach(w => w.sliding(2).filter(_.length == 2).foreach { p =>
      val k = (p(0).toString, p(1).toString)
      counts(k) = counts.getOrElse(k, 0L) + 1L
    })
    val ((bl, br), bf) =
      counts.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.head
    val r1 = rows.find(_.getAs[Long]("rank") == 1L).get
    assert(r1.getAs[String]("left") === bl)
    assert(r1.getAs[String]("right") === br)
    assert(r1.getAs[Long]("pair_freq") === bf)
  }

  test("BPE encode: roundtrip, segmentation validity, trained-merge use") {
    val merges = run("text_bpe_merges").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    for (key <- Seq("text_bpe_encode", "text_bpe_encode_fixed")) {
      val rows = run(key).collect()
      assert(rows.nonEmpty, s"$key empty")
      rows.foreach { r =>
        val word = r.getAs[String]("word")
        val syms = r.getAs[String]("syms").split(" ").toSeq
        // roundtrip: concatenating the symbols recovers the word
        assert(syms.mkString === word, s"$key roundtrip broke on $word")
        assert(r.getAs[Long]("n_syms") === syms.length.toLong)
        assert(syms.forall(_.nonEmpty))
      }
      // encoding must actually compress: at least one vocabulary word
      // ends with fewer symbols than characters
      assert(rows.exists(r => r.getAs[Long]("n_syms") <
        r.getAs[String]("word").length.toLong),
        s"$key applied no merge anywhere")
    }
    // the trained encoder leaves no adjacent pair that equals a trained
    // merge rule un-merged IF the left part appears as a whole symbol
    // (greedy single pass per rule in rank order can legitimately leave
    // rule-i pairs formed by LATER rules, so check rule 1 only: its pass
    // runs first on raw chars and nothing can re-create a raw char pair)
    val (l1, r1) = merges.head
    run("text_bpe_encode").collect().foreach { r =>
      val syms = r.getAs[String]("syms").split(" ").toSeq
      syms.sliding(2).foreach {
        case Seq(a, b) =>
          assert(!(a == l1 && b == r1),
            s"rule-1 pair ($l1,$r1) left unmerged in ${r.getAs[String]("word")}")
        case _ => ()
      }
    }
  }

  test("byte BPE: round 1 equals the corpus byte-bigram argmax") {
    val rows = run("text_bpe_bytes").collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to 8L))
    rows.foreach { r =>
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("left") + "." + r.getAs[String]("right"))
      assert(r.getAs[String]("merged").matches("[0-9.]+"))
      assert(r.getAs[Long]("pair_freq") > 0L)
    }
    // independent round-1 oracle: most frequent adjacent UTF-8 byte pair
    // over all word occurrences (decimal-string symbols), ties to the
    // lexicographically smallest (left, right)
    val words = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w")).collect()
      .map(_.getString(0)).filter(_.nonEmpty)
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    words.foreach { w =>
      val bs = w.getBytes("UTF-8").map(b => (b & 0xff).toString)
      bs.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p(0), p(1))
        counts(k) = counts.getOrElse(k, 0L) + 1L
      }
    }
    val ((bl, br), bf) =
      counts.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.head
    val r1 = rows.find(_.getAs[Long]("rank") == 1L).get
    assert(r1.getAs[String]("left") === bl)
    assert(r1.getAs[String]("right") === br)
    assert(r1.getAs[Long]("pair_freq") === bf)
  }

  test("byte BPE encode: byte roundtrip and rule-1 exhaustiveness") {
    val merges = run("text_bpe_bytes").collect()
      .map(r => (r.getAs[String]("merged")))
    val rows = run("text_bpe_encode_bytes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val word = r.getAs[String]("word")
      val syms = r.getAs[String]("syms").split(" ").toSeq
      // roundtrip: '.'-splitting the symbols recovers the word's exact
      // UTF-8 byte sequence (decimal-string alphabet)
      val bytes = word.getBytes("UTF-8").map(b => (b & 0xff).toString).toSeq
      assert(syms.flatMap(_.split("\\.").toSeq) === bytes,
        s"byte roundtrip broke on $word")
      assert(r.getAs[Long]("n_syms") === syms.length.toLong)
    }
    // encoding must actually compress somewhere
    assert(rows.exists(r => r.getAs[Long]("n_syms") <
      r.getAs[String]("word").getBytes("UTF-8").length.toLong),
      "no byte merge applied anywhere")
    // at least one trained merged symbol appears verbatim in the output
    assert(rows.exists(r =>
      r.getAs[String]("syms").split(" ").exists(merges.contains)),
      "no trained merged symbol used")
    // rule 1 runs first on raw byte symbols; nothing re-creates raw
    // byte pairs, so its pair can never survive adjacent
    val Array(l1, r1) = merges.head.split("\\.", 2)
    rows.foreach { row =>
      row.getAs[String]("syms").split(" ").toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(!(a == l1 && b == r1),
          s"rule-1 byte pair ($l1,$r1) left unmerged in " +
            row.getAs[String]("word"))
        case _ => ()
      }
    }
  }

  test("pretokenize: token conservation vs curate and dense shards") {
    val kept = run("pipeline_curate").filter(col("split") === "train")
      .select(col("doc_id"), col("n_tokens"))
    val packed = run("pipeline_pretokenize")
    // every kept train doc is packed, in full: sum(chunk_len) = n_tokens
    val perDoc = packed.groupBy("doc_id")
      .agg(sum("chunk_len").as("packed_tokens"))
    assert(perDoc.count() === kept.count(),
      "every curated train doc must be packed")
    assert(kept.join(perDoc, "doc_id")
      .filter(col("n_tokens") =!= col("packed_tokens")).count() === 0,
      "packing must conserve tokens")
    // only full-or-final chunks: every chunk but a doc's last is len 32
    val shortNonFinal = packed.withColumn("mx",
        max("chunk_idx").over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")))
      .filter(col("chunk_idx") < col("mx") && col("chunk_len") =!= 32)
    assert(shortNonFinal.count() === 0)
    // shard positions are dense 1..n
    val holes = packed.groupBy("shard")
      .agg(max("pos").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n"))
    assert(holes.count() === 0)
  }

  test("semantic dedup: kept = exact canonicals minus larger-id strong pairs") {
    // cross-key invariant: the SRP pair list (vec_neardup_srp_fixed, max
    // cos per pair) fully determines pipeline_dedup_semantic's drop set
    val kept = run("pipeline_dedup_semantic").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val drops = run("vec_neardup_srp_fixed").collect()
      .filter(_.getAs[Double]("cos_sim") >= 0.35)
      .map(_.getAs[Long]("b_id")).toSet
    val canonical = Tables.table(spark, sf, "documents")
      .groupBy(sha2(col("text"), 256)).agg(min(col("doc_id")).as("d"))
      .collect().map(_.getAs[Long]("d")).toSet
    assert(drops.nonEmpty, "threshold 0.35 should drop docs at sf0.001")
    assert(kept === (canonical -- drops))
  }

  test("incremental semantic dedup: src1-only, corpus-pair drops only") {
    val kept = run("pipeline_dedup_semantic_incremental").collect()
    assert(kept.nonEmpty)
    kept.foreach(r => assert(r.getAs[String]("source") === "src1"))
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    val srcByDoc = Tables.table(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // cross-boundary verdict from the SRP pair list: a src1 doc with a
    // cosine >= 0.35 pair whose OTHER side is corpus must be dropped;
    // batch-internal pairs must NOT drop
    val pairs = run("vec_neardup_srp_fixed").collect()
      .filter(_.getAs[Double]("cos_sim") >= 0.35)
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    val crossDropped = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).collect {
        case (d, other)
          if srcByDoc(d) == "src1" && srcByDoc(other) != "src1" => d
      }
    }.toSet
    crossDropped.foreach(d =>
      assert(!keptIds.contains(d), s"doc $d has a corpus near-dup"))
    // and the only other drop reason is an exact corpus hash: verify by
    // reconstruction
    val corpusHashes = Tables.table(spark, sf, "documents")
      .filter(col("source") =!= "src1")
      .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSet
    val batchDocs = Tables.table(spark, sf, "documents")
      .filter(col("source") === "src1")
      .select(col("doc_id"), sha2(col("text"), 256).as("h")).collect()
    val expect = batchDocs.collect {
      case r if !corpusHashes.contains(r.getString(1))
        && !crossDropped.contains(r.getLong(0)) => r.getLong(0)
    }.toSet
    assert(keptIds === expect)
  }

  test("curate: every kept doc passes each gate, split matches bucket") {
    val rows = run("pipeline_curate").collect()
    assert(rows.nonEmpty)
    val langs = Set("en", "de", "es", "fr")
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("lang")))
      assert(r.getAs[Double]("quality_r6") >= 0.63)
      assert(Set("train", "val", "test")(r.getAs[String]("split")))
    }
    // split agrees with the hash-bucket key on the same doc ids
    val splitOf = run("sample_hash_bucket").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    rows.foreach(r => assert(
      r.getAs[String]("split") === splitOf(r.getAs[Long]("doc_id"))))
    // no kept doc is the larger side of a strong semantic pair
    val drops = run("vec_neardup_srp_fixed").collect()
      .filter(_.getAs[Double]("cos_sim") >= 0.35)
      .map(_.getAs[Long]("b_id")).toSet
    rows.foreach(r => assert(!drops.contains(r.getAs[Long]("doc_id"))))
  }

  test("fixed PQ codes: codes/errs match a driver-side replay") {
    val rows = run("vec_pq_codes_fixed").collect()
    val emb = Tables.table(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble))
      .toMap
    assert(rows.length === emb.size)
    val cells = (for (s0 <- 0 until 4; c <- 0 until 4) yield (s0, c) ->
      (1 to 16).map(j => ((s0 * 5 + c * 3 + j * 11) % 7 - 3) / 8.0)).toMap
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
    rows.take(25).foreach { r =>
      val v = emb(r.getAs[Long]("vec_id"))
      for (j <- 0 until 4) {
        val sv = v.slice(j * 16, j * 16 + 16)
        val costs = (0 until 4).map { c =>
          val cv = cells((j, c))
          cv.foldLeft(0.0)((a, x) => a + x * x) - 2.0 * dot(sv, cv)
        }
        val best = costs.indexOf(costs.min) // first index = smallest code
        assert(r.getAs[Long](s"c$j") === best.toLong)
        assert(r.getAs[Double](s"err$j") ===
          math.max(dot(sv, sv) + costs(best), 0.0))
      }
    }
  }

  test("feature extraction: signed-byte range and L1 consistency") {
    val rows = run("mm_feature_extract").collect()
    assert(rows.length === Tables.table(spark, sf, "documents").count())
    rows.foreach { r =>
      val fs = (0 until 8).map(j => r.getAs[Long](s"f$j"))
      fs.foreach(f => assert(f >= -128L && f <= 127L))
      assert(r.getAs[Long]("feat_l1") === fs.map(math.abs).sum)
    }
  }

  test("salted join equals the unsalted join it replaces") {
    import graft.Det
    val plain = Tables.table(spark, sf, "lineitem")
      .join(Tables.table(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(Det.dsum(col("l_extendedprice"), 2).as("revenue"),
        count(lit(1)).as("line_cnt"))
      .orderBy(col("s_suppkey"))
      .collect().toSeq
    assert(run("join_skew_salted").collect().toSeq === plain)
  }
}

/** MinHash estimate vs exact Jaccard (SURVEY §5.4a): with 16 hashes the
  * estimator's σ = 0.125; assert every candidate pair is within 4σ. */
class MinHashPropertySpec extends AnyFunSuite {
  import TestSpark._

  test("minhash est_jaccard within 0.5 of exact shingle Jaccard") {
    val cand = Registry.queries("text_minhash_neardup")(spark, sf)
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
          |  i -> concat_ws(' ',
          |    element_at(split(text, ' '), i),
          |    element_at(split(text, ' '), least(i + 1, size(split(text, ' ')))),
          |    element_at(split(text, ' '), least(i + 2, size(split(text, ' ')))))))"""
          .stripMargin).as("sh"))
    val checked = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .withColumn("exact",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
      .select("doc_a", "doc_b", "est_jaccard", "exact")
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("exact")
      assert(math.abs(est - exact) <= 0.5,
        s"pair (${r.get(0)}, ${r.get(1)}): est=$est exact=$exact")
    }
  }

  test("null-safe join: null-keyed suppliers match EVERY null-keyed nation") {
    val rows = Registry.queries("join_null_safe")(spark, sf).collect()
    val nullNations = Tables.table(spark, sf, "nation")
      .filter(col("n_nationkey").isin(3, 4)).count()
    val nullSups = Tables.table(spark, sf, "supplier")
      .filter(col("s_nationkey").isin(3, 4))
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    assert(nullNations >= 2, "fixture must null out >= 2 nations")
    // each null-keyed supplier appears once per null-keyed nation — the
    // row multiplicity a plain equi-join cannot produce
    val bySup = rows.filter(_.getInt(3) == -1).groupBy(_.getLong(0))
    assert(bySup.keySet === nullSups)
    bySup.foreach { case (k, rs) =>
      assert(rs.length.toLong === nullNations, s"supplier $k")
    }
    // non-null rows joined 1:1
    assert(rows.filter(_.getInt(3) != -1).groupBy(_.getLong(0))
      .forall(_._2.length == 1))
  }

  test("time-range window matches a brute-force trailing-7d replay") {
    val rows = Registry.queries("window_time_range")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val byType = rows.groupBy(_._2)
    val week = 7L * 86400L * 1000000L
    rows.foreach { case (id, t, ts, cnt, sum) =>
      val frame = byType(t).filter(e => e._3 <= ts && e._3 >= ts - week)
      assert(frame.length.toLong === cnt, s"event $id cnt")
    }
    // spot-check the decimal sums on one type via the same frame rule
    val one = byType(byType.keys.min)
    val vals = Tables.table(spark, sf, "events")
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).toMap
    one.take(50).foreach { case (id, t, ts, _, sum) =>
      val expect = one.filter(e => e._3 <= ts && e._3 >= ts - week)
        .map(e => vals(e._1)).sum
      // the emitted double is the exact decimal cast once (D9)
      assert(sum === expect.toDouble, s"event $id sum")
    }
  }

  test("gap_fill: dense calendar, count conservation, real zero days") {
    val rows = Registry.queries("events_gap_fill")(spark, sf).collect()
    val types = rows.map(_.getString(0)).distinct
    val days = rows.map(_.getString(1)).distinct
    // dense: every (type, day) combination present exactly once
    assert(rows.length === types.length * days.length)
    // calendar spans the corpus extent contiguously (day strings sort
    // lexicographically = chronologically for yyyy-MM-dd)
    val sorted = days.sorted
    assert(sorted.head === sorted.min && sorted.last === sorted.max)
    // count conservation: filled counts sum to the tail event count
    val total = rows.map(_.getLong(2)).sum
    val raw = Tables.table(spark, sf, "events")
      .filter(col("value") > 250).count()
    assert(total === raw)
    // the fill is doing work at this SF: at least one zero-activity cell
    assert(rows.exists(_.getLong(2) == 0L),
      "expected at least one gap-filled zero day at sf0.001")
  }

  test("argmax: max_by/min_by match the window-derived arg rows") {
    val got = Registry.queries("agg_argmax")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("user_id"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      (t, rs.maxBy(_._3)._2, rs.minBy(_._3)._2)
    }
    assert(got === expect)
  }

  test("csv/json roundtrips reproduce nation exactly") {
    val nation = Tables.table(spark, sf, "nation").orderBy("n_nationkey")
      .collect().toSeq
    assert(Registry.queries("source_csv_roundtrip")(spark, sf)
      .collect().toSeq === nation)
    assert(Registry.queries("source_json_roundtrip")(spark, sf)
      .collect().toSeq === nation)
  }
}
