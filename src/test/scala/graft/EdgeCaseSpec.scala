package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-built micro-fixtures for the semantics corners the SF fixtures
  * can't isolate (SURVEY §5.3): null join keys, frame edges, exact session
  * thresholds, decimal-sum exactness, null propagation in the native dot. */
class EdgeCaseSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("equi-join drops null keys; full outer preserves both sides") {
    val l = Seq((Some(1), "a"), (None, "b"), (Some(3), "c"))
      .toDF("k", "lv")
    val r = Seq((Some(1), "x"), (None, "y"), (Some(4), "z"))
      .toDF("k", "rv")
    assert(l.join(r, "k").count() === 1) // nulls never equal
    val fo = l.join(r, l("k") <=> r("k"), "full_outer")
    // null-safe equal: the two null keys DO match under <=>
    assert(fo.count() === 4)
    val foPlain = l.join(r, l("k") === r("k"), "full_outer")
    assert(foPlain.count() === 5) // 1 match + 2 left-only + 2 right-only
  }

  test("running sum frame starts fresh at each partition") {
    val df = Seq(("u1", 1, 10.0), ("u1", 2, 5.0), ("u2", 1, 7.0))
      .toDF("u", "seq", "v")
    val w = Window.partitionBy("u").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = df.withColumn("rs", sum("v").over(w))
      .orderBy("u", "seq").collect()
    assert(out.map(_.getDouble(3)).toSeq === Seq(10.0, 15.0, 7.0))
  }

  test("moving average with fewer rows than the frame uses what exists") {
    val df = Seq(("d1", 10.0), ("d2", 20.0)).toDF("d", "v")
    val w = Window.orderBy("d").rowsBetween(-6, 0)
    val out = df.withColumn("ma",
      sum("v").over(w) / count(lit(1)).over(w)).orderBy("d").collect()
    assert(out.map(_.getDouble(2)).toSeq === Seq(10.0, 15.0))
  }

  test("session split is strict: gap of exactly 30min stays in-session") {
    val gap = 30L * 60 * 1000000
    val rows = Seq(
      (1L, 0L), (2L, gap), // gap exactly 30min from previous -> same session
      (3L, gap + gap + 1)) // gap 30min+1us -> new session
    val df = rows.toDF("event_id", "ts_us").withColumn("user_id", lit(7L))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sessions = df
      .withColumn("new_s", when(col("ts_us") - lag("ts_us", 1).over(w) > gap
        || lag("ts_us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_id", "sid").orderBy("event_id").collect()
    assert(sessions.map(_.getLong(1)).toSeq === Seq(1L, 1L, 2L))
  }

  test("Det.dsum is exact where double summation drifts") {
    // 0.1 summed 10 times is not 1.0 in binary; the decimal path is exact.
    val df = Seq.fill(10)(0.1).toDF("v")
    val exact = df.agg(Det.dsum(col("v"), 2).as("s")).head.getDouble(0)
    assert(exact === 1.0)
    // (plain sum(v) may or may not drift depending on partial-agg order —
    // which is precisely why dsum exists: its result never depends on it)
  }

  test("Det.davg divides by non-null count only (ADVICE r1)") {
    val df = Seq(Some(2.0), None, Some(4.0)).toDF("v")
    val avg = df.agg(Det.davg(col("v"), 2)).head.getDouble(0)
    assert(avg === 3.0)
  }

  test("Det.dsum's emitted double is the correctly-rounded exact sum " +
    "past 15 significant digits (the D9 boundary, pinned)") {
    // The sum below needs 17 significant digits — unrepresentable in
    // double, so the cast must round. Spark's decimal->double goes
    // through BigDecimal.doubleValue (correctly rounded); pin that the
    // emitted value IS the nearest double to the exact decimal, so the
    // only cross-engine exposure left is the ORACLE's cast (DuckDB's
    // int128 scaling can be 1 ulp off — tolerated by the scale sweeps,
    // never reachable at driver-graded row counts).
    val exact = new java.math.BigDecimal("84851274223.023965") // 17 digits
    // feed decimals directly (doubles could not carry these addends):
    // the (38,18)->(28,6) cast inside dsum is exact for scale<=6 values
    val df = Seq("84851274223.023960", "0.000005")
      .map(new java.math.BigDecimal(_)).toDF("v")
    val emitted = df.agg(Det.dsum(col("v"), 6).as("s")).head.getDouble(0)
    assert(emitted === exact.doubleValue,
      "dsum's double emission must be the correctly-rounded exact sum")
    // and the value genuinely sits past double's exact range: its
    // round-trip through double does NOT recover the decimal
    assert(new java.math.BigDecimal(exact.doubleValue).compareTo(exact) != 0)
  }

  test("Det.snapDecimal equals Spark's DECIMAL(28,12) cast at the edges") {
    // graph_pagerank's driver-side iteration relies on this equality to
    // reproduce dsumSnap's per-row snap: half-grid ties (positive and
    // negative round HALF_UP, away from zero), a sub-grid value, and a
    // magnitude that fills all 28 digits
    val xs = Seq(5e-13, -5e-13, 2.5e-12, 1e-13, 1e15, 0.1 + 0.2)
    val cast = xs.toDF("x").select(col("x").cast(DecimalType(28, 12)))
      .collect().map(_.getDecimal(0)).toSeq
    assert(xs.map(Det.snapDecimal(_, 12)) === cast)
    assert(cast.take(4).map(_.toPlainString) === Seq("0.000000000001",
      "-0.000000000001", "0.000000000003", "0.000000000000"))
    // one digit more than DECIMAL(28,12) holds fails loudly
    intercept[IllegalArgumentException](Det.snapDecimal(1e16, 12))
  }

  test("graft_dot matches HOF semantics on nulls and unequal lengths") {
    graft.plans.GraftFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Seq(1.0, 2.0), Seq(3.0, 4.0)),
        Row(null, Seq(1.0)),
        Row(Seq.empty[Double], Seq.empty[Double]),
        Row(Seq(1.0, 2.0, 3.0), Seq(1.0, 1.0)), // unequal → NULL (zip pads)
        Row(Seq[Any](1.0, null, 3.0), Seq(1.0, 1.0, 1.0)))), // null elem → NULL
      schema)
    val out = df.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      expr("""aggregate(zip_with(a, b, (x, y) -> x * y),
        |cast(0.0 as double), (acc, v) -> acc + v)""".stripMargin).as("hof"))
      .collect()
    assert(out(0).getDouble(0) === 11.0)
    assert(out(1).isNullAt(0))
    assert(out(2).getDouble(0) === 0.0)
    assert(out(3).isNullAt(0) && out(3).isNullAt(1)) // both NULL: equivalent
    assert(out(4).isNullAt(0) && out(4).isNullAt(1))
    // every row: native == hof (incl. null equality)
    out.foreach(r => assert(r.isNullAt(0) === r.isNullAt(1)
      && (r.isNullAt(0) || r.getDouble(0) === r.getDouble(1))))
  }

  test("graft_dot rejects non-array arguments with a typed error") {
    graft.plans.GraftFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.table(spark, sf, "embeddings")
        .select(call_function("graft_dot", col("vec_id"), col("embedding")))
        .collect()
    }
    assert(e.getMessage.contains("graft_dot expects array"))
  }

  test("GeoMean: known value and empty-group safety") {
    val geo = udaf(functions.ExtOps.GeoMean)
    val out = Seq(2.0, 8.0).toDF("v").agg(geo(col("v"))).head.getDouble(0)
    assert(math.abs(out - 4.0) < 1e-9)
  }

  test("GeoMean limb accumulation carries instead of wrapping Long") {
    val g = functions.ExtOps.GeoMean
    val nearFull = 900000000000000000L // 9e17 — two of these wrap a Long sum
    assert(g.merge((0L, nearFull, 1L), (0L, nearFull, 1L)) ===
      ((1L, 800000000000000000L, 2L)))
    assert(g.merge((0L, -nearFull, 1L), (0L, -nearFull, 1L)) ===
      ((-1L, -800000000000000000L, 2L)))
    // mixed signs stay normalized without a carry
    assert(g.merge((3L, nearFull, 1L), (-1L, -nearFull, 1L)) ===
      ((2L, 0L, 2L)))
  }

  test("pipeline_dedup_keep: kept set has no exact dups, drops near-dups") {
    val kept = Registry.queries("pipeline_dedup_keep")(spark, sf)
    val keptIds = kept.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.nonEmpty)
    // no two kept docs share a content hash
    val docs = Tables.table(spark, sf, "documents")
    val dupHashes = docs
      .filter(col("doc_id").isin(keptIds.toSeq.map(Long.box): _*))
      .groupBy(sha2(col("text"), 256)).count()
      .filter(col("count") > 1).count()
    assert(dupHashes === 0)
    // the higher doc of every strong near-dup candidate pair is dropped
    Registry.queries("text_minhash_neardup")(spark, sf)
      .filter(col("est_jaccard") >= 0.875).collect().foreach { r =>
        assert(!keptIds.contains(r.getAs[Long]("doc_b")),
          s"near-dup ${r.getAs[Long]("doc_b")} should have been dropped")
      }
  }

  test("pipeline_dedup_incremental: batch-vs-corpus drops only, batch dups kept") {
    val docs = Tables.table(spark, sf, "documents")
    val kept = Registry.queries("pipeline_dedup_incremental")(spark, sf)
      .collect()
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.nonEmpty)
    // only batch (src1) docs can appear
    assert(kept.forall(_.getAs[String]("source") === "src1"))
    // no kept batch doc shares a content hash with any corpus doc
    val corpusHashes = docs.filter(col("source") =!= "src1")
      .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSet
    val keptHashes = docs
      .filter(col("doc_id").isin(keptIds.toSeq.map(Long.box): _*))
      .select(sha2(col("text"), 256)).collect().map(_.getString(0))
    assert(keptHashes.forall(h => !corpusHashes.contains(h)))
    // no kept batch doc is a strong near-dup candidate of a corpus doc
    val corpusIds = docs.filter(col("source") =!= "src1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    Registry.queries("text_minhash_neardup")(spark, sf)
      .filter(col("est_jaccard") >= 0.875).collect().foreach { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        if (corpusIds.contains(a))
          assert(!keptIds.contains(b),
            s"batch doc $b near-dups corpus doc $a, must be dropped")
        if (corpusIds.contains(b))
          assert(!keptIds.contains(a),
            s"batch doc $a near-dups corpus doc $b, must be dropped")
      }
    // batch-INTERNAL exact dups are kept (incremental never self-dedups):
    // every src1 doc not dropped for a corpus reason must be present
    val batchIds = docs.filter(col("source") === "src1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val batchNearDropped = Registry.queries("text_minhash_neardup")(spark, sf)
      .filter(col("est_jaccard") >= 0.875).collect().flatMap { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        Seq(a -> b, b -> a).collect {
          case (d, o) if batchIds.contains(d) && corpusIds.contains(o) => d
        }
      }.toSet
    val batchExactDropped = docs
      .withColumn("h", sha2(col("text"), 256))
      .filter(col("source") === "src1")
      .join(docs.filter(col("source") =!= "src1")
        .select(sha2(col("text"), 256).as("h")).distinct(), Seq("h"),
        "left_semi")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptIds === batchIds -- batchExactDropped -- batchNearDropped)
  }

  test("minhash est_jaccard of identical docs is exactly 1") {
    val cand = Registry.queries("text_minhash_neardup")(spark, sf)
    // candidates at est 1.0 exist in the fixture corpus (near-identical
    // docs); every estimate is a multiple of 1/16 in [0, 1]
    cand.collect().foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      assert(e >= 0.0 && e <= 1.0 && (e * 16) == math.round(e * 16))
    }
  }

  test("Materialize.once keeps dirs distinct that sanitize identically") {
    // '/x/sf-1' and '/x/sf_1' both sanitize to '_x_sf_1' — the md5 digest
    // of the raw dir is what keeps their materialized paths apart
    def write(v: Long)(path: String): Unit =
      Seq((v, s"dir$v")).toDF("id", "tag")
        .write.mode("overwrite").parquet(path)
    val a = Materialize.once(spark, "edgecase", "/x/sf-1")(write(1L))
    val b = Materialize.once(spark, "edgecase", "/x/sf_1")(write(2L))
    assert(a.select("tag").head.getString(0) === "dir1")
    assert(b.select("tag").head.getString(0) === "dir2")
    // and the memo returns the SAME dataset on re-entry, not a rewrite
    val a2 = Materialize.once(spark, "edgecase", "/x/sf-1") { _ =>
      fail("second call for an already-written dir must not re-write")
    }
    assert(a2.select("id").head.getLong(0) === 1L)
  }

  test("nearestListMap honors sparse list ids and smallest-id tie-break") {
    graft.plans.GraftFunctions.register(spark)
    // Lloyd rounds can drop an unassigned list, so ids may be sparse
    // (0, 2, 5): the argmax POSITION must map through the id table —
    // the fixtures never exercise this, so pin it directly.
    val cent: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(1.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0),
      5L -> Seq(0.0, 0.0, 1.0))
    val e = Seq(
      (10L, Seq(0.9, 0.1, 0.0)),  // nearest: list 0
      (11L, Seq(0.1, 0.9, 0.0)),  // nearest: list 2
      (12L, Seq(0.0, 0.1, 0.9)),  // nearest: list 5
      (13L, Seq(1.0, 1.0, 0.0))   // exact tie 0 vs 2 → smallest id (0)
    ).toDF("vec_id", "u")
      .withColumn("u", expr("transform(u, x -> cast(x as double))"))
    val got = graft.operators.PipelineOps.nearestListMap(e, cent)
      .select("vec_id", "list_id").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(10L -> 0L, 11L -> 2L, 12L -> 5L, 13L -> 0L))
  }

  test("codebook cache never aliases across input datasets (r8)") {
    graft.plans.GraftFunctions.register(spark)
    // A parquet LogicalRelation's CANONICALIZED plan prints columns but
    // no file path, so structurally identical reads of two SF dirs render
    // the same string — the train-once memo must still train separately
    // (it reused the sf0.001 codebook for sf0.1 before the planKey fix,
    // caught by the nprobe recall sweep reading garbage recall).
    def emb(d: String) = Tables.table(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val small = emb("/root/testdata/sf0.001")
    val big = emb("/root/testdata/sf0.1")
    assert(small.queryExecution.logical.canonicalized.toString ===
      big.queryExecution.logical.canonicalized.toString,
      "precondition: canonical plans alias (else this test is vacuous)")
    val cbSmall = graft.operators.PipelineOps
      .trainCoarse(small, nlists = 4, lloydIters = 1)
    val cbBig = graft.operators.PipelineOps
      .trainCoarse(big, nlists = 4, lloydIters = 1)
    assert(cbSmall !== cbBig,
      "distinct datasets must train distinct codebooks")
  }
}
