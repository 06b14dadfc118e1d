package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-codebook ANN twins (VERDICT r6 task 1): the IVF / IVF-PQ *search
  * algebra* — probe join, flat-LUT ADC scoring, shortlist, exact rerank —
  * hash-checked against DuckDB.
  *
  * The production keys (`vec_ann_ivf`, `vec_ann_ivfpq` in
  * [[PipelineOps]]) train their codebooks with k-means, whose centroids
  * are engine-derived doubles → rows-only by design (D3). But given a
  * FIXED codebook the entire search pipeline is deterministic: every
  * score is a sequential fold over identical doubles (floats widen
  * exactly; Spark's `aggregate`/`graft_dot` and DuckDB's `list_reduce`
  * fold left-to-right; sqrt and division are IEEE-correctly-rounded), and
  * every ranking tie-breaks on an integer id. So these keys embed the
  * codebook as a shared integer FORMULA — the `scalar_trig` literal-table
  * precedent (SURVEY §9), generated rather than spelled out because
  * 4×64 + 16×16 literal doubles would be noise:
  *
  *   coarse centroid l, component j (1-based):  (l·31 + j·17) mod 7 − 3
  *   PQ cell (sub s, code c), component j:   ((s·5 + c·3 + j·11) mod 7 − 3)/8
  *
  * Small exact integers (and exact eighths — divisor is a power of two),
  * identical in both formulations; coarse centroids are unit-normalized
  * on both sides before use. The search runs over unit-normalized corpus
  * vectors exactly like the trained keys, so a regression in the probe
  * join, the LUT lookup arithmetic, the shortlist window, or the rerank
  * join now fails the driver's hash gate instead of only AnnRecallSpec.
  *
  * Scale shape is the trained keys': list assignment and PQ codes are
  * ONE map-side projection over literal codebook arrays (no corpus
  * shuffle anywhere — see [[PipelineOps]]'s nearestListMap rationale),
  * the tiny probe/LUT frames broadcast, candidates are scored from m
  * `element_at` lookups into one flat LUT array, and raw vectors are
  * touched only for the ≤20 reranked rows per query.
  */
object AnnFixed {
  import Det._

  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private val sqlDot =
    (a: String, b: String) =>
      s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (x, y) -> x + y)"

  /** (vec_id, u) via the production [[PipelineOps.normFrame]] — the
    * fixed keys deliberately run the SAME helpers the trained keys run
    * (normFrame / nearestListMap / pqCodeCols), so the oracle hash
    * guards the production code path, not a parallel copy of it. */
  private def normed(s: SparkSession, dir: String): DataFrame =
    PipelineOps.normFrame(
      Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))

  private val sqlNormed =
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding::DOUBLE[],
       |    x -> x / sqrt(${sqlDot("embedding::DOUBLE[]",
                 "embedding::DOUBLE[]")})) AS u
       |  FROM embeddings)"""

  /** The 4 unit-normalized coarse centroids, computed DRIVER-SIDE from
    * the integer formula: the fold runs left-to-right like graft_dot /
    * list_reduce, and Math.sqrt / division are IEEE-correctly-rounded,
    * so these doubles are bit-identical to both engines' in-plan
    * normalization of the same integers. */
  private val coarseCu: Seq[Seq[Double]] = (0 until 4).map { l =>
    val cv = (1 to 64).map(j => ((l * 31 + j * 17) % 7 - 3).toDouble)
    val n = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
    cv.map(_ / n)
  }

  /** Same centroids as a 4-row frame, for the probe-selection window. */
  private def coarseCb(s: SparkSession): DataFrame = {
    import s.implicits._
    coarseCu.zipWithIndex.map { case (cu, l) => (l.toLong, cu) }
      .toDF("list_id", "cu")
  }

  /** PQ codebook cells in (sub·4 + code) order: exact integers over 8
    * (a power of two), bit-identical to the oracle's in-SQL formula. */
  private val pqCells: Seq[Seq[Double]] =
    (for (s0 <- 0 until 4; c <- 0 until 4) yield
      (1 to 16).map(j =>
        ((s0 * 5 + c * 3 + j * 11) % 7 - 3) / 8.0).toSeq).toSeq

  /** 32 fixed SRP hyperplanes (2 bands × up to 16 bits — band `b` owns
    * planes b·16+i) for the hash-checked LSH twin: small exact integers
    * from shared formulas, like the codebooks above. The sign of v·plane
    * is scale-invariant, so signatures are computed on the raw
    * (double-widened) vectors.
    *
    * Planes 0-7 keep the original `%9` lattice formula (band 0's shipped
    * low bits). Planes ≥ 8 use a `%13` formula with a nonlinear `(p·j)%5`
    * term: the original formula's j-coefficient collapses mod 9, so its
    * planes repeat with period 9 — the old band 1 (planes 8-15) shared 7
    * of its 8 planes with band 0 and contributed almost no bucket
    * diversity. The new family is 32 distinct, sign-balanced planes
    * (checked by LshSpec). */
  private[graft] val srpPlanes: Seq[Seq[Double]] = (0 until 32).map(p =>
    (1 to 64).map(j =>
      (if (p < 8) (p * 29 + j * 13) % 9 - 4
       else (p * 31 + j * 17 + (p * j) % 5) % 13 - 6).toDouble))

  private def sqlSrpPlane(p: Int): String =
    if (p < 8)
      s"list_transform(generate_series(1, 64), " +
        s"j -> (($p * 29 + j * 13) % 9 - 4)::DOUBLE)"
    else
      s"list_transform(generate_series(1, 64), " +
        s"j -> (($p * 31 + j * 17 + ($p * j) % 5) % 13 - 6)::DOUBLE)"

  /** Occupancy-adaptive SRP band width: number of sign bits per band for
    * an `n`-vector corpus, targeting ~8 vectors per (band, signature)
    * bucket — `bitLength((n-1) / 8)` clamped to [8, 16]. Fixed-width
    * banding is quadratic in disguise: with 8 bits forever, buckets
    * deepen linearly with the corpus and candidate PAIRS grow ~n² even
    * when the new data is genuinely new (the 10× grown-corpus sweep
    * measured vec_neardup_srp_fixed at 47× per-row shuffle bytes).
    * Growing the band width with log₂(n) holds expected occupancy — and
    * per-row candidate work — constant at any corpus size; production
    * LSH systems size bands exactly this way. The target is 8, not 64:
    * the shipped 2000-vector fixture already sits at occupancy ~8 under
    * the 8-bit clamp floor, so a target of 8 means there is no
    * occupancy "ramp" between the clamped regime and the adaptive one —
    * candidate bytes stay per-row from the first widening on (a 64
    * target measured 141× per-row at 30× purely from ramping 7.8 → 58).
    * Pure integer arithmetic (no libm log2 whose last-ulp could flip a
    * boundary cross-engine); the oracle twin is an integer CASE ladder
    * over the same thresholds. Recall at a given width is the bands'
    * job, not the width's: the production key (vec_neardup_lsh) runs 4
    * bands × 16 bits; this fixed twin keeps 2 bands and hash-checks the
    * banding ALGEBRA (exact duplicates collide at any width since sign
    * bits are scale-invariant). */
  private[graft] def srpBits(n: Long): Int = {
    val m = math.max(0L, (n - 1) / 8)
    math.min(16, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(m)))
  }

  /** Oracle CTE `nb(bits)`: the [[srpBits]] ladder over count(embeddings). */
  private val sqlSrpBitsCte: String =
    """nb AS (SELECT CASE
      |  WHEN m < 256 THEN 8 WHEN m < 512 THEN 9 WHEN m < 1024 THEN 10
      |  WHEN m < 2048 THEN 11 WHEN m < 4096 THEN 12 WHEN m < 8192 THEN 13
      |  WHEN m < 16384 THEN 14 WHEN m < 32768 THEN 15 ELSE 16 END AS bits
      |  FROM (SELECT (count(*) - 1) // 8 AS m FROM embeddings))"""
      .stripMargin

  private val sqlCoarseCb =
    s"""cb AS (SELECT l AS list_id,
       |  list_transform(generate_series(1, 64),
       |    j -> ((l * 31 + j * 17) % 7 - 3)::DOUBLE) AS cv
       |  FROM generate_series(0, 3) t(l)),
       |cbn AS (SELECT list_id,
       |  list_transform(cv, x -> x / sqrt(${sqlDot("cv", "cv")})) AS cu
       |  FROM cb)"""

  /** Coarse centroids in [[PipelineOps.nearestListMap]]'s shape. */
  private val coarseCent: Seq[(Long, Seq[Double])] =
    coarseCu.zipWithIndex.map { case (cu, l) => (l.toLong, cu) }

  /** Nearest coarse list per vector (argmax cosine, ties to the smallest
    * list_id), u carried through for the scoring stage — the production
    * map-side [[PipelineOps.nearestListMap]], fed the literal centroids. */
  private def assign(e: DataFrame): DataFrame =
    PipelineOps.nearestListMap(e, coarseCent)

  private val sqlAssign =
    s"""assign AS (SELECT vec_id, list_id, u FROM (
       |  SELECT e.vec_id, c.list_id, e.u,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqlDot("e.u", "c.cu")} DESC, c.list_id ASC) AS rn
       |  FROM e CROSS JOIN cbn c) WHERE rn = 1)"""

  /** Query set (first 8 by vec_id) and its nprobe=2 probed lists. */
  private def probeOf(e: DataFrame, cb: DataFrame): (DataFrame, DataFrame) = {
    val q = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))
    val probe = q.crossJoin(broadcast(cb))
      .withColumn("sim", dot(col("qu"), col("cu")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("list_id").asc)))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("list_id"))
    (q, probe)
  }

  private val sqlProbe =
    s"""q AS (SELECT vec_id AS q_id, u AS qu FROM e
       |  ORDER BY vec_id LIMIT 8),
       |probe AS (SELECT q_id, list_id FROM (
       |  SELECT q.q_id, c.list_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${sqlDot("q.qu", "c.cu")} DESC, c.list_id ASC) AS rn
       |  FROM q CROSS JOIN cbn c) WHERE rn <= 2)"""

  /** IVF-flat top-3 with the fixed codebook (probe 2 of 4 lists, exact
    * cosine over the probed lists, ids tie-break) — the search body
    * shared by `vec_ann_ivf_fixed` and `pipeline_semantic_search`. */
  private def ivfFixedTop3(s: SparkSession, dir: String): DataFrame = {
    val e = normed(s, dir)
    val a = assign(e)
    val (q, probe) = probeOf(e, coarseCb(s))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    broadcast(probe).join(a, "list_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(q), "q_id")
      .withColumn("cos_sim", dot(col("qu"), col("u")))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
        col("list_id").cast("long").as("list_id"), col("cos_sim"))
  }

  /** Oracle CTE twins of [[ivfFixedTop3]] (`scored`, `ranked`); requires
    * the normed/codebook/assign/probe CTEs in scope. */
  private def sqlIvfTop3Ctes: String =
    s"""scored AS (
       |  SELECT p.q_id, a.vec_id, a.list_id,
       |    ${sqlDot("q.qu", "a.u")} AS cos_sim
       |  FROM probe p JOIN assign a USING (list_id)
       |  JOIN q ON q.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, list_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |  FROM scored)""".stripMargin

  val qs: Seq[Q] = Seq(
    // IVF-flat with the fixed codebook: probe 2 of 4 lists, exact cosine
    // over the probed lists' vectors, top-3 per query.
    Q("vec_ann_ivf_fixed",
      (s, dir) => Det.orderedDomain(ivfFixedTop3(s, dir),
        col("q_id"), col("rn")),
      Some(sql(s"""WITH $sqlNormed,
        |$sqlCoarseCb,
        |$sqlAssign,
        |$sqlProbe,
        |$sqlIvfTop3Ctes
        |SELECT q_id, rn::BIGINT AS rn, vec_id AS neighbor_id,
        |  list_id::BIGINT AS list_id, cos_sim
        |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn"""))),

    // Semantic RETRIEVAL over documents (r8): the ANN search composed
    // with its payload join — the read path of a RAG/doc-search system,
    // and the reason the engine stores doc_id = vec_id. The tiny top-3
    // result (24 rows) broadcasts against the documents scan, so
    // retrieval adds ONE metadata scan and zero shuffles beyond the
    // search itself; at 100 TB the payload fetch is a broadcast-hash
    // probe of the result into the (column-pruned) documents table.
    Q("pipeline_semantic_search",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id").as("neighbor_id"), col("lang"),
            col("source"), col("n_chars"))
        broadcast(ivfFixedTop3(s, dir))
          .join(docs, "neighbor_id")
          .select(col("q_id"), col("rn"), col("neighbor_id"),
            col("cos_sim"), col("lang"), col("source"), col("n_chars"))
          .transform(df => Det.orderedDomain(df, col("q_id"), col("rn")))
      },
      Some(sql(s"""WITH $sqlNormed,
        |$sqlCoarseCb,
        |$sqlAssign,
        |$sqlProbe,
        |$sqlIvfTop3Ctes
        |SELECT r.q_id, r.rn::BIGINT AS rn, r.vec_id AS neighbor_id,
        |  r.cos_sim, d.lang, d.source, d.n_chars
        |FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
        |WHERE r.rn <= 3 ORDER BY r.q_id, rn"""))),

    // Offline recall@3 evaluation of the IVF search against brute-force
    // ground truth — the eval job every ANN deployment runs before
    // trusting an index (AnnRecallSpec guards the TRAINED keys in
    // ScalaTest; this key puts the same evaluation ALGEBRA under the
    // driver's hash gate). Ground truth is the exact top-3 by unit-vector
    // dot (identical ranking to cosine), the candidate is ivfFixedTop3,
    // and recall@3 = |gt ∩ ivf| / 3 per query. Both sides are
    // deterministic (fixed codebook, id tie-breaks), so the overlap count
    // is an exact integer and the only float emit is one long/double
    // division. Cost shape: evaluating two methods inherently pays each
    // method's corpus pass (one brute scoring scan + one assignment
    // scan); the overlap join is 24×24 rows — broadcast, domain-sized.
    Q("pipeline_eval_recall",
      (s, dir) => {
        val e = normed(s, dir)
        val q = e.orderBy(col("vec_id")).limit(8)
          .select(col("vec_id").as("q_id"), col("u").as("qu"))
        val wq = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("vec_id").asc)
        val gt = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", dot(col("qu"), col("u")))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("vec_id"))
        val ivf = ivfFixedTop3(s, dir)
          .select(col("q_id"), col("neighbor_id").as("vec_id"))
        val hits = gt.join(ivf, Seq("q_id", "vec_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
        q.select(col("q_id")).join(broadcast(hits), Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double")
              / lit(3.0).cast("double"), 6).as("recall_r6"))
          .transform(df => Det.orderedDomain(df, col("q_id")))
      },
      Some(sql(s"""WITH $sqlNormed,
        |$sqlCoarseCb,
        |$sqlAssign,
        |$sqlProbe,
        |$sqlIvfTop3Ctes,
        |gt AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, e2.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY ${sqlDot("q.qu", "e2.u")} DESC, e2.vec_id ASC) AS rn
        |  FROM e e2 CROSS JOIN q WHERE e2.vec_id <> q.q_id) WHERE rn <= 3),
        |hits AS (
        |  SELECT g.q_id, count(*)::BIGINT AS n_hits
        |  FROM gt g JOIN ranked i
        |    ON i.q_id = g.q_id AND i.vec_id = g.vec_id AND i.rn <= 3
        |  GROUP BY g.q_id)
        |SELECT q.q_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
        |    / CAST(3 AS DOUBLE), 6) AS recall_r6
        |FROM q LEFT JOIN hits h USING (q_id) ORDER BY q_id"""))),

    // IVF-PQ with both codebooks fixed: coarse probe bounds candidates,
    // 4×4 PQ codes + a per-query flat LUT (sorted by sub·k+code, summed
    // in fixed left-to-right order) build the ADC shortlist, top-20 per
    // query reranked by exact cosine, top-3 emitted.
    Q("vec_ann_ivfpq_fixed",
      (s, dir) => {
        import s.implicits._
        val e = normed(s, dir)
        val (q, probe) = probeOf(e, coarseCb(s))
        // coarse list + all 4 PQ codes in ONE map-side projection over
        // the literal codebooks — the production nearestListMap +
        // pqCodeCols pair, exactly as ivfpqSearch composes them, so the
        // oracle hash pins those helpers' argmax/argmin algebra.
        val pqCb = pqCells.zipWithIndex
          .map { case (cv, i) => (i / 4, i % 4, cv) }
        val a = PipelineOps.pqCodeCols(assign(e)
            .select(col("vec_id"), col("list_id"),
              col("u").as("embedding")),
          pqCb, 4, 4)
          .drop("embedding" +: (0 until 4).map(j => s"cost$j"): _*)
        // per-query flat LUT: entry sub·4+code = qu_sub · cv
        val pcb = pqCb.toDF("sub", "code", "cv")
        val lutArr = q.crossJoin(broadcast(pcb))
          .withColumn("idx", col("sub") * 4 + col("code"))
          .withColumn("lutval", dot(expr("slice(qu, sub * 16 + 1, 16)"),
            col("cv")))
          .groupBy(col("q_id"))
          .agg(expr("""transform(
            |  array_sort(collect_list(struct(idx, lutval))),
            |  x -> x.lutval)""".stripMargin).as("la"))
        val shortlist = broadcast(probe).join(a, "list_id")
          .filter(col("vec_id") =!= col("q_id"))
          .join(broadcast(lutArr), "q_id")
          // fused ADC score — same algebra as the oracle's unrolled
          // list_extract chain (see plans.AdcScore; r14 task 7)
          .withColumn("approx_sim", call_function("graft_adc", col("la"),
            array((0 until 4).map(j => col(s"c$j")): _*), lit(4)))
          .withColumn("arn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("approx_sim").desc, col("vec_id").asc)))
          .filter(col("arn") <= 20)
          .select(col("q_id"), col("vec_id"), col("list_id"),
            col("approx_sim"))
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
        // shortlist (≤20 rows/query) broadcast by construction, so the
        // rerank join can never shuffle the corpus by vec_id (ADVICE r7)
        broadcast(shortlist)
          .join(e, "vec_id")
          .join(broadcast(q), "q_id")
          .withColumn("cos_sim", dot(col("qu"), col("u")))
          .withColumn("rn", row_number().over(wTop).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
            col("list_id").cast("long").as("list_id"), col("approx_sim"),
            col("cos_sim"))
          .transform(df => Det.orderedDomain(df, col("q_id"), col("rn")))
      },
      Some(sql(s"""WITH $sqlNormed,
        |$sqlCoarseCb,
        |$sqlAssign,
        |$sqlProbe,
        |pcb AS (SELECT s AS sub, c AS code,
        |  list_transform(generate_series(1, 16),
        |    j -> ((s * 5 + c * 3 + j * 11) % 7 - 3) / 8.0) AS cv
        |  FROM generate_series(0, 3) ts(s)
        |  CROSS JOIN generate_series(0, 3) tc(c)),
        |sub AS (SELECT vec_id, s AS sub,
        |  list_slice(u, s * 16 + 1, s * 16 + 16) AS sv
        |  FROM e CROSS JOIN generate_series(0, 3) t(s)),
        |costs AS (SELECT v.vec_id, v.sub, p.code,
        |  ${sqlDot("p.cv", "p.cv")} - 2.0 * ${sqlDot("v.sv", "p.cv")}
        |    AS cost
        |  FROM sub v JOIN pcb p USING (sub)),
        |codesl AS (SELECT vec_id, sub, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY cost ASC, code ASC) AS rn FROM costs) WHERE rn = 1),
        |codes AS (SELECT vec_id,
        |  max(CASE WHEN sub = 0 THEN code END) AS c0,
        |  max(CASE WHEN sub = 1 THEN code END) AS c1,
        |  max(CASE WHEN sub = 2 THEN code END) AS c2,
        |  max(CASE WHEN sub = 3 THEN code END) AS c3
        |  FROM codesl GROUP BY vec_id),
        |lut AS (SELECT q.q_id, p.sub * 4 + p.code AS idx,
        |  ${sqlDot(
             "list_slice(q.qu, p.sub * 16 + 1, p.sub * 16 + 16)", "p.cv")}
        |    AS lutval
        |  FROM q CROSS JOIN pcb p),
        |lutarr AS (SELECT q_id, list(lutval ORDER BY idx) AS la
        |  FROM lut GROUP BY q_id),
        |scored AS (SELECT p.q_id, a.vec_id, a.list_id,
        |  list_extract(la, 0 * 4 + c0 + 1) + list_extract(la, 1 * 4 + c1 + 1)
        |  + list_extract(la, 2 * 4 + c2 + 1)
        |  + list_extract(la, 3 * 4 + c3 + 1) AS approx_sim
        |  FROM probe p JOIN assign a USING (list_id)
        |  JOIN codes c ON c.vec_id = a.vec_id
        |  JOIN lutarr l ON l.q_id = p.q_id
        |  WHERE a.vec_id <> p.q_id),
        |shortlist AS (SELECT q_id, vec_id, list_id, approx_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY approx_sim DESC, vec_id ASC) AS arn
        |  FROM scored) WHERE arn <= 20),
        |rerank AS (SELECT s.q_id, s.vec_id, s.list_id, s.approx_sim,
        |  ${sqlDot("q.qu", "e.u")} AS cos_sim
        |  FROM shortlist s JOIN e ON e.vec_id = s.vec_id
        |  JOIN q ON q.q_id = s.q_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos_sim DESC, vec_id ASC) AS rn
        |  FROM rerank)
        |SELECT q_id, rn::BIGINT AS rn, vec_id AS neighbor_id,
        |  list_id::BIGINT AS list_id, approx_sim, cos_sim
        |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn"""))),

    // Fixed-plane SRP-banded LSH near-dup pairs (the hash-checked twin
    // of vec_neardup_lsh, whose graft_srp_sig planes are engine-only):
    // 2 bands × srpBits(n) sign bits from the literal hyperplanes —
    // occupancy-adaptive width, so buckets stay ~64 deep at any corpus
    // size instead of deepening linearly (the fixed 8-bit version
    // measured 47× per-row shuffle bytes on the 10× grown sweep) —
    // candidate pairs only within a (band, signature) bucket, buckets
    // larger than 1000 dropped (mirrored HAVING twin), multi-band
    // collisions deduped to (min band, cos_sim). Signatures are computed
    // map-side on the raw vectors (sign is scale-invariant); every bit
    // compares an identical double against zero, so the bucket JOIN of
    // the 100 TB near-dup path is bit-exact across engines.
    Q("vec_neardup_srp_fixed",
      (s, dir) => {
        val capped = srpCapped(s, dir)
        val x = capped.select(col("band"), col("bsig"),
          col("vec_id").as("a_id"), col("u").as("ua"))
        val y = capped.select(col("band").as("y_band"),
          col("bsig").as("y_bsig"), col("vec_id").as("b_id"),
          col("u").as("ub"))
        x.join(y, col("band") === col("y_band")
            && col("bsig") === col("y_bsig")
            && col("a_id") < col("b_id"))
          .select(col("band"), col("a_id"), col("b_id"),
            dot(col("ua"), col("ub")).as("cos_sim"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(min(col("band")).cast("long").as("band"),
            max(col("cos_sim")).as("cos_sim"))
          .select(col("band"), col("a_id"), col("b_id"), col("cos_sim"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(sql(s"""WITH $sqlSrpCappedCtes,
        |pairs AS (SELECT x.band, x.vec_id AS a_id, y.vec_id AS b_id,
        |  ${sqlDot("x.u", "y.u")} AS cos_sim
        |  FROM capped x JOIN capped y
        |  ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id)
        |SELECT min(band)::BIGINT AS band, a_id, b_id,
        |  max(cos_sim) AS cos_sim
        |FROM pairs GROUP BY a_id, b_id ORDER BY a_id, b_id"""))),

    // Embedding-space (semantic) dedup over documents (VERDICT r7 task 1)
    // — the missing dedup modality: exact dedup catches byte-identical
    // text, minhash/SimHash catch lexical overlap, but paraphrases only
    // collide in EMBEDDING space. Composition (the production fuzzy-dedup
    // pattern): documents join embeddings on doc_id = vec_id; vectors are
    // SRP-banded with the fixed literal hyperplanes (no corpus shuffle —
    // signatures are a map-side projection), candidate pairs only within
    // a capped (band, signature) bucket, cosine ≥ 0.35 pairs drop the
    // LARGER doc_id, unioned with the sha256 exact keep-set (the
    // pipeline_dedup_keep_banded shape). Every number is hash-checked:
    // sign bits and cosines are identical left-to-right folds in both
    // engines, and 0.35 is a threshold on a bit-identical double (the
    // vec_dedup_threshold precedent). At 100 TB: banding bounds candidate
    // pairs to bucket-local work exactly as text_neardup_banded does —
    // never all-pairs.
    Q("pipeline_dedup_semantic",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val exactCanonical = docs
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        docs
          .join(exactCanonical, Seq("doc_id"), "left_semi")
          .join(srpNearDrops(s, dir), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH $sqlSrpCappedCtes, $sqlSrpDropsCte,
        |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY sha256(text))
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN exact_keep USING (doc_id)
        |ANTI JOIN drops USING (doc_id)
        |ORDER BY doc_id"""))),

    // Incremental batch-vs-corpus SEMANTIC dedup (r8): the embedding-
    // space twin of pipeline_dedup_incremental_banded, completing the
    // dedup matrix — {exact, lexical, semantic} × {full-corpus,
    // incremental} all hash-checked. Batch = source 'src1'; a batch doc
    // drops when its sha256 already exists in the corpus or it forms a
    // cosine ≥ 0.35 SRP-bucket pair with a CORPUS embedding
    // (batch-internal near-dups deliberately kept — they're the full
    // pass's job). Candidate pairs are enumerated batch×corpus directly,
    // never corpus×corpus (the r7 incremental lesson: the discarded
    // majority re-pays the full-dedup quadratic term); the bucket cap
    // stays corpus-wide.
    Q("pipeline_dedup_semantic_incremental",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        // source rides the banding (srpCappedWith) instead of a post-cap
        // vec_id enrichment join — see the srpCappedWith scaladoc
        val cs = srpCappedWith(s, dir, "source")
        val xb = cs.filter(col("source") === "src1")
          .select(col("band"), col("bsig"), col("vec_id").as("a_id"),
            col("u").as("ua"))
        val yc = cs.filter(col("source") =!= "src1")
          .select(col("band").as("y_band"), col("bsig").as("y_bsig"),
            col("vec_id").as("b_id"), col("u").as("ub"))
        val nearDrops = xb.join(yc, col("band") === col("y_band")
            && col("bsig") === col("y_bsig"))
          .filter(dot(col("ua"), col("ub")) >= 0.35)
          .select(col("a_id").as("doc_id")).distinct()
        val corpusHashes = docs.filter(col("source") =!= "src1")
          .select(sha2(col("text"), 256).as("h")).distinct()
        docs.filter(col("source") === "src1")
          .withColumn("h", sha2(col("text"), 256))
          .join(corpusHashes, Seq("h"), "left_anti")
          .join(nearDrops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH $sqlSrpCappedCtes,
        |cs AS (SELECT c.*, d.source FROM capped c
        |  JOIN documents d ON d.doc_id = c.vec_id),
        |drops AS (SELECT DISTINCT x.vec_id AS doc_id
        |  FROM cs x JOIN cs y
        |  ON x.band = y.band AND x.bsig = y.bsig
        |  WHERE x.source = 'src1' AND y.source <> 'src1'
        |    AND ${sqlDot("x.u", "y.u")} >= 0.35),
        |ch AS (SELECT DISTINCT sha256(text) AS h FROM documents
        |  WHERE source <> 'src1'),
        |b AS (SELECT doc_id, lang, source, n_chars, sha256(text) AS h
        |  FROM documents WHERE source = 'src1')
        |SELECT doc_id, lang, source, n_chars FROM b
        |ANTI JOIN ch USING (h)
        |ANTI JOIN drops USING (doc_id)
        |ORDER BY doc_id"""))),

    // End-to-end curation pipeline (r8) — the composition a training-data
    // user actually runs, every stage the hash-checked shape it was
    // verified in individually: quality gate (text_quality_score's exact
    // integer arithmetic — no double ever compared to a boundary), lang
    // gate, exact sha256 canonicalization, embedding-space near-dup drop
    // (fixed-plane SRP bands), and train/val/test split assignment
    // (sample_hash_bucket's md5-derived bucket). At 100 TB: quality +
    // lang + split are narrow map stages fused into the scan, exact
    // dedup is one hash aggregate, the semantic drop is the capped
    // banded join — no stage is all-pairs and nothing shuffles the
    // corpus more than once.
    Q("pipeline_curate",
      (s, dir) => curateKept(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("split"),
          col("n_tokens"),
          (col("qscaled").cast("double") / lit(1000000.0))
            .as("quality_r6"))
        .orderBy(col("doc_id")),
      Some(sql(s"""WITH $sqlSrpCappedCtes, $sqlSrpDropsCte,
        |$sqlCurateKeptCtes
        |SELECT doc_id, lang, source, split, n_tokens,
        |  (CAST(qscaled AS DOUBLE) / 1000000.0) AS quality_r6
        |FROM kept ORDER BY doc_id"""))),

    // The full training-data MATERIALIZATION (r8) — what a user runs
    // after curation to produce tensors: the curated train split is
    // tokenized against a frequency-ranked vocabulary built on that same
    // curated corpus (the production order: tokenizer trains on what
    // survives curation, not on raw crawl), packed into fixed-length
    // context chunks of 32, and the chunks dealt into 8 training shards
    // by a deterministic md5-derived shuffle with dense per-shard
    // positions — curate → tokenize → pack → shard, every stage the
    // hash-checked shape of its standalone key (pipeline_curate,
    // text_tokenize_ids, text_chunk_pack, pipeline_shuffle_shard). At
    // 100 TB: the vocab is a broadcast (token types, not token count),
    // packing is one groupBy(doc_id), the shard deal is one 8-way hash
    // exchange — nothing here shuffles more than the curate stages
    // already did, and a production writer replaces the rank window
    // with repartition(shard).sortWithinPartitions(hk).write.
    Q("pipeline_pretokenize",
      (s, dir) => {
        // Checkpoint the curated train split ONCE (r17, guide §3.3 /
        // §2.4): this plan consumes `kept` three times — the vocab
        // rank's range sort evaluates its input twice (RangePartitioner
        // sampling + shuffle map) and the tokenize-join side once more —
        // and without a lineage cut each evaluation replayed the ENTIRE
        // curate chain (documents gates + sha256 canonical agg + the SRP
        // band window + pair join over embeddings: 15 parquet scans and
        // 41 Exchanges in the one main plan, plus the same chain twice
        // again inside the eager rank). One eager localCheckpoint
        // materializes the (doc_id, text) survivors and every pass reads
        // the pinned blocks — at 100 TB the curated corpus is stored
        // once (MEMORY_AND_DISK, spills gracefully; a production
        // pretokenizer persists this exact frame as the curation
        // output) instead of re-shuffling the corpus 3×. The word-count
        // aggregate gets the same cut: vocabulary-sized (types, not
        // tokens — Heaps' law keeps it ≪ corpus), and it spares the
        // rank's second full tokenize pass. Results are byte-identical:
        // a checkpoint pins the same rows the plan produced.
        val kept = curateKept(s, dir).filter(col("split") === "train")
          .select(col("doc_id"), col("text"))
          .localCheckpoint()
        val tokens = kept.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        val vocab = PipelineOps.vocabOfCounts(
          tokens.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
            .localCheckpoint())
        val chunks = tokens.join(broadcast(vocab), "word")
          .groupBy(col("doc_id"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(pos, id))), x -> x.id)")
            .as("ids"))
          .select(col("doc_id"), posexplode(expr(
            """transform(sequence(0, (size(ids) + 31) div 32 - 1),
              |  i -> slice(ids, i * 32 + 1, 32))""".stripMargin))
            .as(Seq("chunk_idx", "chunk")))
        val wh = PipelineOps.whExpr(
          "concat('shard|', CAST(doc_id AS STRING), ':', " +
            "CAST(chunk_idx AS STRING))")
        chunks
          .withColumn("hk", expr(wh))
          .withColumn("shard", pmod(col("hk"), lit(8L)))
          .withColumn("pos",
            row_number().over(Window.partitionBy(col("shard"))
              .orderBy(col("hk"), col("doc_id"), col("chunk_idx")))
              .cast("long"))
          .select(col("shard"), col("pos"), col("doc_id"),
            col("chunk_idx").cast("long").as("chunk_idx"),
            size(col("chunk")).cast("long").as("chunk_len"),
            concat_ws(",", expr("transform(chunk, x -> cast(x as string))"))
              .as("chunk_csv"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(sql(s"""WITH $sqlSrpCappedCtes, $sqlSrpDropsCte,
        |$sqlCurateKeptCtes,
        |ktokens AS (SELECT doc_id,
        |  unnest(generate_series(0, len(string_split(text, ' ')) - 1))
        |    AS pos,
        |  unnest(string_split(text, ' ')) AS word
        |  FROM kept WHERE split = 'train'),
        |vocab AS (SELECT word,
        |  row_number() OVER (ORDER BY count(*) DESC, word ASC) AS id
        |  FROM ktokens GROUP BY word),
        |seqs AS (SELECT doc_id, list(id ORDER BY pos) AS ids
        |  FROM ktokens JOIN vocab USING (word) GROUP BY doc_id),
        |chunked AS (SELECT doc_id,
        |  unnest(generate_series(0, (len(ids) + 31) // 32 - 1))
        |    AS chunk_idx, ids
        |  FROM seqs),
        |ch AS (SELECT doc_id, chunk_idx,
        |  ids[chunk_idx * 32 + 1 : (chunk_idx + 1) * 32] AS chunk
        |  FROM chunked),
        |sh AS (SELECT doc_id, chunk_idx,
        |  len(chunk)::BIGINT AS chunk_len,
        |  array_to_string(chunk, ',') AS chunk_csv,
        |  ${PipelineOps.sqlWh("concat('shard|', " +
             "CAST(doc_id AS VARCHAR), ':', CAST(chunk_idx AS VARCHAR))")}
        |    AS hk
        |  FROM ch)
        |SELECT hk % 8 AS shard,
        |  row_number() OVER (PARTITION BY hk % 8
        |    ORDER BY hk, doc_id, chunk_idx) AS pos,
        |  doc_id, chunk_idx, chunk_len, chunk_csv
        |FROM sh ORDER BY shard, pos"""))),

    // Incremental curation (r8) — the highest-frequency production run:
    // curate a NEW batch (source = 'src1') for admission into an
    // already-curated corpus, without re-curating the corpus. The batch
    // passes the same quality/lang gates, canonicalizes exactly WITHIN
    // the batch, then drops docs whose sha256 already exists in the
    // CURATED corpus (the non-src1 pool — rejected corpus docs don't
    // block admission) or that form a cosine ≥ 0.35 SRP pair with a
    // curated-corpus embedding. Candidate pairs are batch×corpus only
    // (never corpus×corpus — the r7 incremental lesson); completes the
    // curate family {full, incremental} alongside the dedup matrix.
    Q("pipeline_curate_incremental",
      (s, dir) => {
        // The batch canonical picks its min-doc_id row per sha256 class
        // via min_by in the same pass as the probe (the curateKept
        // shape), keeping h for the corpus anti-join instead of
        // re-hashing the text: the old groupBy(h).agg(min) + left-semi
        // probe was one extra full gate pass (and a second corpus
        // shuffle at scale where the canonical-id set outgrows any
        // broadcast). The pool itself stays LAZY — a localCheckpoint of
        // the gated survivors (tried r17) lost 15% on min_sec at 30×
        // grown: the materialization barrier plus the pinned frame's low
        // read parallelism cost more than the two remaining gate passes
        // it saves (the gate is a scan-fused map with no exchange, and
        // its three remaining consumers prune columns differently).
        val pool = curatePool(s, dir)
        val bpool = pool.filter(col("source") === "src1")
        val cpool = pool.filter(col("source") =!= "src1")
        val batchCanonical = bpool
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min_by(struct(bpool.columns.map(col): _*),
            col("doc_id")).as("r"))
          .select(col("h"), col("r.*"))
        val corpusHashes = cpool
          .select(sha2(col("text"), 256).as("h")).distinct()
        val cs = srpCappedWith(s, dir, "source")
        val xb = cs.filter(col("source") === "src1")
          .select(col("band"), col("bsig"), col("vec_id").as("a_id"),
            col("u").as("ua"))
        val yc = cs.filter(col("source") =!= "src1")
          .join(cpool.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")
          .select(col("band").as("y_band"), col("bsig").as("y_bsig"),
            col("vec_id").as("b_id"), col("u").as("ub"))
        val nearDrops = xb.join(yc, col("band") === col("y_band")
            && col("bsig") === col("y_bsig"))
          .filter(dot(col("ua"), col("ub")) >= 0.35)
          .select(col("a_id").as("doc_id")).distinct()
        withSplit(batchCanonical
          .join(corpusHashes, Seq("h"), "left_anti")
          .join(nearDrops, Seq("doc_id"), "left_anti"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("split"), col("n_tokens"),
            (col("qscaled").cast("double") / lit(1000000.0))
              .as("quality_r6"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH $sqlSrpCappedCtes,
        |$sqlCuratePoolCtes,
        |bpool AS (SELECT * FROM pool WHERE source = 'src1'),
        |cpool AS (SELECT * FROM pool WHERE source <> 'src1'),
        |bkeep AS (SELECT min(doc_id) AS doc_id FROM bpool
        |  GROUP BY sha256(text)),
        |chash AS (SELECT DISTINCT sha256(text) AS h FROM cpool),
        |cs AS (SELECT c.*, d.source FROM capped c
        |  JOIN documents d ON d.doc_id = c.vec_id),
        |idrops AS (SELECT DISTINCT x.vec_id AS doc_id
        |  FROM cs x JOIN cs y
        |  ON x.band = y.band AND x.bsig = y.bsig
        |  WHERE x.source = 'src1' AND y.source <> 'src1'
        |    AND y.vec_id IN (SELECT doc_id FROM cpool)
        |    AND ${sqlDot("x.u", "y.u")} >= 0.35),
        |bb AS (SELECT doc_id, lang, source, n_tokens, qscaled,
        |  sha256(text) AS h FROM bpool)
        |SELECT doc_id, lang, source,
        |  ${sqlSplitCase("doc_id")} AS split,
        |  n_tokens,
        |  (CAST(qscaled AS DOUBLE) / 1000000.0) AS quality_r6
        |FROM bb
        |JOIN bkeep USING (doc_id)
        |ANTI JOIN chash USING (h)
        |ANTI JOIN idrops USING (doc_id)
        |ORDER BY doc_id"""))),

    // Embedding-space benchmark decontamination (r8) — the semantic twin
    // of text_contamination_ngrams: n-gram overlap catches verbatim
    // leakage, but a paraphrased benchmark item only collides in
    // embedding space. Benchmark = source 'src1' (the ngram key's
    // convention); for every candidate doc with at least one SRP-bucket
    // benchmark neighbor: how many distinct benchmark docs it met, its
    // max cosine against any of them, and the ≥ 0.35 contamination flag
    // (a threshold on a bit-identical fold double). Candidate×benchmark
    // pairs only — the corpus×corpus term is never enumerated, exactly
    // like the incremental dedup keys.
    Q("text_contamination_semantic",
      (s, dir) => {
        val cs = srpCappedWith(s, dir, "source")
        val cand = cs.filter(col("source") =!= "src1")
          .select(col("band"), col("bsig"), col("vec_id").as("doc_id"),
            col("u").as("ua"))
        val bench = cs.filter(col("source") === "src1")
          .select(col("band").as("y_band"), col("bsig").as("y_bsig"),
            col("vec_id").as("bench_id"), col("u").as("ub"))
        cand.join(bench, col("band") === col("y_band")
            && col("bsig") === col("y_bsig"))
          .select(col("doc_id"), col("bench_id"),
            dot(col("ua"), col("ub")).as("cos"))
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(max(col("cos")).as("cos")) // dedupe multi-band collisions
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bench_candidates"),
            max(col("cos")).as("max_bench_cos"))
          .withColumn("contaminated", col("max_bench_cos") >= 0.35)
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH $sqlSrpCappedCtes,
        |cs AS (SELECT c.*, d.source FROM capped c
        |  JOIN documents d ON d.doc_id = c.vec_id),
        |pairs AS (SELECT x.vec_id AS doc_id, y.vec_id AS bench_id,
        |  max(${sqlDot("x.u", "y.u")}) AS cos
        |  FROM cs x JOIN cs y
        |  ON x.band = y.band AND x.bsig = y.bsig
        |  WHERE x.source <> 'src1' AND y.source = 'src1'
        |  GROUP BY 1, 2)
        |SELECT doc_id, count(*)::BIGINT AS n_bench_candidates,
        |  max(cos) AS max_bench_cos,
        |  (max(cos) >= 0.35) AS contaminated
        |FROM pairs GROUP BY doc_id ORDER BY doc_id"""))),

    // PQ codes + per-subspace reconstruction error with the FIXED literal
    // codebook (VERDICT r7 task 6) — the hash-checked twin of
    // vec_pq_codes, whose trained codebook keeps it rows-only. Runs the
    // PRODUCTION pqCodeCols helper (argmin = array_position of array_min
    // → smallest code among cost ties) and the production err fold
    // err_j = max(|x_j|² + (|c|² − 2x_j·c), 0) over the raw
    // (float-widened) subvectors — every cost is a fold over identical
    // doubles, |c|² folded driver-side in graft_dot's left-to-right
    // order. With this, the last ANN-family stage whose only signal was
    // the trained output (codes + err) fails the driver's hash gate on
    // regression instead of only AnnRecallSpec.
    Q("vec_pq_codes_fixed",
      (s, dir) => {
        graft.plans.GraftFunctions.register(s)
        val pqCb = pqCells.zipWithIndex
          .map { case (cv, i) => (i / 4, i % 4, cv) }
        val e0 = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
        var out = PipelineOps.pqCodeCols(e0, pqCb, 4, 4)
        for (j <- 0 until 4) {
          val sv = expr(s"slice(embedding, $j * 16 + 1, 16)")
          out = out.withColumn(s"err$j",
            greatest(dot(sv, sv) + col(s"cost$j"), lit(0.0)))
        }
        out.select(col("vec_id") +: (0 until 4).flatMap(j =>
            Seq(col(s"c$j").cast("long").as(s"c$j"), col(s"err$j"))): _*)
          .orderBy(col("vec_id"))
      },
      Some(sql(s"""WITH ed AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |pcb AS (SELECT s AS sub, c AS code,
        |  list_transform(generate_series(1, 16),
        |    j -> ((s * 5 + c * 3 + j * 11) % 7 - 3) / 8.0) AS cv
        |  FROM generate_series(0, 3) ts(s)
        |  CROSS JOIN generate_series(0, 3) tc(c)),
        |sub AS (SELECT vec_id, s AS sub,
        |  list_slice(v, s * 16 + 1, s * 16 + 16) AS sv
        |  FROM ed CROSS JOIN generate_series(0, 3) t(s)),
        |costs AS (SELECT v.vec_id, v.sub, p.code,
        |  ${sqlDot("p.cv", "p.cv")} - 2.0 * ${sqlDot("v.sv", "p.cv")}
        |    AS cost,
        |  ${sqlDot("v.sv", "v.sv")} AS svn2
        |  FROM sub v JOIN pcb p USING (sub)),
        |best AS (SELECT vec_id, sub, code, cost, svn2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY cost ASC, code ASC) AS rn FROM costs) WHERE rn = 1)
        |SELECT vec_id,
        |  ${(0 until 4).map(j =>
             s"max(CASE WHEN sub = $j THEN code END)::BIGINT AS c$j, " +
               s"max(CASE WHEN sub = $j THEN greatest(svn2 + cost, 0.0) " +
               s"END) AS err$j").mkString(", ")}
        |FROM best GROUP BY vec_id ORDER BY vec_id"""))),
  )

  /** (vec_id, u, band, bsig) rows of the fixed-plane SRP banding,
    * bucket-capped at 1000 — the candidate-generation half shared by
    * `vec_neardup_srp_fixed`, `pipeline_dedup_semantic`,
    * `pipeline_curate`, and `text_contamination_semantic`. Signatures
    * are computed map-side on the raw (double-widened) vectors (sign is
    * scale-invariant); the window-count cap's (band, bsig) exchange is
    * shared by both self-join sides downstream, halving the corpus scans
    * vs a broadcast-keep formulation (measured r7). */
  private def srpCapped(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    srpCappedOf(Tables.table(s, dir, "embeddings"))
  }

  /** [[srpCapped]] with narrow document columns attached BEFORE banding
    * (r16): the incremental keys need `source` next to each banded row,
    * and enriching AFTER the bucket cap re-keyed the u-carrying corpus
    * vec_id-ward and back — (band,bsig) → vec_id → (band,bsig), three
    * to four full-corpus exchanges of 64-double payloads once the docs
    * side outgrew broadcast (the 300× scaling-gate finding). Joining the
    * (vec_id, cols…) projection onto the RAW float embeddings instead
    * costs at most one corpus exchange at HALF the payload width, and
    * the cap's (band,bsig) exchange is again shared by both pair-join
    * sides downstream, exactly like the full variants. */
  private def srpCappedWith(s: SparkSession, dir: String,
      cols: String*): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val docCols = Tables.table(s, dir, "documents")
      .select(col("doc_id").as("vec_id") +: cols.map(col): _*)
    srpCappedOf(Tables.table(s, dir, "embeddings")
      .join(docCols, "vec_id"), carry = cols,
      sizeOf = Some(Tables.table(s, dir, "embeddings")))
  }

  /** Frame-based body of [[srpCapped]], so property tests can drive the
    * production banding with PLANTED duplicates (the fixtures contain no
    * true near-dups — max bucket-pair cosine ≈ 0.51 — so without this
    * the dedup keys' drop rule is only ever exercised on near-random
    * pairs). `e0` must carry (vec_id, embedding).
    *
    * Band width is [[srpBits]]-adaptive: one count() of the corpus (the
    * sketch-sizing pattern — dictionary-scale driver state, like the
    * k-means/PQ training collects) picks the per-band bit count, then
    * signatures are a map-side projection as before. At the shipped SFs
    * (n ≤ 5000) this resolves to the original 8 bits. */
  /** Corpus-count memo for the [[srpBits]] sizing count() — the
    * codebookCache pattern (canonicalized plan + backing files as key,
    * WeakHashMap per session), so the 7 SRP-banded keys don't each pay a
    * count job per plan build within a session. */
  private val countCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]())

  private[operators] def countOf(e0: DataFrame): Long = {
    val per = countCache.computeIfAbsent(e0.sparkSession,
      _ => new java.util.concurrent.ConcurrentHashMap[
        String, java.lang.Long]())
    per.computeIfAbsent(PipelineOps.planKey(e0),
      _ => java.lang.Long.valueOf(e0.count()))
      .longValue()
  }

  private[graft] def srpCappedOf(e0: DataFrame,
      carry: Seq[String] = Nil,
      sizeOf: Option[DataFrame] = None): DataFrame = {
    graft.plans.GraftFunctions.register(e0.sparkSession)
    val cc = carry.map(col)
    // width sizing counts the BARE corpus frame when the input is an
    // enrichment join (srpCappedWith): the join is 1:1 so the count is
    // identical, but the bare plan hits the same countOf memo entry as
    // the un-carried keys — no extra count job, identical bits
    val bits = srpBits(countOf(sizeOf.getOrElse(e0)))
    val e = e0
      .select(col("vec_id") +: cc :+
        transform(col("embedding"), x => x.cast("double")).as("v"): _*)
      // norm OUTSIDE the lambda (r14): a transform lambda body runs on
      // the interpreted path PER ELEMENT — sqrt(dot) inside meant d
      // interpreted d-dim dots per row across all 7 SRP-banded corpus
      // keys (see normFrame's note). Bit-identical doubles.
      .withColumn("__n", sqrt(dot(col("v"), col("v"))))
      .withColumn("u", transform(col("v"), x => x / col("__n")))
      .drop("__n")
    def sig(b: Int): Column = (0 until bits).map { i =>
      when(dot(col("v"), typedLit(srpPlanes(b * 16 + i))) >= 0,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    e.withColumn("s0", sig(0)).withColumn("s1", sig(1))
      .select(col("vec_id") +: cc :+ col("u") :+ expr(
        "explode(array(struct(0 AS band, s0 AS bsig), " +
          "struct(1 AS band, s1 AS bsig)))").as("bs"): _*)
      .select(col("vec_id") +: cc :+ col("u") :+
        col("bs.band").as("band") :+ col("bs.bsig").as("bsig"): _*)
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bsig"))))
      .filter(col("bsz") <= 1000)
      .drop("bsz")
  }

  /** Corpus-wide semantic near-dup DROP set: the larger doc_id of every
    * SRP-bucket pair with cosine ≥ 0.35 — shared by
    * `pipeline_dedup_semantic` and `pipeline_curate`. The 0.35 threshold
    * compares bit-identical fold doubles (the vec_dedup_threshold
    * precedent). */
  private def srpNearDrops(s: SparkSession, dir: String): DataFrame = {
    val capped = srpCapped(s, dir)
    val x = capped.select(col("band"), col("bsig"),
      col("vec_id").as("a_id"), col("u").as("ua"))
    val y = capped.select(col("band").as("y_band"),
      col("bsig").as("y_bsig"), col("vec_id").as("b_id"),
      col("u").as("ub"))
    x.join(y, col("band") === col("y_band")
        && col("bsig") === col("y_bsig")
        && col("a_id") < col("b_id"))
      .filter(dot(col("ua"), col("ub")) >= 0.35)
      .select(col("b_id").as("doc_id")).distinct()
  }

  /** The curated keep-set shared by `pipeline_curate` and
    * `pipeline_pretokenize`: quality gate (text_quality_score's exact
    * integer arithmetic — no double ever compared to a boundary), lang
    * gate, exact sha256 canonicalization, embedding-space near-dup drop
    * ([[srpNearDrops]]), and the md5-derived train/val/test split.
    * Carries (doc_id, lang, source, text, n_tokens, qscaled, split). */
  /** The quality/lang gate on an ARBITRARY documents frame — pure column
    * algebra (no aggregation), so it applies unchanged to a streaming
    * DataFrame; shared by [[curatePool]] and
    * `StreamOps.admitDocuments` (the streaming admission twin). */
  private[graft] def gateQuality(d: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    d
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(col("w"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("w"), x => x.isin(stop: _*))).cast("long"))
      .withColumn("qnum",
        lit(400L) * col("n_distinct")
          + lit(300L) * (col("n_tokens") - col("n_stop"))
          + lit(3L) * least(col("n_tokens"), lit(100L))
            * col("n_tokens"))
      // half-up-rounded quality × 1e6, all in BIGINT (the
      // text_quality_score scheme) — the ≥ 0.63 gate compares exact
      // integers, so no engine can disagree at the boundary
      .withColumn("qscaled",
        expr("(2000 * qnum + n_tokens) div (2 * n_tokens)"))
      .filter(col("qscaled") >= 630000L)
      .filter(col("lang").isin("en", "de", "es", "fr"))
  }

  /** The quality/lang-gated candidate pool (gates only — no dedup):
    * the stage `curateKept` and `pipeline_curate_incremental` share,
    * projected to the six columns every consumer uses. Lazy, and no
    * consumer pins it: `curateKept` consumes it exactly once since the
    * min_by canonicalization, and `pipeline_curate_incremental`
    * references it three ways but re-runs the scan-fused gate rather
    * than checkpoint it (a localCheckpoint lost 15% at 30× grown — see
    * that query). */
  private def curatePool(s: SparkSession, dir: String): DataFrame =
    gateQuality(Tables.table(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_tokens"), col("qscaled"))

  /** Train/val/test assignment (sample_hash_bucket's md5 bucket). */
  private def withSplit(d: DataFrame): DataFrame = d
    .withColumn("bucket",
      pmod(expr(PipelineOps.whExpr("CAST(doc_id AS STRING)")), lit(10L)))
    .withColumn("split",
      when(col("bucket") === 0, "test")
        .when(col("bucket") === 1, "val")
        .otherwise("train"))

  private def curateKept(s: SparkSession, dir: String): DataFrame = {
    val pool = curatePool(s, dir)
    // Exact canonicalization in ONE pool pass (r17, guide §2.3/§2.4):
    // min_by keeps the min-doc_id row of every sha256 duplicate class
    // directly — the old `groupBy(h).agg(min(doc_id))` + left-semi probe
    // replayed the whole gate chain (scan + tokenize) a second time for
    // the probe side, and at scale the semi-join degraded to a second
    // corpus shuffle (the canonical-id set is nearly |pool|, far past any
    // broadcast). One hash aggregate, map-side partials collapse
    // duplicate texts before the exchange, doc_id is unique so min_by is
    // deterministic; the surviving rows are identical by construction.
    val canonical = pool
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min_by(struct(pool.columns.map(col): _*),
        col("doc_id")).as("r"))
      .select(col("r.*"))
    withSplit(canonical
      .join(srpNearDrops(s, dir), Seq("doc_id"), "left_anti"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_tokens"), col("qscaled"), col("split"))
  }

  /** Oracle twin of [[withSplit]]'s CASE over a doc_id expression. */
  private def sqlSplitCase(docId: String): String =
    s"""CASE WHEN ${PipelineOps.sqlWh(s"CAST($docId AS VARCHAR)")} % 10
       |       = 0 THEN 'test'
       |     WHEN ${PipelineOps.sqlWh(s"CAST($docId AS VARCHAR)")} % 10
       |       = 1 THEN 'val'
       |     ELSE 'train' END""".stripMargin

  /** Oracle CTE twins of [[curatePool]] (`b`,`m`,`q`,`pool`). */
  private def sqlCuratePoolCtes: String =
    s"""b AS (SELECT doc_id, lang, source, n_chars,
       |  string_split(text, ' ') AS w, text FROM documents),
       |m AS (SELECT doc_id, lang, source, text,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |  CAST(len(list_filter(w, x -> x IN
       |    ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop
       |  FROM b),
       |q AS (SELECT *, 400 * n_distinct + 300 * (n_tokens - n_stop)
       |    + 3 * least(n_tokens, 100) * n_tokens AS qnum FROM m),
       |pool AS (SELECT *,
       |  (2000 * qnum + n_tokens) // (2 * n_tokens) AS qscaled
       |  FROM q
       |  WHERE (2000 * qnum + n_tokens) // (2 * n_tokens) >= 630000
       |    AND lang IN ('en', 'de', 'es', 'fr'))""".stripMargin

  /** Oracle CTE twins of [[curateKept]] (adds `exact_keep`,`kept`);
    * requires [[sqlSrpCappedCtes]] and [[sqlSrpDropsCte]] in scope. */
  private def sqlCurateKeptCtes: String =
    s"""$sqlCuratePoolCtes,
       |exact_keep AS (SELECT min(doc_id) AS doc_id FROM pool
       |  GROUP BY sha256(text)),
       |kept AS (SELECT p.doc_id, p.lang, p.source, p.text, p.n_tokens,
       |  p.qscaled,
       |  ${sqlSplitCase("p.doc_id")} AS split
       |  FROM pool p
       |  JOIN exact_keep USING (doc_id)
       |  ANTI JOIN drops USING (doc_id))""".stripMargin

  /** Oracle CTE twin of [[srpNearDrops]] (`drops`); requires
    * [[sqlSrpCappedCtes]] in scope. */
  private def sqlSrpDropsCte: String =
    s"""drops AS (SELECT DISTINCT y.vec_id AS doc_id
       |  FROM capped x JOIN capped y
       |  ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id
       |  WHERE ${sqlDot("x.u", "y.u")} >= 0.35)""".stripMargin

  /** Oracle CTE twins of [[srpCapped]] (`nb`, `e`, `sigs`, `keep`,
    * `capped`). `sigs` cross-joins the 1-row `nb` so the signature can
    * mask itself to the [[srpBits]]-adaptive width. */
  private def sqlSrpCappedCtes: String =
    s"""$sqlSrpBitsCte,
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  list_transform(embedding::DOUBLE[],
       |    x -> x / sqrt(${sqlDot("embedding::DOUBLE[]",
              "embedding::DOUBLE[]")})) AS u
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, u, 0 AS band, ${sqlSrpSig(0)} AS bsig
       |  FROM e CROSS JOIN nb
       |  UNION ALL
       |  SELECT vec_id, u, 1 AS band, ${sqlSrpSig(1)} AS bsig
       |  FROM e CROSS JOIN nb),
       |keep AS (SELECT band, bsig FROM sigs
       |  GROUP BY band, bsig HAVING count(*) <= 1000),
       |capped AS (SELECT s.* FROM sigs s JOIN keep USING (band, bsig))"""
      .stripMargin

  /** SQL twin of the band-`b` signature: up to 16 sign bits over the
    * literal planes (band `b` owns planes b·16+i), each term gated on
    * `i < nb.bits` so only the adaptive width contributes — identical
    * doubles compared against zero on both engines, and bit-identical to
    * the Spark side's sum over its first `bits` planes. */
  private def sqlSrpSig(b: Int): String = (0 until 16).map { i =>
    s"(CASE WHEN $i < nb.bits" +
      s" AND ${sqlDot("v", sqlSrpPlane(b * 16 + i))} >= 0" +
      s" THEN ${1 << i} ELSE 0 END)"
  }.mkString(" + ")
}
