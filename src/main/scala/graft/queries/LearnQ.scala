package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables
import graft.ext.TextOps

/** Model training ON the engine: distributed-aggregation learners whose
  * every corpus-sized step is a keyed/global agg with map-side combine —
  * the shape Spark MLlib itself uses (gradient = treeAggregate, model
  * vector = driver-held broadcast). Completes the on-engine trainer set
  * next to Text's BPE merge trainer and Similarity's Lloyd k-means.
  *
  * Cross-engine determinism follows the repo-wide discipline (see
  * QuerySpec): every accumulation over rows is a floor()ed 2^40-scaled
  * integer sum in DECIMAL(38,0) — order-free, exact — and every scalar
  * derived from those sums (weights, norms, scores) is a chain of IEEE
  * double ops written in the same operation order on both engines. The
  * logistic sigmoid is replaced by the softsign-based surrogate
  * 0.5·(1 + z/(1+|z|)) because exp() carries no cross-engine
  * bit-exactness guarantee (same rationale as text_lm_plausibility's
  * mean-probability and text_bm25_topk's rational idf).
  *
  * Reference anchor: the reference's analysis surface stops at profiling
  * (data_analysis.py:5-94); these queries extend it with the supervised
  * steps a training-data pipeline runs on the same tables (quality
  * classifier, language router) — SURVEY.md X-family extensions.
  */
object LearnQ {

  private val Scale = 1099511627776L // 2^40: exact scale/unscale
  private val duckToks = "string_split(trim(text), ' ')"

  /** Exact order-free sum: floor(v·2^40) accumulated in DECIMAL(38,0). */
  private def dsum(v: Column): Column =
    sum(floor(v * lit(Scale.toDouble)).cast("decimal(38,0)"))

  private val LogregRounds = 5
  private val LogregLr = 1.0

  private val SvmRounds = 5
  private val SvmEta = 0.5
  private val SvmLambda = 0.01

  private val PerceptronRounds = 4

  /** One perceptron round's audit under weight vector `w`: the
    * train-side misclassified gradient sums, mistake count, and holdout
    * hits — ONE scan, one partial+final aggregate (no self-join, no
    * window, no second pass). Exposed for PhysicalPlanSpec, which pins
    * the single-Exchange shape. */
  private[graft] def perceptronAudit(
      ft: org.apache.spark.sql.DataFrame, w: Array[Long])
      : org.apache.spark.sql.DataFrame = {
    val margin = col("y") * (lit(w(0)) * col("x1") + lit(w(1)) * col("x2") +
      lit(w(2)) * col("x3") + lit(w(3)))
    val mis = !col("hold") && margin <= 0
    ft.agg(
      sum(when(mis, col("y") * col("x1")).otherwise(0L)),
      sum(when(mis, col("y") * col("x2")).otherwise(0L)),
      sum(when(mis, col("y") * col("x3")).otherwise(0L)),
      sum(when(mis, col("y")).otherwise(0L)),
      sum(when(mis, 1L).otherwise(0L)),
      sum(when(col("hold") && margin > 0, 1L).otherwise(0L)))
  }

  /** The perceptron's integer feature table (y, x1..x3, hold split). */
  private[graft] def perceptronFeatures(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, d)
      .select(
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        size(toks).cast("long").as("x1"),
        col("n_chars").as("x2"),
        size(filter(toks, t => t === "the")).cast("long").as("x3"),
        (col("doc_id") % 5 === 0).as("hold"))
  }

  /** z = w·x (left-assoc, lockstep with the oracle's CTE expression). */
  private def zOf(w: Array[Double]): Column =
    lit(w(0)) * col("x1") + lit(w(1)) * col("x2") +
      lit(w(2)) * col("x3") + lit(w(3))

  /** Weight literal for OUTPUT columns: a NaN weight (the empty-corpus
    * 0/0 gradient) is emitted as SQL-NULL, matching the oracle's
    * NULL-propagating weight CTEs — a driver double cannot carry NULL,
    * so NaN is the in-band marker and this is its exit conversion. */
  private def wlit(v: Double): Column =
    if (v.isNaN) lit(null).cast("double") else lit(v)

  /** Softsign sigmoid surrogate (no exp() — cross-engine exact). */
  private def softsign(z: Column): Column =
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))

  /** One GD round's gradient numerators: FOUR exact decimal sums over the
    * feature table in a SINGLE scan (residual inlined per column — no
    * self-join, no window, no second pass). Exposed for PhysicalPlanSpec,
    * which pins the one-Exchange partial+final aggregate shape. */
  private[graft] def gradientAgg(
      ft: org.apache.spark.sql.DataFrame, w: Array[Double])
      : org.apache.spark.sql.DataFrame = {
    val r = softsign(zOf(w)) - col("y")
    ft.agg(dsum(r * col("x1")), dsum(r * col("x2")),
      dsum(r * col("x3")), dsum(r * lit(1.0)))
  }

  /** One logreg train per (session, sf-dir): the checkpointed feature
    * table, the 5-round-trained weight vector, and n — shared by the
    * trainer query and the calibration audit (same pattern as DedupQ's
    * verified-pair stage; the bench charges it to its own entry). */
  private[graft] val trainedLogreg = new graft.util.SharedStage[
    (org.apache.spark.sql.DataFrame, Array[Double], Double)](
      "learn_logreg_shared_train")({ (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val nt = size(toks).cast("double")
      val (ft, rows) = graft.ops.Rounds.land(Tables.documents(s, d)
        .select(
          when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"),
          (size(toks).cast("double") / lit(100.0)).as("x1"),
          (size(array_distinct(toks)).cast("double") / nt).as("x2"),
          (aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
            .cast("double") / nt / lit(10.0)).as("x3")))
      val n = rows.toDouble
      // empty corpus: the gradient is 0/0 — weights are NaN, which every
      // consumer emits as SQL-NULL (wlit), exactly the oracle's
      // NULL-propagating sum chain; no GD round runs (nothing to scan)
      var w =
        if (n == 0) Array.fill(4)(Double.NaN)
        else Array(0.0, 0.0, 0.0, 0.0) // w1, w2, w3, bias
      if (n > 0) for (_ <- 1 to LogregRounds) {
        val row = gradientAgg(ft, w).head()
        val g = (0 to 3).map(i =>
          (row.getDecimal(i).doubleValue() / Scale.toDouble) / n)
        w = Array.tabulate(4)(i => w(i) - LogregLr * g(i))
      }
      (ft, w, n)
    })

  /** Oracle-side feature-table + count CTEs — the shared front of every
    * learner oracle that trains on the cached feature table. */
  private def duckFtCtes: String =
    s"""ft AS MATERIALIZED (
       |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |         CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
       |         CAST(len(list_distinct(toks)) AS DOUBLE)
       |           / CAST(len(toks) AS DOUBLE) AS x2,
       |         CAST(list_sum(list_transform(toks, t -> length(t)))
       |             AS DOUBLE)
       |           / CAST(len(toks) AS DOUBLE) / 10.0 AS x3
       |  FROM (SELECT $duckToks AS toks, lang FROM documents)),
       |n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM ft)"""
      .stripMargin

  /** The oracle-side WITH prefix replaying the full 5-round GD train —
    * shared by the trainer query and the calibration audit (same
    * consumer pattern as Text.duckBpeCtes). */
  private def duckLogregCtes: String =
    s"""$duckFtCtes,
       |w0 AS MATERIALIZED (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
       |       0.0 AS b),
       |${(1 to LogregRounds).map(duckLogregRound).mkString(",\n")}""".stripMargin

  /** One DuckDB GD round: g$i (gradient sums) + w$i (weight update) from
    * w${i-1}. Kept in lockstep with the Spark loop — same softsign
    * surrogate, same floor/decimal/unscale sequence, same left-assoc z.
    * Every CTE MATERIALIZED: the w-chain is referenced twice per round
    * (g$i and w$i), so default inlining would re-expand the whole chain
    * ~2^rounds times (the graph_kcore pathology). */
  private def duckLogregRound(i: Int): String = {
    val f = "0.5 * (1.0 + z / (1.0 + abs(z)))"
    s"""g$i AS MATERIALIZED (SELECT
       |    SUM(CAST(floor(($f - y) * x1 * 1099511627776.0) AS DECIMAL(38,0))) AS s1,
       |    SUM(CAST(floor(($f - y) * x2 * 1099511627776.0) AS DECIMAL(38,0))) AS s2,
       |    SUM(CAST(floor(($f - y) * x3 * 1099511627776.0) AS DECIMAL(38,0))) AS s3,
       |    SUM(CAST(floor(($f - y) * 1.0 * 1099511627776.0) AS DECIMAL(38,0))) AS sb
       |  FROM (SELECT y, x1, x2, x3,
       |          w1 * x1 + w2 * x2 + w3 * x3 + b AS z
       |        FROM ft, w${i - 1}) t),
       |w$i AS MATERIALIZED (SELECT
       |    w1 - 1.0 * ((CAST(s1 AS DOUBLE) / 1099511627776.0) / nd) AS w1,
       |    w2 - 1.0 * ((CAST(s2 AS DOUBLE) / 1099511627776.0) / nd) AS w2,
       |    w3 - 1.0 * ((CAST(s3 AS DOUBLE) / 1099511627776.0) / nd) AS w3,
       |    b  - 1.0 * ((CAST(sb AS DOUBLE) / 1099511627776.0) / nd) AS b
       |  FROM w${i - 1}, g$i, n)""".stripMargin
  }

  private val PcaD = 64
  private val PcaRounds = 5

  /** One DuckDB power-iteration round: y$t = C·v$(t-1) (scaled matvec),
    * nm$t = ||y$t||, v$t = y$t / nm$t. Every inner sum (matvec row, norm)
    * is a floor()ed 2^40-scaled DECIMAL sum so the 64-term accumulations
    * are order-free on both engines; the driver-side Scala loop sums the
    * identical Longs. */
  private def duckPcaRound(t: Int): String =
    s"""y$t AS MATERIALIZED (SELECT c.i,
       |    CAST(SUM(CAST(floor(c.c * v.v * 1099511627776.0)
       |      AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0 AS y
       |  FROM cov c JOIN v${t - 1} v ON c.j = v.i GROUP BY c.i),
       |nm$t AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(floor(y * y *
       |    1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
       |    / 1099511627776.0) AS nrm FROM y$t),
       |v$t AS MATERIALIZED (SELECT i, y / (SELECT nrm FROM nm$t) AS v
       |  FROM y$t)""".stripMargin

  val registry: Map[String, QuerySpec] = Map(

    // PCA top component TRAINED ON THE ENGINE: the Gramian/covariance
    // pass is ONE corpus scan exploding each 64-d embedding into its
    // d² centered-product terms, map-side-combined down to exactly d²
    // keyed sums — the same dataflow MLlib's RowMatrix PCA runs
    // (computeGramianMatrix → driver-side eigensolve). The d×d matrix
    // (4096 doubles, corpus-size-independent) is the ONLY thing
    // collected; 5 power-iteration rounds then run driver-side on exact
    // 2^40-scaled Long sums, bit-replayed by the oracle as chained
    // matvec CTEs. C = E[xᵢxⱼ] − μᵢμⱼ keeps the big pass single-visit
    // (no centering subtraction inside the scan). Deterministic init
    // v₀ = 1/√64 = 0.125 (exact in binary); the fixed positive init
    // also pins the eigenvector sign. Output: per-dim loadings of the
    // top component + its eigenvalue and explained-variance share
    // (λ / trace C). At 100 TB the scan cost dominates and the d²
    // shuffle stays 4096 rows — the driver matvec is O(d²), constant.
    "learn_pca_power_iteration" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val (emb, rows) = graft.ops.Rounds.land(
          Tables.embeddings(s, d).select(col("embedding")))
        val nd = rows.toDouble
        // degenerate corpus (empty, or zero variance so the quantized
        // power-iterate norm underflows): the oracle's NULL-propagating
        // division chain emits 64 (dim, NULL, NULL, NULL) rows — mirror
        // that instead of crashing
        def nullRows = {
          val e = Option.empty[Double]
          (1 to PcaD).map(i => (i.toLong, e, e, e))
            .toDF("dim", "loading", "eigenvalue", "var_share")
            .orderBy("dim")
        }
        // EMPTY corpus: the oracle's CTE chain joins against an empty
        // per-dim table and emits ZERO rows (the 64 NULL rows appear only
        // for a nonempty corpus whose spectrum collapses)
        if (nd == 0) nullRows.limit(0) else {
        def unscale(c: Column): Column =
          c.cast("double") / lit(Scale.toDouble)
        val firsts = emb
          .select(posexplode(col("embedding")).as(Seq("i0", "vf")))
          .select((col("i0") + 1).as("i"), col("vf").cast("double").as("v"))
        val mu = firsts.groupBy("i")
          .agg((unscale(dsum(col("v"))) / lit(nd)).as("mu"))
        // r15: native outer-product generator — the nested-transform
        // Column formulation allocated a d²-struct array per row and
        // ran its lambdas interpreted (250 s executor time at sf0.1,
        // JobProbe); identical (i, j, p) rows, see OuterProductGenerator
        val prods = emb.select(graft.expressions.OuterProductGenerator
          .outer_product(col("embedding"), PcaD).as(Seq("i", "j", "p")))
        val s2 = prods.groupBy("i", "j").agg(dsum(col("p")).as("sp"))
        val mi = mu.select(col("i"), col("mu").as("mu_i"))
        val mj = mu.select(col("i").as("j"), col("mu").as("mu_j"))
        val cov = s2.join(broadcast(mi), "i").join(broadcast(mj), "j")
          .select(col("i"), col("j"),
            (unscale(col("sp")) / lit(nd) - col("mu_i") * col("mu_j"))
              .as("c"))
          .localCheckpoint(true)
        val tr = cov.filter(col("i") === col("j"))
          .agg(unscale(dsum(col("c")))).head().getDouble(0)
        val Cm = Array.ofDim[Double](PcaD + 1, PcaD + 1)
        cov.collect().foreach(r =>
          Cm(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        def matvec(v: Array[Double]): Array[Double] = {
          // bound: |Cm(i)(j)| <= 1 (covariance of unit-normalized
          // coordinates) and |v(j)| <= 2 (asserted; the quantized
          // normalization below divides by sqrt(sum(floor(y^2*2^40))/2^40)
          // <= ||y||, so a component can exceed 1 by up to ~8/(2^40*n2) —
          // data-dependent, but nowhere near 2 unless n2 underflows,
          // which the nrm guard rejects first). Each floor(term * 2^40)
          // is then < 2^41 and the PcaD-term Long sum < PcaD * 2^41
          // << 2^63 — no overflow.
          require(v.forall(x => math.abs(x) <= 2.0),
            "PCA power iterate left the 2-ball — the 2^40-scaled " +
              "Long accumulation bound no longer holds")
          Array.tabulate(PcaD)(i0 =>
            (1 to PcaD).map(j =>
              // bound: |Cm|·|v| <= 2 per the 2-ball require above
              math.floor(Cm(i0 + 1)(j) * v(j - 1) * Scale.toDouble).toLong)
              .sum.toDouble / Scale.toDouble)
        }
        var v = Array.fill(PcaD)(0.125)
        // degenerate spectrum (every y_i^2 < 2^-40, e.g. a zero-variance
        // single-point corpus): collapse to the oracle's NULL rows
        // instead of propagating Infinity/NaN into matvec's ball check
        var collapsed = false
        for (_ <- 1 to PcaRounds if !collapsed) {
          val y = matvec(v)
          // bound: |y(i)| <= PcaD * max|Cm| * max|v| <= 32, so each
          // floor(y^2 * 2^40) < 1024 * 2^40 << 2^63.
          val n2 = (0 until PcaD).map(i =>
            math.floor(y(i) * y(i) * Scale.toDouble).toLong)
            .sum.toDouble / Scale.toDouble
          val nrm = math.sqrt(n2)
          if (nrm > 0.0) v = y.map(_ / nrm) else collapsed = true
        }
        if (collapsed) nullRows else {
        val y6 = matvec(v)
        // bound: |v(i)| <= 2 and |y6(i)| <= 32 (see matvec), so each
        // floor(v * y6 * 2^40) < 64 * 2^40 << 2^63.
        val lam = (0 until PcaD).map(i =>
          math.floor(v(i) * y6(i) * Scale.toDouble).toLong)
          .sum.toDouble / Scale.toDouble
        val share = lam / tr
        v.zipWithIndex
          .map { case (l, i0) => ((i0 + 1).toLong, l, lam, share) }
          .toSeq.toDF("dim", "loading", "eigenvalue", "var_share")
          .orderBy("dim")
        }}
      },
      s"""WITH emb AS MATERIALIZED (SELECT embedding FROM embeddings),
         |n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd
         |  FROM emb),
         |idx AS MATERIALIZED (SELECT unnest(range(1, ${PcaD + 1})) AS i),
         |mu AS MATERIALIZED (SELECT i,
         |    (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) *
         |      1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
         |      / 1099511627776.0) / (SELECT nd FROM n) AS mu
         |  FROM emb, idx GROUP BY i),
         |s2 AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
         |    SUM(CAST(floor(CAST(embedding[a.i] AS DOUBLE) *
         |      CAST(embedding[b.i] AS DOUBLE) * 1099511627776.0)
         |      AS DECIMAL(38,0))) AS sp
         |  FROM emb, idx a, idx b GROUP BY 1, 2),
         |cov AS MATERIALIZED (SELECT s2.i, s2.j,
         |    (CAST(sp AS DOUBLE) / 1099511627776.0) / (SELECT nd FROM n)
         |      - mi.mu * mj.mu AS c
         |  FROM s2 JOIN mu mi ON s2.i = mi.i JOIN mu mj ON s2.j = mj.i),
         |tr AS MATERIALIZED (SELECT CAST(SUM(CAST(floor(c *
         |    1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
         |    / 1099511627776.0 AS tr FROM cov WHERE i = j),
         |v0 AS MATERIALIZED (SELECT i, CAST(0.125 AS DOUBLE) AS v
         |  FROM idx),
         |${(1 to PcaRounds).map(duckPcaRound).mkString(",\n")},
         |y6 AS MATERIALIZED (SELECT c.i,
         |    CAST(SUM(CAST(floor(c.c * v.v * 1099511627776.0)
         |      AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0 AS y
         |  FROM cov c JOIN v$PcaRounds v ON c.j = v.i GROUP BY c.i),
         |lam AS MATERIALIZED (SELECT CAST(SUM(CAST(floor(v.v * y6.y *
         |    1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
         |    / 1099511627776.0 AS lam
         |  FROM v$PcaRounds v JOIN y6 ON v.i = y6.i)
         |SELECT CAST(v.i AS BIGINT) AS dim, v.v AS loading,
         |       (SELECT lam FROM lam) AS eigenvalue,
         |       (SELECT lam FROM lam) / (SELECT tr FROM tr) AS var_share
         |FROM v$PcaRounds v ORDER BY dim""".stripMargin),

    // Logistic-regression language router trained BY GRADIENT DESCENT on
    // the engine: 5 fixed full-batch rounds over three per-document text
    // features (token count, type-token ratio, mean token length),
    // binary target lang = 'en'. Each round is ONE whole-corpus scan +
    // global tree-aggregate producing 4 gradient sums; the 4-double
    // weight vector lives on the driver and re-enters the next round's
    // plan as literals — exactly MLlib's distributed-GD shape (the
    // gradient is the ONLY thing crossing the cluster boundary, O(dim)
    // per round, never O(rows)). The feature table is computed once and
    // localCheckpointed so the 5 rounds re-scan a narrow materialized
    // projection, not the raw corpus. Output: trained weights + the
    // confusion census at the z >= 0 decision threshold (equivalent to
    // sigmoid >= 0.5 — thresholding the LINEAR score needs no sigmoid
    // at predict time). On this synthetic corpus the features carry
    // little class signal — the census honestly reports near-base-rate
    // accuracy; the contract under test is the trainer dataflow.
    "learn_logreg_gd" -> QuerySpec(
      (s, d) => {
        val (ft, w, n) = trainedLogreg(s, d)
        val pred = (zOf(w) >= lit(0.0)).cast("int")
        val yi = col("y").cast("int")
        def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
        ft.agg(
            count(lit(1)).as("n_docs"),
            cnt(pred === 1 && yi === 1).as("tp"),
            cnt(pred === 1 && yi === 0).as("fp"),
            cnt(pred === 0 && yi === 1).as("fn"),
            cnt(pred === 0 && yi === 0).as("tn"))
          .select(
            wlit(w(0)).as("w_tokens"), wlit(w(1)).as("w_ttr"),
            wlit(w(2)).as("w_toklen"), wlit(w(3)).as("bias"),
            col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
            Analytic.safeDiv((col("tp") + col("tn")).cast("double"),
              lit(n)).as("accuracy"))
      },
      s"""WITH $duckLogregCtes,
         |conf AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN z >= 0.0 AND y = 1.0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN z >= 0.0 AND y = 0.0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN z < 0.0 AND y = 1.0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN z < 0.0 AND y = 0.0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn
         |  FROM (SELECT y, w1 * x1 + w2 * x2 + w3 * x3 + b AS z
         |        FROM ft, w$LogregRounds) t)
         |SELECT w1 AS w_tokens, w2 AS w_ttr, w3 AS w_toklen, b AS bias,
         |       n_docs, tp, fp, fn, tn,
         |       CAST(tp + tn AS DOUBLE) / nd AS accuracy
         |FROM w$LogregRounds, conf, n""".stripMargin),

    // Calibration curve (reliability diagram) of the SHARED trained
    // logreg: bucket every document by predicted probability decile
    // (floor(f·10)), and per bucket emit the mean predicted probability
    // vs the observed positive rate plus their gap — the standard
    // is-the-classifier-honest audit a curation pipeline runs before
    // trusting scores as sampling weights. Rides trainedLogreg's cached
    // stage (the bench charges the train to its own entry); the audit
    // itself is ONE map-side-combined keyed agg over ≤ 10 buckets.
    // Mean-pred sums are 2^40-scaled decimal (order-free); the positive
    // rate is an exact integer count ratio. On this corpus the features
    // carry no class signal (probed: token-frequency features top out
    // at 0.58 accuracy even at 20 rounds), so GD converges to the base
    // rate and the curve collapses to ITS bucket — where the audit's
    // verdict is the meaningful one: gap ≈ 3e-5, i.e. the trainer is
    // well-calibrated exactly where it claims mass.
    "learn_logreg_calibration" -> QuerySpec(
      (s, d) => {
        val (ft, w, _) = trainedLogreg(s, d)
        val f = softsign(zOf(w))
        ft.select(col("y"), f.as("f"))
          .groupBy(floor(col("f") * 10).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            (dsum(col("f")).cast("double") / lit(Scale.toDouble) /
              count(lit(1)).cast("double")).as("mean_pred"),
            (sum(col("y").cast("long")).cast("double") /
              count(lit(1)).cast("double")).as("frac_pos"))
          .select(col("bucket"), col("n_docs"), col("mean_pred"),
            col("frac_pos"),
            (col("frac_pos") - col("mean_pred")).as("gap"))
          .orderBy("bucket")
      },
      s"""WITH $duckLogregCtes,
         |sc AS (SELECT y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS f
         |       FROM (SELECT y, w1 * x1 + w2 * x2 + w3 * x3 + b AS z
         |             FROM ft, w$LogregRounds) t),
         |cal AS (SELECT CAST(floor(f * 10) AS BIGINT) AS bucket,
         |         COUNT(*) AS n_docs,
         |         CAST(SUM(CAST(floor(f * 1099511627776.0)
         |           AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0
         |           / CAST(COUNT(*) AS DOUBLE) AS mean_pred,
         |         CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE)
         |           / CAST(COUNT(*) AS DOUBLE) AS frac_pos
         |       FROM sc GROUP BY 1)
         |SELECT bucket, n_docs, mean_pred, frac_pos,
         |       frac_pos - mean_pred AS gap
         |FROM cal ORDER BY bucket""".stripMargin),

    // Model-in-the-loop corpus filtering CURVE: run the TRAINED quality
    // classifier over the corpus and census what keeping the top ~25/50/
    // 75% BY SCORE costs — the realized micro-unit score cutoff, kept
    // docs, keep fraction, precision and recall on the English label —
    // the gating table a pipeline reads before wiring a classifier in
    // front of training-data ingestion (the curve family next to
    // dedup_threshold_curve and similarity_ivf_recall_curve). Rank-based
    // cutoffs, not absolute probabilities: the score distribution drifts
    // with corpus scale (measured f ∈ [0.37,0.40] at sf0.001 vs
    // [0.407,0.420] at sf0.1), so fixed thresholds go degenerate.
    // Scale contract: scores quantize to integer MICRO-units
    // (floor(f·10⁶), exact in double), so the distinct-score table the
    // cumulative census windows over is ≤ 10⁶ rows BY CONSTRUCTION —
    // the bounded-window discipline of profile_ks_test, not a
    // corpus-sized sort; everything else is keyed aggs with map-side
    // combine, the quartile ranks are exact integer arithmetic
    // (ceil(q·n/4) as (n·q+3) div 4), and every curve cell is an exact
    // integer count + one rational division.
    "learn_logreg_filter_curve" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (ft, w, _) = trainedLogreg(s, d)
        val f = softsign(zOf(w))
        val sc = ft.select(col("y"),
          floor(f * lit(1000000.0)).cast("long").as("qf"))
        val dist = sc.groupBy("qf").agg(count(lit(1)).as("c"),
          sum(col("y").cast("long")).as("cp"))
        val wd = Window.orderBy(desc("qf"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = dist.select(col("qf"),
          sum(col("c")).over(wd).as("n_kept"),
          sum(col("cp")).over(wd).as("n_pos_kept"))
        val nt = sc.agg(count(lit(1)).as("n_docs"),
          sum(col("y").cast("long")).as("n_pos"))
        val qual = cum.crossJoin(broadcast(nt))
          .select(col("qf"), col("n_kept"), col("n_pos_kept"),
            col("n_docs"), col("n_pos"),
            explode(array(lit(1L), lit(2L), lit(3L))).as("quartile"))
          .filter(col("n_kept") >= expr("(n_docs * quartile + 3) div 4"))
        val sel = qual.groupBy("quartile").agg(min(col("n_kept")).as("n_kept"))
        qual.join(sel, Seq("quartile", "n_kept"))
          .select(col("quartile"),
            (col("qf").cast("double") / lit(1000000.0)).as("threshold"),
            col("n_kept"), col("n_pos_kept"),
            // safeDiv: a corpus with zero positives has SQL-NULL recall
            // (oracle agrees), not an ANSI error
            Analytic.safeDiv(col("n_kept").cast("double"),
              col("n_docs").cast("double")).as("keep_frac"),
            Analytic.safeDiv(col("n_pos_kept").cast("double"),
              col("n_kept").cast("double")).as("precision_en"),
            Analytic.safeDiv(col("n_pos_kept").cast("double"),
              col("n_pos").cast("double")).as("recall_en"))
          .orderBy("quartile")
      },
      s"""WITH $duckLogregCtes,
         |sc AS MATERIALIZED (
         |  SELECT y, CAST(floor((0.5 * (1.0 + z / (1.0 + abs(z))))
         |    * 1000000.0) AS BIGINT) AS qf
         |  FROM (SELECT y, w1 * x1 + w2 * x2 + w3 * x3 + b AS z
         |        FROM ft, w$LogregRounds) t),
         |dist AS (SELECT qf, COUNT(*) AS c,
         |           CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS cp
         |         FROM sc GROUP BY qf),
         |cum AS MATERIALIZED (
         |  SELECT qf, CAST(SUM(c) OVER wd AS BIGINT) AS n_kept,
         |         CAST(SUM(cp) OVER wd AS BIGINT) AS n_pos_kept
         |  FROM dist WINDOW wd AS (ORDER BY qf DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |nt AS (SELECT COUNT(*) AS n_docs,
         |         CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos FROM sc),
         |qual AS MATERIALIZED (
         |  SELECT q.quartile, c.qf, c.n_kept, c.n_pos_kept,
         |         nt.n_docs, nt.n_pos
         |  FROM cum c CROSS JOIN nt
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS quartile) q
         |  WHERE c.n_kept >= (nt.n_docs * q.quartile + 3) // 4),
         |sel AS (SELECT quartile, MIN(n_kept) AS n_kept FROM qual
         |        GROUP BY quartile)
         |SELECT CAST(q.quartile AS BIGINT) AS quartile,
         |       CAST(q.qf AS DOUBLE) / 1000000.0 AS threshold,
         |       q.n_kept, q.n_pos_kept,
         |       CAST(q.n_kept AS DOUBLE) / CAST(q.n_docs AS DOUBLE)
         |         AS keep_frac,
         |       CAST(q.n_pos_kept AS DOUBLE) / CAST(q.n_kept AS DOUBLE)
         |         AS precision_en,
         |       CAST(q.n_pos_kept AS DOUBLE) / CAST(q.n_pos AS DOUBLE)
         |         AS recall_en
         |FROM qual q JOIN sel USING (quartile, n_kept)
         |ORDER BY quartile""".stripMargin),

    // Nearest-centroid (Rocchio) language classifier: TRAIN per-class
    // token-frequency centroids on the 80% split (doc_id % 5 <> 0),
    // classify the 20% holdout by maximum cosine against the centroids,
    // emit the per-document verdict census. Scale shape: the class
    // profile is ONE keyed agg down to (K·vocab) rows; holdout term
    // frequencies are a keyed agg; scoring is ONE shuffle join keyed by
    // token (the canonical score-every-doc-against-the-model pass) into
    // a per-(doc, class) keyed agg; the argmax window partitions by
    // doc_id over <= K rows — never global. Centroid norms divide out of
    // nothing doc-side (per-doc norm is argmax-invariant), so only the
    // class-side norm is computed: sqrt of an exact scaled sum. Holdout
    // docs with zero vocabulary overlap keep a row via the LEFT JOIN +
    // 'none' sentinel — the census can't silently shrink (the
    // text_gopher_repetition lesson).
    "learn_rocchio_langid" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        val cls = tok.filter(col("doc_id") % 5 =!= 0)
          .groupBy(col("lang").as("c"), col("tok"))
          .agg(count(lit(1)).as("ntc"))
        val tot = cls.groupBy("c").agg(sum("ntc").as("nc"))
        val prof = cls.join(broadcast(tot), "c")
          .select(col("c"), col("tok"),
            (col("ntc").cast("double") / col("nc").cast("double")).as("w"))
          .localCheckpoint(true)
        val norm = prof.groupBy("c")
          .agg((dsum(col("w") * col("w")).cast("double") /
            lit(Scale.toDouble)).as("nsq"))
          .select(col("c"), sqrt(col("nsq")).as("normc"))
        val tf = tok.filter(col("doc_id") % 5 === 0)
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dot = tf.join(prof, "tok")
          .groupBy(col("doc_id"), col("c"))
          .agg((dsum(col("tf").cast("double") * col("w")).cast("double") /
            lit(Scale.toDouble)).as("dot"))
        val wn = Window.partitionBy("doc_id")
          .orderBy(desc("score"), asc("c"))
        val pred = dot.join(broadcast(norm), "c")
          .select(col("doc_id"), col("c"), (col("dot") / col("normc")).as("score"))
          .withColumn("rn", row_number().over(wn))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("c").as("pl"))
        docs.filter(col("doc_id") % 5 === 0).select("doc_id", "lang")
          .join(pred, Seq("doc_id"), "left")
          .withColumn("p", coalesce(col("pl"), lit("none")))
          .select(col("doc_id"), col("lang"), col("p").as("pred_lang"),
            (col("p") === col("lang")).as("correct"))
          .orderBy("doc_id")
      },
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, lang, unnest($duckToks) AS tok FROM documents),
         |cls AS (SELECT lang AS c, tok, COUNT(*) AS ntc FROM tok
         |        WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
         |tot AS (SELECT c, CAST(SUM(ntc) AS BIGINT) AS nc FROM cls
         |        GROUP BY c),
         |prof AS MATERIALIZED (SELECT c, tok,
         |         CAST(ntc AS DOUBLE) / CAST(nc AS DOUBLE) AS w
         |       FROM cls JOIN tot USING (c)),
         |nrm AS (SELECT c, sqrt(CAST(SUM(CAST(floor(w * w *
         |           1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
         |           / 1099511627776.0) AS normc
         |        FROM prof GROUP BY c),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
         |       WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         |dt AS (SELECT doc_id, c,
         |         CAST(SUM(CAST(floor(CAST(tf AS DOUBLE) * w *
         |           1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
         |           / 1099511627776.0 AS dot
         |       FROM tf JOIN prof USING (tok) GROUP BY 1, 2),
         |pr AS (SELECT doc_id, c AS pl FROM (
         |         SELECT doc_id, c, dot / normc AS score
         |         FROM dt JOIN nrm USING (c)) t
         |       QUALIFY row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score DESC, c) = 1),
         |td AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0)
         |SELECT td.doc_id, td.lang,
         |       COALESCE(pr.pl, 'none') AS pred_lang,
         |       COALESCE(pr.pl, 'none') = td.lang AS correct
         |FROM td LEFT JOIN pr USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // kNN classification over the embedding space: the same 1-in-5
    // held-out split as learn_rocchio_langid, predicting by majority
    // vote of the 5 nearest TRAIN embeddings (cosine) — reported as the
    // full confusion matrix. r12: candidates come from the PRODUCTION
    // arm — 8-plane sign-LSH with Hamming-1 multi-probe (9 buckets per
    // query), an equi-join on bucket, never an all-pairs scan; the
    // r11 sf1 probe showed the brute-force fan-out was the one heavy
    // tail whose quadratic was NOT the point of the query (85 s,
    // CPU-bound). The index's honesty is audited IN the result rows:
    // `coverage` = fraction of held-out queries that got any
    // prediction, `recall5_sampled` = neighbor recall@5 vs the exact
    // brute force on a deterministic 1-in-10 query sample (the
    // similarity_ivf_recall_curve pattern — brute force confined to
    // the audit). Determinism: neighbor rank ties break on vec_id,
    // vote ties on the smallest language; cosine folds are the
    // established bit-parity kernel; buckets come from the literal ±1
    // hyperplanes both engines embed. Plan shape: probes (test × 9)
    // BROADCAST against the bucketed train scan; the banded top-5
    // table is landed once (localCheckpoint) and reused by the vote,
    // coverage, and recall arms — the AQE union-arm lesson.
    "learn_knn_langid" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val lab = Tables.embeddings(s, d)
          .join(Tables.documents(s, d)
            .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
          .withColumn("bucket",
            graft.ext.Similarity.hyperplaneBucket(col("embedding"), 8))
        val test = lab.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("lang").as("true_lang"), col("bucket").as("qb"))
        val train = lab.filter(col("vec_id") % 5 =!= 0)
        val flips = lit(0L) +: (0 until 8).map(j => lit(1L << j))
        val probes = test
          .withColumn("f", explode(array(flips: _*)))
          .select(col("q_id"), col("qv"), col("true_lang"),
            col("qb").bitwiseXOR(col("f")).as("bucket"))
        // a train vector lives in ONE bucket and the 9 probe buckets
        // per query are distinct, so (q, t) pairs join at most once
        val knn = train.join(broadcast(probes), "bucket")
          .select(col("q_id"), col("true_lang"), col("vec_id"),
            col("lang"),
            graft.ext.Similarity.cosine(col("embedding"), col("qv"))
              .as("cos"))
          .withColumn("rn", row_number().over(Window.partitionBy("q_id")
            .orderBy(desc("cos"), asc("vec_id"))))
          .filter(col("rn") <= 5)
          .localCheckpoint(true) // ≤ 5·|test| rows; 3 consumers below
        val votes = knn.groupBy("q_id", "true_lang", "lang")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(Window.partitionBy("q_id")
            .orderBy(desc("votes"), asc("lang"))))
          .filter(col("vr") === 1)
          .select(col("q_id"), col("true_lang"),
            col("lang").as("pred_lang"))
        val conf = votes.groupBy("true_lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
        val nTest = test.agg(count(lit(1)).as("n_test"))
        val nPred = votes.agg(count(lit(1)).as("n_pred"))
        val sample = test.filter(col("q_id") % 50 === 0)
        val bf5 = train.crossJoin(broadcast(sample))
          .select(col("q_id"), col("vec_id"),
            graft.ext.Similarity.cosine(col("embedding"), col("qv"))
              .as("cos"))
          .withColumn("rn", row_number().over(Window.partitionBy("q_id")
            .orderBy(desc("cos"), asc("vec_id"))))
          .filter(col("rn") <= 5)
          .select("q_id", "vec_id")
        val hits = knn.filter(col("q_id") % 50 === 0)
          .select("q_id", "vec_id")
          .join(bf5, Seq("q_id", "vec_id"))
          .agg(count(lit(1)).as("n_hit"))
        val nSamp = sample.agg(count(lit(1)).as("n_samp"))
        conf
          .crossJoin(broadcast(nPred)).crossJoin(broadcast(nTest))
          .crossJoin(broadcast(hits)).crossJoin(broadcast(nSamp))
          .select(col("true_lang"), col("pred_lang"), col("n"),
            (col("n_pred").cast("double") / col("n_test").cast("double"))
              .as("coverage"),
            (col("n_hit").cast("double") /
              (lit(5.0) * col("n_samp").cast("double")))
              .as("recall5_sampled"))
          .orderBy("true_lang", "pred_lang")
      },
      {
        val dot = (a: String, b: String) =>
          s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
             |  (x, y) -> x + y)""".stripMargin
        def cosOf(q: String) = s"(${dot("t.embedding", q)}) / " +
          s"(sqrt(${dot("t.embedding", "t.embedding")}) * " +
          s"sqrt(${dot(q, q)}))"
        // the same literal ±1 hyperplanes Similarity.hyperplaneBucket
        // embeds (constants from planeWeights, so no engine drift)
        val ws = graft.ext.Similarity.planeWeights(8, 64, table = 0)
        val bucket = (0 until 8).map { j =>
          val wlist = ws(j).map(w => if (w > 0) "1.0" else "-1.0")
            .mkString("[", ", ", "]")
          s"""CASE WHEN list_reduce(list_prepend(0.0,
             |  list_transform(range(1, 65),
             |  i -> CAST(embedding[i] AS DOUBLE) * ($wlist)[i])),
             |  (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        val flips = (Seq(0L) ++ (0 until 8).map(j => 1L << j))
          .mkString("[", ", ", "]")
        s"""WITH lab AS (SELECT vec_id, embedding, lang, $bucket AS bucket
           |             FROM embeddings e JOIN documents dd
           |               ON e.vec_id = dd.doc_id),
           |q AS (SELECT vec_id AS q_id, embedding AS qv,
           |             lang AS true_lang, bucket AS qb
           |      FROM lab WHERE vec_id % 5 = 0),
           |t2 AS (SELECT * FROM lab WHERE vec_id % 5 <> 0),
           |probes AS (SELECT q_id, qv, true_lang, xor(qb, f) AS bucket
           |           FROM q, (SELECT unnest($flips) AS f)),
           |knn AS MATERIALIZED (SELECT q_id, true_lang, vec_id, lang
           |        FROM (
           |          SELECT p.q_id, p.true_lang, t.vec_id, t.lang,
           |                 row_number() OVER (PARTITION BY p.q_id
           |                   ORDER BY ${cosOf("p.qv")} DESC, t.vec_id)
           |                   AS rn
           |          FROM t2 t JOIN probes p USING (bucket))
           |        WHERE rn <= 5),
           |votes AS (SELECT q_id, true_lang, lang,
           |            COUNT(*) AS votes FROM knn GROUP BY 1, 2, 3),
           |pred AS (SELECT q_id, true_lang, lang AS pred_lang FROM (
           |           SELECT *, row_number() OVER (PARTITION BY q_id
           |             ORDER BY votes DESC, lang) AS vr FROM votes)
           |         WHERE vr = 1),
           |conf AS (SELECT true_lang, pred_lang,
           |           CAST(COUNT(*) AS BIGINT) AS n
           |         FROM pred GROUP BY 1, 2),
           |bf AS (SELECT q_id, vec_id FROM (
           |         SELECT q.q_id, t.vec_id,
           |                row_number() OVER (PARTITION BY q.q_id
           |                  ORDER BY ${cosOf("q.qv")} DESC, t.vec_id)
           |                  AS rn
           |         FROM t2 t CROSS JOIN q WHERE q.q_id % 50 = 0)
           |       WHERE rn <= 5),
           |cov AS (SELECT CAST((SELECT COUNT(*) FROM pred) AS DOUBLE) /
           |          CAST((SELECT COUNT(*) FROM q) AS DOUBLE) AS coverage),
           |rec AS (SELECT CAST((SELECT COUNT(*)
           |            FROM (SELECT q_id, vec_id FROM knn
           |                  WHERE q_id % 50 = 0) a
           |            JOIN bf USING (q_id, vec_id)) AS DOUBLE) /
           |          (5.0 * CAST((SELECT COUNT(*) FROM q
           |                       WHERE q_id % 50 = 0) AS DOUBLE))
           |          AS recall5_sampled)
           |SELECT true_lang, pred_lang, n, coverage, recall5_sampled
           |FROM conf, cov, rec
           |ORDER BY true_lang, pred_lang""".stripMargin
      }),

    // CART split search as a decision-stump quality CURVE — the inner
    // loop of tree/GBDT training run the distributed way: bin the
    // feature ONCE (20 fixed-width price bins — the histogram trick
    // every scalable GBDT uses), aggregate (count, positives) per bin in
    // one map-side-combined pass, and evaluate every candidate split
    // from the ≤20-row cumulative table. Gini impurity is RATIONAL in
    // the integer counts — each side's term p·(n−p)/n is one IEEE
    // division and the weighted sum is one addition, written in the same
    // order on both engines (no log-loss, which would need libm parity).
    // is_best marks the argmin row via a min-over-all window on the tiny
    // curve. Scale: the corpus-sized stage is ONE keyed agg; split
    // evaluation never touches raw rows — the shape that lets a 100 TB
    // split search run per tree node at interactive cost.
    "learn_gini_stump" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bins = Tables.orders(s, d)
          .select(
            least(floor(col("o_totalprice") / lit(25000.0)), lit(19.0))
              .cast("int").as("bin"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("p"))
        val tot = bins.agg(sum("n").as("n_tot"), sum("p").as("p_tot"))
        val wc = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = bins
          .select(col("bin"), sum("n").over(wc).as("n_left"),
            sum("p").over(wc).as("pos_left"))
          .crossJoin(broadcast(tot))
          .select(col("bin").as("split_bin"), col("n_left"), col("pos_left"),
            (col("n_tot") - col("n_left")).as("n_right"),
            (col("p_tot") - col("pos_left")).as("pos_right"))
          .filter(col("n_left") > 0 && col("n_right") > 0)
          .select(col("split_bin"), col("n_left"), col("pos_left"),
            col("n_right"), col("pos_right"),
            ((col("pos_left") * (col("n_left") - col("pos_left")))
              .cast("double") / col("n_left").cast("double") +
              (col("pos_right") * (col("n_right") - col("pos_right")))
                .cast("double") / col("n_right").cast("double"))
              .as("impurity"))
        cum.withColumn("is_best",
            col("impurity") === min("impurity").over(
              Window.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
          .orderBy("split_bin")
      },
      """WITH b AS (
        |  SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19.0) AS INT)
        |           AS bin,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(y) AS BIGINT) AS p
        |      FROM b GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
        |               CAST(SUM(p) AS BIGINT) AS p_tot FROM g),
        |c AS (
        |  SELECT bin AS split_bin,
        |         CAST(SUM(n) OVER w AS BIGINT) AS n_left,
        |         CAST(SUM(p) OVER w AS BIGINT) AS pos_left
        |  FROM g
        |  WINDOW w AS (ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |e AS (
        |  SELECT split_bin, n_left, pos_left,
        |         n_tot - n_left AS n_right,
        |         p_tot - pos_left AS pos_right
        |  FROM c, tot
        |  WHERE n_left > 0 AND n_tot - n_left > 0),
        |s AS (
        |  SELECT split_bin, n_left, pos_left, n_right, pos_right,
        |         CAST(pos_left * (n_left - pos_left) AS DOUBLE)
        |           / CAST(n_left AS DOUBLE)
        |         + CAST(pos_right * (n_right - pos_right) AS DOUBLE)
        |           / CAST(n_right AS DOUBLE) AS impurity
        |  FROM e)
        |SELECT split_bin, n_left, pos_left, n_right, pos_right, impurity,
        |       impurity = MIN(impurity) OVER () AS is_best
        |FROM s ORDER BY split_bin""".stripMargin),

    // Data SCALING-LAW curve — the readout that motivates a 100 TB
    // pipeline in the first place: retrain the 5-round logreg on NESTED
    // hash-defined subsets (10%, 25%, 50%, 100% of documents — nested
    // because h%100 < 10 ⊂ h%100 < 25 ⊂ …, so each point adds data
    // rather than resampling) and report full-corpus accuracy per
    // training fraction. Every training replays the exact logreg
    // discipline (softsign surrogate, 2^40 decimal gradient sums,
    // driver-held weights) and the oracle replays all FOUR trainings
    // chain-by-chain. On this fixture the features are weak, so the
    // curve is honestly FLAT at the base rate — which is itself the
    // scaling answer ("more of the same features won't help"); the
    // machinery is the deliverable. Cost: 4 × 5 single-scan rounds.
    "learn_scaling_law_curve" -> QuerySpec(
      (s, d) => {
        val fracs = Seq(10, 25, 50, 100)
        val toks = TextOps.tokens(col("text"))
        val nt = size(toks).cast("double")
        val ftAll = Tables.documents(s, d)
          .select(
            (TextOps.hash64(col("doc_id").cast("string")) % 100)
              .as("hb"),
            when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
              .as("y"),
            (size(toks).cast("double") / lit(100.0)).as("x1"),
            (size(array_distinct(toks)).cast("double") / nt).as("x2"),
            (aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
              .cast("double") / nt / lit(10.0)).as("x3"))
          .localCheckpoint(true)
        // r15 (guide §1.2/§2.4): the four training legs are INDEPENDENT,
        // so each GD round computes every leg's four gradient sums in ONE
        // scan via leg-conditional decimal sums — 5 driver round trips
        // instead of 4 legs x 5 rounds = 20, plus one conditional-count
        // scan instead of 4. sum(when(hb<f, floor(v*2^40)::decimal)) over
        // the full table adds exactly the rows the per-leg filter kept,
        // and DECIMAL(38,0) addition is order-free — bit-identical
        // weights, oracle SQL unchanged.
        def dsumIf(cond: Column, v: Column): Column =
          sum(when(cond,
            floor(v * lit(Scale.toDouble)).cast("decimal(38,0)")))
        val cntCols = fracs.map(f =>
          sum(when(col("hb") < f, 1L).otherwise(0L)))
        val cntRow = ftAll.agg(cntCols.head, cntCols.tail: _*).head()
        // empty training leg (degenerate slice): weights are the 0/0
        // gradient's NaN, scored below as a SQL-NULL z so the
        // CASE-shaped prediction matches the oracle (NULL -> pred 0);
        // a fully EMPTY table yields NULL conditional counts -> 0.
        val ns = fracs.indices.map(i =>
          if (cntRow.isNullAt(i)) 0.0 else cntRow.getLong(i).toDouble)
        val ws = Array.tabulate(fracs.size)(i =>
          if (ns(i) == 0) Array.fill(4)(Double.NaN)
          else Array(0.0, 0.0, 0.0, 0.0))
        val active = fracs.indices.filter(i => ns(i) > 0)
        if (active.nonEmpty) for (_ <- 1 to LogregRounds) {
          val gradCols = active.flatMap { i =>
            val r = softsign(zOf(ws(i))) - col("y")
            val inLeg = col("hb") < fracs(i)
            Seq(dsumIf(inLeg, r * col("x1")), dsumIf(inLeg, r * col("x2")),
              dsumIf(inLeg, r * col("x3")), dsumIf(inLeg, r * lit(1.0)))
          }
          val row = ftAll.agg(gradCols.head, gradCols.tail: _*).head()
          active.zipWithIndex.foreach { case (i, ai) =>
            val g = (0 to 3).map(j =>
              (row.getDecimal(ai * 4 + j).doubleValue() / Scale.toDouble) /
                ns(i))
            ws(i) = Array.tabulate(4)(j => ws(i)(j) - LogregLr * g(j))
          }
        }
        // eval: all four legs score the SAME full table — one scan with
        // four conditional hit counts, exploded back to the four result
        // rows (expressions per leg identical to the per-leg agg form)
        val yi = col("y").cast("long")
        val evalCols = count(lit(1)).as("n_eval") +: fracs.indices.map { i =>
          val z =
            if (ws(i).exists(_.isNaN)) lit(null).cast("double") else zOf(ws(i))
          val pred = when(z >= lit(0.0), 1L).otherwise(0L)
          sum(when(pred === yi, 1L).otherwise(0L)).as(s"nc$i")
        }
        ftAll.agg(evalCols.head, evalCols.tail: _*)
          .select(explode(array(fracs.indices.map(i =>
            struct(lit(fracs(i).toLong).as("train_pct"),
              lit(ns(i).toLong).as("n_train"),
              col("n_eval"), col(s"nc$i").as("n_correct"))): _*)).as("r"))
          .select(col("r.train_pct"), col("r.n_train"), col("r.n_eval"),
            col("r.n_correct"),
            Analytic.safeDiv(col("r.n_correct").cast("double"),
              col("r.n_eval").cast("double")).as("accuracy"))
          .orderBy("train_pct")
      },
      {
        def hb = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), " +
          "1, 15))::UBIGINT AS BIGINT) % 100"
        def round(f: Int, i: Int): String = {
          val fn = "0.5 * (1.0 + z / (1.0 + abs(z)))"
          s"""g${f}_$i AS MATERIALIZED (SELECT
             |    SUM(CAST(floor(($fn - y) * x1 * 1099511627776.0) AS DECIMAL(38,0))) AS s1,
             |    SUM(CAST(floor(($fn - y) * x2 * 1099511627776.0) AS DECIMAL(38,0))) AS s2,
             |    SUM(CAST(floor(($fn - y) * x3 * 1099511627776.0) AS DECIMAL(38,0))) AS s3,
             |    SUM(CAST(floor(($fn - y) * 1.0 * 1099511627776.0) AS DECIMAL(38,0))) AS sb
             |  FROM (SELECT y, x1, x2, x3,
             |          w1 * x1 + w2 * x2 + w3 * x3 + b AS z
             |        FROM f$f, w${f}_${i - 1}) t),
             |w${f}_$i AS MATERIALIZED (SELECT
             |    w1 - 1.0 * ((CAST(s1 AS DOUBLE) / 1099511627776.0) / nd) AS w1,
             |    w2 - 1.0 * ((CAST(s2 AS DOUBLE) / 1099511627776.0) / nd) AS w2,
             |    w3 - 1.0 * ((CAST(s3 AS DOUBLE) / 1099511627776.0) / nd) AS w3,
             |    b  - 1.0 * ((CAST(sb AS DOUBLE) / 1099511627776.0) / nd) AS b
             |  FROM w${f}_${i - 1}, g${f}_$i, n$f)""".stripMargin
        }
        def leg(f: Int): String =
          s"""f$f AS MATERIALIZED (SELECT y, x1, x2, x3 FROM fta
             |  WHERE hb < $f),
             |n$f AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
             |  CAST(COUNT(*) AS BIGINT) AS nb FROM f$f),
             |w${f}_0 AS MATERIALIZED (SELECT 0.0 AS w1, 0.0 AS w2,
             |  0.0 AS w3, 0.0 AS b),
             |${(1 to 5).map(i => round(f, i)).mkString(",\n")},
             |e$f AS (SELECT CAST($f AS BIGINT) AS train_pct,
             |    (SELECT nb FROM n$f) AS n_train,
             |    CAST(COUNT(*) AS BIGINT) AS n_eval,
             |    CAST(SUM(CASE WHEN (CASE WHEN z >= 0.0 THEN 1 ELSE 0 END)
             |          = CAST(y AS INT) THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_correct
             |  FROM (SELECT y, w1 * x1 + w2 * x2 + w3 * x3 + b AS z
             |        FROM fta, w${f}_5) t)""".stripMargin
        s"""WITH fta AS MATERIALIZED (
           |  SELECT $hb AS hb,
           |         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           |         CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
           |         CAST(len(list_distinct(toks)) AS DOUBLE)
           |           / CAST(len(toks) AS DOUBLE) AS x2,
           |         CAST(list_sum(list_transform(toks, t -> length(t)))
           |             AS DOUBLE)
           |           / CAST(len(toks) AS DOUBLE) / 10.0 AS x3
           |  FROM (SELECT doc_id, $duckToks AS toks, lang
           |        FROM documents)),
           |${Seq(10, 25, 50, 100).map(leg).mkString(",\n")}
           |SELECT train_pct, n_train, n_eval, n_correct,
           |       CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE)
           |         AS accuracy
           |FROM (${Seq(10, 25, 50, 100)
                    .map(f => s"SELECT * FROM e$f")
                    .mkString("\n  UNION ALL\n  ")})
           |ORDER BY train_pct""".stripMargin
      }),

    // ALS half-step (the matrix-factorization recommender's inner loop,
    // canonical Spark workload): with rank-2 item factors FIXED
    // (hash-derived rationals — the deterministic stand-in for the
    // previous iteration's factors), solve every user's factors in
    // closed form — the per-user ridge system (QᵀQ + λI)u = Qᵀr is 2×2,
    // so the solve is an explicit determinant formula, NO linear-algebra
    // library and no iteration. One keyed agg computes each user's five
    // sufficient sums (2^30-scaled exact decimals); the solve and the
    // global training RMSE are fixed double chains. Output: top-20
    // users by factor norm + the fleet RMSE. At 100 TB this is
    // per-user-keyed all the way down — exactly how ALS scales, with
    // the item-factor table broadcast (rank × |items| doubles).
    "learn_als_half_step" -> QuerySpec(
      (s, d) => {
        val sc = 1073741824.0 // 2^30
        def dec(c: Column) =
          sum(floor(c * lit(sc)).cast("decimal(38,0)")).cast("double") /
            lit(sc)
        val lam = 0.1
        def qf(i: Int) =
          ((graft.ext.TextOps.hash64(
            concat_ws(":", col("p_partkey"), lit(i))) % 1000)
            .cast("double") / lit(1000.0)) - lit(0.5)
        // the item-factor TABLE is computed once on the part DIM and
        // broadcast — hashing per order line would redo the md5 work
        // |lineitem|/|part| times (measured 3.7 s -> 1.3 s at sf0.1)
        val q = Tables.part(s, d)
          .select(col("p_partkey").as("l_partkey"),
            qf(1).as("q1"), qf(2).as("q2"))
        // (r15: fanning out the fact projection was tried and REVERTED —
        // the order-key join shuffles it anyway; 2.65 s -> 3.28 s.)
        val r = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"),
              col("l_quantity").cast("double").as("rt")),
            col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(q), "l_partkey")
          .select(col("o_custkey"), col("l_partkey"), col("rt"),
            col("q1"), col("q2"))
        val su = r.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_items"),
            dec(col("q1") * col("q1")).as("a11"),
            dec(col("q1") * col("q2")).as("a12"),
            dec(col("q2") * col("q2")).as("a22"),
            dec(col("rt") * col("q1")).as("b1"),
            dec(col("rt") * col("q2")).as("b2"))
          .withColumn("det",
            (col("a11") + lit(lam)) * (col("a22") + lit(lam)) -
              col("a12") * col("a12"))
          .withColumn("u1",
            ((col("a22") + lit(lam)) * col("b1") -
              col("a12") * col("b2")) / col("det"))
          .withColumn("u2",
            ((col("a11") + lit(lam)) * col("b2") -
              col("a12") * col("b1")) / col("det"))
          .select("o_custkey", "n_items", "u1", "u2")
          .localCheckpoint(true)
        val err = r.join(su, "o_custkey")
          .select((col("rt") - (col("u1") * col("q1") +
            col("u2") * col("q2"))).as("e"))
        val rmse = err.agg(
          sqrt(dec(col("e") * col("e")) /
            count(lit(1)).cast("double")).as("rmse_global"))
        su.crossJoin(broadcast(rmse))
          .withColumn("norm2",
            col("u1") * col("u1") + col("u2") * col("u2"))
          .orderBy(desc("norm2"), asc("o_custkey")).limit(20)
          .select("o_custkey", "n_items", "u1", "u2", "norm2",
            "rmse_global")
      },
      """WITH r AS (
        |  SELECT o.o_custkey, l.l_partkey,
        |         CAST(l.l_quantity AS DOUBLE) AS rt, q.q1, q.q2
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |       JOIN (SELECT p_partkey,
        |               CAST(CAST(('0x' || substr(md5(
        |                   CAST(p_partkey AS VARCHAR) || ':' || '1'),
        |                   1, 15))::UBIGINT AS BIGINT) % 1000 AS DOUBLE)
        |                 / 1000.0 - 0.5 AS q1,
        |               CAST(CAST(('0x' || substr(md5(
        |                   CAST(p_partkey AS VARCHAR) || ':' || '2'),
        |                   1, 15))::UBIGINT AS BIGINT) % 1000 AS DOUBLE)
        |                 / 1000.0 - 0.5 AS q2
        |             FROM part) q ON q.p_partkey = l.l_partkey),
        |su AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(floor(q1 * q1 * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS a11,
        |    CAST(SUM(CAST(floor(q1 * q2 * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS a12,
        |    CAST(SUM(CAST(floor(q2 * q2 * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS a22,
        |    CAST(SUM(CAST(floor(rt * q1 * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS b1,
        |    CAST(SUM(CAST(floor(rt * q2 * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS b2
        |  FROM r GROUP BY 1),
        |uf AS (
        |  SELECT o_custkey, n_items,
        |    ((a22 + 0.1) * b1 - a12 * b2) /
        |      ((a11 + 0.1) * (a22 + 0.1) - a12 * a12) AS u1,
        |    ((a11 + 0.1) * b2 - a12 * b1) /
        |      ((a11 + 0.1) * (a22 + 0.1) - a12 * a12) AS u2
        |  FROM su),
        |er AS (
        |  SELECT r.rt - (uf.u1 * r.q1 + uf.u2 * r.q2) AS e
        |  FROM r JOIN uf USING (o_custkey)),
        |rm AS (
        |  SELECT sqrt((CAST(SUM(CAST(floor(e * e * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0)
        |      / CAST(COUNT(*) AS DOUBLE)) AS rmse_global
        |  FROM er)
        |SELECT o_custkey, n_items, u1, u2,
        |       u1 * u1 + u2 * u2 AS norm2, rmse_global
        |FROM uf, rm
        |ORDER BY norm2 DESC, o_custkey LIMIT 20""".stripMargin),

    // Depth-2 CART: the histogram stump's best price split becomes the
    // ROOT, then each branch independently searches the best one-vs-rest
    // categorical split on order priority — the exact recursive-
    // partitioning step every tree ensemble repeats, expressed as two
    // rounds of keyed count aggregation (level 1: the stump's
    // cumulative-histogram search; level 2: per-(branch, value) counts
    // vs branch totals). Everything is integer counts and the same
    // rational impurity p(n−p)/n as the stump; the root argmin rides a
    // 1-row broadcast; per-branch argmin is a window over ≤5 candidate
    // rows. Output: per branch, its mass, the winning priority split,
    // impurity before/after, and the gain. At scale: two passes over
    // the fact, histogram-sized shuffles only — the classic
    // distributed-tree recipe (XGBoost's approx split finding).
    "learn_tree_depth2" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def gini(p: Column, n: Column): Column =
          (p * (n - p)).cast("double") / n.cast("double")
        val base = Tables.orders(s, d)
          .select(
            least(floor(col("o_totalprice") / lit(25000.0)), lit(19.0))
              .cast("int").as("bin"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"),
            col("o_orderpriority").as("prio"))
        val bins = base.groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("p"))
        val tot = bins.agg(sum("n").as("n_tot"), sum("p").as("p_tot"))
        val wc = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val splits = bins
          .select(col("bin"), sum("n").over(wc).as("nl"),
            sum("p").over(wc).as("pl"))
          .crossJoin(broadcast(tot))
          .filter(col("nl") > 0 && col("n_tot") - col("nl") > 0)
          .select(col("bin"),
            (gini(col("pl"), col("nl")) +
              gini(col("p_tot") - col("pl"), col("n_tot") - col("nl")))
              .as("imp"))
        val root = splits.orderBy("imp", "bin").limit(1)
          .select(col("bin").as("root_bin"))
        val branched = base.crossJoin(broadcast(root))
          .withColumn("branch",
            when(col("bin") <= col("root_bin"), "left").otherwise("right"))
        val pv = branched.groupBy("branch", "prio")
          .agg(count(lit(1)).as("nv"), sum("y").as("pvp"))
        val bt = pv.groupBy("branch")
          .agg(sum("nv").as("bn"), sum("pvp").as("bp"))
        val wB = Window.partitionBy("branch")
          .orderBy("imp_after", "prio")
        pv.join(broadcast(bt), "branch")
          .filter(col("nv") < col("bn")) // one-vs-rest needs a rest
          .select(col("branch"), col("prio"), col("bn"), col("bp"),
            (gini(col("pvp"), col("nv")) +
              gini(col("bp") - col("pvp"), col("bn") - col("nv")))
              .as("imp_after"))
          .withColumn("rk", row_number().over(wB))
          .filter(col("rk") === 1)
          .crossJoin(broadcast(root))
          .select(col("root_bin"), col("branch"), col("bn"), col("bp"),
            col("prio").as("best_priority"),
            gini(col("bp"), col("bn")).as("imp_before"),
            col("imp_after"),
            (gini(col("bp"), col("bn")) - col("imp_after")).as("gain"))
          .orderBy("branch")
      },
      """WITH base AS (
        |  SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19.0) AS INT)
        |           AS bin,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |         o_orderpriority AS prio
        |  FROM orders),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(y) AS BIGINT) AS p
        |      FROM base GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
        |               CAST(SUM(p) AS BIGINT) AS p_tot FROM g),
        |c AS (SELECT bin,
        |        CAST(SUM(n) OVER w AS BIGINT) AS nl,
        |        CAST(SUM(p) OVER w AS BIGINT) AS pl
        |      FROM g
        |      WINDOW w AS (ORDER BY bin
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |sp AS (SELECT bin,
        |         CAST(pl * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)
        |         + CAST((p_tot - pl) * ((n_tot - nl) - (p_tot - pl))
        |             AS DOUBLE) / CAST(n_tot - nl AS DOUBLE) AS imp
        |       FROM c, tot
        |       WHERE nl > 0 AND n_tot - nl > 0),
        |root AS (SELECT bin AS root_bin FROM sp
        |         ORDER BY imp, bin LIMIT 1),
        |br AS (SELECT CASE WHEN bin <= root_bin THEN 'left'
        |              ELSE 'right' END AS branch, y, prio
        |       FROM base, root),
        |pv AS (SELECT branch, prio, CAST(COUNT(*) AS BIGINT) AS nv,
        |              CAST(SUM(y) AS BIGINT) AS pvp
        |       FROM br GROUP BY 1, 2),
        |bt AS (SELECT branch, CAST(SUM(nv) AS BIGINT) AS bn,
        |              CAST(SUM(pvp) AS BIGINT) AS bp
        |       FROM pv GROUP BY 1),
        |cand AS (SELECT pv.branch, pv.prio, bt.bn, bt.bp,
        |           CAST(pv.pvp * (pv.nv - pv.pvp) AS DOUBLE)
        |             / CAST(pv.nv AS DOUBLE)
        |           + CAST((bt.bp - pv.pvp) * ((bt.bn - pv.nv)
        |               - (bt.bp - pv.pvp)) AS DOUBLE)
        |             / CAST(bt.bn - pv.nv AS DOUBLE) AS imp_after
        |         FROM pv JOIN bt USING (branch)
        |         WHERE pv.nv < bt.bn),
        |best AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY branch
        |      ORDER BY imp_after, prio) AS rk FROM cand)
        |  WHERE rk = 1)
        |SELECT root.root_bin, best.branch, best.bn, best.bp,
        |       best.prio AS best_priority,
        |       CAST(best.bp * (best.bn - best.bp) AS DOUBLE)
        |         / CAST(best.bn AS DOUBLE) AS imp_before,
        |       best.imp_after,
        |       CAST(best.bp * (best.bn - best.bp) AS DOUBLE)
        |         / CAST(best.bn AS DOUBLE) - best.imp_after AS gain
        |FROM best, root ORDER BY branch""".stripMargin),

    // Linear SVM trained ON the engine: 5 rounds of BATCH subgradient
    // descent on L2-regularized hinge loss (Pegasos-style, full-batch
    // variant) over the SAME shared feature table as logreg — the
    // max-margin counterpart next to the probabilistic trainer. Hinge is
    // the determinism-friendly loss: the subgradient is an INDICATOR
    // (yᵢ·z < 1) times yᵢ·xᵢ — pure comparisons and rational arithmetic,
    // no exp()/ln() surrogate needed at all. Each round is ONE
    // map-side-combined scan producing four exact 2^40-scaled decimal
    // sums (same single-scan shape PhysicalPlanSpec pins for logreg);
    // the weight update w ← w·(1−ηλ) + η·g runs driver-side on the
    // exact sums and the oracle replays it CTE-by-CTE in lockstep.
    // Output: final weights + margin census (violations, exact-decimal
    // hinge loss, training accuracy). At 100 TB: rounds × one scan,
    // nothing else — the model state crossing the wire is 4 doubles.
    "learn_svm_subgradient" -> QuerySpec(
      (s, d) => {
        val (ft, _, n) = trainedLogreg(s, d)
        def ys = lit(2.0) * col("y") - lit(1.0)
        // empty corpus: subgradient is 0/0 — NaN weights, emitted as
        // SQL-NULL below (wlit), matching the oracle's NULL chain
        var w =
          if (n == 0) Array.fill(4)(Double.NaN)
          else Array(0.0, 0.0, 0.0, 0.0) // w1, w2, w3, bias
        if (n > 0) for (_ <- 1 to SvmRounds) {
          val m = when(ys * zOf(w) < lit(1.0), ys).otherwise(lit(0.0))
          val row = ft.agg(dsum(m * col("x1")), dsum(m * col("x2")),
            dsum(m * col("x3")), dsum(m)).head()
          val g = (0 to 3).map(i =>
            (row.getDecimal(i).doubleValue() / Scale.toDouble) / n)
          w = Array(
            w(0) * (1.0 - SvmEta * SvmLambda) + SvmEta * g(0),
            w(1) * (1.0 - SvmEta * SvmLambda) + SvmEta * g(1),
            w(2) * (1.0 - SvmEta * SvmLambda) + SvmEta * g(2),
            w(3) + SvmEta * g(3)) // bias unregularized
        }
        val z = zOf(w)
        def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
        ft.agg(
            cnt(ys * z < lit(1.0)).as("n_violations"),
            (dsum(greatest(lit(0.0), lit(1.0) - ys * z)).cast("double") /
              lit(Scale.toDouble)).as("hinge_loss"),
            cnt((z >= lit(0.0)) === (ys > lit(0.0))).as("n_correct"))
          .select(
            wlit(w(0)).as("w_tokens"), wlit(w(1)).as("w_ttr"),
            wlit(w(2)).as("w_toklen"), wlit(w(3)).as("bias"),
            col("n_violations"), col("hinge_loss"), col("n_correct"),
            Analytic.safeDiv(col("n_correct").cast("double"), lit(n))
              .as("accuracy"))
      },
      s"""WITH $duckFtCtes,
         |v0 AS MATERIALIZED (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
         |       0.0 AS b),
         |${(1 to SvmRounds).map(duckSvmRound).mkString(",\n")},
         |fin AS (SELECT
         |    CAST(SUM(CASE WHEN ys * z < 1.0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_violations,
         |    CAST(SUM(CAST(floor(greatest(0.0, 1.0 - ys * z)
         |        * 1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
         |      / 1099511627776.0 AS hinge_loss,
         |    CAST(SUM(CASE WHEN (z >= 0.0) = (ys > 0.0) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM (SELECT 2.0 * y - 1.0 AS ys,
         |          w1 * x1 + w2 * x2 + w3 * x3 + b AS z
         |        FROM ft, v$SvmRounds) t)
         |SELECT w1 AS w_tokens, w2 AS w_ttr, w3 AS w_toklen, b AS bias,
         |       n_violations, hinge_loss, n_correct,
         |       CAST(n_correct AS DOUBLE) / nd AS accuracy
         |FROM v$SvmRounds, fin, n""".stripMargin),

    // Per-segment simple linear regression (OLS via sufficient
    // statistics): revenue trend — o_totalprice regressed on order day —
    // per customer market segment, the grouped-trend primitive behind
    // "is this segment growing". ONE pass computes the five sufficient
    // statistics per segment (n, Σx, Σx², Σy, Σxy, Σy²) as map-side-
    // combined exact sums; slope/intercept/R² are then fixed double
    // chains over per-segment SCALARS. Determinism by magnitude budget
    // (the HITS lesson): x is DAYS SINCE THE CORPUS MIN DATE (≤ ~2.5k,
    // so Σx² is a plain BIGINT), y-sums are 2^10-scaled floor()ed
    // decimals and Σy² is 2^-10-scaled, keeping EVERY accumulated sum
    // under 2^53 — each decimal→double conversion is exact, not merely
    // correctly-rounded, and the regression algebra
    // slope = (n·Σxy−ΣxΣy)/(n·Σx²−Σx²) runs on identical doubles in
    // identical order on both engines. (The 2^10 scale is the dial: at
    // 100× the rows, widen x centering or drop another 2^5.)
    "learn_linreg_per_segment" -> QuerySpec(
      (s, d) => {
        val j = Tables.orders(s, d)
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
            col("o_custkey") === col("c_custkey"))
          .select(col("segment"),
            expr("unix_micros(to_utc_timestamp(o_orderdate, 'UTC'))" +
              " div 86400000000").as("day"),
            col("o_totalprice").as("y"))
        val d0 = j.agg(min("day").as("d0"))
        val f = j.crossJoin(broadcast(d0))
          .select(col("segment"), (col("day") - col("d0")).as("x"),
            col("y"))
        def dec(c: org.apache.spark.sql.Column) =
          sum(floor(c).cast("decimal(38,0)")).cast("double")
        val g = f.groupBy("segment").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"),
          sum(col("x") * col("x")).as("sx2"),
          (dec(col("y") * lit(1024.0)) / lit(1024.0)).as("sy"),
          (dec(col("x").cast("double") * col("y") * lit(1024.0)) /
            lit(1024.0)).as("sxy"),
          (dec(col("y") * col("y") / lit(1024.0)) * lit(1024.0)).as("syy"))
        g.select(col("segment"), col("n"),
            col("n").cast("double").as("nd"),
            col("sx").cast("double").as("sxd"),
            col("sx2").cast("double").as("sx2d"),
            col("sy"), col("sxy"), col("syy"))
          .withColumn("num", col("nd") * col("sxy") - col("sxd") * col("sy"))
          .withColumn("denx",
            col("nd") * col("sx2d") - col("sxd") * col("sxd"))
          .withColumn("deny", col("nd") * col("syy") - col("sy") * col("sy"))
          .withColumn("slope", col("num") / col("denx"))
          .withColumn("intercept",
            col("sy") / col("nd") - col("slope") * (col("sxd") / col("nd")))
          .withColumn("r2",
            (col("num") / col("denx")) * (col("num") / col("deny")))
          .select("segment", "n", "slope", "intercept", "r2")
          .orderBy("segment")
      },
      """WITH j AS (
        |  SELECT c.c_mktsegment AS segment,
        |         epoch_us(o.o_orderdate) // 86400000000 AS day,
        |         o.o_totalprice AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |m AS (SELECT MIN(day) AS d0 FROM j),
        |f AS (SELECT segment, CAST(day - d0 AS BIGINT) AS x, y FROM j, m),
        |g AS (SELECT segment,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sx2,
        |    CAST(SUM(CAST(floor(y * 1024.0) AS DECIMAL(38,0)))
        |      AS DOUBLE) / 1024.0 AS sy,
        |    CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * y * 1024.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1024.0 AS sxy,
        |    CAST(SUM(CAST(floor(y * y / 1024.0) AS DECIMAL(38,0)))
        |      AS DOUBLE) * 1024.0 AS syy
        |  FROM f GROUP BY 1),
        |e AS (SELECT segment, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sx2 AS DOUBLE) AS sx2d, sy, sxy, syy
        |  FROM g),
        |r AS (SELECT segment, n, nd, sxd, sy,
        |    nd * sxy - sxd * sy AS num,
        |    nd * sx2d - sxd * sxd AS denx,
        |    nd * syy - sy * sy AS deny
        |  FROM e)
        |SELECT segment, n,
        |       num / denx AS slope,
        |       sy / nd - (num / denx) * (sxd / nd) AS intercept,
        |       (num / denx) * (num / deny) AS r2
        |FROM r ORDER BY segment""".stripMargin),

    // Item-item collaborative filtering (Sarwar et al. 2001, binary
    // ratings): treat each order as a "user" and each part's order set
    // as its interaction vector; cosine(p, q) = |orders(p) ∩ orders(q)|
    // / √(|orders(p)|·|orders(q)|), and recommend each seed part's top-5
    // most-similar parts — the "customers who bought this also bought"
    // ranker, computed purely from co-occurrence counts so every input
    // to the score is an exact integer and the score itself is one
    // division by one correctly-rounded sqrt. Seeds are the 20 smallest
    // part ids (the same scale-honest scoping as graph_link_prediction:
    // per-seed candidates are bounded by co-purchase degree, and the
    // full-catalog sweep is this identical plan off a bigger seed list).
    // Scale shape: the seed list and the part-frequency table (|parts|
    // rows — the item dimension) BROADCAST against the order-line scan;
    // co-occurrence is one keyed agg; the top-5 window partitions BY
    // SEED, never globally.
    "learn_item_cf_cosine" -> QuerySpec(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val nord = li.groupBy("pk").agg(count(lit(1)).as("nord"))
        val seeds = nord.select(col("pk").as("seed"))
          .orderBy("seed").limit(20)
        // co-occurrence counts per (seed, item) = the SHARED co-purchase
        // support stage (distinct co-occurring orders per directed pair)
        // restricted to src ∈ seeds — a broadcast semi-filter over the
        // materialized table, not another order-key self-join
        val co = GraphQ.coPurchaseSupportEdges(s, d)
          .join(broadcast(seeds), col("src") === col("seed"))
          .select(col("seed"), col("dst").as("item"),
            col("support"))
        val ns = nord.select(col("pk").as("seed"), col("nord").as("n_seed"))
        val ni = nord.select(col("pk").as("item"), col("nord").as("n_item"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("seed").orderBy(desc("cos"), asc("item"))
        co.join(broadcast(ns), "seed").join(broadcast(ni), "item")
          .withColumn("cos", col("support").cast("double") /
            sqrt((col("n_seed") * col("n_item")).cast("double")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("seed"), col("rk").cast("long").as("rk"),
            col("item"), col("support"), col("n_seed"), col("n_item"),
            col("cos"))
          .orderBy("seed", "rk")
      },
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |       l_partkey AS pk FROM lineitem),
        |nord AS MATERIALIZED (SELECT pk, CAST(COUNT(*) AS BIGINT) AS nord
        |       FROM li GROUP BY 1),
        |seeds AS (SELECT pk AS seed FROM nord ORDER BY seed LIMIT 20),
        |co AS (SELECT s.seed, b.pk AS item,
        |         CAST(COUNT(*) AS BIGINT) AS support
        |       FROM li a JOIN seeds s ON a.pk = s.seed
        |            JOIN li b ON a.ok = b.ok AND b.pk <> s.seed
        |       GROUP BY 1, 2),
        |sc AS (SELECT co.seed, co.item, co.support,
        |         ns.nord AS n_seed, ni.nord AS n_item,
        |         CAST(co.support AS DOUBLE) /
        |           sqrt(CAST(ns.nord * ni.nord AS DOUBLE)) AS cos
        |       FROM co JOIN nord ns ON co.seed = ns.pk
        |               JOIN nord ni ON co.item = ni.pk),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY seed
        |         ORDER BY cos DESC, item) AS rk FROM sc)
        |SELECT seed, CAST(rk AS BIGINT) AS rk, item, support,
        |       n_seed, n_item, cos
        |FROM rk WHERE rk <= 5 ORDER BY seed, rk""".stripMargin),

    // Isotonic (PAV) calibration of the shared trained classifier —
    // the monotone-regression upgrade of the decile reliability diagram:
    // fit the best NON-DECREASING calibrated rate over score buckets.
    // Instead of the sequential pool-adjacent-violators sweep (which
    // doesn't parallelize), the fit uses PAV's closed-form minimax
    // identity — iso(b) = max_{i≤b} min_{j≥b} mean(pos)/mean(n) over
    // bucket range [i,j] — so both engines compute it as joins/aggs over
    // EXACT integer range sums (prefix sums once, every range average an
    // exact rational, min/max of identically-computed doubles). Buckets
    // quantize scores to 1/200 units, so the bucket table is ≤ 201 rows
    // BY CONSTRUCTION: the cumulative window, the O(B²) range table and
    // the O(B³) minimax join are all bounded regardless of corpus size
    // (the bounded-window discipline of learn_logreg_filter_curve) while
    // the only corpus-sized step is the keyed bucket count. The spec
    // asserts monotonicity and PAV's mass-preservation identity.
    "learn_isotonic_calibration" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (ft, w, _) = trainedLogreg(s, d)
        val bk = ft.select(col("y"),
            floor(softsign(zOf(w)) * lit(200.0)).cast("long").as("b"))
          .groupBy("b")
          .agg(count(lit(1)).as("n"), sum(col("y").cast("long")).as("pos"))
        val cw = Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = bk.select(col("b"), col("n"), col("pos"),
          sum("n").over(cw).as("cn"), sum("pos").over(cw).as("cp"))
        val lo = cum.select(col("b").as("bi"),
          (col("cn") - col("n")).as("pn"), (col("cp") - col("pos")).as("pp"))
        val hi = cum.select(col("b").as("bj"), col("cn"), col("cp"))
        val ranges = lo.join(hi, col("bi") <= col("bj"))
          .select(col("bi"), col("bj"),
            ((col("cp") - col("pp")).cast("double") /
              (col("cn") - col("pn")).cast("double")).as("ravg"))
        val bs = bk.select(col("b").as("bb"))
        val m1 = ranges.join(bs,
            col("bi") <= col("bb") && col("bj") >= col("bb"))
          .groupBy("bb", "bi").agg(min("ravg").as("mn"))
        val iso = m1.groupBy("bb").agg(max("mn").as("iso_rate"))
        bk.join(iso, col("b") === col("bb"))
          .select(col("b").as("bucket"), col("n").as("n_docs"),
            col("pos").as("n_pos"),
            (col("pos").cast("double") / col("n").cast("double"))
              .as("raw_rate"),
            col("iso_rate"))
          .orderBy("bucket")
      },
      s"""WITH $duckLogregCtes,
         |bk AS MATERIALIZED (SELECT
         |    CAST(FLOOR(0.5 * (1.0 + z / (1.0 + abs(z))) * 200.0)
         |      AS BIGINT) AS b,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
         |  FROM (SELECT y, w1 * x1 + w2 * x2 + w3 * x3 + b AS z
         |        FROM ft, w$LogregRounds) t GROUP BY 1),
         |cum AS MATERIALIZED (SELECT b, n, pos,
         |    CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cn,
         |    CAST(SUM(pos) OVER (ORDER BY b) AS BIGINT) AS cp
         |  FROM bk),
         |ranges AS MATERIALIZED (SELECT lo.b AS bi, hi.b AS bj,
         |    CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
         |      / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS ravg
         |  FROM cum lo JOIN cum hi ON lo.b <= hi.b),
         |m1 AS MATERIALIZED (SELECT bs.b AS bb, r.bi,
         |    MIN(r.ravg) AS mn
         |  FROM ranges r JOIN bk bs ON r.bi <= bs.b AND r.bj >= bs.b
         |  GROUP BY 1, 2),
         |iso AS (SELECT bb, MAX(mn) AS iso_rate FROM m1 GROUP BY 1)
         |SELECT bk.b AS bucket, bk.n AS n_docs, bk.pos AS n_pos,
         |  CAST(bk.pos AS DOUBLE) / CAST(bk.n AS DOUBLE) AS raw_rate,
         |  iso.iso_rate
         |FROM bk JOIN iso ON bk.b = iso.bb
         |ORDER BY bucket""".stripMargin),

    // Split-conformal coverage audit of the shared trained classifier
    // (Vovk's split conformal, the distribution-free prediction-set
    // guarantee a curation pipeline wants before trusting scores): a
    // hash-derandomized 50/50 calibration/test split; nonconformity =
    // probability mass the model puts on the WRONG side (1−f for
    // positives, f for negatives), quantized to integer MICRO-units so
    // the calibration quantile is an exact integer order statistic over
    // a ≤10⁶-row distinct-score table BY CONSTRUCTION (the bounded-
    // window discipline), at rank ceil((n_cal+1)(1−α)) with α = 0.1 —
    // exact integer arithmetic, no percentile interpolation. Coverage on
    // the held-out half (fraction with nonconformity ≤ the threshold)
    // carries the finite-sample ≥ 1−α marginal guarantee; the verdict
    // allows 5 points of finite-sample slack. Scale shape: scoring is
    // one scan; the split is a hash predicate; the only non-keyed step
    // is the bounded cumulative window.
    "learn_conformal_coverage" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (_, w, _) = trainedLogreg(s, d)
        val toks = TextOps.tokens(col("text"))
        val nt = size(toks).cast("double")
        val sc = Tables.documents(s, d)
          .select(col("doc_id"),
            when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
              .as("y"),
            (size(toks).cast("double") / lit(100.0)).as("x1"),
            (size(array_distinct(toks)).cast("double") / nt).as("x2"),
            (aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
              .cast("double") / nt / lit(10.0)).as("x3"))
          .select(col("doc_id"), col("y"), softsign(zOf(w)).as("f"))
          .select(col("doc_id"),
            floor(when(col("y") === 1.0, lit(1.0) - col("f"))
              .otherwise(col("f")) * lit(1000000.0)).cast("long").as("su"),
            (TextOps.hash64(concat_ws(":", col("doc_id"), lit("cal")))
              % 2 === 0).as("is_cal"))
          .localCheckpoint(true)
        val nCal = sc.filter(col("is_cal")).count()
        val kRank = ((nCal + 1) * 9 + 9) / 10 // ceil((n_cal+1)*0.9)
        val cw = Window.orderBy("su")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val q = sc.filter(col("is_cal")).groupBy("su")
          .agg(count(lit(1)).as("c"))
          .select(col("su"), sum("c").over(cw).as("cum"))
          .filter(col("cum") >= kRank)
          .agg(min("su").as("q_units"))
        sc.filter(!col("is_cal")).crossJoin(broadcast(q))
          .agg(count(lit(1)).as("n_test"),
            (sum(when(col("su") <= col("q_units"), 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"))
              .as("coverage"),
            first(col("q_units")).as("q_units"))
          .select(lit(nCal).as("n_cal"), col("n_test"),
            lit(kRank).as("k_rank"), col("q_units"), col("coverage"),
            (col("coverage") >= 0.85).as("within_slack"))
          // the oracle's grouped aggregate emits NO row for an empty
          // test split (degenerate fixture); a global agg always emits
          // one — align on the grouped semantics
          .filter(col("n_test") > 0)
      },
      {
        val k = "CAST(doc_id AS VARCHAR)"
        val h = s"CAST(('0x' || substr(md5($k || ':cal'), 1, 15))" +
          "::UBIGINT AS BIGINT)"
        s"""WITH $duckLogregCtes,
           |ftd AS MATERIALIZED (SELECT doc_id,
           |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           |    CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
           |    CAST(len(list_distinct(toks)) AS DOUBLE)
           |      / CAST(len(toks) AS DOUBLE) AS x2,
           |    CAST(list_sum(list_transform(toks, t -> length(t)))
           |        AS DOUBLE)
           |      / CAST(len(toks) AS DOUBLE) / 10.0 AS x3
           |  FROM (SELECT doc_id, $duckToks AS toks, lang
           |        FROM documents)),
           |sc AS MATERIALIZED (SELECT doc_id,
           |    CAST(FLOOR(CASE WHEN y = 1.0
           |        THEN 1.0 - (0.5 * (1.0 + z / (1.0 + abs(z))))
           |        ELSE 0.5 * (1.0 + z / (1.0 + abs(z))) END
           |      * 1000000.0) AS BIGINT) AS su,
           |    $h % 2 = 0 AS is_cal
           |  FROM (SELECT doc_id, y,
           |          w1 * x1 + w2 * x2 + w3 * x3 + b AS z
           |        FROM ftd, w$LogregRounds) t),
           |ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM sc
           |  WHERE is_cal),
           |krank AS (SELECT ((n_cal + 1) * 9 + 9) // 10 AS k_rank
           |  FROM ncal),
           |q AS (SELECT MIN(su) AS q_units FROM (
           |    SELECT su, CAST(SUM(c) OVER (ORDER BY su) AS BIGINT)
           |      AS cum
           |    FROM (SELECT su, COUNT(*) AS c FROM sc WHERE is_cal
           |          GROUP BY 1) g) w, krank
           |  WHERE cum >= k_rank)
           |SELECT n_cal, CAST(COUNT(*) AS BIGINT) AS n_test, k_rank,
           |  q_units,
           |  CAST(SUM(CASE WHEN su <= q_units THEN 1 ELSE 0 END)
           |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage,
           |  CAST(SUM(CASE WHEN su <= q_units THEN 1 ELSE 0 END)
           |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) >= 0.85
           |    AS within_slack
           |FROM sc, ncal, krank, q
           |WHERE NOT is_cal
           |GROUP BY n_cal, k_rank, q_units""".stripMargin
      }),

    // Batch perceptron (Rosenblatt's rule, batched: w += Σ_misclassified
    // y·x per round) for the en-vs-rest router on INTEGER features
    // (token count, char count, 'the' count, bias) — the one linear
    // learner whose whole training run is EXACT integer arithmetic: no
    // scaled decimals, no softsign surrogate, every weight and margin a
    // bounded Long (|Δw| ≤ Σ|x| ≈ 2M per round at sf0.1; margins < 2^40 —
    // nowhere near overflow even at 1000× the corpus). Each round is ONE
    // scan of the checkpointed feature table producing the gradient sums,
    // the train mistake count, AND the holdout accuracy under the same
    // weight vector (a single map-side-combined global agg — the
    // treeAggregate shape); the driver holds only the 4-long weight
    // vector, exactly MLlib's model-vector-broadcast discipline. Output
    // is the per-round learning curve: mistakes seen, weights after the
    // update, holdout hits under them. The oracle replays every round
    // CTE-for-CTE in lockstep integer arithmetic.
    "learn_perceptron_batch" -> QuerySpec(
      (s, d) => {
        val ft = perceptronFeatures(s, d).localCheckpoint(true)
        def audit(w: Array[Long]) = perceptronAudit(ft, w).head()
        var w = Array(0L, 0L, 0L, 0L)
        var prev = audit(w)
        // empty corpus: every audit sum is SQL-NULL and the oracle's
        // weight chain is NULL from round 1 — emit the same NULL rows
        // (round numbers intact) instead of crashing on getLong(null)
        val rows: Seq[(Long, Option[Long], Option[Long], Option[Long],
            Option[Long], Option[Long], Option[Long])] =
          if (prev.isNullAt(0))
            (1 to PerceptronRounds).map(r => (r.toLong, None, None,
              None, None, None, None))
          else (1 to PerceptronRounds).map { r =>
            val nMis = prev.getLong(4)
            w = Array(w(0) + prev.getLong(0), w(1) + prev.getLong(1),
              w(2) + prev.getLong(2), w(3) + prev.getLong(3))
            prev = audit(w) // n_mis for the NEXT round, holdout for THIS
            (r.toLong, Some(nMis), Some(w(0)), Some(w(1)), Some(w(2)),
              Some(w(3)), Some(prev.getLong(5)))
          }
        import s.implicits._
        rows.toDF("round", "n_mis", "w1", "w2", "w3", "b",
          "holdout_correct").orderBy("round")
      },
      {
        val m = "y * (w1 * x1 + w2 * x2 + w3 * x3 + b)"
        def aCte(k: Int): String =
          s"""a$k AS (SELECT
             |  CAST(SUM(CASE WHEN NOT hold AND $m <= 0
             |    THEN y * x1 ELSE 0 END) AS BIGINT) AS g1,
             |  CAST(SUM(CASE WHEN NOT hold AND $m <= 0
             |    THEN y * x2 ELSE 0 END) AS BIGINT) AS g2,
             |  CAST(SUM(CASE WHEN NOT hold AND $m <= 0
             |    THEN y * x3 ELSE 0 END) AS BIGINT) AS g3,
             |  CAST(SUM(CASE WHEN NOT hold AND $m <= 0
             |    THEN y ELSE 0 END) AS BIGINT) AS gb,
             |  CAST(SUM(CASE WHEN NOT hold AND $m <= 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mis,
             |  CAST(SUM(CASE WHEN hold AND $m > 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS hc
             |FROM ft, wt$k)""".stripMargin
        def wCte(k: Int): String =
          s"""wt$k AS (SELECT wt${k - 1}.w1 + a${k - 1}.g1 AS w1,
             |  wt${k - 1}.w2 + a${k - 1}.g2 AS w2,
             |  wt${k - 1}.w3 + a${k - 1}.g3 AS w3,
             |  wt${k - 1}.b + a${k - 1}.gb AS b
             |FROM wt${k - 1}, a${k - 1})""".stripMargin
        def outRow(r: Int): String =
          s"""SELECT CAST($r AS BIGINT) AS round, a${r - 1}.n_mis,
             |  wt$r.w1, wt$r.w2, wt$r.w3, wt$r.b,
             |  a$r.hc AS holdout_correct
             |FROM a${r - 1}, wt$r, a$r""".stripMargin
        s"""WITH ft AS MATERIALIZED (
           |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
           |    CAST(len($duckToks) AS BIGINT) AS x1,
           |    n_chars AS x2,
           |    CAST(len(list_filter($duckToks, t -> t = 'the'))
           |      AS BIGINT) AS x3,
           |    doc_id % 5 = 0 AS hold
           |  FROM documents),
           |wt0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
           |  CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS b),
           |${(aCte(0) +: (1 to PerceptronRounds)
                .flatMap(k => Seq(wCte(k), aCte(k)))).mkString(",\n")}
           |${(1 to PerceptronRounds).map(outRow).mkString("\nUNION ALL\n")}
           |ORDER BY round""".stripMargin
      }),

    // Leave-one-out top-k evaluation of the co-occurrence recommender —
    // the hit-rate@k harness every retrieval/recsys pipeline runs before
    // shipping a model (learn_item_cf_cosine builds the model; this
    // measures it). For the first 50 order keys whose basket has ≥ 3
    // distinct items,
    // hide the max-id item, score every item co-occurring with the
    // remaining context (score = Σ_ctx co-occurrence count), and report
    // the held-out item's rank. The eval basket's own contribution is
    // removed EXACTLY: global co-occurrence minus n_ctx for the held
    // item (each context item co-occurs with it once in the eval basket
    // itself) — the leave-one-basket-out correction without a per-basket
    // re-count. Context items are excluded from the candidate ranking;
    // rank 0 = the held item shares no other basket with any context
    // item (an honest miss, kept via the LEFT JOIN). All-integer scores,
    // total-ordered ranking. Scale: candidates come ONLY from equi-key
    // joins seeded by the broadcast context set (never all-pairs); the
    // ranking window partitions per basket over its co-occurrence
    // fan-out, bounded by item popularity.
    "learn_cf_eval_topk" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // The basket distinct is needed only to derive evalB (50 rows)
        // and ctx (their baskets) — materializing the full corpus-sized
        // distinct table (the old localCheckpoint) held a lineitem-scale
        // table resident for two tiny consumers. Instead: ONE exchange
        // builds evalB (repartition by order key satisfies both the
        // (ok, pk) distinct and the per-ok aggregate — clustering by a
        // prefix), and ctx re-derives its ≤50 baskets from a
        // broadcast-pre-filtered scan (distinct over 50 baskets, not the
        // corpus), checkpointed because two arms consume it.
        val liRaw = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val evalB = liRaw.repartition(col("ok")).distinct()
          .groupBy("ok")
          .agg(count(lit(1)).as("n"), max("pk").as("held"))
          .filter(col("n") >= 3).orderBy("ok").limit(50)
          .select(col("ok").as("eok"), col("held"),
            (col("n") - 1).as("n_ctx"))
          .localCheckpoint(true)
        val ctx = liRaw.join(broadcast(evalB), col("ok") === col("eok"))
          .filter(col("pk") =!= col("held"))
          .select(col("eok"), col("pk").as("ctx_pk"))
          .distinct()
          .localCheckpoint(true)
        // s_global(eok, cand) = Σ_{p ∈ ctx(eok)} |orders with p and cand|
        // — the SHARED co-purchase support stage summed over the eval
        // basket's context parts (broadcast), replacing the 3-way
        // order-key self-join with one keyed agg over the materialized
        // pair table (src ≠ dst is inherent in the edge stage).
        val co = GraphQ.coPurchaseSupportEdges(s, d)
          .join(broadcast(ctx), col("src") === col("ctx_pk"))
          .groupBy(col("eok"), col("dst").as("cand"))
          .agg(sum("support").as("s_global"))
        val sc = co
          .join(broadcast(ctx.withColumnRenamed("ctx_pk", "cand")),
            Seq("eok", "cand"), "left_anti")
          .join(broadcast(evalB), "eok")
          .withColumn("score", when(col("cand") === col("held"),
            col("s_global") - col("n_ctx")).otherwise(col("s_global")))
          .filter(col("score") > 0)
        val w = Window.partitionBy("eok").orderBy(desc("score"), asc("cand"))
        val heldRank = sc.withColumn("rk", row_number().over(w))
          .filter(col("cand") === col("held"))
          .select(col("eok"), col("rk").cast("long").as("rank_held"),
            col("score").as("score_held"))
        // heldRank is ≤ |evalB| rows by construction — broadcast it so
        // the final left join never sort-merges 50 rows.
        evalB.join(broadcast(heldRank), Seq("eok"), "left")
          .select(col("eok").as("ok"), col("held"), col("n_ctx"),
            coalesce(col("rank_held"), lit(0L)).as("rank_held"),
            coalesce(col("score_held"), lit(0L)).as("score_held"),
            coalesce(col("rank_held"), lit(0L)).between(1L, 10L)
              .as("hit_at_10"))
          .orderBy("ok")
      },
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |       l_partkey AS pk FROM lineitem),
        |eb AS MATERIALIZED (
        |  SELECT ok AS eok, MAX(pk) AS held,
        |         CAST(COUNT(*) - 1 AS BIGINT) AS n_ctx
        |  FROM li GROUP BY ok HAVING COUNT(*) >= 3
        |  ORDER BY ok LIMIT 50),
        |ctx AS MATERIALIZED (
        |  SELECT eb.eok, li.pk AS ctx_pk
        |  FROM li JOIN eb ON li.ok = eb.eok WHERE li.pk <> eb.held),
        |co AS (SELECT c.eok, b.pk AS cand,
        |         CAST(COUNT(*) AS BIGINT) AS s_global
        |       FROM ctx c JOIN li a ON a.pk = c.ctx_pk
        |            JOIN li b ON b.ok = a.ok AND b.pk <> a.pk
        |       GROUP BY 1, 2),
        |sc AS (SELECT co.eok, co.cand, eb.held,
        |         CASE WHEN co.cand = eb.held
        |              THEN co.s_global - eb.n_ctx
        |              ELSE co.s_global END AS score
        |       FROM co JOIN eb ON co.eok = eb.eok
        |       WHERE NOT EXISTS (SELECT 1 FROM ctx x
        |              WHERE x.eok = co.eok AND x.ctx_pk = co.cand)),
        |rk AS (SELECT eok, cand, held, score,
        |         row_number() OVER (PARTITION BY eok
        |           ORDER BY score DESC, cand) AS rk
        |       FROM sc WHERE score > 0),
        |hr AS (SELECT eok, CAST(rk AS BIGINT) AS rank_held,
        |         score AS score_held
        |       FROM rk WHERE cand = held)
        |SELECT eb.eok AS ok, eb.held, eb.n_ctx,
        |       COALESCE(hr.rank_held, 0) AS rank_held,
        |       COALESCE(hr.score_held, 0) AS score_held,
        |       COALESCE(hr.rank_held, 0) BETWEEN 1 AND 10 AS hit_at_10
        |FROM eb LEFT JOIN hr ON eb.eok = hr.eok
        |ORDER BY ok""".stripMargin),

    // Bradley-Terry strength aggregation over pairwise preferences — the
    // preference-data primitive an RLHF pipeline runs to turn noisy
    // per-annotator A-beats-B comparisons into item strengths (and the
    // classic paired-comparison model, Bradley & Terry 1952). The MLE is
    // fit with ZERMELO'S MM iteration w_i ← W_i / Σ_j N_ij/(w_i+w_j)
    // (Hunter 2004, "MM algorithms for generalized Bradley-Terry
    // models") precisely because it needs ONLY +,/ — no exp()/ln() ever
    // crosses the engine boundary, the same discipline as the logreg
    // softsign surrogate. Preferences here are derived
    // deterministically from the events fixture: for each user, type i
    // beats type j iff the user fired strictly more i-events (a user
    // contributes at most one verdict per unordered pair, so every win
    // census cell is bounded by the user count). DISTRIBUTED part: the
    // per-user type census and the (ti, tj, n) win census — one keyed
    // agg plus one user-keyed self-join whose fan-out is the type-domain
    // square per user, never corpus². The collected census is
    // |types|²-bounded (≤ 25 rows here — the EM-weights/Gramian
    // precedent: driver sees dim², not n). Three MM rounds run
    // driver-side in lockstep with the oracle's CTE chain: each
    // denominator term floor-scales to a 2^30 integer summed in exact
    // arithmetic (BigInt here, DECIMAL(38,0) there — order-free), every
    // derived scalar is the same fixed chain of IEEE ops, and 2^30 (not
    // 2^40) keeps the worst-case denominator sum under 2^53, where
    // BigInt→double and DECIMAL→double are BOTH exact (the documented
    // int128-truncation hazard). Strengths are normalized to mean 1
    // each round via the same floor-scaled exact sum.
    "learn_bradley_terry_strength" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val S = 1073741824.0 // 2^30
        val pc = Tables.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        val cmp = pc.as("a").join(pc.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") =!= col("b.event_type") &&
              col("a.c") > col("b.c"))
          .groupBy(col("a.event_type").as("ti"),
            col("b.event_type").as("tj"))
          .agg(count(lit(1)).as("n"))
          .collect() // <= |types|^2 rows by construction
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val types = Tables.events(s, d).select("event_type").distinct()
          .collect().map(_.getString(0)).sorted // domain-bounded
        require(types.length <= 64,
          s"BT census is |types|^2 driver rows; ${types.length} types " +
            "exceeds the documented 64-item bound — block on a coarser " +
            "item key before fitting")
        val wins = types.map(t =>
          t -> cmp.filter(_._1 == t).map(_._3).sum).toMap
        val losses = types.map(t =>
          t -> cmp.filter(_._2 == t).map(_._3).sum).toMap
        val nSym = (cmp.map(c => ((c._1, c._2), c._3)) ++
            cmp.map(c => ((c._2, c._1), c._3)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
        def exactFloor(x: Double): BigInt = BigDecimal(x).toBigInt
        var w = types.map(_ => 1.0)
        for (_ <- 1 to 3) {
          val wByT = types.zip(w).toMap
          val wu = types.map { ti =>
            val den = types.filter(_ != ti).map { tj =>
              nSym.get((ti, tj)) match {
                case Some(nij) => exactFloor(math.floor(
                  nij.toDouble / (wByT(ti) + wByT(tj)) * S))
                case None => BigInt(0)
              }
            }.sum
            if (den == 0) 0.0
            else wins(ti).toDouble * S / den.toDouble
          }
          val norm = wu.map(x => exactFloor(math.floor(x * S))).sum
          val cS = types.length.toDouble * S
          w = wu.map(x => x * cS / norm.toDouble)
        }
        types.zip(w).map { case (t, st) =>
          (t, wins(t), losses(t), st) }.toSeq
          .toDF("event_type", "n_wins", "n_losses", "strength")
          .orderBy("event_type")
      },
      btOracleSql),
  )

  /** DuckDB side of learn_bradley_terry_strength: the identical census +
    * three Zermelo MM rounds as a CTE chain, generated round-by-round so
    * the arithmetic cannot drift from the Scala loop above (same
    * floor(·2^30) scaled terms into DECIMAL(38,0), same op order in
    * every derived double). */
  private def btOracleSql: String = {
    val S = "1073741824.0"
    val rounds = (1 to 3).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""d$i AS (SELECT s.ti AS t,
         |    CAST(SUM(CAST(FLOOR(CAST(s.nn AS DOUBLE) / (wi.w + wj.w)
         |      * $S) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS den
         |  FROM sym s JOIN $prev wi ON wi.t = s.ti
         |             JOIN $prev wj ON wj.t = s.tj
         |  GROUP BY 1),
         |u$i AS (SELECT ty.t,
         |    COALESCE(CAST(COALESCE(wi.wins, 0) AS DOUBLE) * $S
         |      / CAST(d.den AS DOUBLE), 0.0) AS wu
         |  FROM types ty LEFT JOIN wins wi ON wi.t = ty.t
         |                LEFT JOIN d$i d ON d.t = ty.t),
         |n$i AS (SELECT CAST(SUM(CAST(FLOOR(wu * $S) AS DECIMAL(38,0)))
         |    AS DECIMAL(38,0)) AS ns FROM u$i),
         |w$i AS (SELECT t, wu * ((SELECT CAST(COUNT(*) AS DOUBLE)
         |      FROM types) * $S)
         |    / CAST((SELECT ns FROM n$i) AS DOUBLE) AS w
         |  FROM u$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pc AS (SELECT user_id, event_type AS t, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |types AS (SELECT DISTINCT t FROM pc),
       |cmp AS (SELECT a.t AS ti, b.t AS tj, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pc a JOIN pc b
       |    ON a.user_id = b.user_id AND a.t <> b.t AND a.c > b.c
       |  GROUP BY 1, 2),
       |sym AS (SELECT ti, tj, CAST(SUM(n) AS BIGINT) AS nn FROM (
       |    SELECT ti, tj, n FROM cmp
       |    UNION ALL SELECT tj AS ti, ti AS tj, n FROM cmp) u
       |  GROUP BY 1, 2),
       |wins AS (SELECT ti AS t, CAST(SUM(n) AS BIGINT) AS wins
       |  FROM cmp GROUP BY 1),
       |losses AS (SELECT tj AS t, CAST(SUM(n) AS BIGINT) AS losses
       |  FROM cmp GROUP BY 1),
       |w0 AS (SELECT t, 1.0 AS w FROM types),
       |$rounds
       |SELECT ty.t AS event_type,
       |       CAST(COALESCE(wi.wins, 0) AS BIGINT) AS n_wins,
       |       CAST(COALESCE(lo.losses, 0) AS BIGINT) AS n_losses,
       |       w3.w AS strength
       |FROM types ty LEFT JOIN wins wi ON wi.t = ty.t
       |              LEFT JOIN losses lo ON lo.t = ty.t
       |              JOIN w3 ON w3.t = ty.t
       |ORDER BY event_type""".stripMargin
  }

  /** One DuckDB SVM round: sg$i (subgradient sums) + v$i (weight update)
    * from v${i-1}. Lockstep with the Spark loop above — same indicator,
    * same floor/decimal/unscale sequence, same left-assoc z, bias
    * unregularized. MATERIALIZED for the same chain-re-expansion reason
    * as the logreg rounds. */
  private def duckSvmRound(i: Int): String = {
    s"""sg$i AS MATERIALIZED (SELECT
       |    SUM(CAST(floor(m * x1 * 1099511627776.0) AS DECIMAL(38,0))) AS s1,
       |    SUM(CAST(floor(m * x2 * 1099511627776.0) AS DECIMAL(38,0))) AS s2,
       |    SUM(CAST(floor(m * x3 * 1099511627776.0) AS DECIMAL(38,0))) AS s3,
       |    SUM(CAST(floor(m * 1099511627776.0) AS DECIMAL(38,0))) AS sb
       |  FROM (SELECT x1, x2, x3,
       |          CASE WHEN ys * z < 1.0 THEN ys ELSE 0.0 END AS m
       |        FROM (SELECT x1, x2, x3, 2.0 * y - 1.0 AS ys,
       |                w1 * x1 + w2 * x2 + w3 * x3 + b AS z
       |              FROM ft, v${i - 1}) t0) t),
       |v$i AS MATERIALIZED (SELECT
       |    w1 * (1.0 - $SvmEta * $SvmLambda)
       |      + $SvmEta * ((CAST(s1 AS DOUBLE) / 1099511627776.0) / nd) AS w1,
       |    w2 * (1.0 - $SvmEta * $SvmLambda)
       |      + $SvmEta * ((CAST(s2 AS DOUBLE) / 1099511627776.0) / nd) AS w2,
       |    w3 * (1.0 - $SvmEta * $SvmLambda)
       |      + $SvmEta * ((CAST(s3 AS DOUBLE) / 1099511627776.0) / nd) AS w3,
       |    b + $SvmEta * ((CAST(sb AS DOUBLE) / 1099511627776.0) / nd) AS b
       |  FROM v${i - 1}, sg$i, n)""".stripMargin
  }
}
