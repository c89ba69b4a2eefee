package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ext.TextOps
import graft.io.Tables

/** Record linkage, data fusion, schema matching and dependency discovery —
  * the canonical DATA-INTEGRATION algorithm layer (the reference repo is a
  * data-integration case study: its `insert.py:87-166` pipeline conforms,
  * keys and dedups two sources by hand; these queries are the principled
  * versions of those decisions a production integration engine runs).
  *
  *   - Fellegi–Sunter probabilistic linkage (JASA 1969): agreement-pattern
  *     census with nonparametric m/u estimates and likelihood-ratio
  *     link/possible/non-link verdicts.
  *   - Blocking-quality audit: reduction ratio + pair completeness, the
  *     two numbers every linkage blocking scheme is graded on.
  *   - Truth discovery (TruthFinder/Sums-style, 2 fixed rounds): source
  *     trust ↔ value confidence iteration over conflicting claims.
  *   - Instance-based schema matching: KMV-sketch Jaccard between column
  *     value sets, with the exact Jaccard alongside as the estimator
  *     honesty audit (same discipline as dedup_minhash_estimator_error).
  *   - Functional-dependency discovery: TANE-style g3 audit of a fixed
  *     candidate set.
  *
  * Cross-engine determinism: the "noisy second source" and claim
  * corruptions are hash-derandomized (md5-derived 60-bit ints, the repo's
  * no-rand() sampler discipline), every census cell is an exact integer
  * count, and every derived scalar (m, u, likelihood ratios, trust,
  * accuracy, Jaccard) is a short fixed-order chain of IEEE double ops
  * mirrored operation-by-operation in the oracle. Trust-weighted vote
  * sums accumulate as floor(2^40-scaled) DECIMAL(38,0) — order-free.
  *
  * Scale shapes: candidate pairs come ONLY from equi-key blocking passes
  * (never A×B); the pattern census and every trust/FD step is a keyed agg
  * with map-side combine; per-entity argmax windows partition BY ENTITY;
  * the KMV rank window partitions BY COLUMN (the bounded-sketch path at
  * 100 TB is an approx KMV aggregator — the exact column here doubles as
  * its audit); source tables broadcast against the candidate scan.
  */
object LinkageQ {

  private val Scale = 1099511627776L // 2^40 — exact scale/unscale
  private val KmvK = 256

  /** DuckDB twin of [[TextOps.hash64]]: 60-bit positive md5 prefix. */
  private def dh(sqlExpr: String): String =
    s"CAST(('0x' || substr(md5($sqlExpr), 1, 15))::UBIGINT AS BIGINT)"

  private def h64(tag: String): Column =
    TextOps.hash64(concat_ws(":", col("c_custkey"), lit(tag)))

  // ---------------------------------------------------------------------
  // Shared stage: two derived customer "sources" + blocked candidate pairs
  //
  // Source A is the clean customer table; source B is a deterministic
  // re-keying of it with field-level noise (names with a trailing typo,
  // shifted nation codes, segment wiped to UNKNOWN, account-balance band
  // off by one) and ~1/13 of rows missing — the classic linkage fixture
  // shape, reproduced bit-identically by both engines from md5 bits.
  // Candidate pairs come from TWO blocking passes (standard multi-pass
  // blocking): an exact-name pass (high precision, loses typo'd names)
  // and a CONJUNCTIVE (nation × name-prefix) pass — a single-attribute
  // nation block is the classic scale mistake (25 blocks → quadratic
  // block volume; measured 10.8 s vs 2.6 s for this stage at sf0.1),
  // while the conjunctive key keeps every block bounded as the data
  // grows. Neither blocking key uses the balance band, so band agreement
  // stays an unbiased FS scoring field. A true pair escapes only if
  // BOTH its passes were corrupted (suffix typos never touch the name
  // prefix; nation shifts kill the conjunctive key), which is exactly
  // what the audit below measures. The union is grouped to one row per
  // pair with per-pass provenance flags, so the audit reads pass
  // contributions off the same table the scorer consumes. At 100 TB
  // blocks get narrower still (more conjuncts, more passes) but the
  // plan is the same: equi-joins on block keys, never a cross join.
  // ---------------------------------------------------------------------

  /** (srcA, srcB, candidatePairs) — all narrow, localCheckpointed. */
  private[graft] val linkageStage =
    new graft.util.SharedStage[(DataFrame, DataFrame, DataFrame)](
        "linkage_candidates_shared_stage")({ (s, d) =>
      val c = Tables.customer(s, d)
      val srcA = c.select(
        col("c_custkey").as("a_id"),
        col("c_name").as("a_name"),
        col("c_nationkey").as("a_nation"),
        col("c_mktsegment").as("a_seg"),
        floor(col("c_acctbal") / lit(1000.0)).as("a_band"))
        .localCheckpoint(true)
      val srcB = c
        .filter(h64("drop") % 13 =!= 0)
        .select(
          col("c_custkey").as("b_id"),
          when(h64("nm") % 10 === 0, concat(col("c_name"), lit("~")))
            .otherwise(col("c_name")).as("b_name"),
          when(h64("nt") % 7 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).as("b_nation"),
          when(h64("sg") % 5 === 0, lit("UNKNOWN"))
            .otherwise(col("c_mktsegment")).as("b_seg"),
          (floor(col("c_acctbal") / lit(1000.0)) +
            when(h64("bb") % 11 === 0, 1L).otherwise(0L)).as("b_band"))
        .localCheckpoint(true)
      val byConj = srcA.join(srcB,
          col("a_nation") === col("b_nation") &&
            substring(col("a_name"), 10, 6) ===
              substring(col("b_name"), 10, 6))
        .select(col("a_id"), col("b_id"),
          lit(1).as("in_conj"), lit(0).as("in_name"))
      val byName = srcA.join(srcB, col("a_name") === col("b_name"))
        .select(col("a_id"), col("b_id"),
          lit(0).as("in_conj"), lit(1).as("in_name"))
      // Residency is a SCALE DIAL: this is the session's largest shared
      // artifact (pair cardinality grows quadratically with block
      // density — 615k rows at sf0.1 but 61M at the sf1 probe, where
      // its in-memory blocks sat in the PROTECTED half of the unified
      // pool and starved the downstream hash-agg into
      // SparkOutOfMemoryError). Below the threshold the stage keeps the
      // fast in-memory checkpoint (fixture medians unchanged: 0.6 s
      // fellegi at sf0.1); above it the candidates land DISK_ONLY —
      // written once, re-scanned sequentially by each consumer, the
      // access pattern disk serves fine — so execution memory stays
      // whole. 50k source rows ≈ >10M pairs at this corpus's measured
      // block density, the point where the artifact stops being "small
      // versus the pool". Same fix shape as the streaming state
      // right-sizing: size residency to role, not "RAM by default".
      val candPlan = byConj.unionAll(byName)
        .groupBy("a_id", "b_id")
        .agg(max("in_conj").as("in_conj"), max("in_name").as("in_name"))
      val cand =
        if (c.count() <= 50000L) candPlan.localCheckpoint(true)
        else {
          val p = candPlan
            .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          p.count() // materialize now: the stage bills to its own entry
          p
        }
      (srcA, srcB, cand)
    })

  /** Shared linkage CTE prefix for the DuckDB oracles (lockstep with
    * [[linkageStage]]). */
  private val duckLinkCtes: String = {
    val k = "CAST(c_custkey AS VARCHAR)"
    s"""srca AS MATERIALIZED (SELECT c_custkey AS a_id, c_name AS a_name,
       |    c_nationkey AS a_nation, c_mktsegment AS a_seg,
       |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS a_band
       |  FROM customer),
       |srcb AS MATERIALIZED (SELECT c_custkey AS b_id,
       |    CASE WHEN ${dh(s"$k || ':nm'")} % 10 = 0
       |         THEN c_name || '~' ELSE c_name END AS b_name,
       |    CASE WHEN ${dh(s"$k || ':nt'")} % 7 = 0
       |         THEN (c_nationkey + 1) % 25
       |         ELSE c_nationkey END AS b_nation,
       |    CASE WHEN ${dh(s"$k || ':sg'")} % 5 = 0
       |         THEN 'UNKNOWN' ELSE c_mktsegment END AS b_seg,
       |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) +
       |      CASE WHEN ${dh(s"$k || ':bb'")} % 11 = 0
       |           THEN 1 ELSE 0 END AS b_band
       |  FROM customer
       |  WHERE ${dh(s"$k || ':drop'")} % 13 <> 0),
       |cand AS MATERIALIZED (SELECT a_id, b_id,
       |    MAX(in_conj) AS in_conj, MAX(in_name) AS in_name
       |  FROM (
       |    SELECT a_id, b_id, 1 AS in_conj, 0 AS in_name
       |    FROM srca JOIN srcb ON a_nation = b_nation
       |     AND substr(a_name, 10, 6) = substr(b_name, 10, 6)
       |    UNION ALL
       |    SELECT a_id, b_id, 0 AS in_conj, 1 AS in_name
       |    FROM srca JOIN srcb ON a_name = b_name)
       |  GROUP BY 1, 2)""".stripMargin
  }

  val registry: Map[String, QuerySpec] = Map(

    // Fellegi–Sunter agreement-pattern census: every blocked candidate
    // pair is reduced to its field-agreement pattern over (name, segment,
    // balance band); per pattern the nonparametric m = P(pattern|match)
    // and u = P(pattern|non-match) are estimated from the labeled truth
    // (a_id = b_id — the supervised-FS formulation; EM replaces the
    // labels when truth is absent, the estimand is identical), and the
    // likelihood ratio m/u drives the classic link / possible / non-link
    // decision rule. Everything up to m and u is exact integer counting
    // (ONE keyed agg over the candidate scan, map-side combined, ≤ 8
    // result rows); m, u and the ratio are three fixed-order double ops.
    // The u=0 pattern (never seen among non-matches) is an unconditional
    // link — NULLIF keeps the ratio NULL rather than dividing by zero.
    "linkage_fellegi_sunter" -> QuerySpec(
      (s, d) => {
        val (srcA, srcB, cand) = linkageStage(s, d)
        val att = cand
          .join(broadcast(srcA), "a_id")
          .join(broadcast(srcB), "b_id")
          .select(
            when(col("a_name") === col("b_name"), 1).otherwise(0)
              .as("name_eq"),
            when(col("a_seg") === col("b_seg"), 1).otherwise(0)
              .as("seg_eq"),
            when(col("a_band") === col("b_band"), 1).otherwise(0)
              .as("band_eq"),
            when(col("a_id") === col("b_id"), 1L).otherwise(0L)
              .as("is_match"))
        val pat = att.groupBy("name_eq", "seg_eq", "band_eq")
          .agg(count(lit(1)).as("n_pairs"), sum("is_match").as("n_match"))
        val tot = pat.agg(sum("n_match").as("tm"),
          sum(col("n_pairs") - col("n_match")).as("tn"))
        // safeDiv: a degenerate census with zero matches (or zero
        // non-matches) yields SQL-NULL probabilities like the oracle
        val m = graft.queries.Analytic.safeDiv(
          col("n_match").cast("double"), col("tm").cast("double"))
        val u = graft.queries.Analytic.safeDiv(
          (col("n_pairs") - col("n_match")).cast("double"),
          col("tn").cast("double"))
        val lr = m / nullif(u, lit(0.0))
        pat.crossJoin(broadcast(tot))
          .select(col("name_eq"), col("seg_eq"), col("band_eq"),
            col("n_pairs"), col("n_match"),
            m.as("m_prob"), u.as("u_prob"), lr.as("likelihood_ratio"),
            when(col("n_match") > 0 &&
                col("n_pairs") === col("n_match"), "link")
              .when(lr >= 16.0, "link")
              .when(lr >= 1.0, "possible")
              .otherwise("non-link").as("verdict"))
          .orderBy("name_eq", "seg_eq", "band_eq")
      },
      s"""WITH $duckLinkCtes,
         |att AS (SELECT
         |    CASE WHEN a.a_name = b.b_name THEN 1 ELSE 0 END AS name_eq,
         |    CASE WHEN a.a_seg = b.b_seg THEN 1 ELSE 0 END AS seg_eq,
         |    CASE WHEN a.a_band = b.b_band THEN 1 ELSE 0 END AS band_eq,
         |    CASE WHEN c.a_id = c.b_id THEN 1 ELSE 0 END AS is_match
         |  FROM cand c JOIN srca a ON c.a_id = a.a_id
         |              JOIN srcb b ON c.b_id = b.b_id),
         |pat AS (SELECT name_eq, seg_eq, band_eq,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(is_match) AS BIGINT) AS n_match
         |  FROM att GROUP BY 1, 2, 3),
         |tot AS (SELECT CAST(SUM(n_match) AS BIGINT) AS tm,
         |    CAST(SUM(n_pairs - n_match) AS BIGINT) AS tn FROM pat)
         |SELECT name_eq, seg_eq, band_eq, n_pairs, n_match,
         |  CAST(n_match AS DOUBLE) / CAST(tm AS DOUBLE) AS m_prob,
         |  CAST(n_pairs - n_match AS DOUBLE) / CAST(tn AS DOUBLE)
         |    AS u_prob,
         |  (CAST(n_match AS DOUBLE) / CAST(tm AS DOUBLE)) /
         |    NULLIF(CAST(n_pairs - n_match AS DOUBLE)
         |      / CAST(tn AS DOUBLE), 0.0) AS likelihood_ratio,
         |  CASE WHEN n_match > 0 AND n_pairs = n_match THEN 'link'
         |       WHEN (CAST(n_match AS DOUBLE) / CAST(tm AS DOUBLE)) /
         |         NULLIF(CAST(n_pairs - n_match AS DOUBLE)
         |           / CAST(tn AS DOUBLE), 0.0) >= 16.0 THEN 'link'
         |       WHEN (CAST(n_match AS DOUBLE) / CAST(tm AS DOUBLE)) /
         |         NULLIF(CAST(n_pairs - n_match AS DOUBLE)
         |           / CAST(tn AS DOUBLE), 0.0) >= 1.0 THEN 'possible'
         |       ELSE 'non-link' END AS verdict
         |FROM pat, tot
         |ORDER BY name_eq, seg_eq, band_eq""".stripMargin),

    // UNSUPERVISED Fellegi–Sunter weight estimation via EM (Winkler
    // 1988) — the estimator production linkage actually runs, because
    // labeled matches don't exist at integration time. The 8-row
    // agreement-pattern census (counts only, labels NEVER consulted) is
    // collected to the driver — bounded at 2^|fields| = 8 rows BY
    // CONSTRUCTION, the same driver-held-parameter-vector pattern as the
    // logreg weights and the PCA Gramian — and 3 fixed EM rounds re-fit
    // (p, m_f, u_f): E-step posterior w(g) = p·Πm / (p·Πm + (1−p)·Πu)
    // as a fixed-order double chain, M-step sums as floor(2^40-scaled)
    // integer terms accumulated in BigInt (order-free, exact) so the
    // oracle's DECIMAL(38,0) sums replay them bit-identically. Output:
    // the parameter trajectory, one row per iteration. The EM estimates
    // are validated against the SUPERVISED census two ways: the spec
    // asserts m_f > u_f separation and p ≈ the labeled match rate, and
    // the oracle recomputes the identical trajectory from scratch.
    "linkage_em_weights" -> QuerySpec(
      (s, d) => {
        import s.implicits._
        val (srcA, srcB, cand) = linkageStage(s, d)
        val pat = cand
          .join(broadcast(srcA), "a_id")
          .join(broadcast(srcB), "b_id")
          .groupBy(
            when(col("a_name") === col("b_name"), 1).otherwise(0)
              .as("g1"),
            when(col("a_seg") === col("b_seg"), 1).otherwise(0).as("g2"),
            when(col("a_band") === col("b_band"), 1).otherwise(0)
              .as("g3"))
          .agg(count(lit(1)).as("n"))
          .collect() // <= 8 rows by construction (2^3 patterns)
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        val nTotL = pat.map(_._4).sum
        // ADAPTIVE exact scale (r12 sf1 oracle finding): at 2^40 fixed,
        // the M-step sums reach nTot·S ≈ 2^66 on the 61M-pair sf1
        // census — still exact in BigInt/DECIMAL(38,0), but the final
        // integer→double conversion of a >2^63 value is the one step
        // whose rounding the two engines don't share (measured last-ulp
        // drift from iteration 2). Sizing S so nTot·S < 2^62 keeps
        // every sum in int64 range, where BOTH engines convert with the
        // same correctly-rounded hardware instruction. 2^40 is
        // unchanged for any census up to 2^22 pairs (every driver
        // fixture); the oracle derives the identical S from SUM(n)'s
        // binary length.
        val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(nTotL)
        val S = (1L << math.min(40, 62 - bitlen)).toDouble
        val nTot = nTotL.toDouble
        var p = 0.1
        var m = Array(0.8, 0.8, 0.8)
        var u = Array(0.2, 0.2, 0.2)
        val traj = (1 to 3).map { it =>
          // E-step: posterior match weight per pattern (fixed-order
          // double chain, mirrored term-by-term in the oracle)
          def w(g: (Int, Int, Int, Long)): Double = {
            val pm = p * (if (g._1 == 1) m(0) else 1.0 - m(0)) *
              (if (g._2 == 1) m(1) else 1.0 - m(1)) *
              (if (g._3 == 1) m(2) else 1.0 - m(2))
            val pu = (1.0 - p) * (if (g._1 == 1) u(0) else 1.0 - u(0)) *
              (if (g._2 == 1) u(1) else 1.0 - u(1)) *
              (if (g._3 == 1) u(2) else 1.0 - u(2))
            pm / (pm + pu)
          }
          // M-step: exact order-free scaled-integer sums (BigInt here,
          // DECIMAL(38,0) in the oracle — same floor terms). All terms
          // are materialized under the CURRENT params before any update.
          // floor() of a double is an integral double, so the
          // BigDecimal→BigInt conversion is exact at ANY magnitude; the
          // adaptive S above guarantees the SUMS fit int64, so the
          // .toLong.toDouble reads below are the hardware-rounded
          // conversion DuckDB's CAST(... AS BIGINT) path also takes.
          val terms = pat.map { g =>
            val wg = w(g)
            def exactFloor(x: Double): BigInt = BigDecimal(x).toBigInt
            (g, exactFloor(math.floor(wg * g._4.toDouble * S)),
              exactFloor(math.floor((1.0 - wg) * g._4.toDouble * S)))
          }
          val sw = terms.map(_._2).sum
          val su = terms.map(_._3).sum
          def sel(g: (Int, Int, Int, Long), f: Int): Int =
            f match { case 0 => g._1; case 1 => g._2; case _ => g._3 }
          p = sw.toLong.toDouble / S / nTot
          m = Array.tabulate(3)(f =>
            terms.filter(x => sel(x._1, f) == 1).map(_._2).sum.toLong
              .toDouble / sw.toLong.toDouble)
          u = Array.tabulate(3)(f =>
            terms.filter(x => sel(x._1, f) == 1).map(_._3).sum.toLong
              .toDouble / su.toLong.toDouble)
          (it.toLong, p, m(0), m(1), m(2), u(0), u(1), u(2))
        }
        traj.toDF("iteration", "p_match", "m_name", "m_seg", "m_band",
            "u_name", "u_seg", "u_band")
          .orderBy("iteration")
      },
      {
        // the same adaptive scale the Spark side computes: 2^min(40,
        // 62 - bitlen(SUM(n))) — binary length is integer-exact on
        // both engines, and the resulting sums fit BIGINT so the
        // int→double conversions are hardware-rounded on both
        val S = "(SELECT s FROM scl)"
        def estep(prev: String): String =
          s"""SELECT g1, g2, g3, n,
             |  CAST(FLOOR(pm / (pm + pu) * CAST(n AS DOUBLE) * $S)
             |    AS DECIMAL(38,0)) AS t,
             |  CAST(FLOOR((1.0 - pm / (pm + pu)) * CAST(n AS DOUBLE)
             |    * $S) AS DECIMAL(38,0)) AS tu
             |FROM (SELECT g1, g2, g3, n,
             |    q.p_match
             |      * (CASE WHEN g1 = 1 THEN q.m_name
             |              ELSE 1.0 - q.m_name END)
             |      * (CASE WHEN g2 = 1 THEN q.m_seg
             |              ELSE 1.0 - q.m_seg END)
             |      * (CASE WHEN g3 = 1 THEN q.m_band
             |              ELSE 1.0 - q.m_band END) AS pm,
             |    (1.0 - q.p_match)
             |      * (CASE WHEN g1 = 1 THEN q.u_name
             |              ELSE 1.0 - q.u_name END)
             |      * (CASE WHEN g2 = 1 THEN q.u_seg
             |              ELSE 1.0 - q.u_seg END)
             |      * (CASE WHEN g3 = 1 THEN q.u_band
             |              ELSE 1.0 - q.u_band END) AS pu
             |  FROM pat, $prev q) x""".stripMargin
        def d(x: String) = s"CAST(CAST($x AS BIGINT) AS DOUBLE)"
        def mstep(i: Int, prev: String): String =
          s"""it$i AS MATERIALIZED (SELECT
             |  ${d("SUM(t)")} / $S
             |    / CAST(SUM(n) AS DOUBLE) AS p_match,
             |  ${d("SUM(CASE WHEN g1 = 1 THEN t ELSE 0 END)")}
             |    / ${d("SUM(t)")} AS m_name,
             |  ${d("SUM(CASE WHEN g2 = 1 THEN t ELSE 0 END)")}
             |    / ${d("SUM(t)")} AS m_seg,
             |  ${d("SUM(CASE WHEN g3 = 1 THEN t ELSE 0 END)")}
             |    / ${d("SUM(t)")} AS m_band,
             |  ${d("SUM(CASE WHEN g1 = 1 THEN tu ELSE 0 END)")}
             |    / ${d("SUM(tu)")} AS u_name,
             |  ${d("SUM(CASE WHEN g2 = 1 THEN tu ELSE 0 END)")}
             |    / ${d("SUM(tu)")} AS u_seg,
             |  ${d("SUM(CASE WHEN g3 = 1 THEN tu ELSE 0 END)")}
             |    / ${d("SUM(tu)")} AS u_band
             |FROM (${estep(prev)}) e)""".stripMargin
        s"""WITH $duckLinkCtes,
           |pat AS MATERIALIZED (SELECT
           |    CASE WHEN a.a_name = b.b_name THEN 1 ELSE 0 END AS g1,
           |    CASE WHEN a.a_seg = b.b_seg THEN 1 ELSE 0 END AS g2,
           |    CASE WHEN a.a_band = b.b_band THEN 1 ELSE 0 END AS g3,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM cand c JOIN srca a ON c.a_id = a.a_id
           |              JOIN srcb b ON c.b_id = b.b_id
           |  GROUP BY 1, 2, 3),
           |scl AS (SELECT CAST(CAST(1 AS BIGINT) << LEAST(40,
           |    62 - length(format('{:b}',
           |      CAST((SELECT SUM(n) FROM pat) AS BIGINT))))
           |    AS DOUBLE) AS s),
           |it0 AS (SELECT CAST(0.1 AS DOUBLE) AS p_match,
           |  CAST(0.8 AS DOUBLE) AS m_name, CAST(0.8 AS DOUBLE) AS m_seg,
           |  CAST(0.8 AS DOUBLE) AS m_band,
           |  CAST(0.2 AS DOUBLE) AS u_name, CAST(0.2 AS DOUBLE) AS u_seg,
           |  CAST(0.2 AS DOUBLE) AS u_band),
           |${mstep(1, "it0")},
           |${mstep(2, "it1")},
           |${mstep(3, "it2")}
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS iteration, * FROM it1
           |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM it2
           |  UNION ALL SELECT CAST(3 AS BIGINT), * FROM it3)
           |ORDER BY iteration""".stripMargin
      }),

    // Blocking-quality audit — the two numbers every blocking scheme is
    // graded on (Christen, "Data Matching" 2012): REDUCTION RATIO
    // (1 − candidates / |A|·|B|: how much of the quadratic pair space the
    // blocks discard) and PAIR COMPLETENESS (the fraction of true matches
    // that survive blocking: a true pair is lost only when BOTH its
    // blocking keys were corrupted — the multi-pass insurance this audit
    // quantifies). Per-pass pair counts read off the shared candidate
    // table's provenance flags; the hottest conjunctive block's |A_block|·
    // |B_block| bounds worst-case per-block work (the skew number a
    // 100 TB run sizes executors against). All counts exact integers;
    // the two ratios are one double division each.
    "linkage_blocking_audit" -> QuerySpec(
      (s, d) => {
        val (srcA, srcB, cand) = linkageStage(s, d)
        val na = srcA.agg(count(lit(1)).as("n_a"))
        val nb = srcB.agg(count(lit(1)).as("n_b"))
        val truth = srcA.join(srcB, col("a_id") === col("b_id"))
          .agg(count(lit(1)).as("n_true_matches"))
        val cstats = cand.agg(
          count(lit(1)).as("cand_pairs"),
          sum("in_conj").cast("long").as("conj_pairs"),
          sum("in_name").cast("long").as("name_pairs"),
          sum(when(col("a_id") === col("b_id"), 1L).otherwise(0L))
            .as("matches_in_cand"))
        val hot = srcA.groupBy(col("a_nation").as("nk"),
            substring(col("a_name"), 10, 6).as("pfx"))
          .agg(count(lit(1)).as("ca"))
          .join(srcB.groupBy(col("b_nation").as("nk"),
            substring(col("b_name"), 10, 6).as("pfx"))
            .agg(count(lit(1)).as("cb")), Seq("nk", "pfx"))
          .agg(max(col("ca") * col("cb")).as("max_block_pairs"))
        na.crossJoin(nb).crossJoin(truth).crossJoin(cstats).crossJoin(hot)
          .select(col("n_a"), col("n_b"),
            (col("n_a") * col("n_b")).as("total_pairs"),
            col("cand_pairs"), col("conj_pairs"), col("name_pairs"),
            (lit(1.0) - graft.queries.Analytic.safeDiv(
              col("cand_pairs").cast("double"),
              (col("n_a") * col("n_b")).cast("double")))
              .as("reduction_ratio"),
            col("n_true_matches"), col("matches_in_cand"),
            graft.queries.Analytic.safeDiv(
              col("matches_in_cand").cast("double"),
              col("n_true_matches").cast("double"))
              .as("pair_completeness"),
            col("max_block_pairs"))
      },
      s"""WITH $duckLinkCtes,
         |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM srca),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM srcb),
         |truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_matches
         |  FROM srca JOIN srcb ON a_id = b_id),
         |cstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs,
         |    CAST(SUM(in_conj) AS BIGINT) AS conj_pairs,
         |    CAST(SUM(in_name) AS BIGINT) AS name_pairs,
         |    CAST(SUM(CASE WHEN a_id = b_id THEN 1 ELSE 0 END) AS BIGINT)
         |      AS matches_in_cand
         |  FROM cand),
         |hot AS (SELECT CAST(MAX(ca * cb) AS BIGINT) AS max_block_pairs
         |  FROM (SELECT a_nation AS nk, substr(a_name, 10, 6) AS pfx,
         |        CAST(COUNT(*) AS BIGINT) AS ca
         |        FROM srca GROUP BY 1, 2) x
         |  JOIN (SELECT b_nation AS nk, substr(b_name, 10, 6) AS pfx,
         |        CAST(COUNT(*) AS BIGINT) AS cb
         |        FROM srcb GROUP BY 1, 2) y USING (nk, pfx))
         |SELECT n_a, n_b, n_a * n_b AS total_pairs, cand_pairs,
         |  conj_pairs, name_pairs,
         |  1.0 - CAST(cand_pairs AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
         |    AS reduction_ratio,
         |  n_true_matches, matches_in_cand,
         |  CAST(matches_in_cand AS DOUBLE)
         |    / CAST(n_true_matches AS DOUBLE) AS pair_completeness,
         |  max_block_pairs
         |FROM na, nb, truth, cstats, hot""".stripMargin),

    // Truth discovery over conflicting sources (TruthFinder, VLDB 2007 /
    // Sums — 2 fixed rounds): three derived sources claim each customer's
    // market segment with hash-derandomized error rates (~5%, ~20%,
    // ~33%; corrupted claims always differ from the truth by
    // construction). Round 1 takes an unweighted majority per entity
    // (ties → lexicographic min); each source's TRUST is then its
    // agreement rate with that consensus (an exact count ratio — no
    // ground truth consulted); round 2 re-votes with trust-weighted
    // confidence, accumulating floor(2^40·trust) DECIMAL terms so the
    // order-free sum is exact, and resolves yesterday's three-way ties
    // toward the most-trusted source. The audit row pair shows the
    // iteration WORKING: consensus_r2 accuracy > consensus_r1 accuracy
    // against the held-out truth. Scale shape: claims are 3 narrow scans
    // unioned; every vote/trust step is a keyed agg with map-side
    // combine; the per-entity argmax windows partition BY ENTITY (never
    // global); the 3-row trust table broadcasts back onto the claim scan.
    "fusion_truth_discovery" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")
        val segArr = array(segs.map(lit): _*)
        val ti = segs.zipWithIndex.foldLeft(lit(-1)) { case (acc, (v, i)) =>
          when(col("c_mktsegment") === v, i).otherwise(acc)
        }
        def claims(src: Int, rate: Int): DataFrame =
          Tables.customer(s, d).select(
            lit(s"source_$src").as("source"),
            col("c_custkey").as("ek"),
            col("c_mktsegment").as("truth"),
            when(h64(s"f$src") % rate === 0,
              element_at(segArr,
                ((ti + 1 + h64(s"w$src") % 4) % 5 + 1).cast("int")))
              .otherwise(col("c_mktsegment")).as("claim"))
        val cl = claims(1, 20).unionAll(claims(2, 5)).unionAll(claims(3, 3))
          .localCheckpoint(true)
        val w = Window.partitionBy("ek")
          .orderBy(desc("votes"), asc("claim"))
        val chosen1 = cl.groupBy("ek", "claim")
          .agg(count(lit(1)).as("votes"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("ek"), col("claim").as("cons1"))
        val trust = cl.join(chosen1, "ek")
          .groupBy("source")
          .agg(count(lit(1)).as("n_claims"),
            (sum(when(col("claim") === col("cons1"), 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double")).as("trust"))
        val w2 = Window.partitionBy("ek")
          .orderBy(desc("conf"), asc("claim"))
        val chosen2 = cl.join(broadcast(trust.select("source", "trust")),
            "source")
          .groupBy("ek", "claim")
          .agg(sum(floor(col("trust") * lit(Scale.toDouble))
            .cast("decimal(38,0)")).as("conf"))
          .withColumn("rn", row_number().over(w2))
          .filter(col("rn") === 1)
          .select(col("ek"), col("claim").as("cons2"))
        val perSource = cl.groupBy("source")
          .agg(count(lit(1)).as("n_claims"),
            (sum(when(col("claim") === col("truth"), 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"))
              .as("accuracy"))
          .join(broadcast(trust.select("source", "trust")), "source")
          .select(col("source"), col("n_claims"), col("trust"),
            col("accuracy"))
        val truthTab = Tables.customer(s, d).select(
          col("c_custkey").as("ek"), col("c_mktsegment").as("truth"))
        def consRow(name: String, cons: DataFrame, cc: String): DataFrame =
          truthTab.join(cons, "ek")
            .agg(count(lit(1)).as("n_claims"),
              (sum(when(col(cc) === col("truth"), 1L).otherwise(0L))
                .cast("double") / count(lit(1)).cast("double"))
                .as("accuracy"))
            .select(lit(name).as("source"), col("n_claims"),
              lit(null).cast("double").as("trust"), col("accuracy"))
        perSource
          .unionAll(consRow("consensus_r1", chosen1, "cons1"))
          .unionAll(consRow("consensus_r2", chosen2, "cons2"))
          .orderBy("source")
      },
      {
        val k = "CAST(c_custkey AS VARCHAR)"
        def claim(src: Int, rate: Int): String =
          s"""SELECT 'source_$src' AS source, c_custkey AS ek,
             |    c_mktsegment AS truth,
             |    CASE WHEN ${dh(s"$k || ':f$src'")} % $rate = 0
             |      THEN (['AUTOMOBILE','BUILDING','FURNITURE',
             |             'HOUSEHOLD','MACHINERY'])[
             |        CAST((ti + 1 + ${dh(s"$k || ':w$src'")} % 4) % 5 + 1
             |          AS INT)]
             |      ELSE c_mktsegment END AS claim
             |  FROM (SELECT *, CASE c_mktsegment
             |      WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
             |      WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
             |      WHEN 'MACHINERY' THEN 4 ELSE -1 END AS ti
             |    FROM customer) t""".stripMargin
        s"""WITH cl AS MATERIALIZED (
           |${claim(1, 20)}
           |UNION ALL
           |${claim(2, 5)}
           |UNION ALL
           |${claim(3, 3)}),
           |chosen1 AS (SELECT ek, claim AS cons1 FROM (
           |    SELECT ek, claim, COUNT(*) AS votes,
           |      row_number() OVER (PARTITION BY ek
           |        ORDER BY COUNT(*) DESC, claim) AS rn
           |    FROM cl GROUP BY 1, 2) v WHERE rn = 1),
           |trust AS (SELECT source,
           |    CAST(COUNT(*) AS BIGINT) AS n_claims,
           |    CAST(SUM(CASE WHEN claim = cons1 THEN 1 ELSE 0 END)
           |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trust
           |  FROM cl JOIN chosen1 USING (ek) GROUP BY 1),
           |chosen2 AS (SELECT ek, claim AS cons2 FROM (
           |    SELECT ek, claim,
           |      SUM(CAST(FLOOR(t.trust * 1099511627776.0)
           |        AS DECIMAL(38,0))) AS conf,
           |      row_number() OVER (PARTITION BY ek
           |        ORDER BY SUM(CAST(FLOOR(t.trust * 1099511627776.0)
           |          AS DECIMAL(38,0))) DESC, claim) AS rn
           |    FROM cl JOIN trust t USING (source) GROUP BY 1, 2) v
           |  WHERE rn = 1),
           |per_source AS (SELECT cl.source,
           |    CAST(COUNT(*) AS BIGINT) AS n_claims, t.trust,
           |    CAST(SUM(CASE WHEN claim = truth THEN 1 ELSE 0 END)
           |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
           |  FROM cl JOIN trust t USING (source)
           |  GROUP BY 1, t.trust),
           |tt AS (SELECT c_custkey AS ek, c_mktsegment AS truth
           |  FROM customer)
           |SELECT * FROM (
           |  SELECT source, n_claims, trust, accuracy FROM per_source
           |  UNION ALL
           |  SELECT 'consensus_r1', CAST(COUNT(*) AS BIGINT),
           |    CAST(NULL AS DOUBLE),
           |    CAST(SUM(CASE WHEN cons1 = truth THEN 1 ELSE 0 END)
           |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |  FROM tt JOIN chosen1 USING (ek)
           |  UNION ALL
           |  SELECT 'consensus_r2', CAST(COUNT(*) AS BIGINT),
           |    CAST(NULL AS DOUBLE),
           |    CAST(SUM(CASE WHEN cons2 = truth THEN 1 ELSE 0 END)
           |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |  FROM tt JOIN chosen2 USING (ek))
           |ORDER BY source""".stripMargin
      }),

    // Instance-based schema matching (the COMA/Similarity-Flooding value
    // layer): which columns of two independently-arrived tables hold the
    // same domain? Every customer column is scored against every supplier
    // column by the Jaccard of their VALUE SETS, estimated from k=256
    // KMV sketches (k smallest md5 hashes of the distinct rendered
    // values; J ≈ |both among the k smallest of the union| / k), with
    // the EXACT Jaccard computed alongside as the estimator honesty
    // audit. Values render type-agnostically (schema matching cannot
    // assume types align): strings as-is, ints as digits, doubles as
    // exact integer cents. Measured signal on the harness data:
    // nationkey↔nationkey J = 1 (same 0..24 domain), every other pair 0
    // (name prefixes disjoint; 100 supplier balance cents vs 1500
    // customer ones in a ~1.1M-value space — expected overlap < 1). Scale
    // shape: distinct+hash is one keyed pass per table; the KMV rank
    // window partitions BY COLUMN (at 100 TB the sketch becomes a
    // bounded approx aggregator and the exact column is dropped); the
    // 4×3 pair matrix is a broadcast cross of 7 sketch rows.
    "schema_match_kmv" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def cents(c: Column): Column =
          floor(c * lit(100.0)).cast("long").cast("string")
        def colvals(df: DataFrame, cname: String, v: Column): DataFrame =
          df.select(lit(cname).as("cname"), v.as("v"))
            .filter(col("v").isNotNull).distinct()
        val cust = Tables.customer(s, d)
        val supp = Tables.supplier(s, d)
        val valsA = Seq(
          colvals(cust, "c_name", col("c_name")),
          colvals(cust, "c_nationkey", col("c_nationkey").cast("string")),
          colvals(cust, "c_acctbal", cents(col("c_acctbal"))),
          colvals(cust, "c_mktsegment", col("c_mktsegment")))
          .reduce(_ unionAll _)
        val valsB = Seq(
          colvals(supp, "s_name", col("s_name")),
          colvals(supp, "s_nationkey", col("s_nationkey").cast("string")),
          colvals(supp, "s_acctbal", cents(col("s_acctbal"))))
          .reduce(_ unionAll _)
        def sketch(vals: DataFrame, side: String): DataFrame = {
          val h = vals.select(col("cname"), TextOps.hash64(col("v")).as("h"))
          val rnw = Window.partitionBy("cname").orderBy("h")
          h.withColumn("rn", row_number().over(rnw))
            .filter(col("rn") <= KmvK)
            .groupBy("cname")
            .agg(sort_array(collect_list("h")).as("sk"),
              count(lit(1)).as("ksz"))
            .join(vals.groupBy("cname").agg(count(lit(1)).as("ndv")),
              "cname")
            .select(col("cname").as(s"col_$side"),
              col("sk").as(s"sk_$side"), col("ndv").as(s"ndv_$side"))
        }
        val exact = valsA.select(col("cname").as("ca"), col("v"))
          .join(valsB.select(col("cname").as("cb"), col("v")), "v")
          .groupBy("ca", "cb").agg(count(lit(1)).as("n_inter"))
        val u = array_sort(array_union(col("sk_a"), col("sk_b")))
        val kUsed = least(lit(KmvK), size(u)).cast("long").as("k_used")
        sketch(valsA, "a").crossJoin(broadcast(sketch(valsB, "b")))
          .join(exact,
            col("col_a") === col("ca") && col("col_b") === col("cb"),
            "left")
          .select(col("col_a"), col("col_b"),
            col("ndv_a"), col("ndv_b"), kUsed,
            size(array_intersect(slice(u, 1, KmvK),
              array_intersect(col("sk_a"), col("sk_b")))).cast("long")
              .as("n_both"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter_exact"))
          .select(col("col_a"), col("col_b"), col("ndv_a"), col("ndv_b"),
            col("k_used"), col("n_both"),
            (col("n_both").cast("double") / col("k_used").cast("double"))
              .as("jaccard_kmv"),
            col("n_inter_exact"),
            (col("n_inter_exact").cast("double") /
              (col("ndv_a") + col("ndv_b") - col("n_inter_exact"))
                .cast("double")).as("jaccard_exact"))
          .orderBy("col_a", "col_b")
      },
      {
        val hv = dh("v")
        s"""WITH va AS MATERIALIZED (
           |  SELECT 'c_name' AS cname, c_name AS v FROM customer
           |  UNION
           |  SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR)
           |  FROM customer
           |  UNION
           |  SELECT 'c_acctbal',
           |    CAST(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS VARCHAR)
           |  FROM customer
           |  UNION
           |  SELECT 'c_mktsegment', c_mktsegment FROM customer),
           |vb AS MATERIALIZED (
           |  SELECT 's_name' AS cname, s_name AS v FROM supplier
           |  UNION
           |  SELECT 's_nationkey', CAST(s_nationkey AS VARCHAR)
           |  FROM supplier
           |  UNION
           |  SELECT 's_acctbal',
           |    CAST(CAST(FLOOR(s_acctbal * 100.0) AS BIGINT) AS VARCHAR)
           |  FROM supplier),
           |ska AS (SELECT cname AS col_a,
           |    list_sort(list(h)) AS sk_a, CAST(COUNT(*) AS BIGINT) AS ksz
           |  FROM (SELECT cname, $hv AS h,
           |      row_number() OVER (PARTITION BY cname ORDER BY $hv) AS rn
           |    FROM va) t WHERE rn <= $KmvK GROUP BY 1),
           |skb AS (SELECT cname AS col_b,
           |    list_sort(list(h)) AS sk_b, CAST(COUNT(*) AS BIGINT) AS ksz
           |  FROM (SELECT cname, $hv AS h,
           |      row_number() OVER (PARTITION BY cname ORDER BY $hv) AS rn
           |    FROM vb) t WHERE rn <= $KmvK GROUP BY 1),
           |nda AS (SELECT cname AS col_a, CAST(COUNT(*) AS BIGINT) AS ndv_a
           |  FROM va GROUP BY 1),
           |ndb AS (SELECT cname AS col_b, CAST(COUNT(*) AS BIGINT) AS ndv_b
           |  FROM vb GROUP BY 1),
           |ex AS (SELECT a.cname AS col_a, b.cname AS col_b,
           |    CAST(COUNT(*) AS BIGINT) AS n_inter
           |  FROM va a JOIN vb b ON a.v = b.v GROUP BY 1, 2),
           |pairs AS (SELECT col_a, col_b, ndv_a, ndv_b,
           |    LEAST($KmvK, len(list_distinct(sk_a || sk_b))) AS k_used,
           |    CAST(len(list_intersect(
           |        list_sort(list_distinct(sk_a || sk_b))[1:$KmvK],
           |        list_intersect(sk_a, sk_b))) AS BIGINT) AS n_both,
           |    COALESCE(n_inter, 0) AS n_inter_exact
           |  FROM ska CROSS JOIN skb
           |  JOIN nda USING (col_a) JOIN ndb USING (col_b)
           |  LEFT JOIN ex USING (col_a, col_b))
           |SELECT col_a, col_b, ndv_a, ndv_b,
           |  CAST(k_used AS BIGINT) AS k_used, n_both,
           |  CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE)
           |    AS jaccard_kmv,
           |  n_inter_exact,
           |  CAST(n_inter_exact AS DOUBLE)
           |    / CAST(ndv_a + ndv_b - n_inter_exact AS DOUBLE)
           |    AS jaccard_exact
           |FROM pairs ORDER BY col_a, col_b""".stripMargin
      }),

    // Functional-dependency discovery audit (TANE's g3 error, Huhtala
    // 1999): for a fixed candidate set of X → Y dependencies across four
    // tables, count violating LHS groups and the EXACT g3 repair cost —
    // the minimum rows to delete so the FD holds (= rows outside each
    // group's majority Y value). The candidate list is the integration
    // engine's key/constraint worksheet: key-shaped FDs hold
    // (o_orderkey→o_custkey, n_nationkey→n_regionkey,
    // c_custkey→c_mktsegment) while plausible-but-false ones are
    // REJECTED with their measured repair cost — including the
    // PK-LOOKING (l_orderkey, l_linenumber)→l_partkey, which the audit
    // exposes as violated on the harness data (the synthetic generator
    // duplicates line numbers within an order; g3 = 23.6% — exactly the
    // constraint-worksheet discovery this operator exists for). Scale
    // two-level keyed agg per candidate ((X,Y) counts, then X-group
    // stats, then a global fold — all map-side combined, no
    // countDistinct shuffle, no window); candidates run independently
    // and union 8 one-row results. Integer-exact throughout; g3_rate is
    // the single rational division.
    "profile_fd_discovery" -> QuerySpec(
      (s, d) => {
        def fd(name: String, df: DataFrame, lhs: Seq[String],
               rhs: String): DataFrame = {
          val perXY = df.groupBy((lhs :+ rhs).map(col): _*)
            .agg(count(lit(1)).as("c"))
          val perX = perXY.groupBy(lhs.map(col): _*)
            .agg(count(lit(1)).as("ndv"), sum("c").as("grp_rows"),
              max("c").as("mx"))
          perX.agg(
            sum("grp_rows").cast("long").as("n_rows"),
            count(lit(1)).as("n_groups"),
            sum(when(col("ndv") > 1, 1L).otherwise(0L))
              .as("n_violating_groups"),
            sum(col("grp_rows") - col("mx")).cast("long").as("g3_rows"))
            .select(lit(name).as("fd_name"), col("n_rows"),
              col("n_groups"), col("n_violating_groups"), col("g3_rows"),
              (col("g3_rows").cast("double") / col("n_rows").cast("double"))
                .as("g3_rate"),
              (col("n_violating_groups") === 0).as("holds"))
        }
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d)
        Seq(
          fd("cust_to_seg", c, Seq("c_custkey"), "c_mktsegment"),
          fd("li_order_to_supp", l, Seq("l_orderkey"), "l_suppkey"),
          fd("li_part_to_qty", l, Seq("l_partkey"), "l_quantity"),
          fd("li_pk_to_part", l, Seq("l_orderkey", "l_linenumber"),
            "l_partkey"),
          fd("nation_to_region", n, Seq("n_nationkey"), "n_regionkey"),
          fd("nationkey_to_seg", c, Seq("c_nationkey"), "c_mktsegment"),
          fd("order_to_cust", o, Seq("o_orderkey"), "o_custkey"),
          fd("ocust_to_priority", o, Seq("o_custkey"), "o_orderpriority"))
          .reduce(_ unionAll _)
          .orderBy("fd_name")
      },
      {
        def fd(name: String, table: String, lhs: Seq[String],
               rhs: String): String = {
          val lcols = lhs.mkString(", ")
          s"""SELECT '$name' AS fd_name,
             |  CAST(SUM(grp_rows) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_violating_groups,
             |  CAST(SUM(grp_rows - mx) AS BIGINT) AS g3_rows,
             |  CAST(SUM(grp_rows - mx) AS DOUBLE)
             |    / CAST(SUM(grp_rows) AS DOUBLE) AS g3_rate,
             |  SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0 AS holds
             |FROM (
             |  SELECT $lcols, COUNT(*) AS ndv, SUM(c) AS grp_rows,
             |    MAX(c) AS mx
             |  FROM (SELECT $lcols, $rhs, COUNT(*) AS c
             |        FROM $table GROUP BY ALL) xy
             |  GROUP BY ALL) g""".stripMargin
        }
        Seq(
          fd("cust_to_seg", "customer", Seq("c_custkey"), "c_mktsegment"),
          fd("li_order_to_supp", "lineitem", Seq("l_orderkey"),
            "l_suppkey"),
          fd("li_part_to_qty", "lineitem", Seq("l_partkey"), "l_quantity"),
          fd("li_pk_to_part", "lineitem",
            Seq("l_orderkey", "l_linenumber"), "l_partkey"),
          fd("nation_to_region", "nation", Seq("n_nationkey"),
            "n_regionkey"),
          fd("nationkey_to_seg", "customer", Seq("c_nationkey"),
            "c_mktsegment"),
          fd("order_to_cust", "orders", Seq("o_orderkey"), "o_custkey"),
          fd("ocust_to_priority", "orders", Seq("o_custkey"),
            "o_orderpriority"))
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
            "\n) ORDER BY fd_name")
      }),

    // Sorted-neighborhood (merge/purge, Hernández & Stolfo 1995) — the
    // OTHER classic linkage indexing family next to blocking: merge both
    // sources, sort by a key, and pair every record with its w-1
    // successors in the sorted order. The global rank is computed the
    // SCALABLE way (the epoch-shuffle banded-rank pattern): a
    // row_number within (balance-band × name-prefix) stripes plus
    // cumulative stripe offsets over the tiny stripe table (≤ ~12×1000
    // rows by construction — the one single-partition window, bounded),
    // so no corpus-sized global window exists; the sliding window
    // itself is an EQUI-join on rank+j (j < w, a constant fan-out) that
    // naturally crosses stripe boundaries — exactly the merged-list
    // semantics, without the per-partition boundary-loss hack
    // distributed SNM implementations usually accept. The audit sweeps
    // w ∈ {3, 10} and reports pair completeness and reduction ratio
    // against the same truth as the blocking audit — showing SNM's
    // characteristic failure mode: the 1/11 band-noised true pairs sort
    // far apart and stay unreachable at ANY small w, while blocking's
    // conjunctive pass (which ignores the band) keeps them.
    "linkage_sorted_neighborhood" -> QuerySpec(
      (s, d) => {
        val (srcA, srcB, _) = linkageStage(s, d)
        val recs = srcA.select(lit("A").as("src"), col("a_id").as("rid"),
            col("a_band").as("band"), col("a_name").as("name"))
          .unionAll(srcB.select(lit("B"), col("b_id"), col("b_band"),
            col("b_name")))
          .withColumn("pfx", substring(col("name"), 10, 3))
        val g = graft.ops.Banded.rowNumber(recs, Seq("name", "src", "rid"),
            "g2k", bands = Seq("band", "pfx"))
          .select(col("src"), col("rid"), col("g2k"))
          .localCheckpoint(true)
        val wmax = 10
        val pairs = g
          .select(col("src"), col("rid"),
            explode(array((1 until wmax).map(lit(_)): _*)).as("j"),
            col("g2k"))
          .withColumn("gt", col("g2k") + col("j"))
          .join(g.select(col("src").as("src2"), col("rid").as("rid2"),
            col("g2k").as("gt")), Seq("gt"))
          .filter(col("src") =!= col("src2"))
          .select(
            when(col("src") === "A", col("rid")).otherwise(col("rid2"))
              .as("a_id"),
            when(col("src") === "A", col("rid2")).otherwise(col("rid"))
              .as("b_id"),
            col("j").cast("long").as("gap"))
        val totals = srcA.agg(count(lit(1)).as("n_a"))
          .crossJoin(srcB.agg(count(lit(1)).as("n_b")))
        pairs
          .select(explode(array(lit(3), lit(10))).as("w"), col("gap"),
            col("a_id"), col("b_id"))
          .filter(col("gap") <= col("w") - 1)
          .groupBy("w")
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("a_id") === col("b_id"), 1L).otherwise(0L))
              .as("n_true_found"))
          .crossJoin(broadcast(totals))
          .select(col("w").cast("long").as("w"), col("n_candidates"),
            col("n_true_found"), col("n_b").as("n_truth"),
            (col("n_true_found").cast("double") /
              col("n_b").cast("double")).as("pair_completeness"),
            (lit(1.0) - col("n_candidates").cast("double") /
              (col("n_a") * col("n_b")).cast("double"))
              .as("reduction_ratio"))
          .orderBy("w")
      },
      s"""WITH $duckLinkCtes,
         |recs AS MATERIALIZED (
         |  SELECT 'A' AS src, a_id AS rid, a_band AS band, a_name AS name,
         |         substr(a_name, 10, 3) AS pfx
         |  FROM srca
         |  UNION ALL
         |  SELECT 'B', b_id, b_band, b_name, substr(b_name, 10, 3)
         |  FROM srcb),
         |rk AS (SELECT src, rid, band, pfx,
         |         CAST(row_number() OVER (PARTITION BY band, pfx
         |           ORDER BY name, src, rid) AS BIGINT) AS r
         |       FROM recs),
         |off AS (SELECT band, pfx,
         |          COALESCE(SUM(bn) OVER (ORDER BY band, pfx
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |            0) AS off
         |        FROM (SELECT band, pfx, CAST(COUNT(*) AS BIGINT) AS bn
         |              FROM recs GROUP BY band, pfx)),
         |g AS MATERIALIZED (
         |  SELECT src, rid, r + off AS g2k
         |  FROM rk JOIN off USING (band, pfx)),
         |pr AS (SELECT
         |         CASE WHEN x.src = 'A' THEN x.rid ELSE y.rid END AS a_id,
         |         CASE WHEN x.src = 'A' THEN y.rid ELSE x.rid END AS b_id,
         |         jj.j AS gap
         |       FROM g x
         |       CROSS JOIN (SELECT unnest(range(1, 10)) AS j) jj
         |       JOIN g y ON y.g2k = x.g2k + jj.j AND y.src <> x.src),
         |tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM srca) AS n_a,
         |               (SELECT CAST(COUNT(*) AS BIGINT) FROM srcb) AS n_b),
         |pw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |         CAST(SUM(CASE WHEN a_id = b_id THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_true_found
         |       FROM pr, UNNEST([3, 10]) AS t(w)
         |       WHERE gap <= w - 1 GROUP BY w)
         |SELECT CAST(w AS BIGINT) AS w, n_candidates, n_true_found,
         |       n_b AS n_truth,
         |       CAST(n_true_found AS DOUBLE) / CAST(n_b AS DOUBLE)
         |         AS pair_completeness,
         |       1.0 - CAST(n_candidates AS DOUBLE)
         |         / CAST(n_a * n_b AS DOUBLE) AS reduction_ratio
         |FROM pw, tot ORDER BY w""".stripMargin)
  )
}
