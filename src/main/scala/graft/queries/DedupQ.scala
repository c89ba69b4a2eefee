package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables
import graft.expressions.SimHashFromHashes
import graft.ext.{Dedup, TextOps}
import graft.util.SharedStage

/** Deduplication pack over the documents table. Oracle SQL for the
  * signature stages is generated from the same (k, r, bits) parameters as
  * the Spark plans, so the two sides cannot drift independently.
  *
  * The near-dup graph queries (pairs / triangles / components) all ride ONE
  * candidate generator: full-corpus MinHash-LSH over 3-gram shingles with
  * hot-bucket suppression ([[lshVerifiedPairs]]) — banding, never sampling,
  * never an all-pairs join. The verified (id_a, id_b, jaccard) table is the
  * narrow artifact a 100 TB dedup pipeline persists once and fans every
  * downstream decision off of; here it is localCheckpointed and cached per
  * (session, sf-dir) so the four consumers share one build.
  */
object DedupQ {

  private val K = 8  // minhash functions
  private val R = 2  // rows per LSH band → 4 bands

  /** DuckDB fragment: distinct token set of `text`. */
  private val duckSet = "list_distinct(string_split(trim(text), ' '))"
  /** DuckDB fragment: the portable 60-bit md5 hash of an expression. */
  private def duckHash(e: String) =
    s"CAST(('0x' || substr(md5($e), 1, 15))::UBIGINT AS BIGINT)"
  /** Mirrors Dedup.minhashSignature exactly (constants referenced from the
    * same object, so the two sides cannot drift). */
  private def duckMinhash(i: Int) =
    s"list_min(list_transform(s, t -> ((${duckHash("t")} & ${Dedup.MinhashMask}) " +
      s"* ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP}))"

  // ---------------------------------------------------------------------
  // Shared candidate stage: MinHash over 3-gram SHINGLES → LSH bands →
  // hot-bucket cap → DISTINCT candidate id pairs → verified shingle
  // Jaccard. Shingling makes cross-doc Jaccard sparse (unigram token sets
  // in this corpus are all ~0.65-similar — banding on them degenerates to
  // the all-pairs join LSH exists to avoid). r=1 bands → candidate recall
  // ≈ 1-(1-J)^8; the verified-jaccard distribution here is bimodal (true
  // near-dups ≥ 0.9, background collisions ≤ 0.05), so downstream
  // thresholds select cleanly.
  // ---------------------------------------------------------------------

  /** One verified-pair build per (session, sf-dir): every consumer below
    * filters this table instead of re-shingling the corpus. The stage
    * holds only localCheckpointed narrow tables (ids + one double), so its
    * footprint is O(candidate pairs), not O(corpus); entries are evicted
    * when their session's SparkContext stops, so a long-lived driver
    * cycling sessions does not accumulate dead pins. */
  private[graft] val lshVerifiedPairs =
    new SharedStage[DataFrame]("dedup_lsh_shared_stage")({ (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val sh = array_distinct(Dedup.shingles3(toks))
      val sig = Dedup.minhashFromBase(col("bh"), K)
      // FULL corpus — banding, not sampling. Shingling + hashing is the
      // scan-heavy stage, so the (doc_id, hashed-shingles) table is
      // materialized ONCE and reused by band generation AND both sides
      // of the verification join; verification jaccard runs over the
      // hashed shingle sets (bit-identical in both engines; a 60-bit
      // collision perturbing a set size is ~n²/2^61 per pair).
      // Sorted once here: MinHashSignature is order-free, and the
      // verification intersect below is a sorted-merge expression.
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"),
          sort_array(Dedup.minhashBaseHashes(sh)).as("bh"))
        .localCheckpoint(true)
      val allBands = hashed
        .select(col("doc_id"),
          posexplode(array(Dedup.lshBands(sig, 1): _*))
            .as(Seq("band_idx", "band_key")))
      // Hot-bucket suppression: a bucket holding >50 docs contributes
      // O(bucket²) candidate pairs while carrying almost no similarity
      // signal (it means one very common shingle won the min). Skipping
      // such buckets is the standard industrial LSH guard and keeps
      // candidate generation near-linear on low-diversity corpora.
      val bands = allBands.withColumn("bsz",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("band_idx", "band_key")))
        .filter(col("bsz") <= 50).drop("bsz")
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      // |A∪B| = |A|+|B|-|A∩B| for sets, and the intersect itself is the
      // one-pass sorted-merge expression (array_intersect builds a hash
      // set per pair; the duplicated subexpression is eliminated by
      // codegen CSE — it is not a lambda).
      val sets = hashed.select(col("doc_id"), col("bh").as("s"),
        size(col("bh")).as("sz"))
      val inter = graft.expressions.SortedIntersectSize
        .sorted_intersect_size(col("sa"), col("sb"))
      cand
        .join(sets.select(col("doc_id").as("id_a"), col("s").as("sa"),
          col("sz").as("sza")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("s").as("sb"),
          col("sz").as("szb")), "id_b")
        .select(col("id_a"), col("id_b"),
          (inter.cast("double") / (col("sza") + col("szb") - inter))
            .as("jaccard"))
        .localCheckpoint(true)
    })

  /** The same stage as DuckDB CTEs (no WITH prefix so callers can prepend
    * WITH or WITH RECURSIVE). Ends in `verified(id_a, id_b, jaccard)`. */
  private[queries] val duckVerifiedCtes: String = {
    val duckShingles =
      """list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))""".stripMargin
    s"""t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
       |      FROM documents),
       |sets AS (SELECT doc_id, $duckShingles AS s FROM t),
       |sig AS (SELECT doc_id, s,
       |  ${(0 until K).map(i => s"${duckMinhash(i)} AS m$i").mkString(", ")}
       |  FROM sets),
       |ex0 AS (SELECT doc_id, unnest([${(0 until K)
          .map(i => s"['$i', md5(CAST(m$i AS VARCHAR))]").mkString(", ")}]) AS bk
       |       FROM sig),
       |ex AS (SELECT doc_id, bk FROM (
       |         SELECT doc_id, bk, COUNT(*) OVER (PARTITION BY bk) AS bsz
       |         FROM ex0) WHERE bsz <= 50),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ex a JOIN ex b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT id_a, id_b,
       |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |           len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
       |  FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
       |            JOIN sets sb ON cand.id_b = sb.doc_id)""".stripMargin
  }

  val registry: Map[String, QuerySpec] = Map(

    // Exact dedup on the bag-of-words fingerprint: duplicate groups with
    // member ids (docs that are permutations/repetitions of the same
    // token set collapse).
    "dedup_exact_groups" -> QuerySpec(
      (s, d) => Dedup.exactDupGroups(
          Tables.documents(s, d),
          TextOps.bowFingerprint(col("text")), "doc_id")
        // Portable string rendering so the driver's checker can hash the
        // group membership (arrays are unhashable in its pandas compare).
        // Sort numerically FIRST, then cast — string sort would put 10 < 2.
        .withColumn("ids",
          array_join(transform(col("ids"), _.cast("string")), ","))
        .orderBy("fp"),
      s"""SELECT fp, COUNT(*) AS n,
         |       array_to_string(list_transform(list_sort(list(doc_id)),
         |         x -> CAST(x AS VARCHAR)), ',') AS ids FROM (
         |  SELECT doc_id,
         |         md5(array_to_string(list_sort($duckSet), ' ')) AS fp
         |  FROM documents)
         |GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin),

    // Verified near-duplicate pairs over the FULL corpus: the shared
    // shingle-LSH candidates filtered at the true-near-dup threshold (the
    // verified-jaccard distribution is bimodal — ≥ 0.9 for real edits/
    // copies, ≤ 0.05 for band collisions — so 0.5 splits it with a wide
    // margin on both sides). This is the pair list a dedup pipeline acts
    // on; the 0.02-threshold diagnostic view lives in dedup_minhash_lsh.
    "dedup_jaccard_pairs" -> QuerySpec(
      (s, d) => lshVerifiedPairs(s, d)
        .filter(col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b"),
      s"""WITH $duckVerifiedCtes
         |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // Cross-source near-duplicate overlap matrix — the corpus-curation
    // question behind dedup: WHICH sources duplicate each other (mirror
    // crawls, re-hosted dumps, licensing overlap)? One more keyed filter
    // over the SAME shared verified-pair stage (no re-shingling), joined
    // to the narrow (doc_id, source) projection on both endpoints, then
    // counted per unordered source pair — least/greatest folds (a,b) and
    // (b,a) into one cell, so the matrix is upper-triangular including
    // the self-overlap diagonal. Scale shape: pairs ⋈ docs is a keyed
    // join on doc_id (the pair table is narrow); the matrix itself is
    // |sources|² tiny. Integer counts only.
    "dedup_source_overlap_matrix" -> QuerySpec(
      (s, d) => {
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        lshVerifiedPairs(s, d).filter(col("jaccard") >= 0.5)
          .join(src.select(col("doc_id").as("id_a"),
            col("source").as("src_a")), "id_a")
          .join(src.select(col("doc_id").as("id_b"),
            col("source").as("src_b")), "id_b")
          .select(least(col("src_a"), col("src_b")).as("source_lo"),
            greatest(col("src_a"), col("src_b")).as("source_hi"))
          .groupBy("source_lo", "source_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_lo", "source_hi")
      },
      s"""WITH $duckVerifiedCtes
         |SELECT least(sa.source, sb.source) AS source_lo,
         |       greatest(sa.source, sb.source) AS source_hi,
         |       COUNT(*) AS n_pairs
         |FROM verified v JOIN documents sa ON v.id_a = sa.doc_id
         |                JOIN documents sb ON v.id_b = sb.doc_id
         |WHERE v.jaccard >= 0.5
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // MinHash estimator honesty audit: for every verified candidate pair,
    // compare the k=8 signature-match ESTIMATE (matches/8 — what LSH
    // banding acts on) against the EXACT shingle Jaccard the shared stage
    // verified, bucketed by match count — the reliability diagram of the
    // sketch (same audit family as learn_logreg_calibration: is the
    // estimator honest where it claims mass?). E[matches/k] = J exactly,
    // so mean_jaccard should track est_jaccard within the k=8 noise
    // floor. Scale shape: signatures are a per-row scan fold (ONE
    // codegen'd pass, no shuffle); the pair table is narrow; the two
    // signature joins key on doc id; the audit aggregates to ≤ 9 bucket
    // rows with 2^40-scaled decimal sums (order-free exact).
    "dedup_minhash_estimator_error" -> QuerySpec(
      (s, d) => {
        val sh = array_distinct(Dedup.shingles3(TextOps.tokens(col("text"))))
        val sig = Tables.documents(s, d)
          .select(col("doc_id"),
            graft.expressions.MinHashSignature.minhash_signature(
              sort_array(Dedup.minhashBaseHashes(sh)), K).as("sig"))
        def dsum40(c: org.apache.spark.sql.Column) =
          sum(floor(c * lit(1099511627776.0)).cast("decimal(38,0)"))
        def unscale(c: org.apache.spark.sql.Column) =
          c.cast("double") / lit(1099511627776.0)
        lshVerifiedPairs(s, d)
          .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")),
            "id_a")
          .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")),
            "id_b")
          .select(col("jaccard"),
            aggregate(zip_with(col("sa"), col("sb"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0L), (acc, v) => acc + v.cast("long")).as("matches"))
          .groupBy("matches")
          .agg(count(lit(1)).as("n_pairs"),
            dsum40(col("jaccard")).as("sj"),
            dsum40(abs(col("matches").cast("double") / lit(8.0) -
              col("jaccard"))).as("se"))
          .select(col("matches"), col("n_pairs"),
            (col("matches").cast("double") / lit(8.0)).as("est_jaccard"),
            (unscale(col("sj")) / col("n_pairs").cast("double"))
              .as("mean_jaccard"),
            (unscale(col("se")) / col("n_pairs").cast("double"))
              .as("mean_abs_err"))
          .orderBy("matches")
      },
      s"""WITH $duckVerifiedCtes,
         |pm AS (SELECT v.jaccard,
         |         CAST(${(0 until K).map(i =>
             s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")}
         |           AS BIGINT) AS matches
         |       FROM verified v JOIN sig a ON v.id_a = a.doc_id
         |                       JOIN sig b ON v.id_b = b.doc_id)
         |SELECT matches, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(matches AS DOUBLE) / 8.0 AS est_jaccard,
         |       (CAST(SUM(CAST(floor(jaccard * 1099511627776.0)
         |          AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)
         |         / CAST(COUNT(*) AS DOUBLE) AS mean_jaccard,
         |       (CAST(SUM(CAST(floor(abs(CAST(matches AS DOUBLE) / 8.0
         |            - jaccard) * 1099511627776.0)
         |          AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)
         |         / CAST(COUNT(*) AS DOUBLE) AS mean_abs_err
         |FROM pm GROUP BY matches ORDER BY matches""".stripMargin),

    // MinHash signatures (k=8) — per-row, no shuffle; the narrow table an
    // LSH pipeline persists at scale.
    "dedup_minhash_signatures" -> QuerySpec(
      (s, d) => {
        val sig = Dedup.minhashFromBase(col("bh"), K)
        Tables.documents(s, d)
          .filter(col("doc_id") < 200)
          .withColumn("bh", Dedup.minhashBaseHashes(
            array_distinct(TextOps.tokens(col("text")))))
          .select(col("doc_id") +: sig.zipWithIndex.map {
            case (c, i) => c.as(s"m$i") }: _*)
          .orderBy("doc_id")
      },
      s"""WITH t AS (SELECT doc_id, $duckSet AS s FROM documents WHERE doc_id < 200)
         |SELECT doc_id, ${(0 until K).map(i => s"${duckMinhash(i)} AS m$i").mkString(", ")}
         |FROM t ORDER BY doc_id""".stripMargin),

    // The shared candidate stage itself, reported at the low diagnostic
    // threshold: every band collision whose verified shingle Jaccard
    // clears 0.02 (recall at r=1,k=8 bands ≈ 1-(1-J)^8).
    "dedup_minhash_lsh" -> QuerySpec(
      (s, d) => lshVerifiedPairs(s, d)
        .filter(col("jaccard") >= 0.02)
        .orderBy("id_a", "id_b"),
      s"""WITH $duckVerifiedCtes
         |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.02
         |ORDER BY id_a, id_b""".stripMargin),

    // DIRECTED shingle containment |A∩B|/|A| — the asymmetric fragment
    // check (a short doc quoted inside a long one scores 1.0 here but low
    // Jaccard). Shingles, not unigrams: this corpus's unigram sets are
    // ~0.65-similar everywhere, which would make every doc "contained" in
    // every other; 3-gram shingle overlap is sparse except for true
    // near-dups, so the inverted-index candidate set stays near-linear
    // over the FULL corpus (no sampling block). Same plan shape as the
    // Jaccard pairs.
    "dedup_containment_pairs" -> QuerySpec(
      (s, d) => Dedup.containmentPairs(
          Tables.documents(s, d),
          "doc_id",
          array_distinct(Dedup.shingles3(TextOps.tokens(col("text")))),
          threshold = 0.5)
        .orderBy("id_a", "id_b"),
      s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
         |           FROM documents),
         |sets AS (SELECT doc_id AS id,
         |  list_transform(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])),
         |    g -> ${duckHash("g")}) AS s
         |  FROM t),
         |nz AS (SELECT id, s, len(s) AS sz FROM sets WHERE len(s) > 0),
         |inv AS (SELECT id, sz, unnest(s) AS t FROM nz),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, COUNT(*) AS common
         |  FROM inv a JOIN inv b ON a.t = b.t AND a.id <> b.id
         |  GROUP BY 1, 2, 3)
         |SELECT id_a, id_b, CAST(common AS DOUBLE) / sz_a AS containment
         |FROM pairs WHERE CAST(common AS DOUBLE) / sz_a >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // Incremental ingestion dedup: an incoming BATCH (two sources) is
    // admitted against the already-indexed corpus (the other 18 sources) —
    // the shape a production pipeline runs on every new crawl/delivery:
    // never re-dedup the corpus, only test new docs against it. Each
    // incoming doc is rejected iff it has a verified near-dup (jaccard
    // >= 0.5) on the CORPUS side; batch-internal duplicates do not reject
    // (they are the corpus-build dedup's job, not admission's). Rides the
    // shared full-corpus verified-pair stage (the persisted artifact an
    // incremental pipeline keeps warm); at 100 TB the candidate join is
    // asymmetric — the batch's band keys probe the corpus' banded index,
    // so cost scales with |batch|, not |corpus|.
    "dedup_incremental_admit" -> QuerySpec(
      (s, d) => {
        val batch = Seq("src0", "src1")
        val lab = Tables.documents(s, d)
          .select(col("doc_id"), col("source").isin(batch: _*).as("is_new"))
        val p = lshVerifiedPairs(s, d).filter(col("jaccard") >= 0.5)
          .join(lab.select(col("doc_id").as("id_a"), col("is_new").as("new_a")), "id_a")
          .join(lab.select(col("doc_id").as("id_b"), col("is_new").as("new_b")), "id_b")
        val hits = p.filter(col("new_a") && !col("new_b"))
          .select(col("id_a").as("in_id"), col("id_b").as("match_id"),
            col("jaccard"))
          .unionAll(p.filter(col("new_b") && !col("new_a"))
            .select(col("id_b").as("in_id"), col("id_a").as("match_id"),
              col("jaccard")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("in_id").orderBy(desc("jaccard"), asc("match_id"))
        val best = hits.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        lab.filter(col("is_new")).select(col("doc_id"))
          .join(best, col("doc_id") === col("in_id"), "left")
          .select(col("doc_id"), col("in_id").isNull.as("admitted"),
            col("match_id"), col("jaccard").as("match_jaccard"))
          .orderBy("doc_id")
      },
      s"""WITH $duckVerifiedCtes,
         |lab AS (SELECT doc_id, source IN ('src0', 'src1') AS is_new
         |        FROM documents),
         |p AS (SELECT v.id_a, v.id_b, v.jaccard,
         |             la.is_new AS new_a, lb.is_new AS new_b
         |      FROM verified v JOIN lab la ON v.id_a = la.doc_id
         |                      JOIN lab lb ON v.id_b = lb.doc_id
         |      WHERE v.jaccard >= 0.5),
         |hits AS (
         |  SELECT id_a AS in_id, id_b AS match_id, jaccard FROM p
         |  WHERE new_a AND NOT new_b
         |  UNION ALL
         |  SELECT id_b, id_a, jaccard FROM p WHERE new_b AND NOT new_a),
         |best AS (SELECT in_id, match_id, jaccard FROM (
         |           SELECT *, row_number() OVER (PARTITION BY in_id
         |             ORDER BY jaccard DESC, match_id) AS rn FROM hits)
         |         WHERE rn = 1)
         |SELECT i.doc_id, best.in_id IS NULL AS admitted,
         |       best.match_id, best.jaccard AS match_jaccard
         |FROM (SELECT doc_id FROM lab WHERE is_new) i
         |LEFT JOIN best ON i.doc_id = best.in_id
         |ORDER BY doc_id""".stripMargin),

    // Triangle count over the near-dup graph — the structural statistic
    // that distinguishes clique-like duplicate clusters (high triangle
    // density → safe to collapse to one canonical doc) from chains of
    // pairwise-similar-but-drifting docs (low density → collapsing loses
    // content). Edges = the shared FULL-corpus LSH candidates at the
    // permissive 0.015 threshold (the interesting graph: background
    // band-collision edges included, so triangle density actually varies).
    // Spark plan: degree-ordered orientation + wedge-close joins
    // (Dedup.triangleCount) — hub fan-out bounded by O(sqrt(|E|)); the
    // oracle uses the simple id-ordered a<b<c 2-join, valid because the
    // triangle COUNT is orientation-invariant.
    "graph_triangle_count" -> QuerySpec(
      (s, d) => {
        val e = lshVerifiedPairs(s, d)
          .filter(col("jaccard") >= 0.015)
          .select(col("id_a"), col("id_b"))
        Dedup.triangleCount(e, "id_a", "id_b")
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      },
      s"""WITH $duckVerifiedCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM verified WHERE jaccard >= 0.015)
         |SELECT CAST((SELECT COUNT(*) FROM e e1
         |             JOIN e e2 ON e1.b = e2.a
         |             JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b) AS BIGINT)
         |         AS n_triangles,
         |       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges""".stripMargin),

    // Near-dup pairs → connected components → canonical id per member
    // (min doc_id in the component): the decision step of a dedup
    // pipeline, fed by the shared FULL-corpus candidate stage at the
    // true-near-dup threshold. Spark: fixed-round min-label propagation
    // (static plan, no driver convergence loop); oracle: recursive
    // transitive closure over the identical edge set.
    "dedup_cluster_canonical" -> QuerySpec(
      (s, d) => {
        val pairs = lshVerifiedPairs(s, d).filter(col("jaccard") >= 0.5)
        // True near-dup components at threshold 0.5 are tiny cliques
        // (measured: max component 4 nodes, min-label converges in 1
        // round at sf0.001/0.01/0.1); 6 one-hop rounds leaves margin,
        // and the fixpoint guard turns a too-chainy corpus into a loud
        // failure instead of a silent under-merge vs the closure oracle.
        Dedup.connectedComponents(pairs, "id_a", "id_b", rounds = 6)
          .orderBy("node")
      },
      s"""WITH RECURSIVE $duckVerifiedCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM verified WHERE jaccard >= 0.5
         |          UNION SELECT id_b, id_a FROM verified WHERE jaccard >= 0.5),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS node, least(src, MIN(dst)) AS component
         |FROM reach GROUP BY src ORDER BY node""".stripMargin),

    // Detector AGREEMENT audit: the two independent near-dup detectors —
    // MinHash-LSH verified pairs (shingle Jaccard ≥ 0.5, the shared pair
    // stage) and banded SimHash (Hamming ≤ 3 on the 60-bit token
    // simhash) — scored against each other with a full-outer pair join:
    // how many pairs both catch, and how many only one sees. The
    // methods measure DIFFERENT similarities (3-gram set overlap vs
    // bag-of-words bit votes), so the disagreement rows are the
    // interesting ones: minhash-only = word-order edits simhash's bag
    // ignores caught by shingles; simhash-only = token-multiset
    // near-misses whose 3-gram overlap diluted. Running both and
    // diffing IS the production calibration procedure for choosing a
    // detector. Exact counts + one 2^40-decimal Jaccard mass per
    // verdict class; both detectors stay banded/bucketed.
    "dedup_detector_agreement" -> QuerySpec(
      (s, d) => {
        val mh = lshVerifiedPairs(s, d).filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"), col("jaccard"))
        val sh0 = Tables.documents(s, d)
          .withColumn("hs", Dedup.tokenHashes(
            array_distinct(TextOps.tokens(col("text")))))
          .select(col("doc_id"),
            SimHashFromHashes.simhash(col("hs"), 60).as("simhash"))
        val shp = Dedup.simhashBandPairs(sh0, "doc_id", "simhash",
            bands = 4, bitsPerBand = 15, maxDist = 3)
          .select(col("id_a"), col("id_b"), lit(1L).as("in_sh"))
        mh.join(shp, Seq("id_a", "id_b"), "full_outer")
          .select(
            when(col("jaccard").isNotNull && col("in_sh").isNotNull,
              "both")
              .when(col("jaccard").isNotNull, "minhash_only")
              .otherwise("simhash_only").as("verdict"),
            coalesce(col("jaccard"), lit(0.0)).as("j"))
          .groupBy("verdict")
          .agg(count(lit(1)).as("n_pairs"),
            (sum(floor(col("j") * lit(1099511627776.0))
              .cast("decimal(38,0)")).cast("double") /
              lit(1099511627776.0)).as("jaccard_mass"))
          .orderBy("verdict")
      },
      {
        val votes = (0 until 60).map { j =>
          s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
            s"list_transform(hs, h -> (((h >> $j) & 1) * 2 - 1))), " +
            s"(a,b) -> a+b) > 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH $duckVerifiedCtes,
           |mh AS (SELECT id_a, id_b, jaccard FROM verified
           |       WHERE jaccard >= 0.5),
           |t2 AS (SELECT doc_id, $duckSet AS s2 FROM documents),
           |h2 AS (SELECT doc_id,
           |         list_transform(s2, t -> ${duckHash("t")}) AS hs
           |       FROM t2),
           |sh2 AS (SELECT doc_id, $votes AS simhash FROM h2),
           |sp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(1 AS BIGINT) AS in_sh
           |       FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
           |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |fo AS (SELECT
           |         CASE WHEN mh.jaccard IS NOT NULL
           |                   AND sp.in_sh IS NOT NULL THEN 'both'
           |              WHEN mh.jaccard IS NOT NULL THEN 'minhash_only'
           |              ELSE 'simhash_only' END AS verdict,
           |         COALESCE(mh.jaccard, 0.0) AS j
           |       FROM mh FULL OUTER JOIN sp
           |         ON mh.id_a = sp.id_a AND mh.id_b = sp.id_b)
           |SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |       CAST(SUM(CAST(floor(j * 1099511627776.0)
           |         AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0
           |         AS jaccard_mass
           |FROM fo GROUP BY 1 ORDER BY verdict""".stripMargin
      }),

    // SimHash near-pair detection over the FULL corpus (no sampling):
    // 60-bit simhash, banded 4 x 15 bits — by pigeonhole every pair at
    // Hamming distance <= 3 shares at least one exact band, so the banded
    // equi-join finds ALL qualifying pairs; the oracle is the semantically
    // identical all-pairs scan (fine at oracle SF, never run at scale).
    "dedup_simhash" -> QuerySpec(
      (s, d) => {
        val sh = Tables.documents(s, d)
          .withColumn("hs", Dedup.tokenHashes(
            array_distinct(TextOps.tokens(col("text")))))
          .select(col("doc_id"),
            SimHashFromHashes.simhash(col("hs"), 60).as("simhash"))
        Dedup.simhashBandPairs(sh, "doc_id", "simhash",
            bands = 4, bitsPerBand = 15, maxDist = 3)
          .orderBy("id_a", "id_b")
      },
      {
        val votes = (0 until 60).map { j =>
          s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
            s"list_transform(hs, h -> (((h >> $j) & 1) * 2 - 1))), (a,b) -> a+b) > 0 " +
            s"THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $duckSet AS s FROM documents),
           |h AS (SELECT doc_id, list_transform(s, t -> ${duckHash("t")}) AS hs FROM t),
           |sh AS (SELECT doc_id, $votes AS simhash FROM h)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       bit_count(xor(a.simhash, b.simhash)) AS dist
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // Cross-document EXACT-substring sharing (the "dedup training data at
    // the substring level" pass of Lee et al., ACL'22, done the winnowing
    // way instead of the suffix-array way): two documents sharing any run
    // of >= w+k-1 = 6 tokens are guaranteed to share a winnowing
    // fingerprint (Schleimer et al., SIGMOD'03), so fingerprint collisions
    // are a COMPLETE candidate generator for 6-token substring overlap at
    // ~2/(w+1) the density of all shingles. Each selected fingerprint
    // carries its source 3-gram TEXT, and the pair join matches on
    // (hash, gram) — string equality makes the evidence exact, not
    // probabilistic. Hot fingerprints (df > 50: boilerplate) are
    // suppressed before the join, so bucket fan-out is bounded and the
    // plan is explode -> one equi-join -> keyed count: no all-pairs, no
    // global sort, every stage keyed — the 100 TB shape.
    "dedup_substring_spans" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val W = 4
        val cap = 50
        val base = Tables.documents(s, d)
          .withColumn("shs", Dedup.shingles3(TextOps.tokens(col("text"))))
          .withColumn("hs", Dedup.tokenHashes(col("shs")))
          .withColumn("fps", TextOps.winnow(col("hs"), W))
        val sel = base.select(col("doc_id"),
            explode(array_distinct(filter(
              zip_with(col("hs"), col("shs"),
                (h, g) => struct(h.as("fp"), g.as("gram"))),
              p => array_contains(col("fps"), p("fp"))))).as("p"))
          .select(col("doc_id"), col("p.fp").as("fp"), col("p.gram").as("gram"))
        val capped = sel
          .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
          .filter(col("df") <= cap).drop("df")
        capped.as("x").join(capped.as("y"),
            col("x.fp") === col("y.fp") && col("x.gram") === col("y.gram") &&
              col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"),
            max(col("x.gram")).as("sample_gram"))
          .filter(col("n_shared") >= 3)
          .orderBy("id_a", "id_b")
      },
      s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
         |           FROM documents),
         |sh AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shs
         |       FROM t),
         |h AS (SELECT doc_id, shs,
         |             list_transform(shs, x -> ${duckHash("x")}) AS hs
         |      FROM sh),
         |w AS (SELECT doc_id, shs, hs,
         |             list_distinct(list_transform(range(1, len(hs) - 2),
         |               i -> list_min(hs[i:i+3]))) AS fps
         |      FROM h),
         |sel AS (SELECT doc_id, unnest(list_filter(
         |          list_transform(range(1, len(hs) + 1),
         |            i -> {'fp': hs[i], 'gram': shs[i]}),
         |          p -> list_contains(fps, p.fp))) AS p
         |        FROM w),
         |e AS (SELECT DISTINCT doc_id, p.fp AS fp, p.gram AS gram FROM sel),
         |capped AS (SELECT doc_id, fp, gram FROM (
         |             SELECT doc_id, fp, gram,
         |                    COUNT(*) OVER (PARTITION BY fp) AS df FROM e)
         |           WHERE df <= 50)
         |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |       COUNT(*) AS n_shared, max(x.gram) AS sample_gram
         |FROM capped x JOIN capped y
         |  ON x.fp = y.fp AND x.gram = y.gram AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // Dedup aggressiveness CURVE over the shared verified-pair stage: for
    // Jaccard thresholds 0.3/0.5/0.7/0.9, how many pairs qualify, how
    // many docs the keep-smaller-id rule would drop, and the surviving
    // corpus fraction — the dial a curation pipeline turns before
    // committing to a cutoff (the threshold sweep next to the ANN
    // recall-vs-nprobe curve; dedup_cluster_canonical resolves ONE
    // threshold transitively, this censuses the whole dial). Exact
    // integer counts and one rational division; the corpus-size scalar
    // broadcasts; the sweep re-reads only the tiny persisted pair table,
    // never the corpus.
    "dedup_threshold_curve" -> QuerySpec(
      (s, d) => {
        val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        lshVerifiedPairs(s, d)
          .select(col("id_b"), col("jaccard"),
            explode(array(lit(0.3), lit(0.5), lit(0.7), lit(0.9)))
              .as("threshold"))
          .filter(col("jaccard") >= col("threshold"))
          .groupBy("threshold")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("id_b")).as("n_docs_dropped"))
          .crossJoin(broadcast(nd))
          .select(col("threshold"), col("n_pairs"), col("n_docs_dropped"),
            ((col("n_docs") - col("n_docs_dropped")).cast("double") /
              col("n_docs").cast("double")).as("keep_frac"))
          .orderBy("threshold")
      },
      s"""WITH $duckVerifiedCtes,
         |th AS (SELECT unnest(CAST([0.3, 0.5, 0.7, 0.9] AS DOUBLE[]))
         |         AS threshold),
         |f AS (SELECT th.threshold, v.id_b FROM verified v CROSS JOIN th
         |      WHERE v.jaccard >= th.threshold),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT f.threshold, COUNT(*) AS n_pairs,
         |       COUNT(DISTINCT f.id_b) AS n_docs_dropped,
         |       CAST(nd.n_docs - COUNT(DISTINCT f.id_b) AS DOUBLE)
         |         / CAST(nd.n_docs AS DOUBLE) AS keep_frac
         |FROM f CROSS JOIN nd GROUP BY f.threshold, nd.n_docs
         |ORDER BY f.threshold""".stripMargin)
  )
}
