package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ext.Similarity
import graft.io.Tables

/** Similarity-search pack over the embeddings table. The DuckDB oracles
  * replicate the exact sequential double fold (list_reduce over a prepended
  * 0.0) so cosine values are bit-identical. */
object SimilarityQ {

  /** One k=8, rounds=2 codebook train per (session, sf-dir) — the trained
    * quantizer is the persisted artifact every IVF consumer (search,
    * nprobe, IVF-PQ, cluster profile) reuses, exactly like DedupQ's
    * shared verified-pair stage. The stage holds 8 rows
    * (localCheckpointed by kmeansCentroids), so the footprint is the
    * codebook, not the corpus; entries evict when their session stops. */
  private[graft] val trainedCents8x2 =
    new graft.util.SharedStage[org.apache.spark.sql.DataFrame](
        "similarity_kmeans_shared_train")({ (s, d) =>
      Similarity.kmeansCentroids(Tables.embeddings(s, d), 8, 2)
    })

  /** DuckDB: exact double dot product of lists a·b (1-based indexing). */
  private def duckDot(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)""".stripMargin

  private def duckCos(a: String, b: String) =
    s"(${duckDot(a, b)}) / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** DuckDB: the sign-LSH bucket over the same literal ±1 hyperplanes the
    * Spark side embeds (constants from [[Similarity.planeWeights]], so the
    * two engines cannot drift). */
  private def duckBucket(v: String, planes: Int, table: Int = 0): String = {
    val ws = Similarity.planeWeights(planes, 64, table)
    (0 until planes).map { j =>
      val wlist = ws(j).map(w => if (w > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  i -> CAST($v[i] AS DOUBLE) * ($wlist)[i])),
         |  (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
  }

  /** DuckDB: sign-LSH bucket with a DATA-DERIVED plane count (the
    * [[Similarity.adaptivePlanes]] dial). All `maxPlanes` literal
    * hyperplanes are embedded — a prefix-consistent superset of
    * [[duckBucket]]'s, since [[Similarity.planeWeights]] depends only on
    * (plane index, dim, table) — and bit j participates only when
    * `j < plExpr`, so the oracle's bucket equals the Spark side's for
    * ANY runtime plane count up to `maxPlanes`. */
  private def duckBucketDyn(v: String, maxPlanes: Int, plExpr: String,
                            table: Int = 0): String = {
    val ws = Similarity.planeWeights(maxPlanes, 64, table)
    (0 until maxPlanes).map { j =>
      val wlist = ws(j).map(w => if (w > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"""CASE WHEN $j < $plExpr AND
         |  list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  i -> CAST($v[i] AS DOUBLE) * ($wlist)[i])),
         |  (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
  }

  /** DuckDB: the [[Similarity.adaptivePlanes]] formula as a one-row CTE —
    * LEAST(hi, GREATEST(lo, bitlen(ceil(COUNT(*)/target) − 1))), with
    * bitlen via binary-format length (integer-exact, matching the Scala
    * numberOfLeadingZeros derivation bit for bit; both floor at lo when
    * the count is degenerate). */
  private def duckAdaptivePlanes(tbl: String, target: Int = 128,
                                 lo: Int = 4, hi: Int = 16): String =
    s"""(SELECT LEAST($hi, GREATEST($lo, length(format('{:b}',
       |  GREATEST((COUNT(*) + ${target - 1}) // $target - 1, 0)))))
       | FROM $tbl)""".stripMargin

  /** DuckDB: sequential-fold L2² between two double lists (same op order
    * as [[Similarity.l2sq]]). */
  private def duckL2(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (x, y) -> x + y)""".stripMargin

  /** DuckDB CTE chain mirroring [[Similarity.kmeansCentroids]] round by
    * round: sha256-sampled-then-ranked seeds (the `< '$seedBound'` predicate
    * is the same sample-then-rank draw the Spark side runs — exact, because
    * every sampled hash sorts below every unsampled one) → (assign
    * argmin-L2² → exact scaled-sum means → empty-cell carryover) × rounds.
    * Ends in `c$rounds(cent_id, cvec)` plus the shared `ev(vec_id, v)`
    * double-cast corpus. */
  private def duckKmeansCtes(k: Int, rounds: Int,
                             seedBound: String = "1"): String = {
    val S = "281474976710656.0" // 2^48, same literal the Spark side embeds
    val sb = new StringBuilder
    sb ++= s"""ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |       FROM embeddings),
              |c0smp AS (SELECT vec_id, v FROM ev
              |          WHERE sha256(CAST(vec_id AS VARCHAR)) < '$seedBound'),
              |c0src AS (SELECT vec_id, v FROM c0smp
              |          WHERE (SELECT COUNT(*) FROM c0smp) >= $k
              |          UNION ALL
              |          SELECT vec_id, v FROM ev
              |          WHERE (SELECT COUNT(*) FROM c0smp) < $k),
              |c0 AS (SELECT CAST(rk - 1 AS BIGINT) AS cent_id, v AS cvec FROM (
              |         SELECT v, row_number() OVER (
              |           ORDER BY sha256(CAST(vec_id AS VARCHAR)), vec_id) AS rk
              |         FROM c0src)
              |       WHERE rk <= $k)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
                |a$r AS (SELECT vec_id, v, cent_id FROM (
                |  SELECT ev.vec_id, ev.v, c.cent_id,
                |         row_number() OVER (PARTITION BY ev.vec_id
                |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
                |  FROM ev CROSS JOIN c${r - 1} c) WHERE rn = 1),
                |m$r AS (SELECT cent_id, i,
                |         (CAST(SUM(CAST(FLOOR(v[i] * $S) AS BIGINT)) AS DOUBLE) / $S)
                |           / COUNT(*) AS m
                |       FROM a$r CROSS JOIN range(1, 65) t(i) GROUP BY cent_id, i),
                |n$r AS (SELECT cent_id, list(m ORDER BY i) AS cvec
                |        FROM m$r GROUP BY cent_id),
                |c$r AS (SELECT p.cent_id, COALESCE(n.cvec, p.cvec) AS cvec
                |        FROM c${r - 1} p LEFT JOIN n$r n USING (cent_id))""".stripMargin
    }
    sb.toString
  }

  val registry: Map[String, QuerySpec] = Map(

    // Exact brute-force top-10 cosine neighbors of vector 0.
    "similarity_topk_bruteforce" -> QuerySpec(
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 10),
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, ${duckCos("embedding", "qv")} AS cos
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // ANN: exact ranking restricted to the query's sign-LSH bucket
    // (8 hyperplanes → ~n/256 candidates) — the scale path.
    "similarity_lsh_topk" -> QuerySpec(
      (s, d) => Similarity.lshBucketTopK(Tables.embeddings(s, d), 0L, 10,
        planes = 8),
      s"""WITH b AS (SELECT vec_id, embedding,
         |             ${duckBucket("embedding", 8)} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, b.bucket, ${duckCos("b.embedding", "qv")} AS cos
         |FROM b JOIN q USING (bucket) WHERE b.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // Multi-probe ANN: query bucket + all Hamming-1 neighbor buckets —
    // the recall-recovery step over single-table LSH, still bucket-pruned.
    "similarity_multiprobe_topk" -> QuerySpec(
      (s, d) => Similarity.multiProbeTopK(Tables.embeddings(s, d), 0L, 10,
        planes = 8),
      {
        val flips = (Seq(0L) ++ (0 until 8).map(j => 1L << j))
          .mkString("[", ", ", "]")
        s"""WITH b AS (SELECT vec_id, embedding,
           |             ${duckBucket("embedding", 8)} AS bucket FROM embeddings),
           |q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
           |probes AS (SELECT qv, xor(qb, f) AS bucket
           |           FROM q, (SELECT unnest($flips) AS f))
           |SELECT b.vec_id, ${duckCos("b.embedding", "qv")} AS cos
           |FROM b JOIN probes USING (bucket) WHERE b.vec_id <> 0
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      }),

    // Johnson-Lindenstrauss distance-preservation audit: project 64-d →
    // 16-d with the Achlioptas ±1 literal matrix (Similarity.jlProject —
    // salted table 9, scale 1/√16 = 0.25 exact) and measure WHAT JL
    // ACTUALLY GUARANTEES — the pairwise L2² ratio ‖y_a−y_b‖²/‖x_a−x_b‖²
    // concentrating around 1 — as a bucketed histogram over a
    // deterministic pair sample (offsets +1/+7/+49 in vec_id order).
    // A reduced-space top-k was measured and REJECTED as the fixture:
    // this corpus's neighbor margins (~0.1 cos over the bulk) are far
    // inside JL-16's ε ≈ √(2/16) ≈ 0.35 distortion, so rank recall is
    // legitimately ~0 — the honest JL statement at k=16 is the
    // distortion curve a user consults to CHOOSE k (the perceptual-hash
    // renditions lesson: measure the property the transform promises).
    // Scale shape: projection is a per-row fold over literal weights (a
    // narrow map, no shuffle); the pair sample is an equi-join on a
    // computed key (vec_id + offset) — shuffle on ids, never all-pairs;
    // the histogram is a map-side-combined keyed agg over ≤ ~30 buckets.
    "similarity_jl_distortion" -> QuerySpec(
      (s, d) => {
        val red = Tables.embeddings(s, d).select(col("vec_id"),
          col("embedding"), Similarity.jlProject(col("embedding"), 16).as("y"))
        val a = red.select(col("vec_id"), col("embedding").as("xa"),
            col("y").as("ya"),
            explode(array(lit(1L), lit(7L), lit(49L))).as("off"))
          .select((col("vec_id") + col("off")).as("nid"), col("xa"),
            col("ya"), col("off"))
        val b = red.select(col("vec_id").as("nid"),
          col("embedding").as("xb"), col("y").as("yb"))
        a.join(b, "nid")
          .select(col("off"),
            (Similarity.l2sq(col("ya"), col("yb")) /
              Similarity.l2sq(col("xa"), col("xb"))).as("r"))
          .groupBy(floor(col("r") * 10).cast("long").as("ratio_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("r")).as("min_ratio"), max(col("r")).as("max_ratio"))
          .orderBy("ratio_bucket")
      },
      {
        val ws = Similarity.planeWeights(16, 64, table = 9)
        val proj = (0 until 16).map { p =>
          val wlist = ws(p).map(w => if (w > 0) "1.0" else "-1.0")
            .mkString("[", ", ", "]")
          s"""(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |  i -> CAST(embedding[i] AS DOUBLE) * ($wlist)[i])),
             |  (x, y) -> x + y)) * 0.25""".stripMargin
        }.mkString("list_value(", ",\n", ")")
        def l2n(a: String, b: String, n: Int) =
          s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}),
             |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
             |       (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
             |  (x, y) -> x + y)""".stripMargin
        s"""WITH red AS MATERIALIZED (SELECT vec_id, embedding, $proj AS y
           |  FROM embeddings),
           |pr AS (SELECT (${l2n("a.y", "b.y", 16)}) /
           |              (${l2n("a.embedding", "b.embedding", 64)}) AS r
           |       FROM (SELECT vec_id + unnest([1, 7, 49]) AS nid,
           |               embedding, y FROM red) a
           |       JOIN red b ON a.nid = b.vec_id)
           |SELECT CAST(floor(r * 10) AS BIGINT) AS ratio_bucket,
           |       COUNT(*) AS n_pairs,
           |       MIN(r) AS min_ratio, MAX(r) AS max_ratio
           |FROM pr GROUP BY 1 ORDER BY ratio_bucket""".stripMargin
      }),

    // IVF-style ANN: deterministic coarse quantizer (stored vectors 1..8
    // as centroids), exact ranking within the query's cell only.
    "similarity_ivf_topk" -> QuerySpec(
      (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), 0L, 10,
        centroidIds = (1L to 8L)),
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8),
         |assigned AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |q AS (SELECT embedding AS qv, cell FROM assigned WHERE vec_id = 0)
         |SELECT a.vec_id, a.cell, ${duckCos("a.embedding", "qv")} AS cos
         |FROM assigned a JOIN q USING (cell) WHERE a.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // IVF with a TRAINED coarse quantizer: 2 Lloyd rounds of k-means
    // (k=8 cells, sha2-ranked deterministic seeds, exact scaled-decimal
    // centroid means) learn the cells, then exact cosine ranking within
    // the query's cell — the real IVF recall path; similarity_ivf_topk
    // keeps the stand-in-codebook variant for comparison. The oracle
    // replays the identical training rounds CTE by CTE.
    "similarity_ivf_kmeans_topk" -> QuerySpec(
      (s, d) => Similarity.ivfKmeansTopKWith(Tables.embeddings(s, d),
        trainedCents8x2(s, d), 0L, 10),
      s"""WITH ${duckKmeansCtes(8, 2)},
         |assigned AS (SELECT vec_id, v, cell FROM (
         |  SELECT ev.vec_id, ev.v, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |q AS (SELECT v AS qv, cell FROM assigned WHERE vec_id = 0)
         |SELECT a.vec_id, a.cell, ${duckCos("a.v", "qv")} AS cos
         |FROM assigned a JOIN q USING (cell) WHERE a.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // Hybrid retrieval: reciprocal-rank fusion of the LEXICAL top-10
    // (BM25, Text.bm25Scored — the 3-term keyword query) and the DENSE
    // top-10 (exact cosine neighbors of vector 0), joined on document id
    // — the standard two-tower search fusion (RRF, k = 60). Fusion
    // consumes only the two 10-row rank lists (the per-list windows run
    // AFTER each TakeOrdered top-k, over 10 rows — not over the corpus),
    // so the determinism burden is two integer ranks and one
    // fixed-order double sum; a doc missing from one list contributes
    // 0.0 from that side via COALESCE on both engines. At scale each arm
    // keeps its own contract (BM25: keyed aggs; ANN: broadcast + top-k)
    // and fusion cost is O(k).
    "hybrid_search_rrf" -> QuerySpec(
      (s, d) => {
        val wb = org.apache.spark.sql.expressions.Window
          .orderBy(desc("bm25"), asc("doc_id"))
        val bm = Text.bm25Scored(s, d)
          .orderBy(desc("bm25"), asc("doc_id")).limit(10)
          .select(col("doc_id").as("id"),
            row_number().over(wb).cast("long").as("r_bm"))
        val wa = org.apache.spark.sql.expressions.Window
          .orderBy(desc("cos"), asc("vec_id"))
        val ann = Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)
          .select(col("vec_id"), col("cos"))
          .withColumn("r_ann", row_number().over(wa).cast("long"))
          .select(col("vec_id").as("id"), col("r_ann"))
        bm.join(ann, Seq("id"), "full_outer")
          .select(col("id").as("doc_id"), col("r_bm"), col("r_ann"),
            (coalesce(lit(1.0) / (lit(60.0) + col("r_bm").cast("double")),
              lit(0.0)) +
             coalesce(lit(1.0) / (lit(60.0) + col("r_ann").cast("double")),
               lit(0.0))).as("rrf"))
          .orderBy(desc("rrf"), asc("doc_id"))
      },
      s"""WITH ${Text.duckBm25Ctes},
         |bmtop AS (SELECT doc_id AS id,
         |            row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm
         |          FROM bmscore ORDER BY bm25 DESC, doc_id LIMIT 10),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |anntop AS (SELECT vec_id AS id,
         |             row_number() OVER (ORDER BY cos DESC, vec_id) AS r_ann
         |           FROM (SELECT vec_id, ${duckCos("embedding", "qv")} AS cos
         |                 FROM embeddings, q WHERE vec_id <> 0
         |                 ORDER BY cos DESC, vec_id LIMIT 10))
         |SELECT COALESCE(b.id, a.id) AS doc_id, b.r_bm, a.r_ann,
         |       COALESCE(1.0 / (60.0 + CAST(b.r_bm AS DOUBLE)), 0.0) +
         |       COALESCE(1.0 / (60.0 + CAST(a.r_ann AS DOUBLE)), 0.0) AS rrf
         |FROM bmtop b FULL OUTER JOIN anntop a ON b.id = a.id
         |ORDER BY rrf DESC, doc_id""".stripMargin),

    // k-means ELBOW curve: within-cluster inertia (Σ min-L2²) for
    // k ∈ {2, 4, 8} at the shared 2-round training recipe — the
    // cluster-count selection plot, and the capacity-planning input for
    // IVF cell sizing (cells ≈ the elbow's knee × a probe-cost factor).
    // Each k trains with the identical deterministic recipe the shared
    // codebook uses (sha2 sample-then-rank seeds, argmin-L2² folds,
    // exact scaled-decimal means) and the oracle replays ALL THREE
    // trainings CTE-chain by CTE-chain. Inertia sums are 2^32-scaled
    // floor()ed decimals (unit vectors ⇒ L2² ≤ 4; 2^32 keeps the
    // accumulated sum under 2^53 through sf1 — the HitsScale budget).
    // Scale: 3 × (rounds × one broadcast-fold corpus scan); nothing
    // else touches the corpus.
    "similarity_kmeans_elbow_curve" -> QuerySpec(
      (s, d) => {
        // r15 (guide §1.2/§2.4): the three trainings are INDEPENDENT, so
        // they run as ONE k-keyed dataflow — the seed draw is ranked once
        // (each k's seed set is a prefix of the same sha2 ranking; the
        // sample-vs-full source decision stays PER K, so degenerate
        // corpora pick exactly the per-k source the single-k trainer
        // picks), each Lloyd round materializes one (k, cent_id, cvec)
        // table instead of three, and the three inertia scans fold into
        // one k-grouped pass (ungrouped-agg row shape on an empty corpus
        // preserved via the literal-k left join). Every per-k sum is the
        // identical decimal fold grouped by k — bit-identical curves,
        // oracle SQL unchanged. 12 eager jobs -> 4.
        import org.apache.spark.sql.expressions.Window
        val sc = 4294967296.0 // 2^32
        val scale = 281474976710656L // 2^48 (the kmeansCentroids mean lift)
        val ks = Seq(2, 4, 8)
        val emb = Tables.embeddings(s, d)
        val h = sha2(col("vec_id").cast("string"), 256)
        val seedW = Window.orderBy(col("h"), col("vec_id"))
        val sampleN = emb.filter(h < lit("1")).count()
        // r16: top-kCap via orderBy().limit() (TakeOrderedAndProject)
        // instead of an unpartitioned row_number window over the whole
        // sample/corpus — same rows, same ranks ((h, vec_id) is a total
        // order); the window now ranks ≤ kCap rows. See
        // Similarity.kmeansCentroids.rankSeeds for the full rationale.
        def ranked(src: org.apache.spark.sql.DataFrame, kCap: Int) = src
          .withColumn("h", h)
          .orderBy(col("h"), col("vec_id")).limit(kCap)
          .withColumn("rk", row_number().over(seedW))
          .select((col("rk") - 1).cast("long").as("cent_id"),
            transform(col("embedding"), _.cast("double")).as("cvec"))
          .localCheckpoint(true)
        val fromSample = ks.filter(k => sampleN >= k)
        val fromFull = ks.filter(k => sampleN < k)
        val rankedSample =
          if (fromSample.nonEmpty)
            Some(ranked(emb.filter(h < lit("1")), fromSample.max))
          else None
        val rankedFull =
          if (fromFull.nonEmpty) Some(ranked(emb, fromFull.max)) else None
        val seeds = ks.map { k =>
          val src = if (sampleN >= k) rankedSample.get else rankedFull.get
          src.filter(col("cent_id") < k).withColumn("k", lit(k.toLong))
        }.reduce(_ unionAll _)
        def packedByK(c: org.apache.spark.sql.DataFrame) = c.groupBy("k")
          .agg(array_sort(collect_list(struct(col("cent_id"), col("cvec"))))
            .as("cents"))
        def bestOf(cents: org.apache.spark.sql.Column) =
          array_min(transform(cents, c =>
            struct(Similarity.l2sq(col("embedding"), c.getField("cvec"))
              .as("d"), c.getField("cent_id").as("cent_id"))))
        val (cents, _) = graft.ops.Rounds.iterate(seeds, 2) { (prev, _) =>
          val assigned = emb.crossJoin(broadcast(packedByK(prev)))
            .select(col("k"), col("embedding"),
              bestOf(col("cents")).getField("cent_id").as("cent_id"))
          val means = assigned
            .select(col("k"), col("cent_id"),
              posexplode(col("embedding")).as(Seq("i", "v")))
            .groupBy("k", "cent_id", "i")
            .agg((((sum(floor(col("v").cast("double") * lit(scale.toDouble))
                .cast("decimal(38,0)")).cast("double") /
              lit(scale.toDouble)) /
              count(lit(1))).as("m")))
            .groupBy("k", "cent_id")
            .agg(transform(
              array_sort(collect_list(struct(col("i"), col("m")))),
              e => e.getField("m")).as("nvec"))
          prev.join(means, Seq("k", "cent_id"), "left")
            .select(col("k"), col("cent_id"),
              coalesce(col("nvec"), col("cvec")).as("cvec"))
        }.last
        val grouped = emb.crossJoin(broadcast(packedByK(cents)))
          .select(col("k"), bestOf(col("cents")).getField("d").as("d2"))
          .groupBy("k")
          .agg(count(lit(1)).as("n"),
            (sum(floor(col("d2") * lit(sc)).cast("decimal(38,0)"))
              .cast("double") / lit(sc)).as("inertia"))
        val kTab = ks.map(k => s.range(1).select(lit(k.toLong).as("k")))
          .reduce(_ unionAll _)
        kTab.join(grouped, Seq("k"), "left")
          .select(col("k"), coalesce(col("n"), lit(0L)).as("n"),
            col("inertia"),
            (col("inertia") / coalesce(col("n"), lit(0L)).cast("double"))
              .as("mean_d2"))
          .orderBy("k")
      },
      {
        def leg(k: Int) =
          s"""SELECT CAST($k AS BIGINT) AS k,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(floor(d2 * 4294967296.0) AS DECIMAL(38,0)))
             |    AS DOUBLE) / 4294967296.0 AS inertia,
             |  (CAST(SUM(CAST(floor(d2 * 4294967296.0) AS DECIMAL(38,0)))
             |    AS DOUBLE) / 4294967296.0) / CAST(COUNT(*) AS DOUBLE)
             |    AS mean_d2
             |FROM (
             |  SELECT vec_id, d2 FROM (
             |    SELECT ev.vec_id,
             |           ${duckL2("ev.v", s"c.cvec")} AS d2,
             |           row_number() OVER (PARTITION BY ev.vec_id
             |             ORDER BY ${duckL2("ev.v", s"c.cvec")},
             |               c.cent_id) AS rn
             |    FROM ev CROSS JOIN ck$k c) WHERE rn = 1)""".stripMargin
        // three independent trainings; rename each chain's CTEs to
        // avoid collisions (ev is shared, c-chains are per-k)
        def chain(k: Int) = duckKmeansCtes(k, 2)
          .replaceAll("\\bc0\\b", s"ck${k}_0")
          .replaceAll("\\bc1\\b", s"ck${k}_1")
          .replaceAll("\\bc2\\b", s"ck$k")
          .replaceAll("\\ba1\\b", s"ak${k}_1")
          .replaceAll("\\ba2\\b", s"ak${k}_2")
          .replaceAll("\\bm1\\b", s"mk${k}_1")
          .replaceAll("\\bm2\\b", s"mk${k}_2")
          .replaceAll("\\bn1\\b", s"nk${k}_1")
          .replaceAll("\\bn2\\b", s"nk${k}_2")
        val c2 = chain(2)
        // chains 4 and 8 redefine ev identically — strip their ev CTE
        def tail(k: Int) = {
          val ch = chain(k)
          ch.substring(ch.indexOf("c" + "k" + k + "_0 AS"))
        }
        s"""WITH $c2,
           |${tail(4)},
           |${tail(8)}
           |${Seq(2, 4, 8).map(leg).mkString("\nUNION ALL\n")}
           |ORDER BY k""".stripMargin
      }),

    // BATCHED multi-query ANN — retrieval serving's throughput shape:
    // ten query vectors resolved in ONE pass instead of ten sequential
    // searches. All queries assign to their IVF cell up front, the
    // query batch BROADCASTs against the assigned corpus with an
    // equi-join on cell (each corpus row is scored only against the
    // queries probing its cell — the batch never multiplies the scan),
    // and the per-query top-5 is a WindowGroupLimit partitioned BY
    // QUERY. At serving scale this is exactly the batch-lookup plan: a
    // corpus partitioned by cell, a query micro-batch joined in, one
    // shuffle on the (small) scored-candidate set. Oracle replays
    // training + assignment and ranks with the same total order.
    "similarity_batch_topk" -> QuerySpec(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val packed = trainedCents8x2(s, d).agg(array_sort(
          collect_list(struct(col("cent_id"), col("cvec")))).as("cents"))
        val assigned = emb.crossJoin(broadcast(packed))
          .withColumn("best", array_min(transform(col("cents"), c =>
            struct(Similarity.l2sq(col("embedding"), c.getField("cvec"))
              .as("d"), c.getField("cent_id").as("cent_id")))))
          .select(col("vec_id"), col("embedding"),
            col("best.cent_id").as("cell"))
        val qs = assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("cell").as("qcell"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
        assigned.join(broadcast(qs),
            col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("q_id"), col("rk").cast("long").as("rk"),
            col("vec_id"), col("cos"))
          .orderBy("q_id", "rk")
      },
      s"""WITH ${duckKmeansCtes(8, 2)},
         |assigned AS (SELECT vec_id, v, cell FROM (
         |  SELECT ev.vec_id, ev.v, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, v AS qv, cell AS qcell
         |       FROM assigned WHERE vec_id < 10),
         |sc AS (SELECT q.q_id, a.vec_id,
         |         ${duckCos("a.v", "q.qv")} AS cos
         |       FROM assigned a JOIN qs q ON a.cell = q.qcell
         |       WHERE a.vec_id <> q.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, vec_id) AS rk
         |       FROM sc)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, cos
         |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // FILTERED vector search (the hard mode of production ANN): top-10
    // cosine neighbors of vector 0 restricted by a metadata predicate —
    // here "label differs from the query's label", the cross-category
    // recommendation / decontamination probe. The filter composes with
    // the IVF index by applying INSIDE the probed cell BEFORE ranking
    // (pre-filtering — post-filtering a fixed-k list under-delivers when
    // the predicate is selective, the classic filtered-ANN bug), and the
    // at-scale layout is unchanged: corpus partitioned by cell, label
    // a pruning column within each cell's files. Rides the shared
    // trained codebook; the oracle replays training and applies the
    // identical predicate. A post-filter-vs-pre-filter delta column is
    // audited implicitly: k rows are always delivered because ranking
    // happens after the cut.
    "similarity_filtered_topk" -> QuerySpec(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // inline packed-centroid fold (ivfAssign's shape) KEEPING the
        // label column — re-joining labels on vec_id would shuffle the
        // corpus, which the partition-by-cell layout exists to avoid
        val packed = trainedCents8x2(s, d).agg(array_sort(
          collect_list(struct(col("cent_id"), col("cvec")))).as("cents"))
        val assigned = emb.crossJoin(broadcast(packed))
          .withColumn("best", array_min(transform(col("cents"), c =>
            struct(Similarity.l2sq(col("embedding"), c.getField("cvec"))
              .as("d"), c.getField("cent_id").as("cent_id")))))
          .select(col("vec_id"), col("embedding"), col("label"),
            col("best.cent_id").as("cell"))
        val q = assigned.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("cell").as("qcell"),
            col("label").as("qlabel"))
        assigned.join(broadcast(q),
            col("cell") === col("qcell") && col("vec_id") =!= 0 &&
              col("label") =!= col("qlabel"))
          .select(col("vec_id"), col("label"),
            Similarity.cosine(col("embedding"), col("qv")).as("cos"))
          .orderBy(desc("cos"), asc("vec_id"))
          .limit(10)
      },
      s"""WITH ${duckKmeansCtes(8, 2)},
         |assigned AS (SELECT vec_id, v, cell FROM (
         |  SELECT ev.vec_id, ev.v, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |al AS (SELECT a.vec_id, a.v, a.cell, e.label
         |       FROM assigned a JOIN embeddings e USING (vec_id)),
         |q AS (SELECT v AS qv, cell AS qcell, label AS qlabel
         |      FROM al WHERE vec_id = 0)
         |SELECT al.vec_id, al.label, ${duckCos("al.v", "q.qv")} AS cos
         |FROM al, q
         |WHERE al.cell = q.qcell AND al.vec_id <> 0
         |  AND al.label <> q.qlabel
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // Per-dimension embedding-hygiene census: mean, variance, and range
    // of each of the 64 dimensions, with a LOW-VARIANCE flag (variance
    // under half the cross-dimension mean variance) — the dead/collapsed-
    // dimension audit run before trusting an embedding space for
    // retrieval or Matryoshka truncation (a collapsed dimension carries
    // no signal but full storage cost). One posexplode pass →
    // map-side-combined (dim) aggs; means/variances are exact 2^30-
    // scaled floor()ed decimal sums (2^30, not 2^40, keeps every scaled
    // sum under 2^53 at 100× the corpus — the HitsScale budget), min/max
    // are exact float→double casts, and the flag compares two
    // identically-derived doubles. The cross-dimension mean variance is
    // a 64-row agg broadcast back — nothing global touches the corpus.
    "embedding_dimension_stats" -> QuerySpec(
      (s, d) => {
        val sc = 1073741824.0 // 2^30
        def dsum30(v: org.apache.spark.sql.Column) =
          sum(floor(v * lit(sc)).cast("decimal(38,0)")).cast("double") /
            lit(sc)
        val ex = Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("i0", "x0")))
          .select((col("i0") + 1).as("dim"),
            col("x0").cast("double").as("x"))
        val st = ex.groupBy("dim")
          .agg(count(lit(1)).as("n"), dsum30(col("x")).as("sx"),
            dsum30(col("x") * col("x")).as("sx2"),
            min("x").as("lo"), max("x").as("hi"))
          .withColumn("mean", col("sx") / col("n").cast("double"))
          .withColumn("variance",
            col("sx2") / col("n").cast("double") -
              col("mean") * col("mean"))
        val mv = st.agg((dsum30(col("variance")) / lit(64.0)).as("mean_var"))
        st.crossJoin(broadcast(mv))
          .select(col("dim"), col("n"), col("mean"), col("variance"),
            col("lo"), col("hi"),
            (col("variance") < col("mean_var") * lit(0.5))
              .as("low_variance"))
          .orderBy("dim")
      },
      """WITH ex AS (
        |  SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, UNNEST(generate_series(1, 64)) t(i)),
        |st AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(floor(x * 1073741824.0) AS DECIMAL(38,0)))
        |      AS DOUBLE) / 1073741824.0 AS sx,
        |    CAST(SUM(CAST(floor(x * x * 1073741824.0) AS DECIMAL(38,0)))
        |      AS DOUBLE) / 1073741824.0 AS sx2,
        |    MIN(x) AS lo, MAX(x) AS hi
        |  FROM ex GROUP BY 1),
        |sv AS (
        |  SELECT dim, n, sx / CAST(n AS DOUBLE) AS mean,
        |    sx2 / CAST(n AS DOUBLE)
        |      - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))
        |      AS variance,
        |    lo, hi
        |  FROM st),
        |mv AS (
        |  SELECT CAST(SUM(CAST(floor(variance * 1073741824.0)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 / 64.0
        |    AS mean_var
        |  FROM sv)
        |SELECT dim, n, mean, variance, lo, hi,
        |       variance < mean_var * 0.5 AS low_variance
        |FROM sv, mv ORDER BY dim""".stripMargin),

    // Simplified silhouette (centroid-based; Hruschka et al. 2004) of the
    // SHARED trained 8-cell codebook: per vector, a = L2 to its own
    // centroid, b = L2 to the nearest OTHER centroid, s = (b−a)/max(a,b);
    // reported per cell as mean intra/inter distance and mean silhouette
    // — the "are these clusters real" audit next to the purity census,
    // at O(n·k) cost instead of exact silhouette's O(n²) pairwise
    // distances (which is the unrunnable-at-scale formulation). One
    // corpus scan: the packed centroid array broadcasts, a per-row
    // array_sort over k=8 (dist, cent_id) structs picks nearest and
    // second-nearest in the same total order the oracle's window uses,
    // and the per-cell means are exact 2^40-scaled decimal sums. sqrt is
    // correctly rounded in both engines, and (b−a)/max(a,b) is a fixed
    // two-op double chain, so the profile hashes bit-identically.
    "embedding_silhouette_simplified" -> QuerySpec(
      (s, d) => {
        val cents = trainedCents8x2(s, d)
        val packed = cents.agg(array_sort(
          collect_list(struct(col("cent_id"), col("cvec")))).as("cents"))
        val sc = 1099511627776.0 // 2^40
        def dsum(v: org.apache.spark.sql.Column) =
          sum(floor(v * lit(sc)).cast("decimal(38,0)")).cast("double") /
            lit(sc)
        Tables.embeddings(s, d).crossJoin(broadcast(packed))
          .withColumn("ds", array_sort(transform(col("cents"), c =>
            struct(
              sqrt(Similarity.l2sq(col("embedding"), c.getField("cvec")))
                .as("dd"),
              c.getField("cent_id").as("cent_id")))))
          // a silhouette needs a SECOND-nearest cell: with fewer than 2
          // trained centroids (degenerate corpus) no row qualifies —
          // the same zero rows the oracle's rn=2 join produces
          .filter(size(col("ds")) >= 2)
          .select(
            col("ds")(0).getField("cent_id").as("cell"),
            col("ds")(0).getField("dd").as("da"),
            col("ds")(1).getField("dd").as("db"))
          .withColumn("sil",
            (col("db") - col("da")) / greatest(col("da"), col("db")))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"),
            (dsum(col("da")) / count(lit(1)).cast("double")).as("mean_a"),
            (dsum(col("db")) / count(lit(1)).cast("double")).as("mean_b"),
            (dsum(col("sil")) / count(lit(1)).cast("double"))
              .as("mean_silhouette"))
          .orderBy("cell")
      },
      s"""WITH ${duckKmeansCtes(8, 2)},
         |ds AS (SELECT ev.vec_id, c.cent_id,
         |         sqrt(${duckL2("ev.v", "c.cvec")}) AS dd
         |       FROM ev CROSS JOIN c2 c),
         |r AS (SELECT vec_id, cent_id, dd,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY dd, cent_id) AS rn
         |      FROM ds),
         |ab AS (SELECT a.cent_id AS cell, a.dd AS da, b.dd AS db,
         |              (b.dd - a.dd) / greatest(a.dd, b.dd) AS sil
         |       FROM r a JOIN r b ON a.vec_id = b.vec_id
         |       WHERE a.rn = 1 AND b.rn = 2)
         |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(floor(da * 1099511627776.0) AS DECIMAL(38,0)))
         |    AS DOUBLE) / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE)
         |    AS mean_a,
         |  CAST(SUM(CAST(floor(db * 1099511627776.0) AS DECIMAL(38,0)))
         |    AS DOUBLE) / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE)
         |    AS mean_b,
         |  CAST(SUM(CAST(floor(sil * 1099511627776.0) AS DECIMAL(38,0)))
         |    AS DOUBLE) / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE)
         |    AS mean_silhouette
         |FROM ab GROUP BY cell ORDER BY cell""".stripMargin),

    // Corpus organization: the trained 8-cell quantizer as a CLUSTERING
    // (not a search index) — per cell: member count, label diversity, and
    // majority-label purity. This is the "cluster the corpus, inspect
    // what each cluster holds" pass of a curation pipeline (domain
    // balancing, contamination triage). All statistics are counts and
    // one exact division, so the profile hashes bit-identically; the
    // oracle replays the identical training rounds CTE by CTE. Scale:
    // training is the broadcast-fold loop (zero corpus shuffle); the
    // profile itself is two keyed aggregations over (cell, label).
    "embedding_kmeans_clusters" -> QuerySpec(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val labeled = Similarity.ivfAssign(emb, trainedCents8x2(s, d))
          .select(col("vec_id"), col("cell"))
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cell").orderBy(desc("ln"), asc("label"))
        val top = labeled.groupBy("cell", "label")
          .agg(count(lit(1)).as("ln"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cell"), col("label").as("top_label"),
            col("ln").as("top_n"))
        labeled.groupBy("cell")
          .agg(count(lit(1)).as("n"), countDistinct("label").as("n_labels"))
          .join(top, "cell")
          .select(col("cell"), col("n"), col("n_labels"), col("top_label"),
            col("top_n"),
            (col("top_n").cast("double") / col("n").cast("double"))
              .as("purity"))
          .orderBy("cell")
      },
      s"""WITH ${duckKmeansCtes(8, 2)},
         |assigned AS (SELECT vec_id, cell FROM (
         |  SELECT ev.vec_id, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |lab AS (SELECT a.cell, e.label
         |        FROM assigned a JOIN embeddings e USING (vec_id)),
         |pl AS (SELECT cell, label, COUNT(*) AS ln FROM lab GROUP BY 1, 2),
         |top AS (SELECT cell, label AS top_label, ln AS top_n FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell
         |    ORDER BY ln DESC, label) AS rn FROM pl) WHERE rn = 1),
         |sz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
         |       FROM lab GROUP BY 1)
         |SELECT sz.cell, sz.n, sz.n_labels, top.top_label,
         |       CAST(top.top_n AS BIGINT) AS top_n,
         |       CAST(top.top_n AS DOUBLE) / CAST(sz.n AS DOUBLE) AS purity
         |FROM sz JOIN top USING (cell) ORDER BY cell""".stripMargin),

    // IVF with nprobe=2: same trained quantizer, but the search probes
    // the query's TWO nearest cells — the recall dial (measured mean
    // top-10 recall 0.25 -> 0.475 on this corpus) at 2/8 of the corpus
    // per query instead of 1/8. Probe selection is a k-row centroid sort;
    // the oracle replays training identically and ranks c2 by L2.
    "similarity_ivf_nprobe_topk" -> QuerySpec(
      (s, d) => Similarity.ivfKmeansProbeTopKWith(Tables.embeddings(s, d),
        trainedCents8x2(s, d), 0L, 10, nprobe = 2),
      s"""WITH ${duckKmeansCtes(8, 2)},
         |qv AS (SELECT v FROM ev WHERE vec_id = 0),
         |probes AS (SELECT cent_id AS cell FROM (
         |  SELECT c.cent_id, ${duckL2("q.v", "c.cvec")} AS d
         |  FROM c2 c CROSS JOIN qv q)
         |  ORDER BY d, cent_id LIMIT 2),
         |assigned AS (SELECT vec_id, v, cell FROM (
         |  SELECT ev.vec_id, ev.v, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1)
         |SELECT a.vec_id, a.cell, ${duckCos("a.v", "q.v")} AS cos
         |FROM assigned a JOIN probes USING (cell) CROSS JOIN qv q
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // Embedding-cosine near-dup pairs over the FULL corpus, blocked by
    // TWO OR-composed sign-LSH tables (independent 4-plane sets, 16
    // buckets each): candidates come from one equi-join on the composite
    // (table, bucket) key, a pair is missed only if BOTH tables split it,
    // and distinct folds doubly-caught pairs — no all-pairs join, no
    // id-stripe sampling. The oracle mirrors both deterministic plane
    // sets and dedups with UNION. Measured at sf0.01 (threshold 0.3,
    // 990 true pairs): 1 table finds 136 (recall 0.137), 2 tables 251
    // (recall 0.254) — both within noise of the sign-LSH prediction
    // 1-(1-p^planes)^tables with p = 1 - acos(0.3)/pi ~ 0.60, so recall
    // is a DIAL (add tables) at linear candidate cost. See PERF.md r6.
    "dedup_embedding_cosine" -> QuerySpec(
      (s, d) => Similarity.cosineNearDupPairsLsh(Tables.embeddings(s, d),
          planes = 4, threshold = 0.3, tables = 2)
        .orderBy("id_a", "id_b"),
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${duckBucket("embedding", 4)} AS b0,
         |             ${duckBucket("embedding", 4, table = 1)} AS b1
         |           FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCos("a.embedding", "b.embedding")} AS cos
         |  FROM e a JOIN e b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.3
         |  UNION
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCos("a.embedding", "b.embedding")} AS cos
         |  FROM e a JOIN e b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.3)
         |SELECT id_a, id_b, cos FROM p ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup (Abbas et al. 2023): semantic dedup = cluster the corpus
    // with the trained coarse quantizer, then drop near-duplicates ONLY
    // within each cluster — the cluster assignment replaces the global
    // pair problem with k independent local ones. This rides the SAME
    // shared 8-cell codebook as every IVF consumer (assignment is the
    // shuffle-free broadcast fold), and within a cell candidates are
    // blocked by a 4-plane sign-LSH bucket, so the pair join's key is the
    // composite (cell, bucket) — never all-pairs, even inside a cell. Of
    // each pair with cosine ≥ 0.3 the HIGHER vec_id is dropped (pure
    // order rule — no float leaves the pair stage); the declared result
    // is the per-cell keep/drop ledger, integer-only. At 100 TB the
    // corpus is persisted partitioned by cell, so each cell's prune is an
    // independent partition-local job — the reason SemDeDup scales where
    // global near-dup graphs do not.
    "similarity_semdedup_prune" -> QuerySpec(
      (s, d) => {
        val assigned = Similarity
          .ivfAssign(Tables.embeddings(s, d), trainedCents8x2(s, d))
          .select(col("vec_id"), col("cell"), col("embedding"),
            Similarity.norm(col("embedding")).as("nrm"),
            Similarity.hyperplaneBucket(col("embedding"), 4).as("bkt"))
        val dropped = assigned.as("a").join(assigned.as("b"),
            col("a.cell") === col("b.cell") && col("a.bkt") === col("b.bkt") &&
              col("a.vec_id") < col("b.vec_id"))
          .filter((Similarity.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))) >= 0.3)
          .select(col("a.cell").as("cell"), col("b.vec_id").as("vec_id"))
          .distinct()
          .groupBy("cell").agg(count(lit(1)).as("n_dropped"))
        assigned.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
          .join(dropped, Seq("cell"), "left")
          .na.fill(0L, Seq("n_dropped"))
          .select(col("cell"), col("n_vectors"), col("n_dropped"),
            (col("n_vectors") - col("n_dropped")).as("n_kept"))
          .orderBy("cell")
      },
      s"""WITH ${duckKmeansCtes(8, 2)},
         |assigned AS (SELECT vec_id, v, cell FROM (
         |  SELECT ev.vec_id, ev.v, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |e AS (SELECT vec_id, cell, v, ${duckBucket("v", 4)} AS bkt
         |      FROM assigned),
         |drp AS (SELECT a.cell AS cell, COUNT(DISTINCT b.vec_id) AS n_dropped
         |        FROM e a JOIN e b ON a.cell = b.cell AND a.bkt = b.bkt
         |          AND a.vec_id < b.vec_id
         |        WHERE ${duckCos("a.v", "b.v")} >= 0.3
         |        GROUP BY a.cell),
         |sz AS (SELECT cell, COUNT(*) AS n_vectors FROM assigned
         |       GROUP BY cell)
         |SELECT sz.cell, CAST(sz.n_vectors AS BIGINT) AS n_vectors,
         |       CAST(COALESCE(drp.n_dropped, 0) AS BIGINT) AS n_dropped,
         |       CAST(sz.n_vectors - COALESCE(drp.n_dropped, 0) AS BIGINT)
         |         AS n_kept
         |FROM sz LEFT JOIN drp USING (cell) ORDER BY cell""".stripMargin),

    // Batch kNN join: 10 query vectors resolved against the corpus in ONE
    // bucket-blocked join + per-query window — the retrieval shape that
    // replaces N single-query scans.
    // Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    // SIGIR'98): from each query's brute-force top-10 pool, greedily pick
    // 5 results maximizing 0.7*relevance - 0.3*max-similarity-to-already-
    // selected — the diversification pass a retrieval pipeline runs so
    // near-duplicate hits don't crowd the result page. The greedy loop is
    // inherently sequential PER QUERY but embarrassingly parallel ACROSS
    // queries, so each query's pool packs into ONE row (10 candidates,
    // rank-ordered), the 10x10 cosine matrix is precomputed once per row,
    // and the 5 picks are 5 unrolled pure-Column steps over positions —
    // no driver loop, no UDF, no extra shuffle after the pool build.
    // Cross-engine: every float op (fold dot, 0.7/0.3 combine, negate)
    // is written in the same order on both sides, ties break by pool
    // position, and the OUTPUT is integer-only (query, rank, picked id).
    "similarity_mmr_rerank" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("q"))
        val w = Window.partitionBy("query_id")
          .orderBy(desc("rel"), asc("vec_id"))
        val cands = emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"), col("embedding"),
            Similarity.cosine(col("embedding"), col("q")).as("rel"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
        val packed = cands.groupBy("query_id")
          .agg(collect_list(struct(col("rn"), col("vec_id"), col("rel"),
            col("embedding"))).as("cl"))
          // rn is unique 1..10, so the struct sort pins candidate order
          .withColumn("cands", array_sort(col("cl"))).drop("cl")
          .withColumn("simmat", transform(col("cands"), c =>
            transform(col("cands"), x =>
              Similarity.cosine(c("embedding"), x("embedding")))))
        // The greedy loop is ONE aggregate fold over 5 step indices: the
        // accumulator (selected positions) is a runtime lambda variable,
        // so the plan stays linear in step count — an unrolled
        // withColumn chain would re-inline the simmat expression at
        // every `sel` reference and blow up exponentially.
        def step(sel: org.apache.spark.sql.Column) = {
          val scored = filter(
            transform(sequence(lit(1), size(col("cands"))), p => {
              val rel = element_at(col("cands"), p)("rel")
              val maxsim = coalesce(array_max(transform(sel, q2 =>
                element_at(element_at(col("simmat"), p), q2))), lit(0.0))
              struct((lit(-1.0) * (lit(0.7) * rel - lit(0.3) * maxsim))
                .as("neg"), p.as("pos"))
            }),
            st => !array_contains(sel, st("pos")))
          concat(sel, array(element_at(array_sort(scored), 1)("pos")))
        }
        val df = packed.withColumn("sel",
          aggregate(sequence(lit(1), lit(5)),
            array().cast("array<int>"), (sel, _) => step(sel)))
        df.select(col("query_id"), col("cands"),
            posexplode(col("sel")).as(Seq("r", "pos")))
          .select(col("query_id"), (col("r") + 1).cast("long").as("rank"),
            element_at(col("cands"), col("pos"))("vec_id").as("selected_id"))
          .orderBy("query_id", "rank")
      },
      {
        val argmax =
          """list_sort(list_filter(list_transform(range(1, len(cands) + 1),
            |  p -> {'neg': -1.0 * (0.7 * cands[p].rel - 0.3 * COALESCE(
            |          list_max(list_transform(sel, q2 -> simmat[p][q2])), 0.0)),
            |        'pos': p}),
            |  st -> NOT list_contains(sel, st.pos)))[1].pos""".stripMargin
        // MATERIALIZED: without it DuckDB inlines each step's CTE at every
        // `sel` reference and the simmat expression duplicates 3^5 times
        def stepCte(i: Int) =
          s"""s$i AS MATERIALIZED (SELECT query_id, cands, simmat,
             |  list_append(sel, $argmax) AS sel FROM s${i - 1})""".stripMargin
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < 3),
           |rel AS (SELECT q.query_id, e.vec_id, e.embedding,
           |               ${duckCos("e.embedding", "q.qv")} AS rel
           |        FROM embeddings e, q WHERE e.vec_id <> q.query_id),
           |top AS (SELECT * FROM (
           |          SELECT query_id, vec_id, embedding, rel,
           |                 row_number() OVER (PARTITION BY query_id
           |                   ORDER BY rel DESC, vec_id) AS rn
           |          FROM rel) WHERE rn <= 10),
           |packed AS (SELECT query_id,
           |             list({'vec_id': vec_id, 'rel': rel,
           |                   'embedding': embedding} ORDER BY rn) AS cands
           |           FROM top GROUP BY query_id),
           |sm AS MATERIALIZED (SELECT query_id, cands,
           |         list_transform(cands, c -> list_transform(cands,
           |           x -> ${duckCos("c.embedding", "x.embedding")})) AS simmat
           |       FROM packed),
           |s0 AS (SELECT query_id, cands, simmat,
           |              []::BIGINT[] AS sel FROM sm),
           |${(1 to 5).map(stepCte).mkString(",\n")},
           |x AS (SELECT query_id, unnest(list_transform(range(1, len(sel) + 1),
           |        r -> {'rank': r, 'id': cands[sel[r]].vec_id})) AS u
           |      FROM s5)
           |SELECT query_id, CAST(u.rank AS BIGINT) AS rank,
           |       u.id AS selected_id
           |FROM x ORDER BY query_id, rank""".stripMargin
      }),

    "similarity_knn_join" -> QuerySpec(
      (s, d) => Similarity.knnJoinLsh(Tables.embeddings(s, d),
        col("vec_id") < 10, k = 3, planes = 4),
      s"""WITH b AS (SELECT vec_id, embedding,
         |             ${duckBucket("embedding", 4)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket
         |      FROM b WHERE vec_id < 10),
         |cand AS (
         |  SELECT q.q_id, b.vec_id, ${duckCos("b.embedding", "q.qv")} AS cos
         |  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, vec_id) AS rn FROM cand)
         |SELECT q_id, vec_id, cos FROM r WHERE rn <= 3
         |ORDER BY q_id, vec_id""".stripMargin),

    // Mutual k-NN pairs — the symmetry audit of the ANN neighbor lists:
    // a pair survives only if each side ranks the other in its own
    // bucket-restricted top-3 (hub vectors that "everyone points at but
    // who point elsewhere" are exactly what this prunes before a
    // SemDeDup-style dedup trusts neighbor lists). Same LSH candidate
    // generation as similarity_knn_join; the mutuality check is one
    // equi-join of the ranked list against its own reverse, and each
    // surviving pair is emitted once in canonical (a < b) order.
    //
    // The plane count is DATA-SIZED on both engines (the r14 scaling
    // audit's alpha_top=1.69 flag was exactly this dial left fixed at 4:
    // in-bucket candidate volume grows n²/2^planes once 16 buckets
    // saturate). planes = clamp(4..16, ceil(log2(n/128))) via exact
    // binary length — Similarity.adaptivePlanes on the Spark side, the
    // identical integer formula over COUNT(*) in the plcnt CTE — so the
    // candidate volume stays ~128·n at any corpus size. The count scan
    // that feeds the dial is parquet-metadata cheap; a 100 TB deployment
    // reads it from table stats instead.
    "similarity_mutual_knn" -> QuerySpec(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.mutualKnnLsh(emb, k = 3,
          planes = Similarity.adaptivePlanes(emb.count()))
      },
      s"""WITH plcnt AS (SELECT ${duckAdaptivePlanes("embeddings")} AS pl),
         |b AS (SELECT vec_id, embedding,
         |        ${duckBucketDyn("embedding", 16, "(SELECT pl FROM plcnt)")}
         |          AS bucket
         |      FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id AS a_id, c.vec_id AS b_id,
         |         ${duckCos("a.embedding", "c.embedding")} AS cos
         |  FROM b a JOIN b c USING (bucket) WHERE a.vec_id <> c.vec_id),
         |r AS (SELECT a_id, b_id, cos,
         |             row_number() OVER (PARTITION BY a_id
         |               ORDER BY cos DESC, b_id) AS rn
         |      FROM cand),
         |k AS (SELECT a_id, b_id, cos FROM r WHERE rn <= 3)
         |SELECT x.a_id, x.b_id, x.cos
         |FROM k x JOIN k y ON x.a_id = y.b_id AND x.b_id = y.a_id
         |WHERE x.a_id < x.b_id ORDER BY x.a_id, x.b_id""".stripMargin),

    // PQ + Asymmetric Distance Computation — the memory-bound ANN stage
    // after IVF: vectors live as m=8 centroid CODES, the query scores
    // candidates from a broadcast distance table without touching raw
    // vectors. Codebook = stored vectors 1..4 (deterministic stand-in for
    // a trained one); ADC sums are j-ordered folds so double accumulation
    // is pinned in both engines.
    "similarity_pq_adc_topk" -> QuerySpec(
      (s, d) => Similarity.pqAdcTopK(Tables.embeddings(s, d), 0L, 10,
        centroidIds = (1L to 4L)),
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
        |  WHERE vec_id BETWEEN 1 AND 4),
        |dists AS (
        |  SELECT e.vec_id, c.cent_id, js.j,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
        |      i -> (CAST(e.embedding[js.j*8 + i] AS DOUBLE)
        |              - CAST(c.cvec[js.j*8 + i] AS DOUBLE))
        |         * (CAST(e.embedding[js.j*8 + i] AS DOUBLE)
        |              - CAST(c.cvec[js.j*8 + i] AS DOUBLE)))),
        |      (a, b) -> a + b) AS d
        |  FROM embeddings e
        |  CROSS JOIN cents c
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
        |codes AS (
        |  SELECT vec_id, j, cent_id AS code FROM (
        |    SELECT vec_id, j, cent_id,
        |           row_number() OVER (PARTITION BY vec_id, j
        |             ORDER BY d, cent_id) AS rn
        |    FROM dists) WHERE rn = 1),
        |qt AS (SELECT j, cent_id, d AS qd FROM dists WHERE vec_id = 0),
        |sel AS (
        |  SELECT codes.vec_id, codes.j, qt.qd
        |  FROM codes JOIN qt ON codes.j = qt.j AND codes.code = qt.cent_id
        |  WHERE codes.vec_id <> 0 AND codes.vec_id NOT BETWEEN 1 AND 4),
        |adc AS (
        |  SELECT vec_id,
        |         list_reduce(list_prepend(0.0, list(qd ORDER BY j)),
        |           (a, b) -> a + b) AS adc_dist
        |  FROM sel GROUP BY vec_id)
        |SELECT vec_id, adc_dist FROM adc
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin),

    // The full two-stage ANN pipeline (FAISS-style IVF-PQ): trained
    // 8-cell coarse quantizer -> probe the query's 2 nearest cells ->
    // PQ-encode only those candidates -> rank by ADC table lookups.
    // Composes the three oracle-checked stages (k-means training CTEs,
    // probe ranking, PQ distance table) into one query; the candidates
    // never ship raw vectors into the scoring stage.
    "similarity_ivf_pq_topk" -> QuerySpec(
      (s, d) => Similarity.ivfPqTopKWith(Tables.embeddings(s, d),
        trainedCents8x2(s, d), 0L, 10, nprobe = 2,
        pqCentroidIds = (1L to 4L)),
      s"""WITH ${duckKmeansCtes(8, 2)},
         |qv AS (SELECT v FROM ev WHERE vec_id = 0),
         |probes AS (SELECT cent_id AS cell FROM (
         |  SELECT c.cent_id, ${duckL2("q.v", "c.cvec")} AS d
         |  FROM c2 c CROSS JOIN qv q)
         |  ORDER BY d, cent_id LIMIT 2),
         |assigned AS (SELECT vec_id, cell FROM (
         |  SELECT ev.vec_id, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY ev.vec_id
         |           ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |  FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |cand AS (SELECT vec_id FROM assigned JOIN probes USING (cell)),
         |pqc AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 4),
         |dists AS (
         |  SELECT e.vec_id, c.cent_id, js.j,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
         |      i -> (CAST(e.embedding[js.j*8 + i] AS DOUBLE)
         |              - CAST(c.cvec[js.j*8 + i] AS DOUBLE))
         |         * (CAST(e.embedding[js.j*8 + i] AS DOUBLE)
         |              - CAST(c.cvec[js.j*8 + i] AS DOUBLE)))),
         |      (a, b) -> a + b) AS d
         |  FROM embeddings e
         |  CROSS JOIN pqc c
         |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
         |codes AS (
         |  SELECT vec_id, j, cent_id AS code FROM (
         |    SELECT d.vec_id, d.j, d.cent_id,
         |           row_number() OVER (PARTITION BY d.vec_id, d.j
         |             ORDER BY d.d, d.cent_id) AS rn
         |    FROM dists d JOIN cand USING (vec_id)) WHERE rn = 1),
         |qt AS (SELECT j, cent_id, d AS qd FROM dists WHERE vec_id = 0),
         |sel AS (
         |  SELECT codes.vec_id, codes.j, qt.qd
         |  FROM codes JOIN qt ON codes.j = qt.j AND codes.code = qt.cent_id
         |  WHERE codes.vec_id <> 0 AND codes.vec_id NOT BETWEEN 1 AND 4),
         |adc AS (
         |  SELECT vec_id,
         |         list_reduce(list_prepend(0.0, list(qd ORDER BY j)),
         |           (a, b) -> a + b) AS adc_dist
         |  FROM sel GROUP BY vec_id)
         |SELECT vec_id, adc_dist FROM adc
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin),

    // Per-label centroid vectors — the k-means/IVF training primitive
    // (assign→average). One posexplode + hash aggregation on (label, dim):
    // partial aggregation map-side, scales to any corpus. Exact cross-row
    // parity: each float component scaled by 2^48 is an exact BIGINT
    // (holds for |v| >= 2^-25; corpus min |v| ~ 1.3e-6 = 2^-19.5), then
    // summed order-free as DECIMAL(38,0) — Spark's sum(long) silently
    // WRAPS on overflow with ANSI off, while DuckDB promotes SUM(BIGINT)
    // to HUGEINT, so a (label,dim) group past ~32k rows with |v|≈1 would
    // silently diverge; decimal sums are exact and non-wrapping in both
    // engines at any group size (overflow past 38 digits raises, never
    // corrupts). The decimal→double conversion is round-to-nearest in
    // both engines, and the divide-back sequence is identical IEEE ops.
    "embedding_centroid_per_label" -> QuerySpec(
      (s, d) => {
        val scale = 281474976710656L // 2^48
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
          .groupBy("label", "i")
          .agg(((sum((col("v").cast("double") * lit(scale.toDouble))
              .cast("long").cast("decimal(38,0)")).cast("double") /
            lit(scale.toDouble)) /
            count(lit(1))).as("centroid"))
          .orderBy("label", "i")
      },
      """SELECT label, i - 1 AS i,
        |       (CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * 281474976710656.0
        |          AS BIGINT)) AS DOUBLE) / 281474976710656.0) / COUNT(*) AS centroid
        |FROM embeddings CROSS JOIN range(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, i""".stripMargin),

    // Symmetric per-vector int8 quantization — the 4× storage/bandwidth
    // compression an ANN index applies before sharding (q_i = round(v_i ·
    // 127/max|v|), reconstruct as q_i·max|v|/127). Pure per-row
    // expressions, zero shuffle at any corpus size. Exact parity: float→
    // double casts, one division 127/max, one multiply, then floor(x+0.5)
    // — every step an identical IEEE op in both engines (round() is NOT
    // portable: Spark rounds the decimal string HALF_UP, DuckDB rounds the
    // binary; floor is bit-exact). Quantized codes render as a CSV string
    // (checker can't hash arrays); q_sum is an integer checksum.
    "embedding_quantize_int8" -> QuerySpec(
      (s, d) => {
        val vd = transform(col("embedding"), x => x.cast("double"))
        Tables.embeddings(s, d)
          .select(col("vec_id"), vd.as("v"))
          .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
          .filter(col("maxabs") > 0)
          .withColumn("q", transform(col("v"),
            x => floor(x * (lit(127.0) / col("maxabs")) + lit(0.5))))
          .select(col("vec_id"), col("maxabs"),
            array_join(transform(col("q"), _.cast("string")), ",").as("q_str"),
            aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"))
          .orderBy("vec_id")
      },
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS maxabs
        |  FROM e),
        |q AS (
        |  SELECT vec_id, maxabs,
        |         list_transform(v, x ->
        |           CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT)) AS qv
        |  FROM m WHERE maxabs > 0)
        |SELECT vec_id, maxabs,
        |       array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')
        |         AS q_str,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
        |            (a, b) -> a + b) AS BIGINT) AS q_sum
        |FROM q ORDER BY vec_id""".stripMargin),

    // ANN retrieval-quality audit: recall@10, MRR and nDCG@10 of the
    // sign-LSH index (8 shared-literal hyperplanes — the
    // similarity_lsh_topk path) against the brute-force cosine ground
    // truth, per query point — the evaluation a platform runs BEFORE
    // trusting an index, answering "how much recall does the 256×
    // bucket pruning cost on THIS corpus". Determinism: the log2
    // position discounts are embedded as shared 15-digit LITERALS (the
    // Benford pattern — no transcendental evaluates on either engine);
    // per-query DCG sums the discount subset through the exact
    // floor(term·2⁴⁰) decimal lift so accumulation order cannot split
    // an ulp; MRR/recall are single exact-integer divisions. Plan
    // shape: the 20 query vectors broadcast against the corpus for
    // ground truth (a per-query TakeOrdered, never an all-pairs
    // shuffle); the LSH arm joins on bucket equality (the pruned scan,
    // ~n/256 candidates per query); both rank with windows PARTITIONED
    // by query id — fully parallel in the query dimension, which is
    // how a production recall sweep (1000s of held-out queries) runs.
    "similarity_lsh_recall_audit" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val disc = array(Seq(1.000000000000000, 0.630929753571458,
          0.500000000000000, 0.430676558073393, 0.386852807234542,
          0.356207187108022, 0.333333333333333, 0.315464876785729,
          0.301029995663981, 0.289064826317888).map(lit): _*)
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          col("embedding"),
          Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("bucket").as("qbucket"))
        val wq = (c: String) => Window.partitionBy("q_id")
          .orderBy(desc(c), asc("vec_id"))
        val gt = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("gcos"))
          .withColumn("grn", row_number().over(wq("gcos")))
          .filter(col("grn") <= 10)
          .select(col("q_id"), col("vec_id"), lit(1L).as("is_gt"))
        val lsh = emb.join(broadcast(q),
            col("bucket") === col("qbucket") &&
              col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cos"))
          .withColumn("pos", row_number().over(wq("cos")))
          .filter(col("pos") <= 10)
        val perQ = lsh.join(gt, Seq("q_id", "vec_id"), "left")
          .withColumn("rel", coalesce(col("is_gt"), lit(0L)))
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_ranked"),
            sum("rel").as("n_hits10"),
            sum(when(col("rel") === 1,
                floor(element_at(disc, col("pos").cast("int")) *
                  lit(1099511627776.0)))
              .otherwise(lit(0L)).cast("decimal(38,0)")).as("dcg_q"),
            min(when(col("rel") === 1, col("pos"))).as("minrank"))
        // A query whose LSH bucket holds no other vector must still be
        // audited — as recall 0, not as a silently missing row.
        q.select(col("q_id")).join(perQ, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
            coalesce(col("n_hits10"), lit(0L)).as("n_hits10"),
            (coalesce(col("n_hits10"), lit(0L)).cast("double") /
              lit(10.0)).as("recall10"),
            coalesce(lit(1.0) / col("minrank").cast("double"), lit(0.0))
              .as("mrr"),
            coalesce((col("dcg_q").cast("double") /
                lit(1099511627776.0)) / lit(4.543559338088346),
              lit(0.0)).as("ndcg10"))
          .orderBy("q_id")
      },
      {
        val discList = Seq("1.000000000000000", "0.630929753571458",
          "0.500000000000000", "0.430676558073393", "0.386852807234542",
          "0.356207187108022", "0.333333333333333", "0.315464876785729",
          "0.301029995663981", "0.289064826317888")
          .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
        s"""WITH b AS (SELECT vec_id, embedding,
           |             ${duckBucket("embedding", 8)} AS bucket
           |           FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS qv,
           |             bucket AS qbucket
           |      FROM b WHERE vec_id < 20),
           |gt AS (SELECT q_id, vec_id, CAST(1 AS BIGINT) AS is_gt FROM (
           |         SELECT q.q_id, b.vec_id,
           |                row_number() OVER (PARTITION BY q.q_id
           |                  ORDER BY ${duckCos("b.embedding", "qv")} DESC,
           |                           b.vec_id) AS grn
           |         FROM b CROSS JOIN q WHERE b.vec_id <> q.q_id)
           |       WHERE grn <= 10),
           |lsh AS (SELECT q_id, vec_id, pos FROM (
           |          SELECT q.q_id, b.vec_id,
           |                 row_number() OVER (PARTITION BY q.q_id
           |                   ORDER BY ${duckCos("b.embedding", "qv")} DESC,
           |                            b.vec_id) AS pos
           |          FROM b JOIN q ON b.bucket = q.qbucket
           |                       AND b.vec_id <> q.q_id)
           |        WHERE pos <= 10),
           |j AS (SELECT l.q_id, l.pos,
           |        COALESCE(g.is_gt, 0) AS rel
           |      FROM lsh l LEFT JOIN gt g USING (q_id, vec_id)),
           |a AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_ranked,
           |        CAST(SUM(rel) AS BIGINT) AS n_hits10,
           |        MIN(CASE WHEN rel = 1 THEN pos END) AS minrank,
           |        CAST(SUM(CAST(CASE WHEN rel = 1
           |            THEN floor(($discList)[pos] * 1099511627776.0)
           |            ELSE 0 END AS DECIMAL(38,0))) AS DECIMAL(38,0))
           |          AS dcg_q
           |      FROM j GROUP BY q_id)
           |SELECT q.q_id,
           |       COALESCE(a.n_ranked, 0) AS n_ranked,
           |       COALESCE(a.n_hits10, 0) AS n_hits10,
           |       CAST(COALESCE(a.n_hits10, 0) AS DOUBLE) / 10.0
           |         AS recall10,
           |       COALESCE(1.0 / CAST(a.minrank AS DOUBLE), 0.0) AS mrr,
           |       COALESCE((CAST(a.dcg_q AS DOUBLE) / 1099511627776.0)
           |         / 4.543559338088346, 0.0) AS ndcg10
           |FROM q LEFT JOIN a USING (q_id) ORDER BY q.q_id""".stripMargin
      }),

    // Matryoshka (MRL-style) truncation audit: how faithfully do PREFIX
    // slices of the embedding (dims 8/16/32 of 64) preserve full-dim
    // cosine? The retrieval-cost lever behind nested-representation
    // embeddings — serve the short prefix, rerank with the tail — is only
    // safe if this fidelity census stays tight, so it belongs next to the
    // JL distortion audit (same engine-boundary discipline: per-pair
    // doubles in pinned fold order, error MEAN as a 2^40-scaled integer
    // sum so accumulation is order-free and exact). Pair sample reuses
    // the JL offset-join shape: equi-join on vec_id + {1,7,49} — shuffle
    // on ids, never all-pairs; per-prefix stats are a keyed agg with
    // map-side combine over 3 groups. At 100 TB: one corpus scan, one
    // id-keyed shuffle of narrow (64-float, 64-float) pairs, 3-row output.
    "embedding_matryoshka_audit" -> QuerySpec(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val a = e.select(col("vec_id"), col("embedding").as("xa"),
            explode(array(lit(1L), lit(7L), lit(49L))).as("off"))
          .select((col("vec_id") + col("off")).as("nid"), col("xa"))
        val b = e.select(col("vec_id").as("nid"), col("embedding").as("xb"))
        val m = col("m")
        val pcos = Similarity.cosine(
          slice(col("xa"), lit(1), m), slice(col("xb"), lit(1), m))
        val fcos = Similarity.cosine(col("xa"), col("xb"))
        val sc = 1099511627776L // 2^40: exact error-sum scale
        a.join(b, "nid")
          .select(col("xa"), col("xb"),
            explode(array(lit(8L), lit(16L), lit(32L))).as("m"))
          .select(m.as("trunc_dim"),
            abs(pcos - fcos).as("err"),
            ((pcos >= 0) === (fcos >= 0)).as("agree"))
          .groupBy("trunc_dim")
          .agg(count(lit(1)).as("n_pairs"),
            ((sum(floor(col("err") * lit(sc.toDouble))
                .cast("decimal(38,0)")).cast("double") / lit(sc.toDouble))
              / count(lit(1)).cast("double")).as("mae"),
            max(col("err")).as("max_abs_err"),
            count(when(col("agree"), lit(1))).as("n_sign_agree"))
          .orderBy("trunc_dim")
      },
      {
        def pdot(x: String, y: String, n: String) =
          s"""list_reduce(list_prepend(0.0, list_transform(range(1, $n + 1),
             |  i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
             |  (x, y) -> x + y)""".stripMargin
        def pcosSql(n: String) =
          s"(${pdot("xa", "xb", n)}) / (sqrt(${pdot("xa", "xa", n)}) * " +
            s"sqrt(${pdot("xb", "xb", n)}))"
        s"""WITH pr AS MATERIALIZED (
           |  SELECT a.xa, b.embedding AS xb
           |  FROM (SELECT vec_id + unnest([1, 7, 49]) AS nid,
           |          embedding AS xa FROM embeddings) a
           |  JOIN embeddings b ON a.nid = b.vec_id),
           |x AS (
           |  SELECT CAST(m.m AS BIGINT) AS trunc_dim,
           |         abs((${pcosSql("m.m")}) - (${pcosSql("64")})) AS err,
           |         ((${pcosSql("m.m")}) >= 0) = ((${pcosSql("64")}) >= 0)
           |           AS agree
           |  FROM pr CROSS JOIN (SELECT unnest([8, 16, 32]) AS m) m)
           |SELECT trunc_dim, COUNT(*) AS n_pairs,
           |       (CAST(SUM(CAST(floor(err * 1099511627776.0)
           |          AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)
           |         / CAST(COUNT(*) AS DOUBLE) AS mae,
           |       MAX(err) AS max_abs_err,
           |       COUNT(CASE WHEN agree THEN 1 END) AS n_sign_agree
           |FROM x GROUP BY trunc_dim ORDER BY trunc_dim""".stripMargin
      }),

    // Hard-negative mining for contrastive training: per anchor, the
    // highest-cosine SAME-label neighbor (hardest positive) and
    // highest-cosine OTHER-label neighbor (hardest negative) inside the
    // anchor's LSH bucket, plus the pos−neg margin the loss would see.
    // Candidates come from the hyperplane bucket (the knn-join blocking
    // shape — never all-pairs); the per-anchor argmax is an explicit
    // row_number over (cos DESC, vec_id) so tie-breaks are total-ordered
    // on both engines, then the ≤2 rows per anchor pivot to one. At
    // 100 TB: anchors are a broadcast seed set, the corpus scans once,
    // and the only shuffle is the bucket-keyed candidate join.
    "similarity_hard_negative_mining" -> QuerySpec(
      (s, d) => {
        val base = Tables.embeddings(s, d).select(col("vec_id"),
          col("label"), col("embedding"),
          Similarity.hyperplaneBucket(col("embedding"), 4).as("bucket"))
        val q = base.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("qv"), col("bucket"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id", "same_label")
          .orderBy(desc("cos"), asc("vec_id"))
        base.join(q, Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"),
            when(col("label") === col("q_label"), lit(1L)).otherwise(lit(0L))
              .as("same_label"),
            col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("q_id")
          .agg(
            max(when(col("same_label") === 1, col("vec_id"))).as("pos_id"),
            max(when(col("same_label") === 1, col("cos"))).as("pos_cos"),
            max(when(col("same_label") === 0, col("vec_id"))).as("neg_id"),
            max(when(col("same_label") === 0, col("cos"))).as("neg_cos"))
          .select(col("q_id"), col("pos_id"), col("pos_cos"),
            col("neg_id"), col("neg_cos"),
            (col("pos_cos") - col("neg_cos")).as("margin"))
          .orderBy("q_id")
      },
      s"""WITH b AS MATERIALIZED (
         |  SELECT vec_id, label, embedding,
         |         ${duckBucket("embedding", 4)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv,
         |        bucket FROM b WHERE vec_id < 20),
         |cand AS (
         |  SELECT q.q_id,
         |         CASE WHEN b.label = q.q_label THEN 1 ELSE 0 END
         |           AS same_label,
         |         b.vec_id, ${duckCos("b.embedding", "q.qv")} AS cos
         |  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id, same_label
         |        ORDER BY cos DESC, vec_id) AS rn FROM cand),
         |t AS (SELECT q_id,
         |        MAX(CASE WHEN same_label = 1 THEN vec_id END) AS pos_id,
         |        MAX(CASE WHEN same_label = 1 THEN cos END) AS pos_cos,
         |        MAX(CASE WHEN same_label = 0 THEN vec_id END) AS neg_id,
         |        MAX(CASE WHEN same_label = 0 THEN cos END) AS neg_cos
         |      FROM r WHERE rn = 1 GROUP BY q_id)
         |SELECT q_id, pos_id, pos_cos, neg_id, neg_cos,
         |       pos_cos - neg_cos AS margin
         |FROM t ORDER BY q_id""".stripMargin),

    // IVF recall-vs-nprobe CURVE over the shared trained quantizer: for
    // nprobe ∈ {1,2,4,8}, mean top-10 recall of probe-restricted search
    // against the brute-force ground truth for 20 held-out queries — the
    // one table an ANN deployment actually tunes (recall bought per
    // fraction of corpus scanned). Extends the single-point nprobe=2
    // query and the LSH recall audit to the full dial. Recall is an
    // exact integer division (Σ hits / 200), so no float accumulation
    // crosses the engine boundary. Plan shape: assignment is the
    // zero-shuffle broadcast-centroid fold; probe sets are a 300-row
    // broadcast; candidates join on the cell key (never all-pairs); both
    // rankings window PARTITIONED by (nprobe, query) — parallel in the
    // query dimension, exactly how a production recall sweep over
    // thousands of held-out queries runs at 100 TB.
    "similarity_ivf_recall_curve" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cents = trainedCents8x2(s, d)
        val emb = Tables.embeddings(s, d)
        val assigned = Similarity.ivfAssign(emb, cents)
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        val wgt = Window.partitionBy("q_id")
          .orderBy(desc("gcos"), asc("vec_id"))
        val gt = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("gcos"))
          .withColumn("grn", row_number().over(wgt))
          .filter(col("grn") <= 10)
          .select(col("q_id"), col("vec_id"), lit(1L).as("is_gt"))
        val cellRank = q.crossJoin(broadcast(cents))
          .select(col("q_id"), col("qv"), col("cent_id").as("cell"),
            Similarity.l2sq(col("qv"), col("cvec")).as("dc"))
          .withColumn("crn", row_number().over(
            Window.partitionBy("q_id").orderBy(asc("dc"), asc("cell"))))
        val probes = cellRank
          .select(col("q_id"), col("qv"), col("cell"), col("crn"),
            explode(array(lit(1L), lit(2L), lit(4L), lit(8L))).as("np"))
          .filter(col("crn") <= col("np"))
          .select(col("np"), col("q_id"), col("qv"), col("cell"))
        val wnp = Window.partitionBy("np", "q_id")
          .orderBy(desc("cos"), asc("vec_id"))
        assigned.join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("np"), col("q_id"), col("vec_id"),
            Similarity.cosine(col("embedding"), col("qv")).as("cos"))
          .withColumn("rn", row_number().over(wnp))
          .filter(col("rn") <= 10)
          .join(gt, Seq("q_id", "vec_id"), "left")
          .groupBy("np")
          .agg(count(lit(1)).as("n_ranked"),
            sum(coalesce(col("is_gt"), lit(0L))).as("n_hits"))
          .select(col("np").as("nprobe"), col("n_ranked"), col("n_hits"),
            (col("n_hits").cast("double") / lit(200.0)).as("recall10"))
          .orderBy("nprobe")
      },
      s"""WITH ${duckKmeansCtes(8, 2)},
         |q AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM ev
         |  WHERE vec_id < 20),
         |gt AS MATERIALIZED (SELECT q_id, vec_id, 1 AS is_gt FROM (
         |    SELECT q.q_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY ${duckCos("e.v", "q.qv")} DESC, e.vec_id)
         |             AS grn
         |    FROM ev e CROSS JOIN q WHERE e.vec_id <> q.q_id)
         |  WHERE grn <= 10),
         |cellrank AS MATERIALIZED (
         |  SELECT q.q_id, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${duckL2("q.qv", "c.cvec")}, c.cent_id) AS crn
         |  FROM q CROSS JOIN c2 c),
         |probes AS MATERIALIZED (
         |  SELECT np.np, r.q_id, r.cell FROM cellrank r
         |  CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS np) np
         |  WHERE r.crn <= np.np),
         |assigned AS MATERIALIZED (SELECT vec_id, v, cell FROM (
         |    SELECT ev.vec_id, ev.v, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY ev.vec_id
         |             ORDER BY ${duckL2("ev.v", "c.cvec")}, c.cent_id) AS rn
         |    FROM ev CROSS JOIN c2 c) WHERE rn = 1),
         |top AS (SELECT np, q_id, vec_id FROM (
         |    SELECT p.np, p.q_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.np, p.q_id
         |             ORDER BY ${duckCos("a.v", "q.qv")} DESC, a.vec_id)
         |             AS rn
         |    FROM assigned a JOIN probes p USING (cell)
         |    JOIN q ON q.q_id = p.q_id
         |    WHERE a.vec_id <> p.q_id)
         |  WHERE rn <= 10)
         |SELECT CAST(t.np AS BIGINT) AS nprobe,
         |       COUNT(*) AS n_ranked,
         |       CAST(SUM(COALESCE(g.is_gt, 0)) AS BIGINT) AS n_hits,
         |       CAST(SUM(COALESCE(g.is_gt, 0)) AS DOUBLE) / 200.0
         |         AS recall10
         |FROM top t LEFT JOIN gt g USING (q_id, vec_id)
         |GROUP BY t.np ORDER BY nprobe""".stripMargin),

    // Binary sign quantization + Hamming-distance retrieval — the
    // 32×-compression path modern embedding stores ship (binary
    // Matryoshka / RaBitQ-style sign codes): bit i = [v_i > 0], packed
    // into two 32-bit halves so the per-pair distance is two XOR+popcount
    // instructions instead of 64 multiply-adds, then an exact cosine
    // rerank of the 50 closest-by-Hamming candidates. The packed halves
    // stay < 2^32, so every value is portable as a non-negative BIGINT in
    // both engines (a single 64-bit pack would need bit 63 and overflow
    // DuckDB's signed shift). Determinism: the pack, XOR, and popcount
    // are integer-exact; Hamming ties break on vec_id; the rerank reuses
    // the engine-exact sequential cosine fold. Scale shape: codes are 16
    // bytes/row — the Hamming scan reads 0.4% of the raw vectors' bytes
    // and stays a narrow projection + TakeOrdered(50) (never a global
    // sort); only the 50 survivors pay the full-precision cosine. At
    // 100 TB the codes table is the only full scan and it broadcasts
    // nothing but the 16-byte query code.
    "similarity_binary_hamming_topk" -> QuerySpec(
      (s, d) => {
        def pack(v: org.apache.spark.sql.Column, off: Int) =
          (0 until 32).map(i =>
            when(element_at(v, off + i + 1) > lit(0.0f), lit(1L << i))
              .otherwise(lit(0L))).reduce(_ + _)
        val codes = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            pack(col("embedding"), 0).as("lo"),
            pack(col("embedding"), 32).as("hi"))
        val q = codes.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"),
            col("lo").as("qlo"), col("hi").as("qhi"))
        val cand = codes.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"), col("qv"),
            (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
              bit_count(col("hi").bitwiseXOR(col("qhi"))))
              .cast("long").as("hamming"))
          .orderBy(asc("hamming"), asc("vec_id")).limit(50)
        cand.select(col("vec_id"), col("hamming"),
            Similarity.cosine(col("embedding"), col("qv")).as("cos"))
          .orderBy(desc("cos"), asc("vec_id")).limit(10)
      },
      {
        def duckPack(lo: Int) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range($lo, ${lo + 32}),
             |      i -> CASE WHEN embedding[i] > 0
             |           THEN (CAST(1 AS BIGINT) << (i - $lo))
             |           ELSE CAST(0 AS BIGINT) END)),
             |    (a, b) -> a + b)""".stripMargin
        s"""WITH codes AS (
           |  SELECT vec_id, embedding,
           |         ${duckPack(1)} AS lo,
           |         ${duckPack(33)} AS hi
           |  FROM embeddings),
           |q AS (SELECT embedding AS qv, lo AS qlo, hi AS qhi
           |      FROM codes WHERE vec_id = 0),
           |cand AS (
           |  SELECT c.vec_id, c.embedding, qv,
           |         CAST(bit_count(xor(c.lo, qlo)) +
           |              bit_count(xor(c.hi, qhi)) AS BIGINT) AS hamming
           |  FROM codes c, q WHERE c.vec_id <> 0
           |  ORDER BY hamming, vec_id LIMIT 50)
           |SELECT vec_id, hamming, ${duckCos("embedding", "qv")} AS cos
           |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      })
  )
}
