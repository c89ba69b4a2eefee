package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star X1).
  *
  * Cosine is computed as a sequential double fold over zipped products —
  * the same order any engine's left-fold uses, so results are bit-exact and
  * oracle-checkable (no BLAS reassociation).
  *
  * Scale paths:
  *  - [[bruteForceTopK]]: one broadcast of the query vector, one scan, one
  *    TakeOrderedAndProject — the exact baseline. O(n·d) per query.
  *  - [[hyperplaneBucket]]: sign-of-projection LSH against fixed
  *    hyperplanes; bucketing is partition-local, the search then touches
  *    only the query's bucket (candidate set ~ n / 2^planes). The 100 TB
  *    layout partitions/persists by bucket so a query reads one bucket's
  *    files only (partition pruning on the bucket column).
  *  - near-dup pairs: block (here: by label / id stripe), join within
  *    block, filter by threshold — never the unblocked O(n²).
  */
object Similarity {

  /** Exact double dot-product: multiply in double, sequential fold.
    * r15: native codegen expression (graft.expressions.VecFold) replacing
    * the interpreted aggregate(zip_with(...)) chain — identical IEEE op
    * order and null semantics, so every consumer hash is unchanged
    * (bit-parity property-tested in VecFoldSpec). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VecFold.dot_fold(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors of one stored vector (excluding itself). */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"))
    embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Deterministic ±1 hyperplane weights for (plane j, dim i), derived
    * from md5 at PLAN-BUILD time — the planes are genuinely independent
    * (an arithmetic pattern like `(i*31 + j*17) % 2` collapses to parity,
    * making every plane ± the same hyperplane and all buckets degenerate
    * into two — measured as an 8× candidate blowup). The constants embed
    * as literals in both the Spark plan and the DuckDB oracle, so there is
    * no per-row weight computation and no cross-engine drift. */
  private[graft] def planeWeights(planes: Int, dim: Int,
                                  table: Int = 0): Seq[Array[Double]] =
    (0 until planes).map { j =>
      Array.tabulate(dim) { i0 =>
        // table 0 keeps the original key so every existing single-table
        // bucketing (and its oracle literals) is unchanged; tables >= 1
        // salt the digest key, giving genuinely independent plane sets
        // for OR-composed LSH.
        val key = if (table == 0) s"graft-plane:$j:dim:${i0 + 1}"
                  else s"graft-plane:t$table:$j:dim:${i0 + 1}"
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1.0 else -1.0
      }
    }

  /** Sign-LSH bucket id from `planes` fixed hyperplanes (bit j = sign of
    * the projection on plane j). Pure per-row expression over literal
    * weight arrays — no sequence()/index generation per row.
    *
    * Guards against a silent degenerate mode: if a vector's length differs
    * from `dim`, zip_with would null-pad, every projection would go null,
    * and ALL vectors would collapse into bucket 0 — turning every
    * bucket-blocked pair join into an undetected all-pairs join. Instead a
    * wrong-length vector fails the query loudly (raise_error), which is
    * the correct behavior for a dimension mismatch in an ANN index. */
  def hyperplaneBucket(v: Column, planes: Int, dim: Int = 64,
                       table: Int = 0): Column = {
    val ws = planeWeights(planes, dim, table)
    val bits = (0 until planes).map { j =>
      val wlit = array(ws(j).map(lit(_)): _*)
      // native fold (VecFold): same IEEE order as the zip_with chain,
      // same null-on-length-mismatch backstop behind the size() guard
      val proj = graft.expressions.VecFold.dot_fold(v, wlit)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    when(size(v) === dim, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"hyperplaneBucket: expected $dim-dim embedding, got "),
        size(v).cast("string"))))
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dims: the
    * Achlioptas ±1 database-friendly variant (each output coordinate is
    * a ±1-signed sum over the input scaled by 1/√outDim), with the
    * signs drawn from the SAME md5-literal mechanism as the LSH planes
    * (table 9 — salted independently of every bucketing table) so the
    * matrix embeds as constants in both engines. outDim must make
    * 1/√outDim exact in binary (16 → 0.25) to keep the scaling a single
    * exact IEEE multiply. The projection keeps pairwise distances to
    * within (1±ε) w.h.p. — the cheap-filter half of a two-stage exact
    * re-rank, and the classic preconditioner before IVF/PQ codebooks. */
  def jlProject(v: Column, outDim: Int, dim: Int = 64): Column = {
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    require(inv * inv * outDim == 1.0,
      s"jlProject: 1/sqrt($outDim) must be exact in binary")
    val ws = planeWeights(outDim, dim, table = 9)
    array((0 until outDim).map { p =>
      val wlit = array(ws(p).map(lit(_)): _*)
      graft.expressions.VecFold.dot_fold(v, wlit) * lit(inv)
    }: _*)
  }

  /** ANN top-k: exact ranking restricted to the query vector's bucket. */
  def lshBucketTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
                    planes: Int): DataFrame = {
    val bucketed = embeddings.withColumn("bucket",
      hyperplaneBucket(col("embedding"), planes))
    val q = bucketed.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"), col("bucket"))
    bucketed.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("bucket"),
        cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Multi-probe ANN top-k: candidates come from the query's bucket PLUS
    * every Hamming-1 neighbor bucket (one plane bit flipped). The most
    * likely single-table LSH miss is a neighbor sitting just across ONE
    * near-threshold hyperplane, so probing the `planes` adjacent buckets
    * recovers most of that recall at ~(planes+1)/2^planes of the corpus —
    * never a rescan. The probe set is tiny and broadcast; the corpus is
    * bucketed once (persist/partition by bucket at scale and each probe
    * prunes to one bucket's files). */
  def multiProbeTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
                     planes: Int): DataFrame = {
    val bucketed = embeddings.withColumn("bucket",
      hyperplaneBucket(col("embedding"), planes))
    val q = bucketed.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"), col("bucket").as("qbucket"))
    val flips = lit(0L) +: (0 until planes).map(j => lit(1L << j))
    val probes = q
      .select(col("q"), col("qbucket"), explode(array(flips: _*)).as("flip"))
      .select(col("q"), col("qbucket").bitwiseXOR(col("flip")).as("bucket"))
    bucketed.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to its nearest
    * centroid cell; search ranks exactly within the query's cell only.
    *
    * Centroids here are deterministic (stored vectors `centroidIds`) so the
    * operator is oracle-checkable end-to-end; production swaps in k-means
    * centroids without touching the dataflow. Scale shape: assignment is a
    * broadcast of k centroids + one scan (persist/partition BY cell and a
    * query prunes to one cell's files); no shuffle of the vector corpus.
    */
  def ivfTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
              centroidIds: Seq[Long]): DataFrame = {
    val cents = embeddings
      .filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    // argmax cosine = argmin (-cosine); negation is an exact IEEE op, so
    // (-a < -b) <=> (a > b) and the struct-min tie-break (lower cent_id)
    // matches the previous desc(ccos), asc(cent_id) window exactly.
    val assigned = nearestBy(embeddings, cents,
        (v, c) => negate(cosine(v, c)))
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val q = assigned.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"), col("cell"))
    assigned.join(broadcast(q), "cell")
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("cell"), cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Shuffle-free nearest-centroid assignment — the coarse-quantizer hot
    * path shared by [[ivfTopK]], [[kmeansCentroids]] and [[ivfKmeansTopK]].
    *
    * The k centroids collapse to ONE row (a cent_id-sorted array of
    * (cent_id, cvec) structs) that is crossJoin-broadcast against the
    * corpus scan; the argmin is then a per-row `array_min` over
    * (dist, cent_id) structs, whose struct ordering IS "min dist, ties to
    * the lower cent_id". The plan is scan → project: zero Exchange, and
    * the corpus is never duplicated k-fold (the previous
    * Window.partitionBy(vec_id) argmin shuffled n·k rows each carrying the
    * full embedding — the scale-killer at 100 TB). Distances use the same
    * sequential-fold doubles as before and `array_min` compares with the
    * same total ordering a sort uses, so the assignment is bit-identical
    * to the window formulation (dist here is always ≥ +0.0 and non-NaN for
    * finite inputs, so total-order vs `<` corner cases cannot arise). */
  private def nearestBy(embeddings: DataFrame, cents: DataFrame,
                        dist: (Column, Column) => Column): DataFrame = {
    val packed = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cvec")))).as("cents"))
    embeddings.crossJoin(broadcast(packed))
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct(dist(col("embedding"), c.getField("cvec")).as("d"),
          c.getField("cent_id").as("cent_id")))))
      .select(col("vec_id"), col("embedding"),
        col("best.cent_id").as("cent_id"), col("best.d").as("d"))
  }

  /** Fixed-round Lloyd k-means over an embedding column, entirely as
    * DataFrame joins — the trained coarse quantizer for [[ivfKmeansTopK]]
    * (replacing the stored-vector stand-in of [[ivfTopK]]).
    *
    * Determinism/parity (every step oracle-checkable):
    *  - init: the k seed vectors are the k lowest rows under sha2(vec_id) —
    *    a deterministic pseudo-random draw both engines reproduce. Selection
    *    is sample-then-rank: filter to sha2(vec_id) < `seedBound` (a hex
    *    prefix predicate that pushes to the scan), then rank only the
    *    surviving sample. Because every sampled row hashes strictly below
    *    every unsampled row, the sample's k lowest ARE the global k lowest
    *    whenever the sample has ≥ k rows (checked loudly) — exact
    *    equivalence, not approximation, with the single-partition sort now
    *    over ~n/16 rows instead of the corpus (tighten seedBound's prefix
    *    for bigger corpora: '01' → n/256, '001' → n/4096, …);
    *  - assignment: argmin of the sequential-fold L2² ([[l2sq]]), ties to
    *    the lower centroid id;
    *  - update: per-(cell, dim) means via 2^48-scaled integer sums in
    *    DECIMAL(38,0) — order-free, exact, non-wrapping at any cell size.
    *    The double→integer step is an explicit floor() on BOTH engines
    *    (IEEE round-toward-−∞), so parity never hinges on an implicit
    *    cast rule (Spark truncates, DuckDB rounds — they'd diverge on
    *    non-integral scaled values), and a
    *    scale-0 decimal→double conversion is a plain integer→double:
    *    correctly rounded in BOTH engines at any magnitude (a nonzero
    *    decimal scale would diverge by 1 ulp past 2^53);
    *  - an emptied cell keeps its previous centroid (standard Lloyd
    *    practice, mirrored by the oracle's left join).
    *
    * Scale shape per round: one broadcast of the packed centroid array
    * against the corpus scan with a per-row fold argmin ([[nearestBy]] —
    * zero Exchange, no k-fold duplication of the vectors), one posexplode +
    * partial-aggregated hash aggregation on (cell, dim) — k·dim groups.
    * Each round is landed by [[graft.ops.Rounds]] so the plan stays flat. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, rounds: Int,
                      seedBound: String = "1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scale = 281474976710656L // 2^48
    val h = sha2(col("vec_id").cast("string"), 256)
    val seedW = Window.orderBy(col("h"), col("vec_id"))
    // Sample-then-rank with an exactness-preserving fallback: rank the
    // sample first (one pass, as before — counting the tiny ranked
    // result costs what the old require() cost); only when it holds
    // < k rows (a degenerate or tiny corpus — at real fixtures the
    // sample is ~n/16) re-rank the FULL corpus: same global k-lowest
    // draw, just without the sampling speedup. A corpus with fewer
    // than k rows yields that many centroids (k' = |corpus| — standard
    // k-means degenerate semantics; the oracle's rk <= k cap agrees),
    // and an empty corpus yields zero centroids so every downstream
    // assignment/search is well-defined empty.
    // r16 (guide §2 — single-partition sort is the canonical scale
    // killer): the k lowest rows under (h, vec_id) are selected with
    // orderBy(...).limit(k) — TakeOrderedAndProject, a per-partition
    // top-k merged once — instead of ranking the WHOLE source through
    // an unpartitioned row_number window (WindowExec moved the full
    // sample — up to the corpus on shortfall — to ONE partition; at
    // 100 TB that is a multi-TB single-partition sort). The window now
    // runs over the ≤ k surviving rows only. (h, vec_id) is a total
    // order (vec_id unique), so "global top-k then rank" assigns the
    // IDENTICAL rk to the IDENTICAL rows as "rank all then keep ≤ k".
    def rankSeeds(src: DataFrame): DataFrame = src
      .withColumn("h", h)
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("rk", row_number().over(seedW))
      .select((col("rk") - 1).cast("long").as("cent_id"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    // Decide the seed SOURCE with a count-only pass first: the filter
    // touches nothing but vec_id (column-pruned scan, no embedding IO,
    // no sort), so settling sample-vs-full before ranking is cheaper
    // than the old rank-then-count — which, on a shortfall, had already
    // eagerly checkpointed the discarded sample ranking and left it
    // pinned until the periodic-GC sweep (r14 ADVICE). The checkpointed
    // seed set (Rounds.iterate lands it) is built exactly once, from the
    // chosen source.
    val sampleN = embeddings.filter(h < lit(seedBound)).count()
    val seeds = rankSeeds(
      if (sampleN < k) embeddings
      else embeddings.filter(h < lit(seedBound)))
    graft.ops.Rounds.iterate(seeds, rounds) { (cents, _) =>
      val assigned = nearestBy(embeddings, cents, l2sq)
      val means = assigned
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy("cent_id", "i")
        .agg((((sum(floor(col("v").cast("double") * lit(scale.toDouble))
            .cast("decimal(38,0)")).cast("double") /
          lit(scale.toDouble)) /
          count(lit(1))).as("m")))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          e => e.getField("m")).as("nvec"))
      cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("nvec"), col("cvec")).as("cvec"))
    }.last._1
  }

  /** Batch cell assignment for a trained codebook — at scale this is the
    * IVF build step whose output is persisted partitioned BY cell (each
    * query then prunes to one cell's files). Shuffle-free: see
    * [[nearestBy]]. */
  def ivfAssign(embeddings: DataFrame, cents: DataFrame): DataFrame =
    nearestBy(embeddings, cents, l2sq)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))

  /** IVF ANN with a TRAINED coarse quantizer: [[kmeansCentroids]] learns
    * the cells, every vector is assigned to its nearest (L2²) cell, and
    * the search ranks exactly (cosine) within the query's cell only —
    * same dataflow as [[ivfTopK]], real recall instead of a stand-in
    * codebook. At scale the corpus is persisted partitioned BY cell, so a
    * query prunes to one cell's files; training touches the corpus
    * `rounds` times with only broadcast + map-side aggregation. */
  def ivfKmeansTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
                    cells: Int, rounds: Int): DataFrame =
    ivfKmeansTopKWith(embeddings,
      kmeansCentroids(embeddings, cells, rounds), queryVecId, k)

  /** [[ivfKmeansTopK]] against a PRE-TRAINED codebook — the production
    * split: the quantizer is a persisted artifact trained once and reused
    * by every search/build consumer (see SimilarityQ's shared stage). */
  def ivfKmeansTopKWith(embeddings: DataFrame, cents: DataFrame,
                        queryVecId: Long, k: Int): DataFrame = {
    val assigned = ivfAssign(embeddings, cents)
    val q = assigned.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"), col("cell"))
    assigned.join(broadcast(q), "cell")
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("cell"),
        cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** IVF search probing the query's `nprobe` NEAREST cells instead of only
    * its own — the standard recall dial after [[ivfKmeansTopK]]'s nprobe=1
    * (a true neighbor just across a cell boundary is the dominant IVF
    * miss; measured on the sf0.01 corpus: mean top-10 recall 0.25 → 0.475
    * → 0.615 for nprobe 1 → 2 → 3). Probe selection ranks the k trained
    * centroids against the query vector — k rows, a broadcast-sized sort —
    * and the search is one equi-join of the assigned corpus against the
    * nprobe-row probe list: candidate volume ~nprobe/cells of the corpus,
    * and at 100 TB the cell-partitioned layout prunes the scan to
    * nprobe cells' files. Assignment itself stays shuffle-free
    * ([[nearestBy]]); probe distances use the same l2sq fold as
    * assignment, so nprobe=1 degenerates to exactly the assigned cell. */
  def ivfKmeansProbeTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
                         cells: Int, rounds: Int, nprobe: Int): DataFrame =
    ivfKmeansProbeTopKWith(embeddings,
      kmeansCentroids(embeddings, cells, rounds), queryVecId, k, nprobe)

  /** [[ivfKmeansProbeTopK]] against a pre-trained codebook. */
  def ivfKmeansProbeTopKWith(embeddings: DataFrame, cents: DataFrame,
                             queryVecId: Long, k: Int,
                             nprobe: Int): DataFrame = {
    val assigned = ivfAssign(embeddings, cents)
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"), l2sq(col("q"), col("cvec")).as("d"))
      .orderBy(asc("d"), asc("cell"))
      .limit(nprobe)
      .select(col("cell"))
    assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cell"),
        cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** The full two-stage ANN pipeline — IVF-PQ: a TRAINED coarse quantizer
    * ([[kmeansCentroids]]) restricts the search to the query's `nprobe`
    * nearest cells, and PQ/ADC ranks those candidates from their codes
    * and a broadcast distance table WITHOUT touching raw candidate
    * vectors at score time. This is the composition every production
    * vector index runs (FAISS IVFx,PQy): stage 1 cuts candidates to
    * ~nprobe/cells of the corpus, stage 2 cuts per-candidate cost to m
    * table lookups. Here both stages keep the engine's scale contracts —
    * assignment and encoding are per-row folds over broadcast packed
    * codebooks (zero corpus shuffle, [[nearestBy]]/[[pqAdcScore]]), probe
    * selection is a k-row sort, and at 100 TB the cell-partitioned code
    * layout prunes the scan to nprobe cells' code files (m bytes/vector).
    * Fully deterministic, so the oracle replays training, probing,
    * encoding and the j-ordered ADC fold CTE by CTE. */
  def ivfPqTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
                cells: Int, rounds: Int, nprobe: Int,
                pqCentroidIds: Seq[Long], m: Int = 8,
                dim: Int = 64): DataFrame =
    ivfPqTopKWith(embeddings, kmeansCentroids(embeddings, cells, rounds),
      queryVecId, k, nprobe, pqCentroidIds, m, dim)

  /** [[ivfPqTopK]] against a pre-trained coarse codebook. */
  def ivfPqTopKWith(embeddings: DataFrame, cents: DataFrame,
                    queryVecId: Long, k: Int, nprobe: Int,
                    pqCentroidIds: Seq[Long], m: Int = 8,
                    dim: Int = 64): DataFrame = {
    val assigned = ivfAssign(embeddings, cents)
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"), l2sq(col("q"), col("cvec")).as("d"))
      .orderBy(asc("d"), asc("cell"))
      .limit(nprobe)
      .select(col("cell"))
    val candidates = assigned.join(broadcast(probes), "cell")
      .select(col("vec_id"), col("embedding"))
    pqAdcScore(candidates, embeddings, queryVecId, k, pqCentroidIds, m, dim)
  }

  /** Near-duplicate pairs by cosine over the FULL corpus, blocked by
    * sign-LSH bucket — the scale-safe replacement for an all-pairs (or
    * sampled-stripe) self-join. Vectors are bucketed once per table by
    * [[hyperplaneBucket]] (2^planes buckets); pairs are generated only
    * within a (table, bucket) block, so candidate volume is
    * ~tables·n²/2^planes spread across block partitions and the join
    * shuffles on the block key, never all-pairs. Norms are computed once
    * per vector BEFORE the pair join — the pair stage then does one dot
    * product per pair instead of dot + two norms (3× fewer flops;
    * measured 5.7s → ~2s at sf0.1).
    *
    * A single table misses any qualifying pair split across buckets — the
    * standard ANN recall trade. `tables` > 1 OR-composes independent
    * hyperplane sets ([[planeWeights]] salted per table): each vector
    * explodes to one (table, bucket) row per table, ONE equi-join on the
    * composite key generates candidates from every table at once, and a
    * final distinct folds pairs caught by several tables (their cos is
    * the same deterministic fold, so distinct is exact). A pair is missed
    * only if EVERY table splits it — recall 1-(1-p^planes)^tables rising
    * with tables at linear candidate cost, same plan shape. */
  def cosineNearDupPairsLsh(embeddings: DataFrame, planes: Int,
                            threshold: Double, tables: Int = 1): DataFrame = {
    val blocks = (0 until tables).map(t => struct(lit(t).as("t"),
      hyperplaneBucket(col("embedding"), planes, 64, t).as("b")))
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      explode(array(blocks: _*)).as("block"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.block") === col("b.block") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
    if (tables == 1) pairs else pairs.distinct()
  }

  /** Batch kNN JOIN — the production retrieval shape (every query row
    * gets its k nearest corpus neighbors at once, vs the single-query
    * topk entry points above). Candidates come from the shared sign-LSH
    * bucket: one equi-join shuffle on the bucket key plus a per-query
    * window — never a query×corpus product. At 100 TB the corpus side is
    * bucket-partitioned once and reused across query batches. */
  def knnJoinLsh(embeddings: DataFrame, queryPred: Column, k: Int,
                 planes: Int): DataFrame = {
    val b = embeddings.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val q = b.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    b.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .orderBy("q_id", "vec_id")
  }

  /** Data-sized sign-LSH plane count: the smallest `planes` whose
    * 2^planes buckets hold ~`target` vectors each, clamped to
    * [lo, hi] — the production dial that keeps in-bucket candidate
    * volume LINEAR in corpus size (fixed planes make it quadratic:
    * n²/2^planes grows as n² once buckets saturate; sizing planes ≈
    * log2(n/target) pins bucket population, so candidates ≈ n·target).
    *
    * Integer-exact on purpose: ceil(log2(m)) is computed as the binary
    * length of m−1 (the [[graft.queries.LinkageQ]] adaptive-scale
    * pattern), never via floating log2 — at an exact power-of-two
    * boundary a last-ulp libm difference between engines would flip
    * the ceil and silently desynchronize the bucketing. The oracle
    * derives the identical count from COUNT(*) with
    * length(format('{:b}', …)).
    *
    * At the `hi` clamp (2^16 buckets) per-bucket population resumes
    * linear growth; past that a production index ORs multiple plane
    * TABLES (the `table` parameter of [[hyperplaneBucket]]) rather
    * than deepening one — more planes than ~16 makes recall collapse
    * faster than candidates shrink. */
  def adaptivePlanes(n: Long, target: Long = 128L, lo: Int = 4,
                     hi: Int = 16): Int = {
    val mMinus1 = math.max((n + target - 1L) / target - 1L, 0L)
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(mMinus1)
    math.min(hi, math.max(lo, bitlen))
  }

  /** Mutual k-NN pairs within LSH buckets: emit (a, b) once (a < b)
    * iff b is in a's bucket-restricted top-k AND a is in b's — the
    * symmetry filter a SemDeDup-style pruner applies before trusting a
    * neighbor list (asymmetric hub vectors fail it). Candidates come
    * only from the hyperplane-bucket equi-join (never all pairs); the
    * per-query rank is a window partitioned by the query id; the
    * mutuality check is one equi-join of the ranked list against its
    * own reverse. cosine(a,b) folds component-ordered, so the two
    * directions score bit-identically and either row can carry `cos`. */
  def mutualKnnLsh(embeddings: DataFrame, k: Int,
                   planes: Int): DataFrame = {
    val b = embeddings.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val cand = b.join(
        b.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
          col("bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("b_id"))
      .select(col("vec_id").as("a_id"), col("b_id"),
        cosine(col("embedding"), col("bv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    val topk = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
    topk.join(
        topk.select(col("b_id").as("a_id"), col("a_id").as("b_id")),
        Seq("a_id", "b_id"), "left_semi")
      .filter(col("a_id") < col("b_id"))
      .orderBy("a_id", "b_id")
  }

  /** Squared L2 between two (sub)vectors: diff², sequential fold —
    * deterministic double order, like [[dot]] (native VecFold since r15,
    * bit-identical to the previous zip_with chain). */
  def l2sq(a: Column, b: Column): Column =
    graft.expressions.VecFold.l2sq_fold(a, b)

  /** Product-quantization top-k with Asymmetric Distance Computation —
    * the memory-bound ANN workhorse (IVF-PQ's second stage): vectors are
    * ENCODED as m sub-space centroid codes (here m sub-slices of the
    * embedding, codebook = `centroidIds`' stored vectors, deterministic
    * stand-in for a trained codebook), and the query scores candidates
    * WITHOUT touching raw vectors — per sub-space it builds a distance
    * table to every centroid, then each candidate's approximate distance
    * is the ordered sum of table entries selected by its codes.
    *
    * At 100 TB the persisted layout is (vec_id, code_0..code_{m-1}) —
    * m bytes per vector instead of 4·dim — and scoring touches only a
    * BROADCAST distance table (m·k_centroids doubles): both encode and
    * score below are per-row folds over 1-row broadcast packed tables, so
    * the corpus is scanned once with ZERO shuffle and the result feeds
    * straight into a TakeOrdered top-k. (The previous formulation
    * shuffled n·m·k exploded rows through a window for the codes and
    * re-shuffled n·m for the ADC group-by.) Every double (sub-distances,
    * the j-ordered ADC fold) is computed by the same IEEE op sequence in
    * both engines, so even ties rank identically. */
  def pqAdcTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
                centroidIds: Seq[Long], m: Int = 8,
                dim: Int = 64): DataFrame =
    pqAdcScore(embeddings, embeddings, queryVecId, k, centroidIds, m, dim)

  /** The PQ/ADC scorer over an arbitrary CANDIDATE set (same plan as
    * [[pqAdcTopK]], which scores the whole corpus): codebook and query
    * always come from `embeddings`; only `candidates` rows are encoded
    * and ranked. This is the second stage of [[ivfPqTopK]]. */
  private def pqAdcScore(candidates: DataFrame, embeddings: DataFrame,
                         queryVecId: Long, k: Int, centroidIds: Seq[Long],
                         m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    def subslice(v: Column, j: Column) = slice(v, j * sub + 1, lit(sub))
    val cents = embeddings
      .filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val packedCents = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cvec")))).as("cents"))
    // codes: per sub-space j the nearest centroid of the j-th sub-slice —
    // argmin as a struct-min fold (ties to the lower cent_id), one array
    // of m codes per row, no explode, no window.
    val coded = candidates.crossJoin(broadcast(packedCents))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(m - 1)), j =>
          array_min(transform(col("cents"), c =>
            struct(l2sq(subslice(col("embedding"), j),
                subslice(c.getField("cvec"), j)).as("d"),
              c.getField("cent_id").as("code"))))
            .getField("code")).as("codes"))
    // the query's distance table, packed per sub-space: qt[j] = the
    // (cent_id, qd) list for sub-space j — m·|cents| doubles, one row.
    val qtable = embeddings.filter(col("vec_id") === queryVecId)
      .crossJoin(broadcast(cents))
      .select(explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("cent_id"), col("embedding"), col("cvec"))
      .select(col("j"), col("cent_id"),
        l2sq(subslice(col("embedding"), col("j")),
          subslice(col("cvec"), col("j"))).as("qd"))
      .agg(array_sort(collect_list(struct(col("j"), col("cent_id"),
        col("qd")))).as("qt"))
    // ADC = j-ordered sequential fold of the table entries the candidate's
    // codes select (fold order pinned — a plain SUM(double) would expose
    // accumulation order). element_at(filter(...), 1) is the (j, code)
    // lookup; the fold over sequence(0..m-1) IS the j order.
    coded.filter(col("vec_id") =!= queryVecId)
      .filter(!col("vec_id").isin(centroidIds: _*))
      .crossJoin(broadcast(qtable))
      .select(col("vec_id"), aggregate(
        sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc: Column, j: Column) => acc +
          element_at(filter(col("qt"), e =>
            e.getField("j") === j &&
              e.getField("cent_id") === element_at(col("codes"), j + 1)),
            1).getField("qd")).as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(k)
  }
}
