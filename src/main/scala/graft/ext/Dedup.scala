package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Rounds

/** Deduplication family for training-data pipelines (SURVEY.md §2.9 D1-D3):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard. Embedding-cosine
  * near-dup lives in [[Similarity]].
  *
  * Scale design:
  *  - signatures (minhash, simhash, fingerprints) are computed per-row with
  *    array higher-order functions — NO explode, NO shuffle; a 100 TB scan
  *    emits a narrow signature table.
  *  - candidate generation shuffles only on band/bucket keys (the LSH
  *    point: the all-pairs O(n²) never materializes).
  *  - all hashes are md5-derived, so every stage is oracle-checkable and
  *    runs identically on any engine.
  */
object Dedup {

  /** Word 3-gram shingles (guarded for short docs).
    *
    * Built with zip_with over shifted SLICES of the token array, not with
    * `transform(sequence(...), i => get(toks, i)...)`: a lambda BODY that
    * references the input array re-evaluates that whole expression tree
    * per element (lambda bodies defeat common-subexpression elimination),
    * so when callers pass `toks` as an unmaterialized chain like
    * `split(trim(text))`, the indexed form re-tokenizes the document for
    * every shingle — O(tokens²) per document (measured: the hashed-
    * shingle-set stage of the containment join dropped 8.8s → ~0.4s at
    * sf0.1). zip_with/slice receive the array as plain ARGUMENTS,
    * evaluated once per row; the lambdas only touch their element
    * variables. The two zip_with passes null-pad at the tail (shorter
    * array), and the final slice drops exactly those padded positions. */
  def shingles3(toks: Column): Column = {
    val n = size(toks)
    val s2 = slice(toks, lit(2), greatest(n - 1, lit(0)))
    val s3 = slice(toks, lit(3), greatest(n - 2, lit(0)))
    val ab = zip_with(toks, s2, (a, b) => concat(a, lit(" "), b))
    val abc = zip_with(ab, s3, (x, c) => concat(x, lit(" "), c))
    when(n >= 3, slice(abc, lit(1), n - 2)).otherwise(array())
  }

  /** Word 2-gram shingles — same shifted-slice construction (and the same
    * CSE rationale) as [[shingles3]], one zip_with pass. */
  def shingles2(toks: Column): Column = {
    val n = size(toks)
    val s2 = slice(toks, lit(2), greatest(n - 1, lit(0)))
    val ab = zip_with(toks, s2, (a, b) => concat(a, lit(" "), b))
    when(n >= 2, slice(ab, lit(1), n - 1)).otherwise(array())
  }

  /** MinHash hash family: h_i(x) = (a_i·h30(x) + b_i) mod p over ONE md5
    * base hash per element, reduced to 30 bits so a_i·h30 + b_i stays far
    * below 2^63 (DuckDB errors on BIGINT overflow; Java would silently
    * wrap — both are disqualifying). One digest instead of k per element:
    * measured 6.7s → ~2s on the LSH query at sf0.1. p prime > 2^30, a_i
    * odd; all arithmetic long-exact and identical in any engine. */
  // Single source of truth for the portable affine family lives beside
  // the native kernel; these aliases keep the oracle-SQL builders
  // reading naturally.
  val MinhashMask: Long = graft.expressions.MinHashSignature.Mask
  val MinhashP: Long = graft.expressions.MinHashSignature.P
  def minhashA(i: Int): Long = graft.expressions.MinHashSignature.a(i)
  def minhashB(i: Int): Long = graft.expressions.MinHashSignature.b(i)

  /** Base hashes of a token/shingle set (compute ONCE — nested lambda
    * expressions defeat Spark's common-subexpression elimination, so
    * callers should land this in its own projection via `withColumn`
    * before fanning out to k signatures). Full 60-bit portable hashes:
    * [[graft.expressions.MinHashSignature]] masks to 30 bits internally,
    * so the same array doubles as a low-collision set representation for
    * verification joins. */
  def minhashBaseHashes(tokenSet: Column): Column = tokenHashes(tokenSet)

  /** All-elements portable 60-bit hash (the array form of
    * [[TextOps.hash64]], one codegen'd pass — the per-element
    * `transform(md5→conv)` chain costs ~10× more). */
  def tokenHashes(tokens: Column): Column =
    graft.expressions.PortableHashArray
      .portable_hash_array(tokens, -1L >>> 4)

  /** k affine-mixed min-hashes over a precomputed base-hash array —
    * partition-local, no shuffle, no digests. All k mins come from ONE
    * pass of the codegen'd [[graft.expressions.MinHashSignature]]; the
    * k projected columns share the array via codegen subexpression
    * elimination (the old per-signature `array_min(transform(...))`
    * re-traversed the array k times, and lambda bodies defeat CSE). */
  def minhashFromBase(baseHashes: Column, k: Int): Seq[Column] = {
    val sig = graft.expressions.MinHashSignature.minhash_signature(baseHashes, k)
    (0 until k).map(i => element_at(sig, i + 1))
  }

  /** Convenience one-shot form (prefer the two-stage form in hot paths —
    * see [[minhashBaseHashes]]). */
  def minhashSignature(tokenSet: Column, k: Int): Seq[Column] =
    minhashFromBase(minhashBaseHashes(tokenSet), k)

  /** LSH band keys from a signature: bands of `r` rows md5'd together.
    * Docs sharing any band key are candidate pairs. */
  def lshBands(sig: Seq[Column], r: Int): Seq[Column] =
    sig.grouped(r).toSeq.map(band => md5(concat_ws(",", band.map(_.cast("string")): _*)))

  /** Banded near-pair plan for Hamming distance — the scale-safe
    * replacement for an all-pairs simhash self-join (Manku et al.,
    * WWW'07). The simhash is split into `bands` slices of `bitsPerBand`
    * bits; by pigeonhole any pair at distance <= bands-1 agrees EXACTLY on
    * at least one band, so an equi-join on (band index, band value)
    * generates every qualifying candidate — completeness holds, nothing is
    * sampled. Candidates are DISTINCT'd on the id pair, then verified with
    * the exact bit_count. The only shuffle is on band keys; per-bucket
    * cost is O(bucket²) over sparse 2^bitsPerBand-value buckets, never
    * O(n²) over the corpus. */
  def simhashBandPairs(df: DataFrame, idCol: String, simhashCol: String,
                       bands: Int, bitsPerBand: Int, maxDist: Int): DataFrame = {
    require(maxDist < bands, "pigeonhole completeness needs maxDist < bands")
    val mask = (1L << bitsPerBand) - 1
    // MATERIALIZE the narrow (id, fingerprint) projection before the
    // self-join. Not a nicety — a measured 95 s → ~1 s cliff on the
    // aHash caller: `sh` is not a join key, so whole-stage codegen
    // defers the fingerprint expression's evaluation into the join's
    // emit loop, re-computing it once per MATCHED PAIR (catastrophic
    // when the fingerprint is an interpreted higher-order fold), and
    // both self-join sides re-derive it from the raw input again. Two
    // longs per row is also exactly the fingerprint table a dedup
    // pipeline persists at scale.
    val fp = df.select(col(idCol).as("id"), col(simhashCol).as("sh"))
      .localCheckpoint(true)
    val banded = fp.select(col("id"), col("sh"),
      posexplode(array((0 until bands).map(k =>
        shiftright(col("sh"), k * bitsPerBand).bitwiseAND(mask)): _*))
        .as(Seq("band", "bv")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Hamming distance between two simhash values (bit-count of XOR). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact-key duplicate groups under an arbitrary fingerprint column:
    * returns (fingerprint, n, doc_ids) for groups with >1 member. */
  def exactDupGroups(df: DataFrame, fp: Column, idCol: String): DataFrame =
    df.groupBy(fp.as("fp"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n") > 1)

  /** Connected components over an undirected pair list — the cluster step
    * that turns near-dup PAIRS into dedup DECISIONS (every member maps to
    * the minimum id in its component, the canonical document).
    *
    * Implementation: fixed-round min-label propagation — each round every
    * node takes the min of its own label and its neighbors' labels. Rounds
    * are plain self-joins (no driver-side convergence actions), so the
    * plan is static and distributable. The min label advances ONE HOP per
    * round (this is plain propagation, not pointer-doubling), so `rounds`
    * must be >= the maximum graph distance from any node to its
    * component's minimum-id node; near-dup components are near-cliques
    * (distance ~1-2), so a small fixed budget suffices there, but a CHAIN
    * component of length > rounds would under-merge — so one extra
    * propagation round + a single count at the end asserts a fixed point
    * was reached ([[graft.ops.Rounds.requireFixpoint]]) and a too-deep
    * input fails loudly. GraphX could do this too, but the DataFrame
    * form keeps it inside Catalyst (pruning, AQE) and oracle-checkable.
    *
    * Lineage truncation is mandatory (each round would otherwise re-embed
    * the full upstream subplan; measured 81s → 3s at sf0.1): every round
    * is landed by [[graft.ops.Rounds]] (an eager `localCheckpoint`).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          rounds: Int): DataFrame = {
    // Materialize the (possibly expensive) edge derivation ONCE.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(eager = true)
    val nodes = edges.select(col("src").as("node")).distinct()
    def propagate(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls, edges("dst") === ls("node"))
        .groupBy(col("src").as("node")).agg(min("label").as("nmin"))
      ls.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    val (labels, n) = Rounds.iterate(nodes.withColumn("label", col("node")),
      rounds)((ls, _) => propagate(ls)).last
    // One more round must be a fixed point; a single scalar action, so
    // the plan stays static (this is an assertion, not a driver loop).
    // Min-propagation only lowers labels, so "changed" is "lowered".
    Rounds.requireFixpoint("Dedup.connectedComponents", rounds,
      Rounds.changedRows(labels, propagate(labels), "node", "label"), n)
    labels.select(col("node"), col("label").as("component"))
  }

  /** Orient an undirected pair list by (degree, id): each edge points from
    * its lower-(degree, id) endpoint to the higher one. This is the
    * standard preprocessing for distributed triangle counting (Cohen '09,
    * Suri & Vassilvitskii WWW'11): after orientation every node's
    * out-degree is O(sqrt(|E|)) regardless of its true degree, so the
    * wedge join below never fans a web-scale hub out into O(deg²) rows —
    * orienting by raw id leaves a low-id hub with out-degree ≈ deg.
    * Returns (src, dst, ddeg) where ddeg is dst's degree, kept so
    * downstream joins can compare edges under the SAME (degree, id) total
    * order without a global rank (no global sort at scale). */
  def orientByDegree(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Defensive normalization to a simple undirected graph: a self-loop
    // would inflate its node's degree and survive into the wedge stage; an
    // edge present twice (or in both orientations) doubles degrees and
    // multiplies wedge counts. The callers here pass curated a<b distinct
    // pairs (normalization is then an identity), but the helper is generic
    // — one narrow (long,long) distinct is cheap insurance next to the
    // wedge join it protects.
    val e = pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    e.join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
  }

  /** Exact triangle count over an undirected pair list via the oriented
    * wedge-close plan: orient by (degree, id), enumerate each node's
    * out-edge pairs ordered under the same total order (every triangle has
    * exactly one node — its order-minimum — with two out-edges inside the
    * triangle), and close the wedge with one more equi-join. Two shuffles
    * on node ids; per-node wedge cost is C(out-degree, 2) which the
    * degree orientation bounds by O(|E|^1.5) TOTAL — the id-oriented
    * variant is O(Σ deg²), unbounded on hub-heavy graphs. The count is
    * orientation-invariant, so any correct algorithm (e.g. an id-ordered
    * a<b<c join in an oracle) yields the identical number. */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // The oriented edge list is referenced three times; cut lineage so the
    // (possibly expensive) pair derivation runs once.
    val o = orientByDegree(pairs, aCol, bCol).localCheckpoint(eager = true)
    val wedgeOrder =
      struct(col("e1.ddeg"), col("e1.dst")) < struct(col("e2.ddeg"), col("e2.dst"))
    o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && wedgeOrder)
      .join(o.as("e3"),
        col("e1.dst") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** DIRECTED containment pairs |A∩B| / |A| ≥ threshold over element sets
    * — the asymmetric near-dup measure that catches subset/quote
    * duplicates symmetric Jaccard misses: a short document fully contained
    * in a long one has containment 1.0 but arbitrarily low Jaccard (the
    * CCNet/The-Stack-style "is this doc a fragment of another" check).
    * Emits both directions of each overlapping pair; the divisor is the
    * SOURCE side's set size only.
    *
    * Plan = the exact set-similarity join from the PPJoin family, not the
    * naive inverted index:
    *  1. elements become portable 60-bit hashes ([[tokenHashes]]) sorted
    *     per set — long join keys and a merge-ready representation (a
    *     cross-set hash collision perturbs a count with probability
    *     ~n²/2^61: irrelevant, and mirrored exactly by the oracle);
    *  2. PREFIX FILTERING generates candidates: a pair with containment
    *     ≥ t must share an element within A's first |A|-⌈t·|A|⌉+1
    *     elements under ANY fixed global total order (pigeonhole — if B
    *     misses the whole prefix, fewer than t·|A| elements remain). The
    *     order is (document frequency, hash) — rarest first — so each
    *     set's prefix holds its most DISCRIMINATIVE elements: candidate
    *     volume is Σ_A Σ_{t∈prefix(A)} df(t), which a hash (random)
    *     order lets common elements dominate. The .sf2hot sweep made
    *     this concrete: this corpus's trigram vocabulary saturates at
    *     ~45k shingles (mean df 118 at 100k docs), and the hash-ordered
    *     prefix emitted ~3e8 candidate rows — OOM — where the
    *     df-ordered prefix rides group-unique shingles (df ≈ tile
    *     count) instead. The df table is one cheap keyed count over the
    *     exploded sets, computed from the same corpus — deterministic;
    *  3. candidates are DISTINCT'd on bare id pairs, then ONE sorted-merge
    *     intersect per pair ([[graft.expressions.SortedIntersectSize]])
    *     computes the exact count partition-locally — the per-common-
    *     element incidence rows of the naive plan (the dominant shuffle,
    *     Σ_t df_t² rows) never exist.
    * Lossless vs the naive plan; measured 18.4s → ~4s at sf0.1. */
  def containmentPairs(docs: DataFrame, idCol: String, elementSet: Column,
                       threshold: Double): DataFrame = {
    val sets = docs
      .select(col(idCol).as("id"),
        sort_array(tokenHashes(elementSet)).as("s"))
      .withColumn("sz", size(col("s")))
      .filter(col("sz") > 0)
      .localCheckpoint(true) // reused by the index AND both verify sides
    val prefixLen =
      (col("sz") - ceil(col("sz") * lit(threshold)).cast("int") + 1)
    // rarest-first prefix: rank each set's elements under the global
    // (df, hash) total order and keep the first prefixLen (see scaladoc
    // point 2 — exact for any fixed order; this one minimizes fan-out).
    // The rank window partitions by id: ~|set| rows per partition key.
    val dfTab = sets.select(explode(col("s")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("t"))
    val invA = sets
      .select(col("id"), prefixLen.as("plen"), explode(col("s")).as("t"))
      .join(dfTab, "t")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("plen"))
      .select(col("id"), col("t"))
    val invB = sets.select(col("id"), explode(col("s")).as("t"))
    val cand = invA.as("a").join(invB.as("b"),
        col("a.t") === col("b.t") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inter = graft.expressions.SortedIntersectSize
      .sorted_intersect_size(col("sa"), col("sb"))
    cand
      .join(sets.select(col("id").as("id_a"), col("s").as("sa"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("s").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") / col("sz_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }
}
