package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables
import graft.ops.Rounds

/** Link-analysis pack: iterative graph algorithms expressed as fixed-round
  * DataFrame dataflows (static plans, no driver convergence loop on the
  * hot path; every round's state is landed by `ops.Rounds`, as in
  * `Dedup.connectedComponents` and `Similarity.kmeansCentroids`).
  *
  * Graph source: the part CO-PURCHASE graph — an undirected edge (a, b)
  * whenever parts a and b appear in the same order. This is the canonical
  * "importance over an association graph" workload (web-graph link
  * analysis, citation ranking, product affinity): nodes ~ |part|, edges ~
  * orders x (items/order)^2, built with ONE self-equi-join on the order
  * key.
  *
  * Determinism/parity: every PageRank iteration's incoming-mass sum is a
  * 2^48-scaled integer sum in DECIMAL(38,0) (order-free, exact; the
  * double→integer step is an explicit floor() on BOTH engines), and the
  * scale factor is a power of two so the scale/unscale multiplications are
  * exact IEEE ops. The per-edge contribution rank/deg, the damping
  * multiply and the teleport add are single IEEE ops written in the same
  * order on both sides — so five chained iterations stay bit-identical
  * between Spark and DuckDB, and the final doubles hash-match.
  */
object GraphQ {

  private val Damping = 0.85
  private val PagerankRounds = 5
  private val HitsRounds = 3
  private val WalkSteps = 4
  /** HITS quantization scale. Only NORMALIZED scores (∈ [0,1]) are ever
    * floored at this scale, so the quantized contribution is < 2^31 —
    * Spark's floor(double)→long can never clamp and the integer is exact
    * on both engines at ANY skew. The L2 norm squares the accumulated
    * integer mass (rs² as decimal/HUGEINT, exact) rather than flooring
    * s²·2^30: the .sf2hot celebrity sweep caught the old design's
    * floor(9.4e10²·2^30) silently CLAMPING at 2^63 on Spark while
    * DuckDB floored in double — the per-round normalization contracted
    * the divergence down to a 1e-13 residue, which is exactly what made
    * it invisible at every milder fixture. One VARCHAR-exit conversion
    * per norm keeps the decimal→double step correctly rounded at any
    * magnitude. */
  private val HitsScale = 1073741824L // 2^30
  private val Scale = 281474976710656L // 2^48: exact scale/unscale

  /** One co-purchase edge build per (session, sf-dir) — every graph
    * consumer (PageRank, k-core, LPA, HITS, link prediction, walks,
    * connected components) rides the SAME undirected edge table, so the
    * order-key self-join runs once (localCheckpointed) and is shared,
    * exactly like DedupQ's verified-pair stage and SimilarityQ's trained
    * codebook; the bench charges the build to its own entry. The stage
    * carries per-pair SUPPORT (distinct co-occurring orders) so the
    * connected-components backbone (support >= 3) is a filter over the
    * materialized table rather than a second corpus-sized self-join —
    * the groupBy keys make the (src, dst) projection exactly the old
    * DISTINCT edge set, so every other consumer is unchanged. Footprint
    * is the narrow (src, dst, support) table; entries evict when their
    * session stops. */
  private[graft] val coPurchaseSupportEdges =
    new graft.util.SharedStage[org.apache.spark.sql.DataFrame](
        "graph_edges_shared_stage")({ (s, d) =>
      // DISTINCT the (order, part) basket table BEFORE the self-join:
      // support = distinct co-occurring orders, so over unique basket
      // rows it is a plain count(*) — one partial-aggregated shuffle of
      // the quadratic pair set instead of countDistinct's two (the
      // distinct-expand pass shuffles the ~|orders|·(items/order)² rows
      // a second time at near-zero dedup gain; the basket distinct
      // itself shuffles only the LINEAR lineitem projection). Values
      // are identical to countDistinct over the raw rows — the r10
      // oracles (COUNT(DISTINCT a.ok)) are unchanged.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).as("support"))
        .localCheckpoint(true)
    })

  private[queries] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
                                       d: String): org.apache.spark.sql.DataFrame =
    coPurchaseSupportEdges(s, d).select(col("src"), col("dst"))

  /** [[coPurchaseSupportEdges]] built now (`fresh`: rebuilt). */
  def buildSharedEdgeStage(s: org.apache.spark.sql.SparkSession,
                           d: String, fresh: Boolean = false): Unit = {
    if (fresh) coPurchaseSupportEdges.rebuild(s, d)
    else coPurchaseSupportEdges(s, d); ()
  }

  /** One PageRank round: ranks(node, pr) → next ranks(node, pr).
    * `edges` must carry (src, dst, deg). Exposed so PhysicalPlanSpec can
    * assert the iteration's shape (rank vector broadcast, edge scan never
    * shuffled by the join). */
  private[graft] def pagerankRound(edges: org.apache.spark.sql.DataFrame,
                                   nodes: org.apache.spark.sql.DataFrame,
                                   ranks: org.apache.spark.sql.DataFrame,
                                   teleport: Double,
                                   hintBroadcast: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    // hintBroadcast=false on LARGE graphs (the caller knows |nodes|):
    // a multi-million-row rank vector must ride a shuffle join, not a
    // per-round broadcast hash table — the constrained-heap .sf1 gate
    // measured the broadcast path starving execution memory at
    // 0.75 GB/core (the web-scale co-partitioned form the design always
    // named; AQE still picks broadcast when the vector is small).
    val rside = if (hintBroadcast) broadcast(ranks) else ranks
    val mass = edges.join(rside, edges("src") === ranks("node"))
      .select(col("dst"),
        floor(col("pr") / col("deg").cast("double") *
          lit(Scale.toDouble)).cast("decimal(38,0)").as("c"))
      .groupBy("dst")
      .agg((sum(col("c")).cast("double") / lit(Scale.toDouble)).as("s"))
    nodes.join(mass, nodes("node") === mass("dst"), "left")
      .select(col("node"),
        (lit(teleport) + lit(Damping) * coalesce(col("s"), lit(0.0)))
          .as("pr"))
  }

  /** One DuckDB iteration CTE: r{i} from r{i-1}. Kept in lockstep with the
    * Spark loop below — same floor/decimal/unscale sequence, same
    * LEFT JOIN + COALESCE for nodes that received no mass. */
  private def duckRound(i: Int): String =
    s"""r$i AS (
       |  SELECT nodes.node,
       |         (0.15 / (SELECT nd FROM nn)) + 0.85 * COALESCE(m.s, 0.0) AS pr
       |  FROM nodes LEFT JOIN (
       |    SELECT e.dst,
       |           CAST(SUM(CAST(floor((r.pr / CAST(e.deg AS DOUBLE)) * 281474976710656.0)
       |                         AS DECIMAL(38,0))) AS DOUBLE) / 281474976710656.0 AS s
       |    FROM e JOIN r${i - 1} r ON e.src = r.node
       |    GROUP BY e.dst) m ON nodes.node = m.dst)""".stripMargin

  /** One BFS expansion round, PRE-checkpoint (exposed for the physical
    * plan test): the frontier and visited sets BROADCAST against the
    * edge scan — edges are never shuffled through these joins. */
  private[graft] def khopExpand(edges: org.apache.spark.sql.DataFrame,
                                frontier: org.apache.spark.sql.DataFrame,
                                visited: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.join(broadcast(frontier), edges("src") === frontier("node"))
      .select(col("dst").as("node")).distinct()
      .join(broadcast(visited.select("node")), Seq("node"), "left_anti")

  val registry: Map[String, QuerySpec] = Map(

    // PageRank over the part co-purchase graph, 5 rounds, d = 0.85,
    // top 20 parts. Scale shape per iteration: the rank vector (|nodes|
    // rows, two narrow columns) is BROADCAST against the edge scan — the
    // edge list, the big side, is never shuffled by the join — and the
    // only Exchange is the partial-aggregated groupBy(dst) of the scaled
    // contributions (map-side combine cuts it to ~|nodes| rows per
    // partition). Edges are built ONCE (one self-join shuffle on the
    // order key + distinct) and localCheckpointed, so the 5 iterations
    // re-read a materialized narrow table instead of replaying the join;
    // each round's rank vector is landed by ops.Rounds. When the
    // rank vector outgrows broadcast (web-scale node counts), the same
    // loop runs with edges bucketed by src and a co-partitioned
    // shuffle join — the plan shape is a config, not a rewrite.
    // Every node in the edge set has deg >= 1 by construction (the edge
    // set is symmetric), so there is no dangling-mass term; isolated
    // parts (never co-purchased) are out of the graph by definition.
    "graph_pagerank_copurchase" -> QuerySpec(
      (s, d) => {
        val e0 = coPurchaseEdges(s, d)
        val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
        val edges = e0.join(deg, "src").localCheckpoint(true)
        val (nodes, n) =
          Rounds.land(e0.select(col("src").as("node")).distinct())
        // empty graph (degenerate fixture): zero nodes in, zero rank
        // rows out — 1.0/max(n,1) keeps the literal finite; it scales
        // zero rows either way
        val init = nodes
          .select(col("node"), lit(1.0 / math.max(n, 1L)).as("pr"))
        val (ranks, _) = Rounds.iterate(init, PagerankRounds) { (r, rows) =>
          pagerankRound(edges, nodes, r, 0.15 / math.max(n, 1L),
            hintBroadcast = rows <= Rounds.BroadcastRows)
        }.last
        ranks.orderBy(desc("pr"), asc("node")).limit(20)
      },
      // MATERIALIZED: each round references e and nodes, so DuckDB's
      // default CTE inlining would rebuild the distinct self-join edge
      // list ~2x per round (see graph_kcore for the pathological case).
      s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk
         |       FROM lineitem),
         |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e0
         |       GROUP BY src),
         |e AS MATERIALIZED (SELECT e0.src, e0.dst, deg.deg
         |       FROM e0 JOIN deg USING (src)),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e0),
         |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd
         |       FROM nodes),
         |r0 AS (SELECT node, 1.0 / (SELECT nd FROM nn) AS pr FROM nodes),
         |${(1 to PagerankRounds).map(duckRound).mkString(",\n")}
         |SELECT node, pr FROM r$PagerankRounds ORDER BY pr DESC, node LIMIT 20""".stripMargin),

    // k-core decomposition (fixed-round peeling): repeatedly delete nodes
    // of degree < k from the co-purchase graph — the density filter a
    // graph-dedup / community pipeline runs to strip hangers-on before
    // clustering. Five peel rounds, k = 8; like connectedComponents and
    // the PageRank loop this is a STATIC unrolled dataflow (no driver
    // convergence test on the hot path). The peel state is the
    // SURVIVING-NODE SET, not a re-materialized edge list (r11: the sf1
    // stress sweep showed 5 full-edge localCheckpoints going disk-bound
    // at 24M edges — 53 s; the node-set recursion is identical set
    // algebra, edges_i = E0 ∩ (kept_i x kept_i), but per round only
    // scans the ONE materialized shared edge stage and checkpoints a
    // narrow node list). Per round: two broadcast semi-joins of the
    // edge scan against the kept set (co-partitioned shuffle join at
    // web scale) + one keyed degree agg. 5 rounds is a BUDGET, not the
    // semantics: Rounds.requireFixpoint (round-5 kept set == round-4
    // kept set; the landed counts suffice since each round's kept set
    // is a subset of the previous round's, and edges_i changes iff
    // kept_i does) turns a too-deep graph into a loud failure instead of
    // a silent not-quite-core (retained nodes with degree < k).
    "graph_kcore" -> QuerySpec(
      (s, d) => {
        val K = 8
        val e0 = coPurchaseEdges(s, d)
        // ONE broadcast per round, not two: both semi-joins probe the
        // SAME subtree (one shared val → same expr ids → ReuseExchange
        // dedupes the broadcast). Two structurally-distinct renames
        // built two ~nodes-sized broadcast hash tables per round — at
        // .sf1 under a 0.75 GB/core heap the five rounds' dead tables
        // (reclaimed only after a driver GC) starved execution memory.
        def restrict(kept: org.apache.spark.sql.DataFrame) = {
          val kn = kept.withColumnRenamed("node", "kn")
          e0.join(broadcast(kn), e0("src") === kn("kn"), "left_semi")
            .join(broadcast(kn), e0("dst") === kn("kn"), "left_semi")
        }
        // Round 1 peels from the RAW degree census: the initial kept set
        // is every src, and the edge set is symmetric by construction
        // (src set == dst set), so restricting by it is the identity —
        // the old shape paid a corpus-wide distinct + checkpoint + two
        // no-op semi-joins for it. This is exactly the oracle's k1.
        // Each round checkpoints (node, deg), not just the node list, so
        // the final output needs no extra restrict pass (below).
        def peel(edges: org.apache.spark.sql.DataFrame) = edges
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= K)
        val rounds = Rounds.iterate(peel(e0), 4) { (kept, _) =>
          peel(restrict(kept.select("node")))
        }
        // Loud truncation guard: if the last peel still removed nodes,
        // the 5-round unroll has NOT reached the true k-core.
        val (kept, nLast) = rounds.last
        Rounds.requireFixpoint("graph_kcore", 5, Rounds.dropped(rounds), nLast)
        // kept_5 == kept_4 (each round's kept set is a subset of the
        // previous one, and the guard just asserted equal counts), so
        // restrict(kept_5) == restrict(kept_4) and round 5's degree
        // census IS the core degree — the old final restrict+agg pass
        // recomputed a table the loop already produced.
        kept.select(col("node"), col("deg").as("core_deg"))
          .orderBy(desc("core_deg"), asc("node"))
          .limit(20)
      },
      {
        // Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
        // e$i references e${i-1} three times (directly + via both k$i
        // joins), so the inlined chain re-expands the 2M-edge distinct
        // self-join 3^5 times — at sf0.1 that exhausted DuckDB's temp
        // disk. Materialized, each round runs once (same fix as
        // Text.duckBpeCtes).
        def round(i: Int): String =
          s"""k$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1}
             |        GROUP BY src HAVING COUNT(*) >= 8),
             |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
             |        JOIN k$i a ON e.src = a.node
             |        JOIN k$i b ON e.dst = b.node)""".stripMargin
        s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk
           |       FROM lineitem),
           |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
           |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
           |${(1 to 5).map(round).mkString(",\n")}
           |SELECT src AS node, COUNT(*) AS core_deg FROM e5
           |GROUP BY src ORDER BY core_deg DESC, node LIMIT 20""".stripMargin
      }),

    // Bounded-depth reachability (k-hop BFS, k = 4) from a deterministic
    // seed over the co-purchase graph (one expansion round factored as
    // khopExpand below, plan-asserted in PhysicalPlanSpec) — the first
    // query a property-graph
    // user asks ("what can I reach in ≤k steps?"), and the primitive
    // under recommendation walks and blast-radius analyses. Spark: the
    // recursion UNROLLED as a static 4-round dataflow — per round the
    // (small) frontier is BROADCAST against the shared edge scan (edges
    // are never reshuffled, the same discipline as PageRank's rank
    // broadcast), new nodes are anti-joined against the visited set, and
    // both sets are localCheckpointed narrow tables. At web scale the
    // frontier/visited broadcast ceiling swaps for a co-partitioned
    // shuffle join on node id — the dataflow is otherwise unchanged.
    // Output: per-hop census (count + min/max/checksum of node ids) —
    // bounded rows at any graph size. Oracle: a genuine WITH RECURSIVE
    // BFS with a hop guard over the identical edge set.
    "graph_khop_reachability" -> QuerySpec(
      (s, d) => {
        val edges = coPurchaseEdges(s, d)
        // One scalar action for the seed (smallest node id): cheap,
        // deterministic, and keeps the unrolled plan static. An empty
        // graph seeds a NULL node — the oracle's recursive anchor does
        // the same, so hop 0 reports (n=1, NULL bounds) on both engines.
        val seedRow = edges.agg(min(col("src"))).head()
        val seedCol =
          if (seedRow.isNullAt(0)) lit(null).cast("long")
          else lit(seedRow.getLong(0))
        // r15: one eager materialization per hop (the new frontier),
        // not two — `visited` is the lazy union of the already-
        // checkpointed frontiers, so the growing visited set is never
        // re-materialized each round (same rows, same anti-join
        // semantics; 8 eager jobs -> 4).
        val seed = s.range(1)
          .select(seedCol.as("node"), lit(0L).as("hops"))
          .localCheckpoint(true)
        // Inline, not Rounds.iterate: each hop's step reads the whole hop
        // history (the visited union), not just the previous round.
        var hopTables = List(seed)
        var frontier = seed.select("node")
        for (i <- 1 to 4) {
          val visitedNodes = hopTables.map(_.select("node"))
            .reduce(_ unionByName _)
          val next = khopExpand(edges, frontier, visitedNodes)
            .localCheckpoint(true)
          hopTables = hopTables :+ next.withColumn("hops", lit(i.toLong))
          frontier = next
        }
        hopTables.reduce(_ unionByName _).groupBy("hops")
          .agg(count(lit(1)).as("n_nodes"),
            min("node").as("min_node"), max("node").as("max_node"),
            sum("node").as("sum_node"))
          .orderBy("hops")
      },
      """WITH RECURSIVE li AS MATERIALIZED (SELECT l_orderkey AS ok,
        |       l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |reach(node, hops) AS (
        |  SELECT MIN(src), CAST(0 AS BIGINT) FROM e
        |  UNION
        |  SELECT e.dst, r.hops + 1 FROM reach r
        |  JOIN e ON r.node = e.src WHERE r.hops < 4
        |),
        |mh AS (SELECT node, MIN(hops) AS hops FROM reach GROUP BY node)
        |SELECT hops, COUNT(*) AS n_nodes,
        |       MIN(node) AS min_node, MAX(node) AS max_node,
        |       CAST(SUM(node) AS BIGINT) AS sum_node
        |FROM mh GROUP BY hops ORDER BY hops""".stripMargin),

    // Community detection by synchronous label propagation (LPA): init
    // label(v) = v, then 3 rounds of "adopt the most frequent neighbor
    // label, ties to the smallest label" — the frequency-based
    // counterpart to dedup_cluster_canonical's min-label connected
    // components (which ignores edge multiplicity; LPA is what a
    // community/affinity pipeline actually runs). Runs over the
    // support-≥2 AFFINITY BACKBONE (see affinityBackbone: the raw
    // co-purchase blob has min degree 42 — LPA over it converges to
    // one giant label, vacuously; the backbone carries real community
    // structure at every fixture scale, and is ~300× smaller at
    // sf0.1). All counts are
    // integers and the tie-break is total, so the bounded-round result
    // is deterministic on both engines even where LPA legitimately
    // oscillates (bipartite neighborhoods) — and the output CARRIES a
    // `converged` flag (round-3 labels == round-2 labels) so truncation
    // is visible in the result, not silent (the graph_kcore lesson).
    // Scale shape per round: the |nodes|-row label vector BROADCASTs
    // against the localCheckpointed backbone scan (edges never
    // reshuffle — same discipline as PageRank's rank broadcast,
    // plan-asserted via lpaRound), the (dst, label) count is a
    // map-side-combined keyed agg, and the argmax window partitions by
    // dst over that node's distinct neighbor labels — never global. At
    // web-scale node counts the broadcast swaps for a co-partitioned
    // shuffle join, the dataflow otherwise unchanged.
    "graph_label_propagation" -> QuerySpec(
      (s, d) => {
        val (labels, nChanged) = lpaLabels(s, d)
        labels.groupBy("label")
          .agg(count(lit(1)).as("n_members"))
          .withColumn("converged", lit(nChanged == 0L))
          .orderBy("label")
      },
      s"""WITH ${duckLpaCtes(3)},
         |chg AS (SELECT COUNT(*) AS n FROM l3 a JOIN l2 b
         |        USING (node) WHERE a.label <> b.label)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         |       (SELECT n FROM chg) = 0 AS converged
         |FROM l3 GROUP BY label ORDER BY label""".stripMargin),

    // Modularity of the LPA communities: Q = Σ_c [m_c/m − (d_c/2m)²] —
    // the standard "are these communities better than chance" score
    // (Newman-Girvan), the number a pipeline checks BEFORE trusting a
    // partition for downstream sharding or curriculum grouping. Over
    // the symmetric edge list everything is integer: 2m = |rows|,
    // 2m_c = same-label rows, d_c = Σ deg — so each community's term is
    // a closed-form double over exact counts, and the corpus-wide Q
    // accumulates through the floor(term·2⁴⁰) decimal lift (order-free;
    // floor of a negative term is equally deterministic). Plan shape:
    // the label vector joins the edge scan twice (src/dst) — both
    // broadcasts, edges never reshuffled, same discipline as the LPA
    // rounds themselves — then two keyed aggs on the label grain.
    "graph_lpa_modularity" -> QuerySpec(
      (s, d) => {
        // Same affinity backbone the labels were computed over — the
        // quality metric and the community definition share one graph.
        val edges = affinityBackbone(s, d)
        val (labels, _) = lpaLabels(s, d)
        val twoM = edges.count()
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val comm = deg.join(broadcast(labels), "node")
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"), sum("deg").as("deg_sum"))
        val intra = edges
          .join(broadcast(labels.withColumnRenamed("node", "src")
            .withColumnRenamed("label", "sl")), "src")
          .join(broadcast(labels.withColumnRenamed("node", "dst")
            .withColumnRenamed("label", "dl")), "dst")
          .filter(col("sl") === col("dl"))
          .groupBy(col("sl").as("label"))
          .agg(count(lit(1)).as("intra2"))
        val md = lit(twoM.toDouble)
        val term = coalesce(col("intra2"), lit(0L)).cast("double") / md -
          (col("deg_sum").cast("double") / md) *
            (col("deg_sum").cast("double") / md)
        val perC = comm.join(intra, Seq("label"), "left")
          .select(col("label"), col("n_members"),
            (coalesce(col("intra2"), lit(0L)) / lit(2)).cast("long")
              .as("intra_edges"),
            col("deg_sum"), term.as("q_term"))
        val q = perC.agg((sum(floor(col("q_term") * lit(1099511627776.0))
            .cast("decimal(38,0)")).cast("double") / lit(1099511627776.0))
          .as("modularity"))
        perC.crossJoin(broadcast(q)).orderBy("label")
      },
      s"""WITH ${duckLpaCtes(3)},
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM e0 GROUP BY 1),
         |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m FROM e0),
         |comm AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         |           CAST(SUM(deg) AS BIGINT) AS deg_sum
         |         FROM deg JOIN l3 USING (node) GROUP BY 1),
         |intra AS (SELECT ls.label, CAST(COUNT(*) AS BIGINT) AS intra2
         |          FROM e0 JOIN l3 ls ON e0.src = ls.node
         |                  JOIN l3 ld ON e0.dst = ld.node
         |          WHERE ls.label = ld.label GROUP BY 1),
         |perc AS (SELECT label, n_members,
         |           COALESCE(intra2, 0) // 2 AS intra_edges, deg_sum,
         |           CAST(COALESCE(intra2, 0) AS DOUBLE)
         |             / CAST((SELECT two_m FROM m2) AS DOUBLE)
         |           - (CAST(deg_sum AS DOUBLE)
         |              / CAST((SELECT two_m FROM m2) AS DOUBLE))
         |             * (CAST(deg_sum AS DOUBLE)
         |                / CAST((SELECT two_m FROM m2) AS DOUBLE))
         |             AS q_term
         |         FROM comm LEFT JOIN intra USING (label)),
         |q AS (SELECT CAST(SUM(CAST(floor(q_term * 1099511627776.0)
         |          AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0
         |          AS modularity
         |      FROM perc)
         |SELECT label, n_members, intra_edges, deg_sum, q_term,
         |       modularity
         |FROM perc, q ORDER BY label""".stripMargin),

    // Per-community CONDUCTANCE over the same shared LPA labels — the
    // cut-based community-quality metric next to modularity: φ(C) =
    // cut(C) / min(vol(C), 2m − vol(C)), where on the symmetric edge
    // list the ordered cross count with source label C equals the
    // undirected cut. All counts are exact integers and the division is
    // one rational double op, so nothing order-dependent crosses the
    // engine boundary. Plan shape identical to the modularity audit:
    // labels broadcast onto the edge scan twice, two keyed aggs on the
    // label grain, edges never reshuffled.
    "graph_community_conductance" -> QuerySpec(
      (s, d) => {
        // Same affinity backbone the labels were computed over — the
        // quality metric and the community definition share one graph.
        val edges = affinityBackbone(s, d)
        val (labels, _) = lpaLabels(s, d)
        val twoM = edges.count()
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val comm = deg.join(broadcast(labels), "node")
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"), sum("deg").as("vol"))
        val cut = edges
          .join(broadcast(labels.withColumnRenamed("node", "src")
            .withColumnRenamed("label", "sl")), "src")
          .join(broadcast(labels.withColumnRenamed("node", "dst")
            .withColumnRenamed("label", "dl")), "dst")
          .filter(col("sl") =!= col("dl"))
          .groupBy(col("sl").as("label"))
          .agg(count(lit(1)).as("cut_edges"))
        // φ is undefined when one community holds ALL volume
        // (min(vol, 2m−vol) = 0 — seen on the sf0.001 fixture where LPA
        // converges to a single community): NULL the denominator rather
        // than divide by zero under ANSI mode.
        comm.join(cut, Seq("label"), "left")
          .select(col("label"), col("n_members"), col("vol"),
            coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
            (coalesce(col("cut_edges"), lit(0L)).cast("double") /
              nullif(least(col("vol"), lit(twoM) - col("vol")), lit(0L))
                .cast("double"))
              .as("conductance"))
          .orderBy("label")
      },
      s"""WITH ${duckLpaCtes(3)},
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM e0 GROUP BY 1),
         |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m FROM e0),
         |comm AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
         |           CAST(SUM(deg) AS BIGINT) AS vol
         |         FROM deg JOIN l3 USING (node) GROUP BY 1),
         |cut AS (SELECT ls.label, CAST(COUNT(*) AS BIGINT) AS cut_edges
         |        FROM e0 JOIN l3 ls ON e0.src = ls.node
         |                JOIN l3 ld ON e0.dst = ld.node
         |        WHERE ls.label <> ld.label GROUP BY 1)
         |SELECT c.label, c.n_members, c.vol,
         |       COALESCE(t.cut_edges, 0) AS cut_edges,
         |       CAST(COALESCE(t.cut_edges, 0) AS DOUBLE)
         |         / CAST(NULLIF(least(c.vol,
         |             (SELECT two_m FROM m2) - c.vol), 0) AS DOUBLE)
         |         AS conductance
         |FROM comm c LEFT JOIN cut t USING (label)
         |ORDER BY c.label""".stripMargin),

    // Triangle census + global clustering coefficient over the shared
    // co-purchase graph — the standard graph-density/community-structure
    // profile (and the building block of motif counting). Algorithm:
    // degree orientation — every undirected edge points from its
    // (deg, id)-smaller endpoint to the larger, turning the graph into a
    // DAG where each triangle survives as EXACTLY one directed wedge
    // a->b->c closed by a->c. This is the classic distributed-triangle
    // trick: a node's oriented out-degree is O(sqrt(m)) regardless of
    // its raw degree, so the wedge join never explodes on hubs (a
    // celebrity node with 1M neighbors contributes ~sqrt wedges, not
    // 10^12). On the oriented DAG the count is computed compact-forward
    // style: each node's out-neighbors become ONE sorted adjacency array
    // (keyed agg, arrays bounded O(sqrt m) by the orientation), and per
    // oriented edge (u,v) the closing count is |N+(u) ∩ N+(v)| via the
    // codegen'd SortedIntersectSize merge — the wedge set is never
    // materialized, never shuffled (the first cut of this query shuffled
    // 49M wedge rows through the closing join at sf0.1: 12.9 s; this
    // fold is ~2 s). Scale shape: the degree table and the adjacency
    // table (both |nodes| rows; adjacency payload = |edges| longs total)
    // BROADCAST against the edge scan — the edge list is never
    // reshuffled — with the usual co-partitioned-join fallback once
    // adjacency outgrows broadcast at web scale. Wedge count
    // Σ deg·(deg−1)/2 is exact integer arithmetic (`div`), and the
    // clustering coefficient 3·tri/wedges is one rational double
    // division, identical on both engines. The oracle deliberately keeps
    // the INDEPENDENT wedge-join + EXISTS formulation — two different
    // algorithms agreeing on the census.
    "graph_triangle_census" -> QuerySpec(
      (s, d) => {
        val e = coPurchaseEdges(s, d) // symmetric, distinct
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val o = orientEdges(e, deg).localCheckpoint(true)
        val tri = triangleCount(o)
        val stats = deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"))
        val ne = e.agg((count(lit(1)) / lit(2)).cast("long").as("n_edges"))
        stats.crossJoin(ne).crossJoin(tri)
          .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
            col("n_wedges"),
            (lit(3.0) * col("n_triangles").cast("double") /
              col("n_wedges").cast("double")).as("global_clustering"))
      },
      """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk
        |       FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS MATERIALIZED (SELECT src AS node,
        |         CAST(COUNT(*) AS BIGINT) AS deg
        |       FROM e GROUP BY 1),
        |o AS MATERIALIZED (SELECT e.src, e.dst FROM e
        |       JOIN deg d1 ON e.src = d1.node
        |       JOIN deg d2 ON e.dst = d2.node
        |       WHERE d1.deg < d2.deg
        |          OR (d1.deg = d2.deg AND e.src < e.dst)),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |        FROM o e1 JOIN o e2 ON e1.dst = e2.src
        |        WHERE EXISTS (SELECT 1 FROM o e3
        |                      WHERE e3.src = e1.src AND e3.dst = e2.dst)),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
        |       FROM deg),
        |ne AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_triangles, n_wedges,
        |       3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |         AS global_clustering
        |FROM st, ne, tri""".stripMargin),

    // Link prediction by neighbor Jaccard for a seed set (the 20
    // smallest part ids): rank each seed's NON-adjacent 2-hop neighbors
    // by |N(s) ∩ N(w)| / |N(s) ∪ N(w)| and keep the top 5 — "which
    // parts should co-purchase but don't yet", the substitute/affinity
    // recommendation a catalog team asks of exactly these named parts.
    // Scoping candidates to a seed set is what makes the operator
    // scale-honest on a degree-CONCENTRATED graph (probed: deg ≈ 120
    // everywhere, max 222 — hot-node suppression would discard most of
    // the graph, and unscoped all-pairs wedge enumeration is 148M rows
    // at sf0.1): per-seed candidates are bounded by deg², and the full
    // per-seed sweep is the same plan run off a seed table of any size.
    // Scale shape: candidates come from ONE broadcast hop (seed list ⋈
    // edges ⋈ edges, both joins broadcast the small side), existing
    // edges are removed by a broadcast anti-join of the candidate table,
    // scoring reuses the sorted-adjacency broadcast + codegen'd
    // intersect from the triangle fold (wedge sets never materialize),
    // and the top-5 window partitions BY SEED — never global. Jaccard is
    // one rational double division; ties break on candidate id so the
    // cut is total-ordered on both engines.
    "graph_link_prediction" -> QuerySpec(
      (s, d) => {
        val e = coPurchaseEdges(s, d) // symmetric, distinct
        val adj = e.groupBy(col("src").as("node"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"),
            count(lit(1)).as("deg"))
          .localCheckpoint(true)
        val seeds = adj.select(col("node").as("seed"))
          .orderBy("seed").limit(20)
        val cand = e.as("e1")
          .join(broadcast(seeds), col("e1.src") === col("seed"))
          .join(e.as("e2"), col("e1.dst") === col("e2.src"))
          .filter(col("e2.dst") =!= col("seed"))
          .select(col("seed"), col("e2.dst").as("candidate"))
          .distinct()
          .join(e.as("ex"),
            col("seed") === col("ex.src") &&
              col("candidate") === col("ex.dst"),
            "left_anti")
        val scored = cand
          .join(broadcast(adj).as("aa"), col("seed") === col("aa.node"))
          .join(broadcast(adj).as("ab"), col("candidate") === col("ab.node"))
          .select(col("seed"), col("candidate"),
            graft.expressions.SortedIntersectSize
              .sorted_intersect_size(col("aa.nbrs"), col("ab.nbrs"))
              .cast("long").as("common"),
            (col("aa.deg") + col("ab.deg")).as("degsum"))
          .select(col("seed"), col("candidate"), col("common"),
            (col("common").cast("double") /
              (col("degsum") - col("common")).cast("double")).as("jaccard"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("seed").orderBy(desc("jaccard"), asc("candidate"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .orderBy("seed", "rank")
      },
      """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk
        |       FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |adj AS MATERIALIZED (SELECT src AS node,
        |         list_sort(list(dst)) AS nbrs,
        |         CAST(COUNT(*) AS BIGINT) AS deg
        |       FROM e GROUP BY 1),
        |seeds AS (SELECT node AS seed FROM adj ORDER BY node LIMIT 20),
        |cand AS (SELECT DISTINCT s.seed, e2.dst AS candidate
        |         FROM seeds s JOIN e e1 ON e1.src = s.seed
        |                      JOIN e e2 ON e2.src = e1.dst
        |         WHERE e2.dst <> s.seed
        |           AND NOT EXISTS (SELECT 1 FROM e
        |                 WHERE e.src = s.seed AND e.dst = e2.dst)),
        |sc AS (SELECT c.seed, c.candidate,
        |         CAST(len(list_intersect(aa.nbrs, ab.nbrs)) AS BIGINT)
        |           AS common,
        |         aa.deg + ab.deg AS degsum
        |       FROM cand c JOIN adj aa ON c.seed = aa.node
        |                   JOIN adj ab ON c.candidate = ab.node)
        |SELECT seed, candidate, common,
        |       CAST(common AS DOUBLE) / CAST(degsum - common AS DOUBLE)
        |         AS jaccard,
        |       CAST(row_number() OVER (PARTITION BY seed
        |         ORDER BY CAST(common AS DOUBLE)
        |           / CAST(degsum - common AS DOUBLE) DESC, candidate)
        |         AS INT) AS rank
        |FROM sc
        |QUALIFY rank <= 5
        |ORDER BY seed, rank""".stripMargin),

    // Connected components via 6 synchronous min-label rounds (HashToMin
    // — the union-find of the dataflow world) over the co-purchase
    // BACKBONE: only edges whose part pair co-occurs in ≥ 3 DISTINCT
    // orders survive (the raw co-purchase graph is one dense blob — min
    // degree 42 at sf0.01 — so its CC is vacuously a single component;
    // the support filter keeps exactly the statistically meaningful
    // affinity edges a basket pipeline keeps, and leaves real component
    // structure to find). Every node starts labeled with its own id and
    // each round adopts the minimum label among itself and its
    // in-neighbors; the FIXED round count is the determinism contract,
    // mirrored CTE-for-round in the oracle, so both engines emit
    // identical labels even mid-convergence on a pathological chain.
    // Pure integer min/count arithmetic — nothing floats. Scale: the
    // support census rides the SHARED edge stage (one keyed agg charged
    // once per session — the basket-rules shape), so the backbone is a
    // filter over the materialized table; each round broadcasts the
    // label vector against the edge scan (edges never reshuffle),
    // aggregates map-side, and is landed by ops.Rounds — the LPA
    // discipline.
    "graph_connected_components" -> QuerySpec(
      (s, d) => {
        // backbone = a filter over the SHARED support-carrying edge
        // stage (already materialized) — no second corpus self-join.
        // Landed once: the label loop references edges 7 times (init +
        // 6 rounds), and the backbone is far smaller than the full
        // support table it filters.
        val edges = coPurchaseSupportEdges(s, d)
          .filter(col("support") >= 3)
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        val init = edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label"))
        // size-aware per-round residency bound, same dial as
        // pagerankRound/lpaRound: a label vector past ~1M nodes rides
        // a shuffle join instead of six broadcast hash tables
        val (labels, _) = Rounds.iterate(init, 6) { (ls, rows) =>
          val lside = if (rows <= Rounds.BroadcastRows) broadcast(ls) else ls
          val minIn = edges
            .join(lside, edges("src") === ls("node"))
            .groupBy(col("dst")).agg(min("label").as("minl"))
          ls.join(minIn, ls("node") === minIn("dst"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("minl"), col("label")))
                .as("label"))
        }.last
        labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
          .orderBy(desc("n_nodes"), asc("label")).limit(10)
      },
      {
        def round(i: Int): String =
          s"""c$i AS MATERIALIZED (
             |  SELECT n.node,
             |         LEAST(n.label, COALESCE(m.minl, n.label)) AS label
             |  FROM c${i - 1} n LEFT JOIN (
             |    SELECT e.dst, MIN(l.label) AS minl
             |    FROM e JOIN c${i - 1} l ON e.src = l.node
             |    GROUP BY 1) m ON n.node = m.dst)""".stripMargin
        s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok,
           |       l_partkey AS pk FROM lineitem),
           |e AS MATERIALIZED (
           |  SELECT src, dst FROM (
           |    SELECT a.pk AS src, b.pk AS dst,
           |           COUNT(DISTINCT a.ok) AS support
           |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
           |    GROUP BY 1, 2)
           |  WHERE support >= 3),
           |c0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
           |       FROM e),
           |${(1 to 6).map(round).mkString(",\n")}
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
           |FROM c6 GROUP BY 1
           |ORDER BY n_nodes DESC, label LIMIT 10""".stripMargin
      }),

    // Deterministic random-walk visit census (the DeepWalk/node2vec
    // corpus-generation primitive): 4-step walks from the 20 smallest
    // nodes over the co-purchase graph, where step t from node v moves
    // to sorted-neighbor index md5-hash(v, t) mod deg(v) — a
    // hash-derandomized uniform pick both engines replay bit-identically
    // (the same no-rand() discipline as every sampler here). Output:
    // top-20 most-visited nodes. Scale shape: the WALK FRONTIER
    // (bounded at |seeds| rows by construction) BROADCASTs against the
    // distributed adjacency scan each step — the adjacency table is
    // node-count-sized with neighbor ARRAYS, the one side that must
    // never ride a per-step broadcast (the r14 residency class found in
    // kcore/pagerank); at billions of walks the frontier join flips to
    // co-partitioned on cur, same plan. 4 static steps, no driver loop
    // decisions. Walk corpora feed skip-gram embedding trainers; this
    // is the exact extraction they run.
    "graph_walk_visit_census" -> QuerySpec(
      (s, d) => {
        val e = coPurchaseEdges(s, d)
        val adj = e.groupBy(col("src").as("node"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"),
            count(lit(1)).as("deg"))
          .localCheckpoint(true)
        val seeds = adj.select(col("node").as("seed"))
          .orderBy("seed").limit(20)
        // Rounds.land per step, not Rounds.iterate: the seed walk is not
        // landed, and step t hashes its own index t.
        val walks = (1 to WalkSteps).scanLeft(
            seeds.select(col("seed"), col("seed").as("cur"))) { (walk, t) =>
          Rounds.land(adj.join(broadcast(walk), walk("cur") === adj("node"))
            .select(col("seed"), element_at(col("nbrs"),
              (graft.ext.TextOps.hash64(
                concat_ws(":", col("cur"), lit(t))) % col("deg") + 1)
                .cast("int")).as("cur")))._1
        }
        walks.tail.map(_.select(col("cur").as("node"))).reduce(_ unionAll _)
          .groupBy("node").agg(count(lit(1)).as("visits"))
          .orderBy(desc("visits"), asc("node")).limit(20)
      },
      {
        // NB: this fragment is embedded in the outer oracle string whose
        // .stripMargin runs over it AGAIN — no line may start with
        // whitespace + '|' (a leading '||' concat loses its first pipe)
        def step(t: Int): String =
          s"""w$t AS MATERIALIZED (SELECT w.seed, a.nbrs[CAST(
             |    CAST(('0x' || substr(md5(CAST(w.cur AS VARCHAR) ||
             |      ':' || '$t'), 1, 15))::UBIGINT AS BIGINT)
             |    % a.deg + 1 AS INT)] AS cur
             |  FROM w${t - 1} w JOIN adj a ON w.cur = a.node)""".stripMargin
        s"""WITH $duckEdgeCtes,
           |adj AS MATERIALIZED (SELECT src AS node,
           |         list(dst ORDER BY dst) AS nbrs,
           |         CAST(COUNT(*) AS BIGINT) AS deg
           |       FROM e0 GROUP BY 1),
           |seeds AS (SELECT node AS seed FROM adj ORDER BY seed LIMIT 20),
           |w0 AS (SELECT seed, seed AS cur FROM seeds),
           |${(1 to WalkSteps).map(step).mkString(",\n")},
           |v AS (${(1 to WalkSteps)
                    .map(t => s"SELECT cur AS node FROM w$t")
                    .mkString("\n  UNION ALL\n  ")})
           |SELECT node, CAST(COUNT(*) AS BIGINT) AS visits
           |FROM v GROUP BY 1 ORDER BY visits DESC, node LIMIT 20""".stripMargin
      }),

    // HITS hubs & authorities (Kleinberg 1999) over the degree-ORIENTED
    // co-purchase DAG (orientation gives the undirected graph a
    // deterministic direction: low-degree part → high-degree part, so
    // "authorities" are the popular anchors and "hubs" the parts that
    // point at many of them). Three mutual-reinforcement rounds, each
    // one exactly PageRank's shape: the score vector BROADCASTs against
    // the edge scan, mass lands via a map-side-combined keyed agg of
    // 2^30-scaled quantized-integer contributions (order-free, exact at
    // any skew — see HitsScale for why the norm squares the integers),
    // and the L2 normalization is one scalar (sqrt of a scaled decimal
    // sum) applied via a 1-row broadcast — the edge list never
    // reshuffles. The oracle replays every round CTE-by-CTE in lockstep
    // (same floor/decimal/unscale, same division order); nodes that
    // receive no mass carry score 0 and are simply absent on BOTH
    // engines. Output: top-10 authorities and top-10 hubs.
    "graph_hits_hubs_authorities" -> QuerySpec(
      (s, d) => {
        val S = HitsScale.toDouble // 2^30 (see HitsScale note)
        val e = coPurchaseEdges(s, d)
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val o = orientEdges(e, deg).localCheckpoint(true)
        // Quantize the NORMALIZED score (∈ [0,1], so ·2^30 < 2^31 —
        // floor's long result can never clamp), accumulate raw mass as
        // exact 2^-30-unit LONGs, and square THOSE integers for the L2
        // norm — never floor(s²·2^30): at celebrity skew that double
        // reaches ~1e20 and Spark's floor→long silently CLAMPS at 2^63
        // while DuckDB's floor stays double (the .sf2hot finding; the
        // per-round normalization hid it down at the 1e-13 residue).
        // bound: rs ≤ maxdeg·2^30 (~3.3e14 at .sf2hot) < 2^53, exact in
        // long and double; rs² ≤ ~1.1e29 exact in decimal(38,0).
        def quant(c: org.apache.spark.sql.Column) = floor(c * lit(S))
        def normalizeScaled(raw: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val n2 = raw.agg(
            sum(col("rs").cast("decimal(19,0)") *
              col("rs").cast("decimal(19,0)")).as("n2"))
          // one correctly rounded decimal→double conversion, then IEEE
          // sqrt/divide — bit-identical on both engines at any skew
          raw.crossJoin(broadcast(
              n2.select(sqrt(col("n2").cast("double")).as("nrm"))))
            .select(col("node"),
              (col("rs").cast("double") / col("nrm")).as("s"))
        }
        var h = o.select(col("src").as("node")).distinct()
          .select(col("node"), lit(1.0).as("s")).localCheckpoint(true)
        var a: org.apache.spark.sql.DataFrame = null
        // Inline, not Rounds.iterate: a round is two half-steps (hubs
        // and authorities), and no round needs a count.
        // r16: checkpoint the RAW mass table (node, rs) and normalize
        // lazily off the checkpoint. normalizeScaled references `raw`
        // twice (under the n2 agg that builds the broadcast, and as the
        // probe side of the crossJoin); in the r15 shape (checkpoint
        // AFTER normalize) the two references shared expression ids, so
        // ReuseExchange already deduplicated the heavy edge-join +
        // groupBy — the paired JobProbe census confirms near-parity
        // (taskTime 59.2 -> 52.4 s, wall flat in a paired A/B at both
        // 32 and 8 cores; the ~11% is the duplicated above-exchange
        // projection going away). Kept because the new shape does not
        // DEPEND on ReuseExchange firing (one materialized subtree by
        // construction), lineage is equally bounded (depth-1 projection
        // over a checkpoint), and every float/decimal op is unchanged —
        // bit-identical scores.
        def halfStep(mass: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          normalizeScaled(mass.localCheckpoint(true))
        for (_ <- 1 to HitsRounds) {
          a = halfStep(
            o.join(broadcast(h), o("src") === h("node"))
              .groupBy(o("dst").as("node"))
              .agg(sum(quant(col("s"))).as("rs")))
          h = halfStep(
            o.join(broadcast(a), o("dst") === a("node"))
              .groupBy(o("src").as("node"))
              .agg(sum(quant(col("s"))).as("rs")))
        }
        a.orderBy(desc("s"), asc("node")).limit(10)
          .select(lit("authority").as("role"), col("node"),
            col("s").as("score"))
          .unionAll(
            h.orderBy(desc("s"), asc("node")).limit(10)
              .select(lit("hub").as("role"), col("node"),
                col("s").as("score")))
          .orderBy(col("role"), desc("score"), asc("node"))
      },
      {
        val S = "1073741824.0"
        // Lockstep replay of the scaled-integer design: quantized
        // contributions are BIGINTs (h.s ∈ [0,1] ⇒ floor(h.s·2^30) <
        // 2^31, no clamp on either engine), raw mass rs is an exact
        // integer sum, the L2 norm squares the INTEGERS in HUGEINT
        // (Spark: decimal(38,0)) and exits ONCE via VARCHAR — the
        // correctly rounded conversion matching Spark's
        // BigDecimal.doubleValue at any magnitude (rs² ~1e29 at
        // .sf2hot's celebrity head). sqrt and the final divide are
        // IEEE-identical given identical inputs.
        def round(i: Int): String =
          s"""ar$i AS MATERIALIZED (SELECT o.dst AS node,
             |    SUM(CAST(FLOOR(h.s * $S) AS BIGINT)) AS rs
             |  FROM o JOIN h${i - 1} h ON o.src = h.node GROUP BY 1),
             |an$i AS MATERIALIZED (SELECT sqrt(CAST(CAST(
             |    SUM(CAST(rs AS HUGEINT) * CAST(rs AS HUGEINT))
             |      AS VARCHAR) AS DOUBLE)) AS nrm FROM ar$i),
             |a$i AS MATERIALIZED (SELECT node,
             |    CAST(rs AS DOUBLE) / (SELECT nrm FROM an$i) AS s
             |  FROM ar$i),
             |hr$i AS MATERIALIZED (SELECT o.src AS node,
             |    SUM(CAST(FLOOR(a.s * $S) AS BIGINT)) AS rs
             |  FROM o JOIN a$i a ON o.dst = a.node GROUP BY 1),
             |hn$i AS MATERIALIZED (SELECT sqrt(CAST(CAST(
             |    SUM(CAST(rs AS HUGEINT) * CAST(rs AS HUGEINT))
             |      AS VARCHAR) AS DOUBLE)) AS nrm FROM hr$i),
             |h$i AS MATERIALIZED (SELECT node,
             |    CAST(rs AS DOUBLE) / (SELECT nrm FROM hn$i) AS s
             |  FROM hr$i)""".stripMargin
        s"""WITH $duckEdgeCtes,
           |deg AS MATERIALIZED (SELECT src AS node,
           |         CAST(COUNT(*) AS BIGINT) AS deg
           |       FROM e0 GROUP BY 1),
           |o AS MATERIALIZED (SELECT e0.src, e0.dst FROM e0
           |       JOIN deg d1 ON e0.src = d1.node
           |       JOIN deg d2 ON e0.dst = d2.node
           |       WHERE d1.deg < d2.deg
           |          OR (d1.deg = d2.deg AND e0.src < e0.dst)),
           |h0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0 AS s
           |       FROM o),
           |${(1 to HitsRounds).map(round).mkString(",\n")}
           |SELECT * FROM (
           |  SELECT 'authority' AS role, node, s AS score FROM a$HitsRounds
           |  ORDER BY s DESC, node LIMIT 10)
           |UNION ALL
           |SELECT * FROM (
           |  SELECT 'hub' AS role, node, s AS score FROM h$HitsRounds
           |  ORDER BY s DESC, node LIMIT 10)
           |ORDER BY role, score DESC, node""".stripMargin
      }),

    // Degree assortativity (Newman 2002): do high-degree parts co-purchase
    // with high-degree parts? Pearson correlation of (deg(src), deg(dst))
    // over the symmetric directed edge list. Because the edge list stores
    // both orientations, the j- and k-marginals coincide, so Newman's r
    // collapses to the fully RATIONAL form
    //   r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)
    // — no sqrt, no mean: every Σ is an exact BIGINT aggregate (degrees
    // are integers) and the single division is one double op with
    // integer-exact operands on both engines (products computed in
    // double: M·Σj² overflows BIGINT once M ~ 1e7 · deg² ~ 1e4; the
    // doubles are exact to 2^53 and both engines round identically
    // beyond it). Scale shape: the degree table (|nodes| rows) BROADCASTs
    // twice against the edge scan — the edge list never reshuffles — and
    // the final agg is one map-side-combined global fold.
    "graph_degree_assortativity" -> QuerySpec(
      (s, d) => {
        val e = coPurchaseEdges(s, d) // symmetric, distinct
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val jk = e
          .join(broadcast(deg).as("dj"), e("src") === col("dj.node"))
          .join(broadcast(deg).as("dk"), e("dst") === col("dk.node"))
          .select(col("dj.deg").as("j"), col("dk.deg").as("k"))
        jk.agg(count(lit(1)).as("m"), sum(col("j")).as("sj"),
            sum(col("j") * col("k")).as("sjk"),
            sum(col("j") * col("j")).as("sj2"))
          .select(col("m"), col("sj"), col("sjk"), col("sj2"),
            ((col("m").cast("double") * col("sjk").cast("double") -
              col("sj").cast("double") * col("sj").cast("double")) /
             (col("m").cast("double") * col("sj2").cast("double") -
              col("sj").cast("double") * col("sj").cast("double")))
              .as("assortativity"))
      },
      s"""WITH $duckEdgeCtes,
         |deg AS MATERIALIZED (SELECT src AS node,
         |         CAST(COUNT(*) AS BIGINT) AS deg
         |       FROM e0 GROUP BY 1),
         |jk AS (SELECT dj.deg AS j, dk.deg AS k
         |       FROM e0 JOIN deg dj ON e0.src = dj.node
         |               JOIN deg dk ON e0.dst = dk.node),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |        CAST(SUM(j) AS BIGINT) AS sj,
         |        CAST(SUM(j * k) AS BIGINT) AS sjk,
         |        CAST(SUM(j * j) AS BIGINT) AS sj2
         |      FROM jk)
         |SELECT m, sj, sjk, sj2,
         |       (CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE) -
         |        CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) /
         |       (CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE) -
         |        CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) AS assortativity
         |FROM s""".stripMargin)
  )

  /** Degree-orient a symmetric edge list: keep (src, dst) iff src is the
    * (deg, id)-lexicographically smaller endpoint. `deg` must carry
    * (node, deg) for every node in `edges`. Exposed for the triangle
    * spec and the physical plan test (deg broadcasts; edges never
    * shuffle through the orientation). */
  private[graft] def orientEdges(edges: org.apache.spark.sql.DataFrame,
                                 deg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges
      .join(broadcast(deg).as("d1"), edges("src") === col("d1.node"))
      .join(broadcast(deg).as("d2"), edges("dst") === col("d2.node"))
      .filter(col("d1.deg") < col("d2.deg") ||
        (col("d1.deg") === col("d2.deg") && edges("src") < edges("dst")))
      .select(edges("src"), edges("dst"))

  /** Triangle count over a degree-oriented DAG edge list, compact-forward
    * style: build each node's SORTED out-adjacency array once, then per
    * edge (u,v) sum |N+(u) ∩ N+(v)| with the codegen'd one-pass merge.
    * Each triangle a→b→c is counted exactly once — at its unique edge
    * (a,b) whose endpoints both point to c. The adjacency table
    * BROADCASTs against the edge scan (wedges never materialize); the
    * inner joins drop edges whose endpoint has no out-neighbors, which
    * contribute zero anyway. */
  private[graft] def triangleCount(o: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val adj = o.groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    o.join(broadcast(adj).as("au"), o("src") === col("au.node"))
      .join(broadcast(adj).as("av"), o("dst") === col("av.node"))
      .select(graft.expressions.SortedIntersectSize
        .sorted_intersect_size(col("au.nbrs"), col("av.nbrs")).as("c"))
      // coalesce: a triangle-free graph leaves the joins empty (a leaf
      // endpoint has no out-neighbors) — that's count 0, not null
      .agg(coalesce(sum(col("c").cast("long")), lit(0L)).as("n_triangles"))
  }

  /** One LPA round, PRE-checkpoint (exposed for the physical plan test):
    * the label vector BROADCASTs against the edge scan; the only
    * Exchanges are the two map-side-combined keyed aggs. The argmax is
    * a WINDOW-FREE max over struct(cnt, -label) — lexicographic struct
    * ordering encodes "highest count, ties to smallest label" as a
    * total order, so no per-partition sort ever runs (the same
    * sort-avoidance as the IVF assignment's array_min fold). */
  private[graft] def lpaRound(edges: org.apache.spark.sql.DataFrame,
                              labels: org.apache.spark.sql.DataFrame,
                              hintBroadcast: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    // Same size-aware residency bound as pagerankRound (r14 found the
    // unbounded form starving execution memory at 0.75 GB/core): a
    // label vector past ~1M nodes rides a shuffle join instead of a
    // per-round broadcast hash table. AQE still picks broadcast when
    // the vector is small, so sandbox-scale plans are unchanged.
    val lside = if (hintBroadcast) broadcast(labels) else labels
    edges.join(lside, edges("src") === labels("node"))
      .groupBy(col("dst"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col("dst").as("node"), (-col("m.nl")).as("label"))
  }

  /** The AFFINITY BACKBONE: co-purchase pairs supported by >= 2
    * distinct orders — the statistically meaningful affinity edges
    * (a single co-occurrence in a basket is noise; repetition is
    * signal). The raw co-purchase graph is one dense blob (min degree
    * 42 at sf0.01), so community detection over it is vacuous — LPA
    * converges to a single giant label; over the backbone it finds
    * real structure at every fixture scale (sf0.001/0.01/0.1: 4.6k /
    * 6.9k / 7.1k edges vs 18k / 231k / 2.39M raw). This is the same
    * support-filter reframing graph_connected_components proved out
    * (r10 verdict) with the threshold one notch lower to keep
    * community-grained structure. Built as a FILTER over the shared
    * materialized support stage (no second self-join), checkpointed
    * once because the LPA rounds + modularity + conductance reference
    * it 7 times between them. Footprint: a few thousand narrow rows. */
  private val backboneCache =
    new graft.util.SessionScopedCache[org.apache.spark.sql.DataFrame]()

  private[queries] def affinityBackbone(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    backboneCache.getOrBuild(s, d) {
      coPurchaseSupportEdges(s, d).filter(col("support") >= 2)
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
    }

  /** One LPA label build per (session, sf-dir) — the label vector is
    * consumed by BOTH graph_label_propagation and the modularity audit,
    * so like the edge list it is built once and shared (the bench
    * charges it to its own `graph_lpa_shared_labels` entry).
    *
    * Three synchronous LPA rounds over the AFFINITY BACKBONE
    * (support >= 2 — see [[affinityBackbone]]; r11 change, oracles
    * moved in lockstep); returns (final labels, #nodes whose label
    * changed in the last round) — shared by graph_label_propagation
    * and the modularity audit so the community definition cannot
    * drift between them. */
  private[graft] val lpaLabels =
    new graft.util.SharedStage[(org.apache.spark.sql.DataFrame, Long)](
        "graph_lpa_shared_labels")({ (s, d) =>
      val edges = affinityBackbone(s, d)
      val rounds = Rounds.iterate(
          edges.select(col("src").as("node")).distinct()
            .select(col("node"), col("node").as("label")), 3) {
        (ls, rows) =>
          lpaRound(edges, ls, hintBroadcast = rows <= Rounds.BroadcastRows)
      }
      val Seq(prev, labels) = rounds.takeRight(2).map(_._1)
      (labels, Rounds.changedRows(prev, labels, "node", "label"))
    })

  /** DuckDB CTE chain mirroring [[lpaLabels]]: li + the support-≥2
    * AFFINITY BACKBONE as `e0` (so the modularity/conductance oracles'
    * deg/volume/cut reads move in lockstep with the Spark side), l0
    * identity labels, l1..l`rounds` propagation rounds (MATERIALIZED —
    * the CTE-inlining blowup guard). Ends with `l$rounds(node, label)`
    * available, plus e0 for consumers that need the edge list. */
  private def duckLpaCtes(rounds: Int): String = {
    def round(i: Int): String =
      s"""l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT dst AS node, label, COUNT(*) AS cnt
         |    FROM e0 JOIN l${i - 1} l ON e0.src = l.node
         |    GROUP BY 1, 2) t
         |  QUALIFY row_number() OVER (PARTITION BY node
         |    ORDER BY cnt DESC, label) = 1)""".stripMargin
    s"""li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |       l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT a.pk AS src, b.pk AS dst,
       |           COUNT(DISTINCT a.ok) AS support
       |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
       |    GROUP BY 1, 2)
       |  WHERE support >= 2),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
       |       FROM e0),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** DuckDB CTE prefix building the shared co-purchase edge list
    * (`e0(src, dst)`), shared by every oracle that consumes
    * [[coPurchaseEdges]]. */
  private def duckEdgeCtes: String =
    s"""li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |       l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk)""".stripMargin
}
