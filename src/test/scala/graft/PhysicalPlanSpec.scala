package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Physical-plan assertions backing the 100 TB design claims: bucketing
  * removes the join shuffle; partitioned layouts prune at the source;
  * dimension joins broadcast. These are the plans the engine is designed
  * to produce — asserted, not just documented. */
class PhysicalPlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed tables co-locate: equi-join runs with no shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // a previously-failed run can orphan the managed location on disk
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      val p = java.nio.file.Paths.get("target/spark-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    graft.io.Writers.bucketTable(Tables.lineitem(spark, sf),
      "li_bucketed", 4, Seq("l_orderkey"))
    graft.io.Writers.bucketTable(Tables.orders(spark, sf),
      "ord_bucketed", 4, Seq("o_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("li_bucketed").join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_quantity", "o_orderstatus")
    val p = plan(joined)
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Exchange"),
      s"bucketed join should not shuffle:\n$p")
    assert(joined.collect().nonEmpty)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.orders(spark, sf).withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("status"),
      s"expected partition filters in scan:\n$scan")
    // only the F partition's files are read
    val partitionsRead = pruned.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(partitionsRead == 1, s"expected 1 partition, read $partitionsRead")
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // The 100 TB scan saver STATIC pruning can't give: the fact filter
    // comes from a JOIN against a filtered dimension, so which
    // partitions survive is only known at runtime. Spark injects a
    // dynamicpruning subquery into the partitioned fact scan; without
    // it, every status partition of a 100 TB fact table would be read
    // just to be thrown away by the join.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    Tables.orders(spark, sf).withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    // dim must be a SCANNED relation (a LocalRelation has no scan to
    // estimate, so the benefit heuristic never fires); useStats=false
    // makes the tiny fixture take the same fallback-ratio decision a
    // TB-scale plan takes from real stats.
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
      .toDF("status_key", "label")
      .write.mode("overwrite").parquet(dimDir)
    val prev = spark.conf
      .getOption("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val joined = spark.read.parquet(dir)
        .join(spark.read.parquet(dimDir).filter(col("label") === "finished"),
          col("status") === col("status_key"))
        .select("o_orderkey", "status", "label")
      val scan = joined.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).find(_.contains("PartitionFilters")).getOrElse("")
      assert(scan.contains("dynamicpruning"),
        s"expected a dynamic pruning subquery in the fact scan:\n$scan")
      assert(joined.collect().nonEmpty)
    } finally prev.fold(spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats"))(
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", _))
  }

  test("runtime bloom filter: a selective dim join injects a fact-side bloom probe") {
    // Runtime filtering for NON-partition join keys: the optimizer
    // builds a bloom filter from the selective dim side and probes it
    // on the fact side BEFORE the shuffle — at 100 TB this drops the
    // shuffled fact volume by the join's selectivity without any layout
    // prerequisite. Thresholds are lowered so the sf0.001 fixture
    // triggers the same decision a TB-scale plan makes by default.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      // no broadcast: force the shuffle join the bloom probe protects
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables.lineitem(spark, sf)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity")
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter probe in the optimized plan:\n$p")
      assert(joined.collect().nonEmpty)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val q = SparkEntry.registry("join_three_way").fn(spark, sf)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("filters and projection reach the parquet scan") {
    val df = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 100000.0)
      .select("o_orderkey")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(o_totalprice"), scan)
    assert(scan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), scan)
  }

  test("bloom probe broadcasts the filter (fact side never shuffles for it)") {
    val q = SparkEntry.registry("bloom_filter_semi_prune").fn(spark, sf)
    assert(plan(q).contains("BroadcastHashJoin"), plan(q))
  }

  test("Q14-style part join broadcasts the dimension") {
    val q = SparkEntry.registry("promo_revenue_share").fn(spark, sf)
    assert(plan(q).contains("BroadcastHashJoin"), plan(q))
  }

  test("global sort + limit plans as TakeOrderedAndProject (per-partition heaps)") {
    Seq("topk_orders_by_price", "reservoir_sample_hash").foreach { name =>
      val q = SparkEntry.registry(name).fn(spark, sf)
      assert(plan(q).contains("TakeOrderedAndProject"), s"$name:\n${plan(q)}")
    }
  }

  test("pair queries block on equi-keys — no unblocked all-pairs join") {
    // The three near-dup pair plans must generate candidates through an
    // equi-join on a blocking key (band value / LSH bucket), never a
    // cartesian or nested-loop pair enumeration over the corpus.
    // (graph_triangle_count is excluded: its triangle joins are equi-keyed
    // but it deliberately cross-joins two single-row aggregates at the end)
    Seq("dedup_simhash", "dedup_embedding_cosine", "fuzzy_match_levenshtein",
        "events_interval_overlap", "similarity_knn_join",
        "dedup_containment_pairs", "dedup_substring_spans",
        "multimodal_chunk_dedup", "text_lm_plausibility",
        "dedup_source_overlap_matrix", "similarity_hard_negative_mining",
        "embedding_matryoshka_audit")
      .foreach { name =>
        val p = plan(SparkEntry.registry(name).fn(spark, sf))
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join:\n$p")
      }
  }

  test("semdedup pair join is equi-keyed; its only nested loops are 1-row broadcasts") {
    // similarity_semdedup_prune legitimately contains BroadcastNestedLoopJoin
    // Cross nodes: they are the 1-ROW broadcast centroid-array folds of the
    // shuffle-free IVF assignment (the shape the IVF test below asserts FOR).
    // What must NOT happen is the within-cell pair enumeration running as a
    // cartesian: the candidate join has to be an equi hash/merge join on the
    // composite (cell, bucket) key.
    val p = plan(SparkEntry.registry("similarity_semdedup_prune").fn(spark, sf))
    assert(!p.contains("CartesianProduct"), s"semdedup cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin Inner") ||
      p.contains("SortMergeJoin") && p.contains("Inner"),
      s"semdedup pair join is not an equi join:\n$p")
    val nlj = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).length
    // one per ivfAssign call site (assignment is invoked for the pair's two
    // aliases + the per-cell census); all build a single aggregated row
    assert(nlj <= 3, s"unexpected nested-loop joins ($nlj):\n$p")
  }

  test("fingerprint pair joins consume a MATERIALIZED hash table") {
    // Regression pin for the per-pair deferred-evaluation cliff
    // (PERF.md round 6): simhashBandPairs localCheckpoints the narrow
    // (id, fingerprint) projection, so the executed pair-join plan must
    // read an existing RDD — the raw hash expression (ascii folds for
    // aHash, bit votes for simhash) must NOT appear anywhere in it.
    Seq("multimodal_ahash_pairs" -> "ascii(",
        "dedup_simhash" -> "SimHashFromHashes.vote(")
      .foreach { case (name, marker) =>
        val p = plan(SparkEntry.registry(name).fn(spark, sf))
        assert(!p.toLowerCase.contains(marker.toLowerCase),
          s"$name recomputes its fingerprint inside the pair join:\n" +
            p.take(2000))
        assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
          s"$name lost its materialized fingerprint input:\n${p.take(2000)}")
      }
  }

  test("gopher repetition stays window-free; batch packing windows per band") {
    // text_gopher_repetition's top-bigram count is a sorted-array fold, so
    // the whole per-document stage must plan as scan → project → one keyed
    // agg: no WindowExec, no (doc, gram) explode shuffle.
    val g = plan(SparkEntry.registry("text_gopher_repetition").fn(spark, sf))
    assert(!g.contains("Window"), s"gopher plan grew a window:\n$g")
    assert(!g.contains("Generate"), s"gopher plan explodes:\n$g")
    // corpus_pack_batches may window, but only PARTITIONED BY band — a
    // global (empty-partition) window would serialize the corpus through
    // one task, the exact shape banding exists to avoid.
    val p = plan(SparkEntry.registry("corpus_pack_batches").fn(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("Window [row_number()") ||
      p.contains("partitionBy") || p.contains("hashpartitioning(band"),
      s"pack window lost its band partitioning:\n$p")
    assert(p.contains("hashpartitioning(band"),
      s"expected the window exchange keyed on band:\n$p")
  }

  test("big aggregations combine map-side (partial + final HashAggregate)") {
    // The shuffle for a groupBy must carry pre-combined partials, not raw
    // rows: the plan shows two HashAggregate stages around the Exchange.
    val q = SparkEntry.registry("agg_pricing_summary").fn(spark, sf)
    val aggs = "HashAggregate".r.findAllIn(plan(q)).length
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n${plan(q)}")
    assert(plan(q).contains("Exchange hashpartitioning"), plan(q))
  }

  test("IVF centroid assignment is shuffle-free: no vec_id Exchange, no Window") {
    // The coarse-quantizer assignment (shared by ivfTopK / kmeansCentroids /
    // ivfKmeansTopK) must be a per-row fold over a 1-row broadcast centroid
    // array — scan → project. The previous formulation shuffled the k-fold
    // duplicated corpus through Exchange hashpartitioning(vec_id) for a
    // window argmin; that is the 100 TB scale-killer this asserts against.
    // (The only Exchanges allowed are the SinglePartition collapse of the
    // k-row centroid set and broadcast builds.)
    Seq(
      graft.ext.Similarity.ivfTopK(
        Tables.embeddings(spark, sf), 0L, 10, centroidIds = 1L to 8L),
      graft.ext.Similarity.ivfKmeansTopK(
        Tables.embeddings(spark, sf), 0L, 10, cells = 4, rounds = 1),
      // PQ/ADC shares the same contract: codes and ADC are per-row folds
      // over broadcast packed tables, never a windowed or grouped shuffle
      // of the (exploded) corpus.
      graft.ext.Similarity.pqAdcTopK(
        Tables.embeddings(spark, sf), 0L, 10, centroidIds = 1L to 4L),
      graft.ext.Similarity.ivfPqTopK(
        Tables.embeddings(spark, sf), 0L, 10, cells = 4, rounds = 1,
        nprobe = 2, pqCentroidIds = 1L to 4L)
    ).foreach { q =>
      val p = plan(q)
      assert(!p.contains("hashpartitioning(vec_id"),
        s"assignment shuffles the corpus on vec_id:\n$p")
      assert(!p.contains("Window"),
        s"assignment should be a fold argmin, not a window:\n$p")
      assert(p.contains("BroadcastExchange"), p)
    }
  }

  test("pagerank iteration broadcasts the rank vector, never shuffles edges") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "deg")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val ranks = nodes.select(col("node"), lit(1.0 / 3).as("pr"))
    val p = plan(graft.queries.GraphQ.pagerankRound(edges, nodes, ranks, 0.05))
    assert(p.contains("BroadcastExchange"), p)
    // the only hash Exchange allowed is the map-side-combined groupBy(dst)
    assert(!p.contains("hashpartitioning(src"),
      s"edge list should not shuffle through the rank join:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("lateral top-N decorrelates to a window group-limit, not a loop") {
    val q = SparkEntry.registry("sql_frontend_lateral").fn(spark, sf)
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"),
      s"lateral LIMIT should plan as a per-group top-k:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("declared bucketed join: merge join consumes the bucketed layout") {
    // The query writes both sides as 8-bucket tables and joins with a
    // merge hint; the bucketed scans must satisfy the join's required
    // distribution — no Exchange on either join input (the only Exchange
    // in the plan belongs to the downstream per-segment aggregation).
    val q = SparkEntry.registry("bucketed_join_zero_shuffle").fn(spark, sf)
    val p = plan(q)
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), p)
    val joinSubtree = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"),
      s"bucketed join inputs should not shuffle:\n$p")
  }

  test("k-hop BFS broadcasts the frontier, never shuffles edges through joins") {
    // The reachability unroll claims PageRank's discipline: per round
    // the (small) frontier/visited sets broadcast against the edge
    // scan. The query's rounds localCheckpoint eagerly (their joins
    // don't survive into the final plan), so assert on one expansion
    // round pre-checkpoint via the factored helper.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val frontier = Seq(1L).toDF("node")
    val visited = Seq(1L).toDF("node")
    val p = plan(graft.queries.GraphQ.khopExpand(edges, frontier, visited))
    assert(p.contains("BroadcastHashJoin"), p)
    val joins = p.split("\n").count(l => l.contains("Join"))
    assert(joins == 2, s"expected expand + anti join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"k-hop joins must broadcast, not sort-merge:\n$p")
    assert(!p.contains("ShuffledHashJoin"),
      s"k-hop joins must broadcast, not hash-shuffle:\n$p")
  }

  test("LPA round broadcasts labels, window-free argmax, edges unshuffled") {
    // graph_label_propagation's round: the label vector broadcasts
    // against the edge scan, the per-node argmax is a max-over-struct
    // keyed agg (total order: count desc, label asc) — NO WindowExec,
    // no sort, and the edge scan feeds the join without an Exchange.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "label")
    val p = plan(graft.queries.GraphQ.lpaRound(edges, labels))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), s"LPA argmax must not use a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"label join must broadcast:\n$p")
    // The only hash Exchanges allowed are the two keyed aggs' shuffles
    // on dst — the edge scan must never shuffle through the label join.
    assert(!p.contains("hashpartitioning(src"),
      s"edge scan must reach the join unshuffled:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("triangle fold broadcasts adjacency, never materializes wedges") {
    // graph_triangle_census's closing stage: per-edge sorted-adjacency
    // intersection. Both adjacency joins must be BROADCAST hash joins —
    // a SortMergeJoin/ShuffledHashJoin here means the edge (or worse,
    // wedge) set is being shuffled, the 12.9s->2.2s regression this
    // algorithm replaced.
    import spark.implicits._
    val o = (for { a <- 0L to 3L; b <- a + 1 to 3L } yield (a, b))
      .toDF("src", "dst")
    val p = plan(graft.queries.GraphQ.triangleCount(o))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"adjacency joins must broadcast:\n$p")
    assert(p.contains("SortedIntersectSize.merge("),
      s"closing count must be the codegen'd merge, not a join:\n$p")
    // the only hash Exchanges are the two pre-AQE copies of the
    // adjacency keyed agg (one per broadcast side; exchange reuse dedups
    // them at runtime) — the edge scan and the per-edge intersect output
    // never shuffle, which is the point: wedges don't exist as rows.
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(hashExchanges <= 2,
      s"unexpected Exchange beyond the adjacency agg ($hashExchanges):\n$p")
    assert(!p.contains("hashpartitioning(dst"),
      s"join output must feed the partial sum unshuffled:\n$p")
  }

  test("logreg gradient round is ONE scan: partial+final agg, one exchange") {
    // learn_logreg_gd trains by driver-held weights + one gradient agg per
    // round. The round must stay a single pass over the feature table —
    // four decimal sums computed together (partial HashAggregate map-side,
    // one SinglePartition Exchange carrying 4 accumulators, final
    // HashAggregate). A plan with >1 Exchange, a Window, or a join means
    // a round re-scans or reshuffles the corpus — the shape that turns
    // 5 rounds × 100 TB into 5 full extra shuffles.
    import spark.implicits._
    val ft = Seq((1.0, 0.1, 0.2, 0.3), (0.0, 0.4, 0.5, 0.6))
      .toDF("y", "x1", "x2", "x3")
    val p = plan(graft.queries.LearnQ.gradientAgg(ft, Array(0.1, 0.2, 0.3, 0.0)))
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs == 2, s"expected exactly partial+final HashAggregate:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1 && p.contains("Exchange SinglePartition"),
      s"gradient must move only 4 partial accumulators:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"a gradient round must not re-shuffle or self-join the corpus:\n$p")
  }

  test("AQE splits skewed join partitions (OptimizeSkewedJoin fires)") {
    // The 100 TB skew story leans on AQE's runtime skew-join split for
    // the shapes salting doesn't cover (PERF.md); this pins that the
    // engine's config actually produces it. Synthetic skew: ~99% of the
    // left rows share one join key, so one shuffle partition dwarfs the
    // rest; with the skew thresholds scaled down to test-fixture sizes,
    // AQE must re-plan the sort-merge join with skew=true and read the
    // hot partition as multiple splits.
    val restore = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // coalesce would merge the tiny non-skewed partitions into the
      // stats; force the skew rule so the assertion is deterministic
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 50000).select(
        when(col("id") % 100 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        concat(lit("x" * 64), col("id")).as("payload"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val j = left.join(right, "k")
      // AQE's final plan only exists after executing THIS QueryExecution
      // (count() would wrap a new one and leave j's plan unfinalized)
      assert(j.collect().nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the join:\n$p")
      assert(p.contains("AQEShuffleRead") && p.contains("skewed"),
        s"expected a skewed AQE shuffle read of the hot partition:\n$p")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("round-8 additions keep their declared scale shapes") {
    // binary-hamming ANN: the candidate cut and the rerank both plan as
    // TakeOrdered heaps over the narrow codes scan — no corpus shuffle on
    // vec_id, no window ranking.
    val bh = plan(
      SparkEntry.registry("similarity_binary_hamming_topk").fn(spark, sf))
    assert(bh.contains("TakeOrderedAndProject"), bh)
    assert(!bh.contains("hashpartitioning(vec_id"),
      s"hamming scan must not shuffle the corpus:\n$bh")
    assert(!bh.contains("Window"), bh)
    // source divergence: the 20-row per-source totals broadcast; the
    // token join is equi-keyed, never all-pairs. r16: the corpus total
    // is a 1-row broadcast column (was a driver .head() that re-ran the
    // tokenize pass), which legitimately plans as ONE
    // BroadcastNestedLoopJoin Cross of a single-row relation — the
    // all-pairs guard is the CartesianProduct ban + the equi-keyed
    // BroadcastHashJoin on tok.
    val sd = plan(
      SparkEntry.registry("corpus_source_divergence").fn(spark, sf))
    assert(sd.contains("BroadcastHashJoin"), sd)
    assert(!sd.contains("CartesianProduct"), sd)
    assert(sd.split("BroadcastNestedLoopJoin").length <= 2,
      s"only the 1-row corpus-total cross join may plan as BNLJ:\n$sd")
    // IQR census: the 5-row quartile/fence table broadcasts back onto
    // the fact scan (the fact table is never self-joined).
    val oi = plan(SparkEntry.registry("profile_outlier_iqr").fn(spark, sf))
    assert(oi.contains("BroadcastHashJoin"), oi)
    assert(!oi.contains("CartesianProduct"), oi)
    // last-touch attribution: ONE user_id window pass over the event
    // scan — no purchase-vs-history self-join.
    val at = plan(
      SparkEntry.registry("events_attribution_last_touch").fn(spark, sf))
    assert(at.contains("hashpartitioning(user_id"), at)
    assert(!at.contains("CartesianProduct") && !at.contains("Join"), at)
    // zipf octaves: the vocabulary cut is a TakeOrdered heap, not a
    // global sort of the term table.
    val zf = plan(SparkEntry.registry("text_zipf_octaves").fn(spark, sf))
    assert(zf.contains("TakeOrderedAndProject"), zf)
  }

  test("round-8 second wave keeps its declared scale shapes") {
    // degree assortativity: the degree table broadcasts twice against the
    // edge scan — the edge list is never reshuffled, and the census is a
    // single map-side-combined global fold.
    val as = plan(
      SparkEntry.registry("graph_degree_assortativity").fn(spark, sf))
    assert(as.contains("BroadcastHashJoin"), as)
    assert(!as.contains("SortMergeJoin") && !as.contains("CartesianProduct"),
      s"assortativity must not shuffle the edge list:\n$as")
    // item-item CF: seeds and the part-frequency dimension broadcast; the
    // top-5 window partitions BY SEED (never an unpartitioned window);
    // no all-pairs join anywhere.
    val cf = plan(SparkEntry.registry("learn_item_cf_cosine").fn(spark, sf))
    assert(cf.contains("BroadcastHashJoin"), cf)
    assert(!cf.contains("CartesianProduct") &&
      !cf.contains("BroadcastNestedLoopJoin"), cf)
    assert(cf.contains("WindowGroupLimit [seed"), // per-seed group limit
      s"CF top-5 window must partition by seed:\n$cf")
    // simplified silhouette: the packed 8-centroid array broadcasts into
    // a per-row fold — no vec_id shuffle, no window; the only Exchange
    // is the 8-group cell aggregation.
    val sl = plan(
      SparkEntry.registry("embedding_silhouette_simplified").fn(spark, sf))
    assert(!sl.contains("hashpartitioning(vec_id"),
      s"silhouette must not shuffle the corpus by vec_id:\n$sl")
    assert(!sl.contains("Window") && !sl.contains("SortMergeJoin"), sl)
    // KM survival: per-user aggs are keyed; the horizon and total are
    // 1-row broadcasts; nothing plans as an all-pairs CartesianProduct.
    val km = plan(SparkEntry.registry("events_survival_km").fn(spark, sf))
    assert(!km.contains("CartesianProduct"), km)
  }

  test("round-8 third wave keeps its declared scale shapes") {
    // per-segment OLS: sufficient statistics in ONE map-side-combined
    // keyed agg (partial+final), customer dim broadcast, no window.
    val lr = plan(
      SparkEntry.registry("learn_linreg_per_segment").fn(spark, sf))
    assert(lr.contains("BroadcastHashJoin"), lr)
    assert(!lr.contains("Window") && !lr.contains("CartesianProduct"), lr)
    // DAU/WAU/MAU: the rolling distinct is constant-fan-out explode +
    // keyed aggs — NO window function anywhere in the plan.
    val au = plan(SparkEntry.registry("events_dau_wau_mau").fn(spark, sf))
    assert(!au.contains("Window"),
      s"rolling actives must not use a window:\n$au")
    assert(au.contains("Generate"), au) // the explode expansion
    // point-in-time SCD2 join: equi-keyed on custkey with the validity
    // range as a residual — never a nested-loop/cartesian range join.
    val pit = plan(
      SparkEntry.registry("warehouse_point_in_time_join").fn(spark, sf))
    assert(!pit.contains("CartesianProduct") &&
      !pit.contains("BroadcastNestedLoopJoin"), pit)
    // filtered ANN: label rides the packed-centroid fold — no vec_id
    // shuffle, no window; the cut is a TakeOrdered heap.
    val ft = plan(
      SparkEntry.registry("similarity_filtered_topk").fn(spark, sf))
    assert(ft.contains("TakeOrderedAndProject"), ft)
    assert(!ft.contains("hashpartitioning(vec_id"),
      s"filtered ANN must not shuffle the corpus by vec_id:\n$ft")
    assert(!ft.contains("Window"), ft)
  }

  test("round-8 fourth wave keeps its declared scale shapes") {
    // walk census: each step is localCheckpointed (the per-step joins
    // have already executed by the time the final plan exists), so the
    // observable plan is the union + census over materialized steps —
    // assert the top-k is a heap and nothing cartesian survives; the
    // per-step broadcast shape is the same join khopExpand pins.
    val wk = plan(SparkEntry.registry("graph_walk_visit_census")
      .fn(spark, sf))
    assert(wk.contains("TakeOrderedAndProject"), wk)
    assert(!wk.contains("CartesianProduct"), wk)
    // batched ANN: the query batch broadcasts; per-query top-5 is a
    // WindowGroupLimit partitioned by q_id; no corpus vec_id shuffle.
    val bt = plan(SparkEntry.registry("similarity_batch_topk")
      .fn(spark, sf))
    assert(bt.contains("WindowGroupLimit [q_id"), bt)
    assert(!bt.contains("hashpartitioning(vec_id"),
      s"batched ANN must not shuffle the corpus by vec_id:\n$bt")
    // FK integrity: every orphan probe is a broadcast left-anti join of
    // the parent key set — the child scans never shuffle for the check.
    val fk = plan(SparkEntry.registry("profile_fk_integrity")
      .fn(spark, sf))
    assert(fk.contains("BroadcastHashJoin") &&
      fk.contains("LeftAnti"), fk)
    assert(!fk.contains("SortMergeJoin"), fk)
    // theta union: both the per-source sketch cut (window over k rows
    // after a keyed shuffle) and the merge (TakeOrdered over 20·k rows)
    // avoid any corpus-wide global sort.
    val tu = plan(SparkEntry.registry("sketch_theta_union").fn(spark, sf))
    assert(tu.contains("TakeOrderedAndProject"), tu)
    assert(!tu.contains("CartesianProduct"), tu)
  }

  test("TPC-H completion wave decorrelates every subquery to a join") {
    // Q4: the EXISTS(late line) probe plans as a LeftSemi against
    // lineitem — never a per-order rescan or nested loop.
    val q4 = plan(SparkEntry.registry("sql_frontend_q4").fn(spark, sf))
    assert(q4.contains("LeftSemi"), q4)
    assert(!q4.contains("CartesianProduct") &&
      !q4.contains("BroadcastNestedLoopJoin"), q4)
    // Q2: the correlated scalar MIN over the supply relation decorrelates
    // into an aggregate joined back on partkey (equality correlation) —
    // no nested loop, and the dims broadcast.
    val q2 = plan(SparkEntry.registry("sql_frontend_q2").fn(spark, sf))
    assert(q2.contains("BroadcastHashJoin"), q2)
    assert(!q2.contains("CartesianProduct") &&
      !q2.contains("BroadcastNestedLoopJoin"), q2)
    // Q21: the sole-culprit logic is exactly one LeftSemi (another
    // supplier participated) + one LeftAnti (no other supplier was late),
    // both equi-keyed on orderkey.
    val q21 = plan(SparkEntry.registry("sql_frontend_q21").fn(spark, sf))
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"), q21)
    assert(!q21.contains("CartesianProduct"), q21)
    // Q19: the OR-of-ANDs predicate must NOT degrade the part join to a
    // nested loop — the shared p_partkey equi-key stays the join key and
    // the disjunction filters after it.
    val q19 = plan(SparkEntry.registry("sql_frontend_q19").fn(spark, sf))
    assert(q19.contains("BroadcastHashJoin") ||
      q19.contains("SortMergeJoin"), q19)
    assert(!q19.contains("CartesianProduct") &&
      !q19.contains("BroadcastNestedLoopJoin"), q19)
    // Q16: the negative-balance supplier exclusion (NOT IN) plans as a
    // null-aware anti join, not a per-row subquery.
    val q16 = plan(SparkEntry.registry("sql_frontend_q16").fn(spark, sf))
    assert(q16.contains("LeftAnti"), q16)
    assert(!q16.contains("CartesianProduct"), q16)
  }

  test("Spark-4 surface wave keeps plan quality") {
    // Parameterized SQL: the bound :minprice literal must reach the
    // parquet scan as a pushed filter — binding happens before analysis,
    // so the templated form costs nothing vs inline literals.
    val pq = SparkEntry.registry("sql_parameterized_query").fn(spark, sf)
    val scan = pq.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThan(o_totalprice"), scan)
    // Pipe syntax parses to the ordinary partial+final hash aggregate
    // over a pruned, filter-pushed scan — same plan as classic SQL.
    val ps = plan(SparkEntry.registry("sql_pipe_syntax").fn(spark, sf))
    assert(ps.contains("HashAggregate"), ps)
    assert(!ps.contains("CartesianProduct"), ps)
    // GROUP BY ALL resolves to the explicit grouping — partial+final
    // aggregate, nothing exotic in the plan.
    val ga = plan(
      SparkEntry.registry("sql_frontend_group_order_all").fn(spark, sf))
    assert(ga.contains("HashAggregate"), ga)
  }

  test("data-integration wave keeps its declared scale shapes") {
    // FS census: sources broadcast onto the candidate scan; candidates
    // themselves come only from equi-key blocking joins (no cross join
    // anywhere), and the 8-row pattern census is a map-side-combined
    // partial+final aggregate.
    val fs = plan(
      SparkEntry.registry("linkage_fellegi_sunter").fn(spark, sf))
    assert(fs.contains("BroadcastHashJoin"), fs)
    assert(!fs.contains("CartesianProduct"),
      s"linkage candidates must never plan as a cross join:\n$fs")
    assert(fs.contains("HashAggregate"), fs)
    // truth discovery: per-entity argmax windows partition BY ek (never
    // an unpartitioned window); the 3-row trust table broadcasts.
    val td = plan(
      SparkEntry.registry("fusion_truth_discovery").fn(spark, sf))
    assert(td.contains("hashpartitioning(ek"),
      s"truth-discovery windows must partition by entity:\n$td")
    assert(td.contains("BroadcastHashJoin"), td)
    assert(!td.contains("CartesianProduct"), td)
    // KMV schema matching: the rank window partitions BY COLUMN; the
    // 12-pair matrix is a broadcast nested loop of 7 sketch rows (the
    // one place a BNLJ is the right plan — both sides are column
    // sketches, not data), and the exact-intersection join is equi-keyed.
    val sm = plan(SparkEntry.registry("schema_match_kmv").fn(spark, sf))
    assert(sm.contains("hashpartitioning(cname"),
      s"KMV rank window must partition by column:\n$sm")
    assert(!sm.contains("CartesianProduct"), sm)
    // FD discovery: two-level keyed aggregation — no countDistinct
    // expand, no window, no join in any candidate's subplan.
    val fd = plan(SparkEntry.registry("profile_fd_discovery").fn(spark, sf))
    assert(!fd.contains("Window") && !fd.contains("Expand") &&
      !fd.contains("Join"), s"FD audit must stay join/window-free:\n$fd")
    assert(fd.contains("HashAggregate"), fd)
    // conformal audit: scoring is one scan per half; the quantile
    // threshold joins back as a 1-row broadcast; the cumulative window
    // runs over the AGGREGATED distinct-score table (HashAggregate on
    // su feeds the window's sort), never the raw corpus.
    val cf = plan(
      SparkEntry.registry("learn_conformal_coverage").fn(spark, sf))
    assert(cf.contains("BroadcastNestedLoopJoin") ||
      cf.contains("BroadcastHashJoin"),
      s"conformal threshold must broadcast:\n$cf")
    assert(!cf.contains("CartesianProduct"), cf)
    assert(cf.contains("HashAggregate(keys=[su"),
      s"conformal quantile must window the distinct-score table:\n$cf")
  }

  test("sequence + governed-release wave keeps its declared scale shapes") {
    // CEP: one keyed agg assembles each user's sequence; the regex scan
    // is pure per-row projection — no join, no window anywhere.
    val cep = plan(
      SparkEntry.registry("events_pattern_match_cep").fn(spark, sf))
    assert(cep.contains("hashpartitioning(user_id"),
      s"CEP sequence agg must key by user:\n$cep")
    assert(!cep.contains("Join") && !cep.contains("Window"),
      s"CEP must stay join/window-free:\n$cep")
    // bitemporal: the scenario fan-out is a generator (never a cross
    // join) and the effective-version pick is ONE window keyed by
    // (scenario, orderkey).
    val bt = plan(
      SparkEntry.registry("warehouse_bitemporal_asof").fn(spark, sf))
    assert(bt.contains("Generate"), s"scenario fan-out must generate:\n$bt")
    assert(!bt.contains("Join"), s"bitemporal needs no join:\n$bt")
    // the rn=1 pick must push down as a partial+final WindowGroupLimit
    // (each map task keeps one candidate per (scenario, orderkey) before
    // the shuffle), keyed by the scenario struct-field alias + orderkey
    assert(bt.contains("WindowGroupLimit"),
      s"version pick must push a window group limit:\n$bt")
    assert("hashpartitioning\\(\\S+, o_orderkey".r.findFirstIn(bt).isDefined,
      s"version pick must partition by (scenario, orderkey):\n$bt")
    // DP release: one keyed count; the CDF inversion is scalar array
    // arithmetic on the GROUP rows — no join against a threshold table,
    // no window.
    val dp = plan(
      SparkEntry.registry("warehouse_dp_noisy_release").fn(spark, sf))
    assert(dp.contains("HashAggregate(keys=[c_nationkey"),
      s"DP release is one keyed agg:\n$dp")
    assert(!dp.contains("Join") && !dp.contains("Window"),
      s"DP noise must not join or window:\n$dp")
    // l-diversity: keyed agg + constant fan-out over the GROUP table —
    // no join, no window; the fact table is scanned once.
    val ld = plan(
      SparkEntry.registry("warehouse_l_diversity").fn(spark, sf))
    assert(!ld.contains("Join") && !ld.contains("Window"),
      s"l-diversity must stay join/window-free:\n$ld")
    assert(ld.contains("HashAggregate"), ld)
    // perceptron: each round's audit is ONE scan — a partial+final
    // global aggregate with a single Exchange, like the logreg gradient
    // (synthetic feature table so the fixture fan-out doesn't add its
    // own repartition Exchange, same as the logreg test).
    import spark.implicits._
    val ft = Seq((1L, 3L, 10L, 1L, false), (-1L, 4L, 20L, 0L, true))
      .toDF("y", "x1", "x2", "x3", "hold")
    val pa = plan(
      graft.queries.LearnQ.perceptronAudit(ft, Array(1L, 2L, 3L, 4L)))
    val nEx = "Exchange".r.findAllIn(pa).length
    assert(nEx == 1, s"perceptron audit must shuffle once, saw $nEx:\n$pa")
    assert("HashAggregate".r.findAllIn(pa).length == 2,
      s"expected partial+final aggregate pair:\n$pa")
    assert(!pa.contains("Join") && !pa.contains("Window"), pa)
    // bootstrap: the heavy B-fold expansion ran ONCE into the 64-row
    // checkpointed replicate table — every downstream consumer (rank
    // window, CI picks, bias check) reads the materialized RDD, never
    // re-expanding; the only joins are the 1-row broadcast combiners.
    val bs = plan(SparkEntry.registry("stat_bootstrap_ci").fn(spark, sf))
    assert(bs.contains("Scan ExistingRDD[b"),
      s"replicate consumers must read the checkpointed 64-row table:\n$bs")
    assert(!bs.contains("Generate"),
      s"no consumer may re-run the B-fold expansion:\n$bs")
    assert(!bs.contains("CartesianProduct"), bs)
  }

  test("bootstrap replicate expansion is ONE map-side-combined agg off the scan") {
    // The pre-checkpoint shape stat_bootstrap_ci's comment claims: the
    // B-fold explode feeds the groupBy("b") DIRECTLY — partial
    // HashAggregate runs map-side inside the expansion stage, and the
    // only data that crosses the one hash(b) Exchange is B partial
    // (sum, count) pairs per task. An extra Exchange before the
    // groupBy, a Window, or a join here would reshuffle the full
    // N×B/2 expansion — the shape that dies at 100 TB. Synthetic
    // 2-row input (as in the logreg/perceptron tests) so Scale.fanOut
    // doesn't add its own fixture repartition.
    import spark.implicits._
    val o = Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "o_totalprice")
      .repartition(4)
    val p = plan(graft.queries.Analytic.bootstrapReplicates(o))
    assert("HashAggregate".r.findAllIn(p).length == 2,
      s"expected exactly partial+final HashAggregate:\n$p")
    // exactly the input fixture's repartition + the hash(b) shuffle
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 2 && p.contains("Exchange hashpartitioning(b"),
      s"expected one hash(b) Exchange after the expansion:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("Kendall tau pair stage broadcasts the dimension square; kappa is one scan") {
    // stat_kendall_tau: the 25-row nation table self-joins under a
    // non-equi (<) predicate — that must be a broadcast nested-loop
    // over the DIMENSION, never a CartesianProduct of fact-sized
    // inputs, and the fact side is consumed by exactly one keyed agg.
    val kt = plan(SparkEntry.registry("stat_kendall_tau").fn(spark, sf))
    assert(kt.contains("BroadcastNestedLoopJoin") ||
      kt.contains("BroadcastHashJoin"), kt)
    assert(!kt.contains("CartesianProduct"), kt)
    // stat_cohen_kappa: the whole confusion ledger is ONE map-side-
    // combined global agg over the scan — partial+final HashAggregate
    // around a single SinglePartition Exchange, no join, no window.
    // (The fixture's RoundRobin widening repartition from
    // Tables.documents is not a data-dependent shuffle and is ignored.)
    val ck = plan(SparkEntry.registry("stat_cohen_kappa").fn(spark, sf))
    assert("HashAggregate".r.findAllIn(ck).length == 2, ck)
    val realExchanges = "Exchange [A-Za-z]+".r.findAllIn(ck).toSeq
      .filterNot(_.contains("RoundRobin"))
    assert(realExchanges == Seq("Exchange SinglePartition"), ck)
    assert(!ck.contains("Join") && !ck.contains("Window"), ck)
  }

  test("Spearman ranks stay banded; CUSUM and Theil-Sen stay day-sized") {
    // stat_spearman_rho: the fine rank prefix must run PARTITIONED BY
    // band (the doubledRankTable contract — a corpus-wide unpartitioned
    // rank window is the shape banding exists to avoid), and the pair
    // machinery is join-only: no CartesianProduct anywhere.
    val sp = plan(SparkEntry.registry("stat_spearman_rho").fn(spark, sf))
    assert(sp.contains("hashpartitioning(band"),
      s"rank prefix lost its band partitioning:\n$sp")
    assert(!sp.contains("CartesianProduct"), sp)
    // events_changepoint_cusum: raw events collapse through ONE
    // map-side-combined day agg BEFORE any Window touches the data —
    // the first Window in the plan must sit above the aggregate, never
    // over the event scan.
    val cu = plan(
      SparkEntry.registry("events_changepoint_cusum").fn(spark, sf))
    val (firstWin, firstAgg) =
      (cu.indexOf("Window"), cu.indexOf("HashAggregate"))
    assert(firstWin >= 0 && firstAgg >= 0 && firstWin < firstAgg,
      s"window must consume the day table, not raw events:\n$cu")
    assert(!cu.contains("CartesianProduct"), cu)
    // stat_theil_sen: the pair square is a broadcast nested-loop over
    // the calendar-bounded DAY table — never a cartesian of fact-sized
    // inputs.
    val ts = plan(SparkEntry.registry("stat_theil_sen").fn(spark, sf))
    assert(ts.contains("BroadcastNestedLoopJoin"), ts)
    assert(!ts.contains("CartesianProduct"), ts)
    // stat_anova_oneway: the corpus collapses through the keyed group
    // agg and every cross-group double sum is an ordered FOLD over the
    // packed 5-row table — no Window (a windowed cumsum would
    // single-partition the fact), no join of any kind.
    val av = plan(SparkEntry.registry("stat_anova_oneway").fn(spark, sf))
    assert(!av.contains("Window") && !av.contains("Join"), av)
    assert(!av.contains("CartesianProduct"), av)
  }

  test("wave-5/7 stat queries keep their scale shapes") {
    // stat_levene_brown_forsythe: same fold-only contract as the ANOVA
    // after the median join — the only joins are the 5-row broadcast
    // median table; no cartesian anywhere.
    val lv = plan(
      SparkEntry.registry("stat_levene_brown_forsythe").fn(spark, sf))
    assert(lv.contains("BroadcastHashJoin"), lv)
    assert(!lv.contains("CartesianProduct"), lv)
    // stat_mcnemar_quality_gates: ONE map-side-combined scan — no join,
    // no window, partial+final aggregate only.
    val mc = plan(
      SparkEntry.registry("stat_mcnemar_quality_gates").fn(spark, sf))
    assert(!mc.contains("Join") && !mc.contains("Window"), mc)
    assert("HashAggregate".r.findAllIn(mc).length >= 2, mc)
    // stat_qq_deciles: the fine prefix is partitioned by (seg, band);
    // the rank targets ride a broadcast; no cartesian.
    val qq = plan(SparkEntry.registry("stat_qq_deciles").fn(spark, sf))
    assert(qq.contains("hashpartitioning(seg"), qq)
    assert(qq.contains("BroadcastHashJoin") ||
      qq.contains("BroadcastNestedLoopJoin"), qq)
    assert(!qq.contains("CartesianProduct"), qq)
    // stat_cramers_v / text_good_turing / similarity_mutual_knn:
    // domain-bounded tails, join-only pair machinery — no cartesian.
    Seq("stat_cramers_v", "text_good_turing", "similarity_mutual_knn")
      .foreach { q =>
        val p = plan(SparkEntry.registry(q).fn(spark, sf))
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      }
  }

  test("Holt-Winters forecast is one keyed agg + bounded fold: no Window") {
    // events_forecast_holt_winters folds the |days|-length series
    // (bounded by the calendar span, not the event count) through an
    // 11-slot aggregate() state. The plan must show the daily series as
    // a map-side-combined keyed agg and NO WindowExec anywhere — a
    // lag/lead-window formulation of the smoothing chain would sort and
    // single-partition the whole series; the fold keeps it one row.
    val p = plan(
      SparkEntry.registry("events_forecast_holt_winters").fn(spark, sf))
    assert(!p.contains("Window"),
      s"Holt-Winters must fold, not window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"daily series should be a partial+final keyed agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bigram plausibility skew-splits the Zipfian join: broadcast head, equi tail") {
    // text_lm_plausibility joins the per-doc bigram scan against the
    // shared census's probabilities on natural-language (a, b) keys —
    // Zipf-distributed, so at 100x scale one shuffle join funnels the
    // head pairs through few reducers. The plan must show the split:
    // the top-K head statistics BROADCAST onto the scan (no shuffle for
    // the heavy keys) while the bounded-frequency tail takes the
    // ordinary shuffled equi-join, unioned. Disable the auto-broadcast
    // threshold so test-scale stats can't silently broadcast the tail
    // arm too — the explicit head hint must survive on its own.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(SparkEntry.registry("text_lm_plausibility").fn(spark, sf))
      assert(p.contains("Union"), s"expected head/tail union:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"head arm must broadcast the top-K bigram stats:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"tail arm must be a shuffled equi-join:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("tf-idf skew-splits the Zipfian term join: broadcast head, equi tail") {
    // Same contract as the bigram split: document-frequency stats for the
    // top-K (stopword-class) terms broadcast onto the tf scan; the tail
    // takes the shuffled equi-join; union. Auto-broadcast disabled so the
    // explicit head hint must carry the plan on its own. Both arms probe
    // the same tf aggregation; AQE does NOT stage-cache the duplicated
    // subtree across union arms (measured — the tail arm re-ran the
    // scan+aggregate), so tf is eagerly staged (localCheckpoint): the
    // compute-once evidence is that NO parquet scan survives in the
    // plan — both arms read the staged RDD.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(SparkEntry.registry("text_tf_idf").fn(spark, sf))
      assert(p.contains("Union"), s"expected head/tail union:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"head arm must broadcast the top-K term stats:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"tail arm must be a shuffled equi-join:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("FileScan"),
        s"tf and df must probe their staged RDDs, not rescan parquet:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"expected staged-RDD scans for tf/df:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("CBO: ANALYZE stats flip the broadcast decision and reorder the join chain") {
    // The cost-based path a 100 TB warehouse actually runs: land tables
    // with collected statistics (Writers.statsTable = saveAsTable +
    // ANALYZE TABLE ... FOR COLUMNS), then let the optimizer use
    // rowCount + column NDV/min/max to (a) estimate a selective dim
    // filter's output small enough to broadcast — without column stats a
    // Filter's size estimate equals its child's, so the same join
    // sort-merges — and (b) reorder a 3-table inner-join chain so the
    // most selective join runs first. Both decisions are asserted from
    // the SAME tables and the SAME threshold with only the CBO flag
    // flipped, so the stats are provably what changes the plan.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // orphaned managed locations are handled inside statsTable
    graft.io.Writers.statsTable(Tables.lineitem(spark, sf), "li_stats",
      Seq("l_orderkey", "l_quantity"))
    graft.io.Writers.statsTable(Tables.orders(spark, sf), "ord_stats",
      Seq("o_orderkey", "o_custkey"))
    graft.io.Writers.statsTable(Tables.customer(spark, sf), "cust_stats",
      Seq("c_custkey", "c_mktsegment"))
    val cboKey = "spark.sql.cbo.enabled"
    val reoKey = "spark.sql.cbo.joinReorder.enabled"
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    def estSize(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val dimFiltered = () => spark.table("cust_stats")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_mktsegment")
    val joined = () => spark.table("ord_stats")
      .select("o_orderkey", "o_custkey")
      .join(dimFiltered(), col("o_custkey") === col("c_custkey"))
    try {
      // rowCount is plumbed from ANALYZE through the CBO stats visitor
      // (expected value derived from the fixture itself, not hard-coded,
      // so a fixture-scale change cannot silently break the assertion)
      spark.conf.set(cboKey, "true")
      val nCust = Tables.customer(spark, sf).count()
      val rc = spark.table("cust_stats").queryExecution.optimizedPlan
        .stats.rowCount
      assert(rc.contains(BigInt(nCust)), s"catalog rowCount not plumbed: $rc")
      // With CBO, the equality filter on an analyzed 5-NDV column shrinks
      // the estimate ~5x; without, the filter estimate equals the raw
      // table's (catalog totalSize). A threshold strictly between the two
      // makes the broadcast decision purely stats-driven.
      val filtEstOn = estSize(dimFiltered())
      spark.conf.set(cboKey, "false")
      val fullEstOff = estSize(dimFiltered())
      assert(filtEstOn < fullEstOff,
        s"CBO filter estimate $filtEstOn should undercut size-only $fullEstOff")
      val threshold = (filtEstOn + fullEstOff) / 2
      spark.conf.set(thrKey, threshold.toString)
      val offPlan = joined().queryExecution.sparkPlan.toString
      assert(offPlan.contains("SortMergeJoin") ||
        offPlan.contains("ShuffledHashJoin"),
        s"without CBO the filtered dim must not broadcast:\n$offPlan")
      spark.conf.set(cboKey, "true")
      val onPlan = joined().queryExecution.sparkPlan.toString
      assert(onPlan.contains("BroadcastHashJoin"),
        s"with CBO + column stats the filtered dim must broadcast:\n$onPlan")
      // Join reorder: written order joins fact x fact first; the DP
      // reorderer must move the selective dim join innermost.
      spark.conf.set(reoKey, "true")
      val chain = spark.table("li_stats").select("l_orderkey", "l_quantity")
        .join(spark.table("ord_stats").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(dimFiltered(), col("o_custkey") === col("c_custkey"))
      val joins = chain.queryExecution.optimizedPlan.collect {
        case j: Join => j
      }
      assert(joins.size == 2, s"expected 2 joins, got ${joins.size}")
      val innermost = joins.last.output.map(_.name)
      assert(innermost.exists(_.startsWith("c_")) &&
        !innermost.exists(_.startsWith("l_")),
        "reorder should join orders x filtered customers first, " +
          s"innermost output was: ${innermost.mkString(", ")}")
      assert(chain.collect().nonEmpty)
    } finally {
      spark.conf.unset(cboKey); spark.conf.unset(reoKey)
      spark.conf.unset(thrKey)
      // drop the managed stats tables — the shared warehouse must not
      // accumulate per-test leftovers across suites (r10 advice)
      Seq("li_stats", "ord_stats", "cust_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("CBO histograms sharpen skewed range-filter estimates over min/max interpolation") {
    // events.value is right-skewed (exponential-class): the bottom 5% of
    // the RANGE holds ~27% of the rows. Plain column stats make CBO
    // interpolate range predicates uniformly between min and max — off
    // by >4x here; an equi-height histogram (ANALYZE under
    // spark.sql.statistics.histogram.enabled) carries the shape, so the
    // estimate lands near the truth. This is the stats story a 100 TB
    // warehouse needs for selectivity-driven planning on skewed measures
    // — asserted by comparing both estimates against the true count.
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    val cboKey = "spark.sql.cbo.enabled"
    val histKey = "spark.sql.statistics.histogram.enabled"
    def estRows(threshold: Double): BigInt = {
      spark.catalog.refreshTable("ev_stats")
      spark.table("ev_stats").filter(col("value") < threshold)
        .queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(fail("CBO rowCount missing on the filter estimate"))
    }
    try {
      spark.conf.set(cboKey, "true")
      val Row(mn: Double, mx: Double) = ev.agg(min("value"), max("value")).head()
      val threshold = mn + 0.05 * (mx - mn)
      val truth = BigInt(ev.filter(col("value") < threshold).count())
      spark.conf.set(histKey, "false")
      graft.io.Writers.statsTable(ev, "ev_stats", Seq("value"))
      val basic = estRows(threshold)
      spark.conf.set(histKey, "true")
      spark.sql("ANALYZE TABLE ev_stats COMPUTE STATISTICS FOR COLUMNS value")
      val hist = estRows(threshold)
      assert(hist != basic,
        s"histogram stats did not change the estimate (basic=$basic)")
      assert((hist - truth).abs < (basic - truth).abs,
        s"histogram estimate $hist should beat uniform $basic vs truth $truth")
    } finally {
      spark.conf.unset(cboKey); spark.conf.unset(histKey)
      spark.sql("DROP TABLE IF EXISTS ev_stats")
    }
  }

  test("LPA family rides the materialized affinity backbone, never rescanning parquet") {
    // r11: graph_label_propagation / graph_lpa_modularity /
    // graph_community_conductance moved onto the shared support->=2
    // backbone (a filter over the materialized co-purchase support
    // stage, checkpointed once). The compute-once evidence, same as the
    // tf-idf census assertion: with both shared stages built, each
    // consumer's physical plan reads ONLY staged RDDs — any FileScan
    // would mean the query re-ran the order-key self-join or the
    // backbone filter from parquet.
    graft.queries.GraphQ.coPurchaseSupportEdges(spark, sf)
    graft.queries.GraphQ.lpaLabels(spark, sf)
    for (q <- Seq("graph_label_propagation", "graph_lpa_modularity",
        "graph_community_conductance")) {
      val p = plan(SparkEntry.registry(q).fn(spark, sf))
      assert(!p.contains("FileScan"),
        s"$q must read the staged backbone/labels, not parquet:\n$p")
      assert(p.contains("Scan ExistingRDD"), s"$q:\n$p")
    }
  }

  test("AQE skew-join splits the hot partition at runtime (OptimizeSkewedJoin)") {
    // The X34 manual head/tail splits are the STATIC answer to skew —
    // they avoid shuffling the hot keys at all by broadcasting the head.
    // A 100x cluster also leans on AQE's RUNTIME answer for skew nobody
    // predicted: OptimizeSkewedJoin splits a shuffle partition whose
    // size exceeds max(threshold, factor x median) into advisory-sized
    // slices and replicates the matching partition on the other side.
    // This case builds a 90%-one-key join, forces a sort-merge (both
    // static and ADAPTIVE broadcast thresholds off), executes, and
    // asserts the finalized plan marked the join skew-handled. When to
    // prefer the manual split (PERF.md r11): when the hot keys are KNOWN
    // (Zipf heads), the broadcast head arm skips the skewed exchange
    // entirely, while AQE still shuffles every hot row — AQE is the
    // safety net, the static split is the plan.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072",
      // keep BOTH broadcast paths off so the join stays sort-merge and
      // the skew handling — not a runtime BHJ conversion — is what fires
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val skewed = spark.range(0, 200000L).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 64, "x").as("pad"))
      val dim = spark.range(0, 2000L).select(
        (col("id") % 1000L).as("k"), col("id").as("v"))
      // max(pad) keeps the wide column alive through pruning so the hot
      // partition's shuffle bytes are realistic; the agg is GLOBAL (no
      // keys) because a keyed agg on the join key would REQUIRE the
      // join's hash distribution downstream and veto the skew split
      // (OptimizeSkewedJoin refuses to break a reusable partitioning
      // unless forceOptimizeSkewedJoin is on — itself a fact worth
      // pinning here). collect() executes THIS DataFrame's
      // QueryExecution (count() would plan a separate one), letting AQE
      // finalize the inspected plan from runtime stats.
      val j = skewed.join(dim, "k")
        .agg(count(lit(1)).as("n"), max(col("pad")).as("p"))
      assert(j.collect().nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the sort-merge join:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"broadcast must stay off for this evidence:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
