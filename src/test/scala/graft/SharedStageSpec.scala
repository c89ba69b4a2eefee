package graft

import graft.util.{SessionScopedCache, SharedStage}

/** The declared shared-stage list, one stage's cache contract, and the
  * `SPARK_GRAFT_ONLY` parser and selection Bench and Verify share. */
class SharedStageSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("the shared-stage list names Bench's eleven stages, in order") {
    val names = SparkEntry.sharedStages.map(_.name)
    assert(names == Seq(
      "dedup_lsh_shared_stage", "similarity_kmeans_shared_train",
      "graph_edges_shared_stage", "graph_lpa_shared_labels",
      "text_bpe_shared_train", "text_ngram_shared_census",
      "multimodal_png_shared_encode", "multimodal_wav_shared_encode",
      "learn_logreg_shared_train", "linkage_candidates_shared_stage",
      "events_sliced_fixture"))
    assert(names.distinct == names)
    assert(names.forall(n => !SparkEntry.registry.contains(n)),
      "a stage name must not shadow a registry entry in Bench's output")
  }

  test("a stage builds once per session; rebuild builds a new artifact") {
    val s = spark.newSession()
    var builds = 0
    val st = new SharedStage[Array[Int]]("t")({ (_, d) =>
      builds += 1; Array(builds, d.length)
    })
    val a = st(s, "d")
    assert(st(s, "d") eq a)
    assert(builds == 1)
    val b = st.rebuild(s, "d")
    assert(!(b eq a) && builds == 2)
    assert(st(s, "d") eq b)
    assert(!(st(spark.newSession(), "d") eq b), "sessions share an entry")
  }

  test("evictAll drops the sliced fixture: the next build is a new dir") {
    val s = spark.newSession()
    val before = graft.queries.Events.slicedFixtures(s, sf)
    assert(before.keySet == Set(3, 4))
    assert(graft.queries.Events.slicedFixtures(s, sf) eq before)
    SessionScopedCache.evictAll(s, sf)
    val after = graft.queries.Events.slicedFixtures(s, sf)
    for (n <- Seq(3, 4)) {
      assert(after(n)._1 != before(n)._1, s"$n-slice fixture reused")
      assert(new java.io.File(after(n)._1).isDirectory)
      assert(after(n)._2 == before(n)._2)
    }
  }

  test("SPARK_GRAFT_ONLY parses to trimmed, non-blank prefixes") {
    assert(SparkEntry.onlyPrefixes(None).isEmpty)
    assert(SparkEntry.onlyPrefixes(Some("graph_")).contains(Seq("graph_")))
    assert(SparkEntry.onlyPrefixes(Some(" events_stream_ ,, agg_ ,"))
      .contains(Seq("events_stream_", "agg_")))
    // set but blank: an empty selection, not the whole registry
    assert(SparkEntry.onlyPrefixes(Some("")).contains(Seq.empty))
    assert(SparkEntry.onlyPrefixes(Some(" , ")).contains(Seq.empty))
  }

  test("SPARK_GRAFT_ONLY selects shared stages by the same prefixes") {
    val stages = SparkEntry.sharedStages.map(_.name)
    def pick(v: Option[String]) =
      stages.filter(SparkEntry.selected(SparkEntry.onlyPrefixes(v)))
    // unset: a full run times every stage
    assert(pick(None) == stages && stages.size == 11)
    // a query that reads no stage selects none
    assert(pick(Some("agg_pricing_summary")).isEmpty)
    assert(pick(Some("graph_")) ==
      Seq("graph_edges_shared_stage", "graph_lpa_shared_labels"))
    assert(pick(Some("events_,text_bpe")) ==
      Seq("text_bpe_shared_train", "events_sliced_fixture"))
    assert(pick(Some("")).isEmpty)
    // queries go through the same predicate
    val only = SparkEntry.onlyPrefixes(Some("graph_kcore"))
    assert(SparkEntry.selected(only)("graph_kcore"))
    assert(!SparkEntry.selected(only)("graph_pagerank_copurchase"))
  }
}
