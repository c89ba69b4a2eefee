package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")
    // Untimed warmup: absorb JIT/codegen/classloading so the first timed
    // query isn't charged ~4s of JVM start (standard bench hygiene; every
    // query below still executes fully inside its own timing window).
    try SparkEntry.queries("agg_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    // Failed shared stages / queries are NOT silently timed as if they
    // succeeded: the entry gets a -1.0 sentinel and the name lands in
    // `errors` on both output lines, so a broken build can't masquerade
    // as a fast one (its cost would otherwise shift into the first
    // consumer query's median).
    val errors = scala.collection.mutable.ListBuffer[String]()
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try { body; name -> (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        errors.synchronized { if (!errors.contains(name)) errors += name }
        name -> -1.0
      }
    }

    // Per-query MEDIAN over SPARK_GRAFT_BENCH_RUNS full sweeps — DEFAULT 3.
    // Single runs at local[32] show >2x swings on unchanged queries from
    // GC/scheduler/box contention (round 6: a contended single run printed
    // 384s where the 3-run median was 174.5s), so the official snapshot
    // must be the robust number, not the lucky/unlucky one.
    val runsN = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Median over SUCCESSFUL runs only; if every run failed, keep the
    // -1.0 sentinel so the entry reads as broken, not fast.
    def median(xs: Seq[Double]): Double = {
      val s = xs.filter(_ >= 0).sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // Every shared stage (SparkEntry.sharedStages: the LSH verified-pair
    // build, the trained IVF codebook, the co-purchase edge list, the BPE
    // merge table, ...) is built here under its OWN timing entry, so its
    // consumers' per-query numbers measure their own plans — not
    // whichever consumer happened to run first absorbing the whole stage.
    // Shared stages get the SAME median protection as the query sweeps:
    // each of the runsN samples is a `rebuild` — round 7's driver run
    // charged harness-start contention to exactly these once-timed
    // entries (k-means train 46.2 s driver vs 3.3 s idle). The final
    // rebuild's artifact stays cached for the consumer sweeps below.
    // If every sample of a stage fails, the -1.0 sentinel + errors entry
    // flag it; consumers then rebuild the stage inside their own timing
    // (the cache-miss path) — their numbers read high rather than the
    // failure reading fast, which is the right failure direction.
    // Dev-only prefix filter for targeted re-benching of a few entries
    // (mirrors Verify's SPARK_GRAFT_ONLY). It selects shared stages by
    // the same prefixes, since stage names are entry names: a selected
    // query whose stage is not selected builds it inside its own timing
    // (the cache-miss path again). With it unset (the official full
    // run), every stage and query is timed; a partial sweep does NOT
    // overwrite BENCH_DETAIL.json so a dev loop can't shrink the
    // committed full-coverage medians.
    val only = SparkEntry.onlyPrefixes(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.selected(only) _
    val stages = SparkEntry.sharedStages.filter(st => selected(st.name))
    val sharedResults = stages.map { st =>
      st.name -> median((1 to runsN).map(_ =>
        timed(st.name)(st.rebuild(spark, sfDir))._2))
    }

    // noop sink forces FULL evaluation of every column (a bare .count()
    // would let Catalyst prune projection work and under-measure
    // expression-heavy queries). Every query below executes fully inside
    // its own timing window, except that dedup/graph consumers reuse the
    // pre-built shared stage above (charged to its own entry).
    def sweep(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq
        .filter { case (name, _) => selected(name) }
        .map { case (name, fn) =>
          timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }

    val sweeps = (1 to runsN).map(_ => sweep())
    val names = sweeps.head.map(_._1)
    val maps = sweeps.map(_.toMap)
    val results = sharedResults ++
      names.map(n => n -> median(maps.map(_(n))))
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Total over successful entries only: a -1.0 failure sentinel must
    // surface in `errors`, not silently lower the total.
    val total = results.map(_._2).filter(_ >= 0).sum
    val errJson = errors.toSeq.distinct.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness keeps only the TAIL of stdout (~2000 chars), so the full
    // per-query map (~4 KB for 80+ queries) must NOT be on the final line:
    // print detail first (and persist it to BENCH_DETAIL.json — the
    // complete per-query medians the truncated snapshot points at), then a
    // compact total line LAST that always fits inside the tail window.
    val detail = s"""{"metric":"detail","unit":"sec","runs":$runsN,"errors":$errJson,"queries":$qs,"sf":"$sfDir"}"""
    println(detail)
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_DETAIL.json"),
        detail.getBytes("UTF-8"))
      catch { case _: Throwable => }
    val slowest = results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // n_queries counts declared registry queries; the shared-stage entry
    // is a timing line item (inside total), not a query.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runsN,"n_queries":${SparkEntry.queries.size},"errors":$errJson,"detail":"BENCH_DETAIL.json","queries":$slowest,"sf":"$sfDir"}""")
    spark.stop()
  }
}
