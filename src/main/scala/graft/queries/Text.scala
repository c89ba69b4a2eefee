package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.io.Tables
import graft.ext.TextOps

/** Text-analysis pack over the documents table (north-star extended
  * surface): token stats, language-ID, quality scoring, fingerprints. */
object Text {

  // DuckDB fragments mirroring TextOps (kept adjacent so drift is obvious).
  private val duckToks = "string_split(trim(text), ' ')"
  private def duckHash64(e: String) =
    s"CAST(('0x' || substr(md5($e), 1, 15))::UBIGINT AS BIGINT)"

  /** BM25 document scores for the fixed 3-term query — shared by
    * text_bm25_topk and the RRF hybrid-search fusion in SimilarityQ.
    * Returns (doc_id, n_hit, bm25); see text_bm25_topk for the
    * determinism contract (rational idf, 2^40-scaled DECIMAL sums). */
  private[queries] def bm25Scored(s: org.apache.spark.sql.SparkSession,
                                  d: String): org.apache.spark.sql.DataFrame = {
    val terms = Seq("vector", "window", "merge")
    val scale = 1099511627776L // 2^40: exact scale/unscale
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    // r16 (guide §2.4/§5): (n, avgdl) were a driver .head() whose
    // subtree is the tokenize pass — the scalar job tokenized the
    // corpus once more than the scoring dataflow needs. As a broadcast
    // 1-row column the same long→double casts and division run per
    // surviving row with identical IEEE results; the empty-corpus
    // placeholder (avgdl = 1.0 when n = 0 or tot NULL) is the same
    // conditional, now in-plan — and as before no tf row exists to
    // read it.
    val stTab = toks.agg(count(lit(1)).as("n"),
        sum(size(col("ts")).cast("long")).as("tot"))
      .select(col("n"),
        when(col("n") === 0L || col("tot").isNull, lit(1.0))
          .otherwise(col("tot").cast("double") / col("n").cast("double"))
          .as("avgdl"))
    val tf = toks
      .select(col("doc_id"), size(col("ts")).cast("double").as("dl"),
        explode(col("ts")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = toks
      .select(col("doc_id"), explode(array_distinct(col("ts"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = (col("n").cast("double") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val tfpart = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
    tf.join(df, "term")
      .crossJoin(broadcast(stTab))
      .select(col("doc_id"),
        floor(idf * tfpart * lit(scale.toDouble))
          .cast("decimal(38,0)").as("c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"),
        (sum(col("c")).cast("double") / lit(scale.toDouble)).as("bm25"))
  }

  /** The same scoring as DuckDB CTEs, ending in `bmscore(doc_id, n_hit,
    * bm25)` (no WITH prefix). Shared with the hybrid-search oracle. */
  private[queries] val duckBm25Ctes: String =
    s"""toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
       |              CAST(SUM(len(ts)) AS DOUBLE) /
       |                CAST(COUNT(*) AS DOUBLE) AS avgdl
       |       FROM toks),
       |tf AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, term,
       |              CAST(COUNT(*) AS DOUBLE) AS tf
       |       FROM (SELECT doc_id, ts, unnest(ts) AS term FROM toks)
       |       WHERE term IN ('vector', 'window', 'merge')
       |       GROUP BY 1, 2, 3),
       |dfc AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
       |        FROM (SELECT doc_id, unnest(list_distinct(ts)) AS term
       |              FROM toks)
       |        WHERE term IN ('vector', 'window', 'merge')
       |        GROUP BY 1),
       |sc AS (SELECT doc_id,
       |         floor((((SELECT nd FROM st) - df + 0.5) / (df + 0.5)) *
       |               ((tf * 2.2) /
       |                (tf + 1.2 * (0.25 + 0.75 *
       |                             (dl / (SELECT avgdl FROM st))))) *
       |               1099511627776.0) AS c
       |       FROM tf JOIN dfc USING (term)),
       |bmscore AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
       |         CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) /
       |           1099511627776.0 AS bm25
       |  FROM sc GROUP BY doc_id)""".stripMargin

  /** One BPE training run per (session, sf-dir) — the learned merge table
    * and the post-merge word encodings are the tokenizer artifact both
    * BPE consumers (merge table, fertility) reuse, like DedupQ's pair
    * stage and SimilarityQ's codebook. The cached DataFrame is the
    * localCheckpointed distinct-word table (tiny); rules are plain
    * driver values. Entries evict when their session stops.
    *
    * 5-round BPE merge training over the distinct-word table; returns
    * (rules as (round, merged, freq, n_symbols_after), final encodings
    * (w, c, enc)). See text_bpe_merges for the full contract. Rule
    * fields are Options: a corpus too small to offer any pair (empty or
    * single-char vocabulary) yields NULL rule rows — the same NULLs the
    * oracle's scalar subqueries produce — rather than a head()-of-empty
    * crash. */
  private[graft] val trainedBpe = new graft.util.SharedStage[
    (Seq[(Long, Option[String], Option[Long], Option[Long])],
      org.apache.spark.sql.DataFrame)]("text_bpe_shared_train")({ (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("enc", concat_ws("", transform(
          filter(split(col("w"), ""), ch => ch =!= ""),
          ch => concat(lit(" "), ch, lit(" ")))))
        .localCheckpoint(true)
      // n_symbols_after is DERIVED from the rewritten encodings each
      // round (one scalar agg over the tiny type table), not n0 − Σf:
      // pair counts include overlapping self-adjacent pairs ("q q q"
      // counts (q,q) twice) while leftmost non-overlapping replace
      // merges it once, so the subtract-f invariant is wrong whenever
      // an a==b merge wins a round.
      def weightedSymbols(df: org.apache.spark.sql.DataFrame)
          : Option[Long] = {
        val r = df
          .agg(sum(size(split(trim(col("enc")), "  ")).cast("long") *
            col("c")).as("n"))
          .head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      var enc = words
      val rules = (1 to 5).map { r =>
        val sy = split(trim(col("enc")), "  ")
        val top = enc
          .select(col("c"), posexplode(zip_with(sy,
            slice(sy, lit(2), greatest(size(sy) - 1, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b"))))
            .as(Seq("i", "pr")))
          .filter(col("pr.b").isNotNull)
          .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
          .agg(sum(col("c")).as("f"))
          .orderBy(desc("f"), asc("a"), asc("b"))
          .limit(1).collect().headOption
        top match {
          case Some(t) =>
            val (a, b, f) = (t.getString(0), t.getString(1), t.getLong(2))
            enc = enc.withColumn("enc", replace(col("enc"),
                lit(s" $a  $b "), lit(s" $a$b ")))
              .localCheckpoint(true)
            (r.toLong, Some(a + b), Some(f), weightedSymbols(enc))
          case None => // no mergeable pair: NULL rule row, enc unchanged
            (r.toLong, Option.empty[String], Option.empty[Long],
              weightedSymbols(enc))
        }
      }
      (rules, enc)
    })

  /** Adjacent-token bigram pairs of `text` as array<struct<a,b>> — the
    * ONE definition shared by the census build and the per-doc
    * plausibility scan, so the corpus statistics and the scored pairs
    * cannot silently diverge. */
  private def bigramPairs: org.apache.spark.sql.Column = {
    val toks = TextOps.tokens(col("text"))
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => struct(get(toks, i).as("a"), get(toks, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
  }

  /** One corpus n-gram census per (session, sf-dir) — the count tables
    * every bigram-LM consumer re-derived on its own before r10
    * (`text_lm_plausibility` re-evaluated its tokenize+explode bigram
    * subtree 3x and was the top bench line; `text_bigram_lm`,
    * `text_kneser_ney_bigram`, `text_good_turing` each rebuilt
    * overlapping statistics). The cached artifact is two
    * localCheckpointed TYPE tables — vocabulary-bounded, orders of
    * magnitude smaller than the exploded corpus:
    *   - bigrams `(a, b, n_all, n_sub)` where `n_all` counts the full
    *     corpus and `n_sub` only the deterministic doc_id % 5 == 0
    *     training slice the subset consumers score on;
    *   - unigrams `(tok, r)` over the full corpus.
    * Both censuses come from ONE pass each (map-side-combined keyed
    * aggs); at 100 TB this is exactly the n-gram statistics table a
    * corpus pipeline materializes once per snapshot and joins
    * everywhere else. */
  private[graft] val ngramCensus = new graft.util.SharedStage[
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
      "text_ngram_shared_census")({ (s, d) =>
      val pairs = bigramPairs
      val bi = Tables.documents(s, d)
        .select((col("doc_id") % 5 === 0).as("insub"), explode(pairs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_all"),
          sum(when(col("insub"), lit(1L)).otherwise(lit(0L))).as("n_sub"))
        .localCheckpoint(true)
      val uni = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("r"))
        .localCheckpoint(true)
      (bi, uni)
    })

  /** The BPE training replay as DuckDB CTEs (no WITH prefix): w0/e0/n0 +
    * per-round p$i (pair counts), t$i (argmax), e$i (rewritten
    * encodings). Shared by both BPE oracles. Every CTE is MATERIALIZED:
    * DuckDB inlines CTEs by default, and each e$i references t$i through
    * four scalar subqueries, so inlining re-expands the whole prior
    * round chain per reference — exponential replay (minutes at sf0.01);
    * materialized, the full 5-round oracle runs in ~0.4 s. */
  private def duckBpeCtes(rounds: Int): String = {
    def round(i: Int): String =
      s"""p$i AS MATERIALIZED (SELECT pr.a AS a, pr.b AS b, CAST(SUM(c) AS BIGINT) AS f
         |        FROM (SELECT c, unnest(list_transform(
         |                range(1, len(s)),
         |                k -> {'a': s[k], 'b': s[k+1]})) AS pr
         |              FROM (SELECT c, string_split(trim(enc), '  ') AS s
         |                    FROM e${i - 1}))
         |        GROUP BY 1, 2),
         |t$i AS MATERIALIZED (SELECT a, b, f FROM p$i ORDER BY f DESC, a, b LIMIT 1),
         |e$i AS MATERIALIZED (SELECT w, c,
         |        CASE WHEN (SELECT a FROM t$i) IS NULL THEN enc
         |        ELSE replace(enc,
         |          ' ' || (SELECT a FROM t$i) || '  ' ||
         |            (SELECT b FROM t$i) || ' ',
         |          ' ' || (SELECT a FROM t$i) ||
         |            (SELECT b FROM t$i) || ' ') END AS enc
         |        FROM e${i - 1})""".stripMargin
    s"""w0 AS MATERIALIZED (SELECT w, COUNT(*) AS c FROM (
       |         SELECT unnest(string_split(trim(text), ' ')) AS w
       |         FROM documents) GROUP BY w),
       |e0 AS MATERIALIZED (SELECT w, c, array_to_string(list_transform(
       |         list_filter(string_split(w, ''), x -> x <> ''),
       |         x -> ' ' || x || ' '), '') AS enc FROM w0),
       |n0 AS MATERIALIZED (SELECT CAST(SUM(len(string_split(trim(enc), '  ')) * c)
       |         AS BIGINT) AS n FROM e0),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  val registry: Map[String, QuerySpec] = Map(

    // Collocation mining by LIFT (the log-free PMI): for adjacent token
    // pairs with support ≥ 20, lift = p(ab) / (p(a)·p(b)) — how much
    // more often the bigram occurs than independence predicts, the
    // collocation extractor behind phrase vocabularies and tokenizer
    // merge candidates. Lift carries exactly PMI's ranking (PMI =
    // log lift) without the cross-engine ln(); every input is an exact
    // count and the score is a three-division chain written identically
    // on both engines. Bigram counts are one explode + keyed agg; the
    // unigram table joins in twice as a broadcast vocabulary; top-20 by
    // (lift, pair) via TakeOrdered.
    "text_collocation_lift" -> QuerySpec(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
        val bi = toks
          .select(explode(zip_with(col("ts"),
            slice(col("ts"), 2, 1000000),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
          .filter(col("p.w2").isNotNull)
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("nab"))
        val uni = toks.select(explode(col("ts")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("nw"))
        val tot = uni.agg(sum("nw").as("u_tot"))
        val btot = bi.agg(sum("nab").as("b_tot"))
        bi.filter(col("nab") >= 20)
          .join(broadcast(uni.select(col("w").as("w1"),
            col("nw").as("na"))), "w1")
          .join(broadcast(uni.select(col("w").as("w2"),
            col("nw").as("nb"))), "w2")
          .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
          .select(col("w1"), col("w2"), col("nab"), col("na"), col("nb"),
            ((col("nab").cast("double") / col("b_tot").cast("double")) /
              ((col("na").cast("double") / col("u_tot").cast("double")) *
                (col("nb").cast("double") / col("u_tot").cast("double"))))
              .as("lift"))
          .orderBy(desc("lift"), asc("w1"), asc("w2")).limit(20)
      },
      s"""WITH t AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |bi AS (
         |  SELECT ts[i] AS w1, ts[i + 1] AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS nab
         |  FROM t, UNNEST(generate_series(1, len(ts) - 1)) s(i)
         |  GROUP BY 1, 2),
         |uni AS (
         |  SELECT unnest(ts) AS w FROM t),
         |ug AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
         |       FROM uni GROUP BY 1),
         |ut AS (SELECT CAST(SUM(nw) AS BIGINT) AS u_tot FROM ug),
         |bt AS (SELECT CAST(SUM(nab) AS BIGINT) AS b_tot FROM bi)
         |SELECT bi.w1, bi.w2, bi.nab, a.nw AS na, b.nw AS nb,
         |       (CAST(bi.nab AS DOUBLE) / CAST(b_tot AS DOUBLE)) /
         |         ((CAST(a.nw AS DOUBLE) / CAST(u_tot AS DOUBLE)) *
         |          (CAST(b.nw AS DOUBLE) / CAST(u_tot AS DOUBLE)))
         |         AS lift
         |FROM bi JOIN ug a ON bi.w1 = a.w
         |        JOIN ug b ON bi.w2 = b.w, ut, bt
         |WHERE bi.nab >= 20
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin),

    // Epoch-shuffle audit: a training loader must present examples in a
    // DIFFERENT order every epoch (residual order correlation biases
    // SGD), and a reproducible pipeline derives each epoch's order from
    // a hash, not an RNG. This query computes two epochs' orders
    // (rank by md5(epoch:doc)) and their Spearman correlation in the
    // fully exact form ρ = 1 − 6·Σd²/(n·(n²−1)) — integer numerators
    // end to end, one final division — with the verdict |ρ| ≤ 0.1.
    // The global ranks use the banded pattern a THIRD way: hash-prefix
    // bands (top bits of the 60-bit hash), which are uniform by
    // construction, so in-band windows stay balanced at any corpus
    // size; cross-band offsets come from the tiny band-count table.
    "dataset_epoch_shuffle_audit" -> QuerySpec(
      (s, d) => {
        def ranked(epoch: Int) = {
          val h = TextOps.hash64(
            concat_ws(":", lit(epoch), col("doc_id")))
          val base = Tables.documents(s, d)
            .select(col("doc_id"), h.as("h"))
            .withColumn("band", expr("h div 18014398509481984")) // 2^54
          graft.ops.Banded.rowNumber(base, Seq("h", "doc_id"), s"r$epoch")
            .select(col("doc_id"), col(s"r$epoch"))
        }
        ranked(1).join(ranked(2), "doc_id")
          .select(((col("r1") - col("r2")) * (col("r1") - col("r2")))
            .as("d2"))
          .agg(count(lit(1)).as("n"), sum("d2").as("sum_d2"))
          // n=1 (single-doc corpus): n(n²−1)=0 → rho is SQL-NULL on
          // both engines, not an ANSI error
          .withColumn("spearman_rho", lit(1.0) -
            graft.queries.Analytic.safeDiv(
              lit(6.0) * col("sum_d2").cast("double"),
              col("n").cast("double") *
                (col("n") * col("n") - 1).cast("double")))
          .withColumn("decorrelated", abs(col("spearman_rho")) <= lit(0.1))
          .select("n", "sum_d2", "spearman_rho", "decorrelated")
      },
      {
        def ranked(e: Int) =
          s"""b$e AS (
             |  SELECT doc_id, h, h // 18014398509481984 AS band
             |  FROM (SELECT doc_id,
             |          CAST(('0x' || substr(md5('$e' || ':' ||
             |            CAST(doc_id AS VARCHAR)), 1, 15))
             |            ::UBIGINT AS BIGINT) AS h
             |        FROM documents)),
             |o$e AS (
             |  SELECT band, COALESCE(CAST(SUM(bn) OVER (ORDER BY band
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |           AS BIGINT), 0) AS cbase
             |  FROM (SELECT band, CAST(COUNT(*) AS BIGINT) AS bn
             |        FROM b$e GROUP BY 1)),
             |r$e AS (
             |  SELECT b.doc_id,
             |         CAST(row_number() OVER (PARTITION BY b.band
             |           ORDER BY b.h, b.doc_id) AS BIGINT) + o.cbase
             |           AS r$e
             |  FROM b$e b JOIN o$e o USING (band))""".stripMargin
        s"""WITH ${ranked(1)},
           |${ranked(2)},
           |dd AS (SELECT (r1.r1 - r2.r2) * (r1.r1 - r2.r2) AS d2
           |       FROM r1 JOIN r2 USING (doc_id)),
           |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |        CAST(SUM(d2) AS BIGINT) AS sum_d2 FROM dd)
           |SELECT n, sum_d2,
           |       1.0 - (6.0 * CAST(sum_d2 AS DOUBLE)) /
           |         (CAST(n AS DOUBLE) * CAST(n * n - 1 AS DOUBLE))
           |         AS spearman_rho,
           |       abs(1.0 - (6.0 * CAST(sum_d2 AS DOUBLE)) /
           |         (CAST(n AS DOUBLE) * CAST(n * n - 1 AS DOUBLE)))
           |         <= 0.1 AS decorrelated
           |FROM a""".stripMargin
      }),

    // Deterministic data augmentation: 10% token dropout (the standard
    // robustness augmentation for LM/classifier training) with the drop
    // decision a PORTABLE HASH of (doc, position, token) — the same
    // no-rand() coin as every sampler here, so the augmented corpus is
    // reproducible bit-for-bit across engines and runs (an rng-seeded
    // dropout can't be audited; a hash-seeded one can). Census per
    // source: documents, original vs augmented token mass, realized
    // drop rate (≈ 0.1 by the law of large numbers — the deviation IS
    // the audit). One explode pass, one keyed agg; at scale the hash
    // evaluates inside the scan projection, nothing shuffles but the
    // per-source census.
    "corpus_augment_token_dropout" -> QuerySpec(
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
          .withColumn("keep",
            TextOps.hash64(concat_ws(":", col("doc_id"), col("pos"),
              col("tok"))) % 10 =!= 0)
          .groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("orig_tokens"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("aug_tokens"))
          .withColumn("drop_rate",
            (col("orig_tokens") - col("aug_tokens")).cast("double") /
              col("orig_tokens").cast("double"))
          .orderBy("source")
      },
      s"""WITH u AS (
         |  SELECT source, doc_id, t.i - 1 AS pos, toks[i] AS tok
         |  FROM (SELECT source, doc_id, $duckToks AS toks FROM documents),
         |       UNNEST(generate_series(1, len(toks))) t(i)),
         |k AS (
         |  SELECT source, doc_id,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
         |           || CAST(pos AS VARCHAR) || ':' || tok), 1, 15))
         |           ::UBIGINT AS BIGINT) % 10 <> 0 AS keep
         |  FROM u)
         |SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(COUNT(*) AS BIGINT) AS orig_tokens,
         |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |         AS aug_tokens,
         |       CAST(COUNT(*) - SUM(CASE WHEN keep THEN 1 ELSE 0 END)
         |           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS drop_rate
         |FROM k GROUP BY 1 ORDER BY source""".stripMargin),

    // Token-mass inequality census: the Gini coefficient and top-decile
    // share of tokens-per-document — "how concentrated is the corpus in
    // its longest documents", the statistic that decides whether
    // length-capping / chunking policy actually changes the training
    // mix. Gini needs a GLOBAL ascending rank, which is the
    // single-partition-sort trap; this runs it BANDED (the
    // customer_abc_classes pattern): ranks are per-band windows (band =
    // tokens div 32 — bounded by max document length, independent of
    // corpus size) plus cumulative band-count offsets from the tiny
    // band table. Everything is exact integer arithmetic (Σ rank·x as
    // BIGINT — exact up to ~1e9 doc·token scale, switch the sum to
    // DECIMAL(38,0) beyond) until the two closed-form divisions.
    "corpus_token_gini" -> QuerySpec(
      (s, d) => {
        val dt = Tables.documents(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("tk"))
          .withColumn("band", expr("tk div 32"))
        val g = graft.ops.Banded.rowNumber(dt, Seq("tk", "doc_id"), "r")
          .select(col("r"), col("tk"))
        val tot = g.agg(count(lit(1)).as("n"), sum("tk").as("sx"),
          sum(col("r") * col("tk")).as("srx"))
        // global agg + crossJoin (not groupBy on tot's columns): an
        // EMPTY corpus must still emit the oracle's one NULL row;
        // safeDiv: n=0 divisions are SQL-NULL, not ANSI errors
        g.crossJoin(broadcast(tot))
          .agg(sum(when(col("r") > col("n") - expr("n div 10"),
            col("tk")).otherwise(0L)).as("top_decile_tokens"))
          .crossJoin(broadcast(tot))
          .select(col("n").as("n_docs"), col("sx").as("total_tokens"),
            (graft.queries.Analytic.safeDiv(
              lit(2.0) * col("srx").cast("double"),
              col("n").cast("double") * col("sx").cast("double")) -
              graft.queries.Analytic.safeDiv(
                (col("n") + 1).cast("double"), col("n").cast("double")))
              .as("gini"),
            col("top_decile_tokens"),
            graft.queries.Analytic.safeDiv(
              col("top_decile_tokens").cast("double"),
              col("sx").cast("double")).as("top_decile_share"))
      },
      s"""WITH dt AS (
         |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS tk,
         |         CAST(len($duckToks) AS BIGINT) // 32 AS band
         |  FROM documents),
         |ranked AS (
         |  SELECT band, tk, CAST(row_number() OVER (PARTITION BY band
         |           ORDER BY tk, doc_id) AS BIGINT) AS rin
         |  FROM dt),
         |base AS (
         |  SELECT band, COALESCE(CAST(SUM(bn) OVER (ORDER BY band
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS BIGINT), 0) AS cbase
         |  FROM (SELECT band, CAST(COUNT(*) AS BIGINT) AS bn
         |        FROM dt GROUP BY 1)),
         |g AS (SELECT r.rin + b.cbase AS r, r.tk
         |      FROM ranked r JOIN base b USING (band)),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(tk) AS BIGINT) AS sx,
         |          CAST(SUM(r * tk) AS BIGINT) AS srx
         |        FROM g),
         |td AS (SELECT CAST(SUM(CASE WHEN g.r > tot.n - tot.n // 10
         |               THEN g.tk ELSE 0 END) AS BIGINT)
         |          AS top_decile_tokens
         |       FROM g, tot)
         |SELECT tot.n AS n_docs, tot.sx AS total_tokens,
         |       (2.0 * CAST(srx AS DOUBLE)) /
         |         (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) -
         |         CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini,
         |       top_decile_tokens,
         |       CAST(top_decile_tokens AS DOUBLE) / CAST(sx AS DOUBLE)
         |         AS top_decile_share
         |FROM tot, td""".stripMargin),

    // Per-source DATASET CARD: the one-table summary a corpus ships with
    // — per source: document and token mass, token share of the whole
    // corpus, English fraction, and language-diversity Gini (rational,
    // same construction as profile_gini_diversity) — the numbers a
    // mixture designer reads before assigning weights, and the
    // documentation artifact (Gebru et al., "Datasheets for Datasets")
    // every released corpus owes its users. Two-level keyed agg
    // ((source, lang) → source), token totals exact integers, one 1-row
    // broadcast for the corpus total; every ratio is a single division
    // of exact integers.
    "corpus_dataset_card" -> QuerySpec(
      (s, d) => {
        val g1 = Tables.documents(s, d)
          .select(col("source"), col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("toks"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("nd"), sum("toks").as("tk"))
        val g2 = g1.groupBy("source")
          .agg(sum("nd").as("n_docs"), sum("tk").as("total_tokens"),
            sum(col("nd") * col("nd")).as("sc2"),
            sum(when(col("lang") === "en", col("nd")).otherwise(0L))
              .as("n_en"))
        val tot = g2.agg(sum("total_tokens").as("corpus_tokens"))
        g2.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("total_tokens"),
            (col("total_tokens").cast("double") /
              col("corpus_tokens").cast("double")).as("token_share"),
            (col("total_tokens").cast("double") /
              col("n_docs").cast("double")).as("mean_tokens"),
            (col("n_en").cast("double") / col("n_docs").cast("double"))
              .as("pct_en"),
            (lit(1.0) - col("sc2").cast("double") /
              (col("n_docs").cast("double") * col("n_docs").cast("double")))
              .as("lang_gini"))
          .orderBy("source")
      },
      s"""WITH g1 AS (
         |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nd,
         |         CAST(SUM(len($duckToks)) AS BIGINT) AS tk
         |  FROM documents GROUP BY 1, 2),
         |g2 AS (
         |  SELECT source, CAST(SUM(nd) AS BIGINT) AS n_docs,
         |         CAST(SUM(tk) AS BIGINT) AS total_tokens,
         |         CAST(SUM(nd * nd) AS BIGINT) AS sc2,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN nd ELSE 0 END)
         |           AS BIGINT) AS n_en
         |  FROM g1 GROUP BY 1),
         |t AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens
         |      FROM g2)
         |SELECT source, n_docs, total_tokens,
         |       CAST(total_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE)
         |         AS token_share,
         |       CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |         AS mean_tokens,
         |       CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pct_en,
         |       1.0 - CAST(sc2 AS DOUBLE) /
         |         (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
         |         AS lang_gini
         |FROM g2, t ORDER BY source""".stripMargin),

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    // maximal stopword-free token runs (capped at 4 words), each word is
    // scored deg(w)/freq(w) over the candidate set (deg = summed length
    // of phrases containing the word — co-occurrence degree including
    // self), and a phrase scores the SUM of its word scores; top-20
    // phrases — the unsupervised keyphrase pass of a document-
    // understanding pipeline, no model required. Determinism: run
    // boundaries come from an integer stopword-prefix-count window
    // (partitioned BY DOC — bounded by doc length, never global), word
    // scores are one exact-integer division each, and the per-phrase sum
    // of word scores — the only order-sensitive float accumulation — is
    // a 2^40-scaled floor()ed decimal sum, order-free on both engines.
    // Scale shape: two keyed aggs ((doc, run) and word), one broadcast
    // of the word-score table (vocabulary-sized) back onto the phrase
    // words, and a TakeOrdered top-20 — no global sort, no self-join.
    "text_rake_keywords" -> QuerySpec(
      (s, d) => {
        val wdoc = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")
          .rowsBetween(Long.MinValue, 0)
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text")))
            .as(Seq("i", "w")))
          .withColumn("stop", col("w").isin("a", "the"))
          .withColumn("run", sum(col("stop").cast("long")).over(wdoc))
        val cands = toks.filter(!col("stop"))
          .groupBy("doc_id", "run")
          .agg(array_join(transform(
              array_sort(collect_list(struct(col("i"), col("w")))),
              x => x.getField("w")), " ").as("phrase"),
            count(lit(1)).as("len"))
          .filter(col("len") <= 4)
        val wstats = cands
          .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
          .groupBy("w")
          .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
          .withColumn("wscore",
            col("deg").cast("double") / col("freq").cast("double"))
        val phrases = cands.groupBy("phrase")
          .agg(count(lit(1)).as("n_occ"), first(col("len")).as("n_words"))
        phrases
          .select(col("phrase"), col("n_occ"), col("n_words"),
            explode(split(col("phrase"), " ")).as("w"))
          .join(broadcast(wstats.select("w", "wscore")), "w")
          .groupBy("phrase", "n_occ", "n_words")
          .agg((sum(floor(col("wscore") * lit(1099511627776.0))
              .cast("decimal(38,0)")).cast("double") /
            lit(1099511627776.0)).as("score"))
          .orderBy(desc("score"), asc("phrase")).limit(20)
      },
      s"""WITH u AS (
         |  SELECT doc_id, t.i, toks[i] AS w,
         |         toks[i] IN ('a', 'the') AS stop
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents),
         |       UNNEST(generate_series(1, len(toks))) t(i)),
         |r AS (
         |  SELECT doc_id, i, w, stop,
         |         SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS run
         |  FROM u),
         |cands AS (
         |  SELECT doc_id, run, string_agg(w, ' ' ORDER BY i) AS phrase,
         |         CAST(COUNT(*) AS BIGINT) AS len
         |  FROM r WHERE NOT stop GROUP BY 1, 2
         |  HAVING COUNT(*) <= 4),
         |wstats AS (
         |  SELECT w, CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |           AS wscore
         |  FROM (SELECT len, unnest(string_split(phrase, ' ')) AS w
         |        FROM cands)
         |  GROUP BY 1),
         |phrases AS (
         |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |         CAST(MIN(len) AS BIGINT) AS n_words
         |  FROM cands GROUP BY 1),
         |scored AS (
         |  SELECT p.phrase, p.n_occ, p.n_words,
         |         CAST(SUM(CAST(floor(ws.wscore * 1099511627776.0)
         |             AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0
         |           AS score
         |  FROM phrases p,
         |       UNNEST(string_split(p.phrase, ' ')) pw(w)
         |       JOIN wstats ws ON pw.w = ws.w
         |  GROUP BY 1, 2, 3)
         |SELECT phrase, n_occ, n_words, score
         |FROM scored ORDER BY score DESC, phrase LIMIT 20""".stripMargin),

    // Good-Turing frequency-of-frequencies table over the corpus
    // unigrams — the classical smoothing estimator feeding every
    // held-out-mass decision an LM-data pipeline makes (how much
    // probability to reserve for unseen tokens; how hard to discount
    // hapaxes before trusting a count). Emits, for every frequency r
    // with a populated successor class, the class size N_r and the
    // smoothed count r* = (r+1)·N_{r+1}/N_r plus the discount r*/r —
    // exact BIGINT tallies, divisions as the identical double chain
    // both engines (the r·N_{r+1} product is bounded by the corpus
    // token total, so it cannot overflow BIGINT even at 100 TB).
    // Scale: the corpus-sized stage is ONE map-side-combined token
    // count; the count-of-counts table is frequency-bounded (≲ √tokens
    // distinct r values under any Zipfian corpus) and self-joins on
    // r+1 via broadcast.
    "text_good_turing" -> QuerySpec(
      (s, d) => {
        val counts = ngramCensus(s, d)._2 // shared unigram census (tok, r)
        val cc = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
        val nxt = cc.select((col("r") - 1).as("rj"),
          col("n_r").as("n_r_next"))
        val rstar = ((col("r") + 1) * col("n_r_next")).cast("double") /
          col("n_r").cast("double")
        cc.join(broadcast(nxt), col("r") === col("rj"))
          .select(col("r"), col("n_r"), col("n_r_next"),
            rstar.as("r_star"),
            (rstar / col("r").cast("double")).as("discount"))
          .orderBy("r")
      },
      s"""WITH c AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM (
         |    SELECT unnest($duckToks) AS tok FROM documents)
         |  GROUP BY tok),
         |cc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
         |       FROM c GROUP BY r)
         |SELECT a.r, a.n_r, b.n_r AS n_r_next,
         |       CAST((a.r + 1) * b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE)
         |         AS r_star,
         |       CAST((a.r + 1) * b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE)
         |         / CAST(a.r AS DOUBLE) AS discount
         |FROM cc a JOIN cc b ON b.r = a.r + 1
         |ORDER BY a.r""".stripMargin),

    "text_token_stats" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          TextOps.regexTokenCount(col("text")).cast("long").as("n_regex_tokens"),
          length(col("text")).cast("long").as("len"),
          col("n_chars"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |       CAST(len($duckToks) AS BIGINT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_regex_tokens,
         |       CAST(length(text) AS BIGINT) AS len, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Cohen's kappa between two independent document labelers — the
    // inter-rater reliability audit a labeling pipeline runs before
    // trusting agreement-based pseudo-labels (raw agreement po is
    // inflated by chance; kappa subtracts the chance-agreement floor
    // pe). The two raters here are deterministic quality gates judging
    // DIFFERENT evidence: A = length gate (≥ 40 whitespace tokens),
    // B = fluency gate (stopword share ≥ 1/18, as the exact integer
    // cross-product st·18 ≥ n — no ratio double ever decides a label).
    // The confusion cells are exact BIGINTs from one map-side-combined
    // scan; po/pe/kappa are the only doubles, computed as the identical
    // fixed chain in both engines with pe built from per-marginal
    // RATES ((a1/N)·(b1/N) + (a0/N)·(b0/N)) so nothing ever forms the
    // N² product that would overflow BIGINT on a 100 TB corpus.
    "stat_cohen_kappa" -> QuerySpec(
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val n = size(toks).cast("long")
        val st = size(filter(toks, t =>
          Seq("the", "a", "of", "and").map(t === _).reduce(_ || _)))
          .cast("long")
        val lab = Tables.documents(s, d)
          .select((n >= 40).as("a"), (st * 18 >= n).as("b"))
        val nd = col("n_docs").cast("double")
        lab.agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
            sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
            sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
            sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
          .withColumn("po",
            (col("n11") + col("n00")).cast("double") / nd)
          .withColumn("pe",
            ((col("n11") + col("n10")).cast("double") / nd) *
              ((col("n11") + col("n01")).cast("double") / nd) +
              ((col("n01") + col("n00")).cast("double") / nd) *
              ((col("n10") + col("n00")).cast("double") / nd))
          .select(col("n_docs"), col("n11"), col("n10"), col("n01"),
            col("n00"), col("po"), col("pe"),
            // pe = 1 (all docs in one agreement cell): kappa is SQL-NULL
            // on both engines, not an ANSI error
            graft.queries.Analytic.safeDiv(col("po") - col("pe"),
              lit(1.0) - col("pe")).as("kappa"))
      },
      s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
         |m AS (SELECT len(toks) AS n,
         |        len(list_filter(toks,
         |          x -> x IN ('the', 'a', 'of', 'and'))) AS st
         |      FROM t),
         |l AS (SELECT n >= 40 AS a, st * 18 >= n AS b FROM m),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n11,
         |        CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n10,
         |        CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n01,
         |        CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n00
         |      FROM l),
         |e AS (SELECT *,
         |        CAST(n11 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |          AS po,
         |        (CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |          * (CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |        + (CAST(n01 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |          * (CAST(n10 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |          AS pe
         |      FROM c)
         |SELECT n_docs, n11, n10, n01, n00, po, pe,
         |       (po - pe) / (1.0 - pe) AS kappa
         |FROM e""".stripMargin),

    "text_lang_id" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(TextOps.langId(TextOps.tokens(col("text"))).as("pred_lang"),
          col("lang"))
        .groupBy("pred_lang", "lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang", "lang"),
      s"""WITH t AS (SELECT lang, $duckToks AS toks FROM documents),
         |s AS (SELECT lang, [
         |  len(list_filter(toks, t -> t IN ('the','a','of','and'))),
         |  len(list_filter(toks, t -> t IN ('el','la','de','y'))),
         |  len(list_filter(toks, t -> t IN ('der','die','und'))),
         |  len(list_filter(toks, t -> t IN ('le','les','et'))),
         |  len(list_filter(toks, t -> t IN ('的','是','了')))] AS sc
         |  FROM t)
         |SELECT ['en','es','de','fr','zh'][list_position(sc, list_max(sc))] AS pred_lang,
         |       lang, COUNT(*) AS n
         |FROM s GROUP BY 1, 2 ORDER BY pred_lang, lang""".stripMargin),

    // McNemar's paired test between the TWO cheap quality gates
    // (stat_cohen_kappa's raters: A = length ≥ 40 tokens, B = exact
    // integer stopword-share st·18 ≥ n) judged against the EXPENSIVE
    // composite quality score (text_quality_score's formula at a 0.62
    // cut) — the model-comparison audit a pipeline runs before
    // replacing the expensive filter with a cheap gate (the UNPAIRED
    // z-test wastes the per-document pairing; McNemar conditions on
    // the discordant pairs, which is all the evidence the swap
    // decision needs; kappa asked "do the gates agree?", this asks
    // "which gate better matches the reference?"). Agreement cells are
    // exact BIGINTs off ONE map-side-combined scan; the reference cut
    // compares a double both engines compute bit-identically (proven
    // by text_quality_score); the uncorrected statistic (b−c)²/(b+c)
    // is one fixed double chain, with the discordant counts shipped
    // alongside so a consumer can apply any correction exactly.
    "stat_mcnemar_quality_gates" -> QuerySpec(
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val n = size(toks).cast("long")
        val st = size(filter(toks, t =>
          Seq("the", "a", "of", "and").map(t === _).reduce(_ || _)))
          .cast("long")
        val ref = TextOps.qualityScore(col("text")) >= lit(0.62)
        val p = Tables.documents(s, d).select(
          ((n >= 40L) === ref).as("a_ok"),
          ((st * 18L >= n) === ref).as("b_ok"))
        val agg = p.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("a_ok") && col("b_ok"), 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L))
            .as("n10"),
          sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L))
            .as("n01"),
          sum(when(!col("a_ok") && !col("b_ok"), 1L).otherwise(0L))
            .as("n00"))
        val (bD, cD) = (col("n10").cast("double"),
          col("n01").cast("double"))
        agg.select(col("n_docs"), col("n11"), col("n10"), col("n01"),
          col("n00"),
          // zero discordant pairs (degenerate slice): SQL-NULL, like the
          // oracle's x/0 — not an ANSI error
          graft.queries.Analytic.safeDiv((bD - cD) * (bD - cD), bD + cD)
            .as("mcnemar_chi2"))
      },
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks
         |           FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
         |    AS BIGINT) AS st,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
         |    AS DOUBLE) / len(toks) AS stopword_ratio,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
         |    / length(text) AS punct_ratio,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
         |    / length(text) AS upper_ratio
         |  FROM t),
         |p AS (SELECT
         |  ((n >= 40) = ref) AS a_ok, ((st * 18 >= n) = ref) AS b_ok
         |  FROM (SELECT n, st,
         |    (least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
         |     + stopword_ratio * 0.3 + (1.0 - punct_ratio) * 0.2
         |     + (1.0 - upper_ratio) * 0.1 >= 0.62) AS ref
         |    FROM c)),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN a_ok AND b_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |  CAST(SUM(CASE WHEN a_ok AND NOT b_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |  CAST(SUM(CASE WHEN NOT a_ok AND b_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |  CAST(SUM(CASE WHEN NOT a_ok AND NOT b_ok
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM p)
         |SELECT n_docs, n11, n10, n01, n00,
         |  (CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE))
         |    * (CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE))
         |    / (CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE))
         |    AS mcnemar_chi2
         |FROM agg""".stripMargin),

    // Cochran's Q across the THREE quality gates (length, exact
    // stopword share, composite-score cut) on matched documents — the
    // k-rater generalization of McNemar: "do the gates admit at the
    // same rate once per-document correlation is accounted for?"
    // (unpaired rate comparison overstates the difference because the
    // same easy documents pass every gate). All tallies are exact
    // BIGINTs off ONE map-side-combined scan: per-gate admit totals
    // G_j, the grand total T = ΣL_i, and ΣL_i² with L_i ∈ {0..3} the
    // per-document admit count. Q = (k−1)(kΣG_j² − T²)/(kΣL − ΣL²)
    // forms the quadratics in DOUBLE from the exact counts (G_j² would
    // outgrow BIGINT on a 100 TB corpus — the kappa lesson) with the
    // three-term ΣG_j² written in fixed textual order, one identical
    // chain both engines.
    "stat_cochran_q" -> QuerySpec(
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val n = size(toks).cast("long")
        val st = size(filter(toks, t =>
          Seq("the", "a", "of", "and").map(t === _).reduce(_ || _)))
          .cast("long")
        val ga = when(n >= 40L, 1L).otherwise(0L)
        val gb = when(st * 18L >= n, 1L).otherwise(0L)
        val gc = when(TextOps.qualityScore(col("text")) >= lit(0.62), 1L)
          .otherwise(0L)
        val agg = Tables.documents(s, d)
          .select(ga.as("a"), gb.as("b"), gc.as("c"))
          .agg(count(lit(1)).as("n_docs"),
            sum("a").as("g_len"), sum("b").as("g_stop"),
            sum("c").as("g_quality"),
            sum(col("a") + col("b") + col("c")).as("sum_l"),
            sum((col("a") + col("b") + col("c")) *
              (col("a") + col("b") + col("c"))).as("sum_l2"))
        val kD = lit(3.0)
        def D(c: String) = col(c).cast("double")
        val sumG2 = D("g_len") * D("g_len") + D("g_stop") * D("g_stop") +
          D("g_quality") * D("g_quality")
        agg.select(col("n_docs"), col("g_len"), col("g_stop"),
          col("g_quality"), col("sum_l"), col("sum_l2"),
          graft.queries.Analytic.safeDiv(
            (kD - lit(1.0)) * (kD * sumG2 - D("sum_l") * D("sum_l")),
            kD * D("sum_l") - D("sum_l2")).as("cochran_q"))
      },
      s"""WITH t AS (SELECT text, $duckToks AS toks FROM documents),
         |c AS (SELECT
         |  CAST(len(toks) AS BIGINT) AS n,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
         |    AS BIGINT) AS st,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and')))
         |    AS DOUBLE) / len(toks) AS stopword_ratio,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
         |    / length(text) AS punct_ratio,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
         |    / length(text) AS upper_ratio
         |  FROM t),
         |g AS (SELECT
         |  CASE WHEN n >= 40 THEN 1 ELSE 0 END AS a,
         |  CASE WHEN st * 18 >= n THEN 1 ELSE 0 END AS b,
         |  CASE WHEN least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
         |       + stopword_ratio * 0.3 + (1.0 - punct_ratio) * 0.2
         |       + (1.0 - upper_ratio) * 0.1 >= 0.62
         |    THEN 1 ELSE 0 END AS c
         |  FROM c),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(a) AS BIGINT) AS g_len,
         |  CAST(SUM(b) AS BIGINT) AS g_stop,
         |  CAST(SUM(c) AS BIGINT) AS g_quality,
         |  CAST(SUM(a + b + c) AS BIGINT) AS sum_l,
         |  CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS sum_l2
         |  FROM g)
         |SELECT n_docs, g_len, g_stop, g_quality, sum_l, sum_l2,
         |  (3.0 - 1.0) * (3.0 * (CAST(g_len AS DOUBLE)
         |      * CAST(g_len AS DOUBLE)
         |      + CAST(g_stop AS DOUBLE) * CAST(g_stop AS DOUBLE)
         |      + CAST(g_quality AS DOUBLE) * CAST(g_quality AS DOUBLE))
         |    - CAST(sum_l AS DOUBLE) * CAST(sum_l AS DOUBLE))
         |  / (3.0 * CAST(sum_l AS DOUBLE) - CAST(sum_l2 AS DOUBLE))
         |    AS cochran_q
         |FROM agg""".stripMargin),

    "text_quality_score" -> QuerySpec(
      (s, d) => {
        val c = TextOps.qualityComponents(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"), c("n_tokens").as("n_tokens"),
            c("avg_token_len").as("avg_token_len"),
            c("stopword_ratio").as("stopword_ratio"),
            TextOps.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id")
      },
      s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, text,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))), (a,b) -> a+b) AS DOUBLE)
         |    / len(toks) AS avg_token_len,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE)
         |    / len(toks) AS stopword_ratio,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS punct_ratio,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) AS upper_ratio
         |  FROM t)
         |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
         |       least(1.0, CAST(n_tokens AS DOUBLE)/100.0)*0.4 + stopword_ratio*0.3
         |         + (1.0 - punct_ratio)*0.2 + (1.0 - upper_ratio)*0.1 AS quality
         |FROM c ORDER BY doc_id""".stripMargin),

    // TF-IDF: term frequency per doc × inverse document frequency.
    // idf = ln((N+1)/(df+1)) would need libm parity; to keep the oracle
    // bit-exact the query emits tf and df as exact integers plus the
    // ratio-based tfidf = tf * N / df in double (same IEEE ops both
    // sides). Top-5 terms per doc over a deterministic stripe.
    // DSIR-style importance weights (Xie et al., "Data Selection for
    // Language Models via Importance Resampling"): score every raw doc
    // by how target-like its hashed-unigram distribution is — the
    // published recipe for tilting a web crawl toward a quality domain
    // WITHOUT a trained classifier. Target = the 'en' slice; features =
    // unigrams hashed into 64 buckets (the portable md5-60bit hash);
    // per-bucket ratio = Laplace-smoothed p_target/p_source as ONE
    // double expression (integer counts in, same operation order on
    // both engines); per-doc weight = the product of its tokens'
    // ratios, computed as an identical left fold over the SORTED ratio
    // array (the running-product rule from PERF.md — a float product is
    // order-sensitive, so the order is pinned; long off-target docs
    // underflow to +0.0 identically on both engines). Scale shape: two
    // keyed bucket aggs + a 64-row broadcast back onto the token
    // stream; the top-20 cut is a TakeOrdered heap.
    "corpus_dsir_weights" -> QuerySpec(
      (s, d) => {
        val b = 64
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(TextOps.tokens(col("text"))).as("t"))
          .select(col("doc_id"), col("lang"),
            (TextOps.hash64(col("t")) % b).as("b"))
        // r16 (guide §2.4/§5): the corpus totals were a driver .head()
        // whose subtree is the tokenize+hash pass — the scalar job ran
        // the expensive expansion once more than the dataflow needs. As
        // a broadcast 1-row column the totals ride the same plan; the
        // (ns + 64)/(nt + 64) factors are the identical long adds then
        // long→double casts, so the smoothed ratios are bit-identical.
        // Empty corpus: coalesce(sum, 0) ≡ the old 0L placeholder (and
        // no tok rows survive downstream to read it anyway).
        val stTab = tok.agg(
          coalesce(sum(when(col("lang") === "en", 1L).otherwise(0L)),
            lit(0L)).as("nt"),
          count(lit(1)).as("ns"))
        val ratio = tok.groupBy("b").agg(
            count(lit(1)).as("sc"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
          .crossJoin(broadcast(stTab))
          .select(col("b"),
            (((col("tc") + 1).cast("double") *
              (col("ns") + lit(b.toLong)).cast("double")) /
              ((col("sc") + 1).cast("double") *
                (col("nt") + lit(b.toLong)).cast("double")))
              .as("r"))
        tok.join(broadcast(ratio), "b")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sort_array(collect_list(col("r"))).as("rs"))
          .select(col("doc_id"), col("n_tokens"),
            aggregate(col("rs"), lit(1.0), (acc, x) => acc * x)
              .as("weight"))
          .orderBy(col("weight").desc, col("doc_id"))
          .limit(20)
      },
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |         ${duckHash64("t.tok")} % 64 AS b
         |  FROM documents, UNNEST($duckToks) AS t(tok)),
         |tot AS (
         |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
         |         COUNT(*) AS ns
         |  FROM tok),
         |ratio AS (
         |  SELECT b,
         |         (CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1
         |            AS DOUBLE) * CAST((SELECT ns FROM tot) + 64 AS DOUBLE))
         |       / (CAST(COUNT(*) + 1 AS DOUBLE)
         |          * CAST((SELECT nt FROM tot) + 64 AS DOUBLE)) AS r
         |  FROM tok GROUP BY b),
         |doc AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         list_sort(list(r)) AS rs
         |  FROM tok JOIN ratio USING (b)
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       list_reduce(rs, (p, f) -> p * f) AS weight
         |FROM doc
         |ORDER BY weight DESC, doc_id
         |LIMIT 20""".stripMargin),

    "text_tf_idf" -> QuerySpec(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // one tiny action; cluster-safe (scalar). Counted off the raw scan
        // (no fanOut) — a count needs no parallel CPU, and the repartition
        // would shuffle the text payload just to count rows.
        val n = Tables.table(s, d, "documents").count()
        val tf = docs.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          // staged once (the text_lm_plausibility precedent): both
          // skew-split arms below probe tf, and AQE does NOT stage-cache
          // the duplicated subtree across union arms (measured: the tail
          // arm re-ran the scan+aggregate), so land it eagerly — at
          // scale this is the difference between scanning the sampled
          // corpus once and twice. Plan-asserted: no parquet scan
          // survives in either union arm.
          .localCheckpoint(true)
        val df = docs
          .select(explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
          // landed once: both skew-split arms below consume it, and the
          // head selection must agree with the tail anti-join exactly
          .localCheckpoint(true)
        // Zipfian-key skew split (the text_lm_plausibility precedent):
        // document-frequency keys are natural-language terms, so the head
        // (stopword-class terms) carries most of tf's rows — at 100x
        // scale one shuffle join funnels them through few reducers. The
        // top-K most-document-frequent terms' df stats BROADCAST onto tf;
        // the tail (per-term df bounded by construction) takes the
        // ordinary equi-join. Deterministic total tie-break makes
        // head ∪ tail an exact partition of df, so the two inner-join
        // arms union to the original join row-for-row.
        val headK = 1024
        val dfHead = df.orderBy(desc("df"), asc("term")).limit(headK)
        val dfTail = df.join(broadcast(dfHead.select("term")),
          Seq("term"), "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(desc("tfidf"), asc("term"))
        tf.join(broadcast(dfHead), "term")
          .unionByName(tf.join(dfTail, "term"))
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            (col("tf").cast("double") * lit(n.toDouble) /
              col("df").cast("double")).as("tfidf"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).drop("rn")
          .orderBy("doc_id", "term")
      },
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        |  FROM documents WHERE doc_id % 20 = 0),
        |tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |dfc AS (
        |  SELECT term, COUNT(*) AS df FROM (
        |    SELECT DISTINCT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS term
        |    FROM documents) GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |         CAST(tf AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM n)
        |           / CAST(df AS DOUBLE) AS tfidf
        |  FROM tfc JOIN dfc USING (term))
        |SELECT doc_id, term, tf, df, tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY doc_id, term""".stripMargin),

    // PII redaction: email/US-phone masking via regex chains (the text
    // cleaning step before training). PII is synthesized deterministically
    // (the corpus has none), so the redactor provably fires.
    "text_pii_redaction" -> QuerySpec(
      (s, d) => {
        val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        val dirty = concat(lit("contact user"), col("doc_id"),
          lit("@example.com or 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" re: "), substring(col("text"), 1, 40))
        Tables.documents(s, d)
          .filter(col("doc_id") < 1000)
          .select(col("doc_id"),
            regexp_count(dirty, lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(dirty, lit(phoneRe)).cast("long").as("n_phones"),
            regexp_replace(regexp_replace(dirty, emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("redacted"))
          .orderBy("doc_id")
      },
      """WITH dirty AS (
        |  SELECT doc_id,
        |         'contact user' || doc_id || '@example.com or 555-123-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' ||
        |         substring(text, 1, 40) AS t
        |  FROM documents WHERE doc_id < 1000)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM dirty ORDER BY doc_id""".stripMargin),

    // Repetition/burstiness stats: distinct ratio + the most frequent
    // token's count per document — the repetition-filter signal.
    "text_repetition_stats" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_token_count"),
          (count(lit(1)).cast("double") / sum("c")).as("distinct_ratio"))
        .orderBy("doc_id"),
      """SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       COUNT(*) AS n_distinct,
        |       CAST(MAX(c) AS BIGINT) AS top_token_count,
        |       CAST(COUNT(*) AS DOUBLE) / SUM(c) AS distinct_ratio
        |FROM (SELECT doc_id, tok, COUNT(*) AS c
        |      FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        |            FROM documents)
        |      GROUP BY doc_id, tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Decontamination: flag training docs sharing any 3-gram shingle with
    // the eval set (source = src0) — the benchmark-overlap check run
    // before training. Inverted-index join on shingles, grouped overlap
    // counts.
    "text_decontamination" -> QuerySpec(
      (s, d) => {
        val sh = array_distinct(graft.ext.Dedup.shingles3(TextOps.tokens(col("text"))))
        val docs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        val evalSet = docs.filter(col("source") === "src0")
          .select(explode(sh).as("sh")).distinct()
        val train = docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode(sh).as("sh"))
        train.join(evalSet, "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared_shingles"))
          .orderBy("doc_id")
      },
      """WITH strip AS (
        |  SELECT doc_id, source, string_split(trim(text), ' ') AS toks
        |  FROM documents WHERE doc_id % 5 = 0),
        |sh AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |  FROM strip),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
        |tr AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0')
        |SELECT doc_id, COUNT(*) AS n_shared_shingles
        |FROM tr JOIN ev USING (sh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Sequence packing: chunk documents into context windows by cumulative
    // token budget (per-source streams, deterministic doc_id order) — the
    // standard packing approximation training pipelines run before
    // tokenizer sharding. bin = floor((cumsum-1)/budget); stats per bin.
    "text_pack_sequences" -> QuerySpec(
      (s, d) => {
        val budget = 512
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
          .withColumn("cum", sum("n_tok").over(w))
          .withColumn("bin", ((col("cum") - 1) / budget).cast("long"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source", "bin")
      },
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - 1) // 512 AS BIGINT) AS bin,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin),

    // Deterministic train/val/test split: content-hash bucket in [0,100) →
    // 80/10/10. Reproducible across runs/engines (sha-derived, no rand).
    "text_dataset_split" -> QuerySpec(
      (s, d) => {
        val bucket = pmod(TextOps.hash64(col("text")), lit(100))
        Tables.documents(s, d)
          .select(when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test").as("split"))
          .groupBy("split").agg(count(lit(1)).as("n"))
          .orderBy("split")
      },
      s"""SELECT CASE
         |         WHEN (${duckHash64("text")}) % 100 < 80 THEN 'train'
         |         WHEN (${duckHash64("text")}) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split,
         |       COUNT(*) AS n
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin),

    // Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    // SIGMOD'03, the MOSS algorithm): hash the positional 3-gram shingle
    // sequence, slide a window of 4 hashes, keep each window's minimum —
    // guarantees any shared run of >= w+k-1 tokens yields a shared
    // fingerprint, with a sample rate of ~2/(w+1) instead of every
    // shingle. Per-row column work only (no shuffle); the distinct
    // fingerprint set is summarized as (count, min, max, xor-fold) so the
    // checker hashes scalars while the full set stays available upstream.
    "text_winnowing" -> QuerySpec(
      (s, d) => {
        val W = 4
        val sh = graft.ext.Dedup.shingles3(TextOps.tokens(col("text")))
        Tables.documents(s, d)
          .filter(col("doc_id") % 10 === 0)
          .withColumn("hs", graft.ext.Dedup.tokenHashes(sh))
          .withColumn("fps", TextOps.winnow(col("hs"), W))
          .select(col("doc_id"),
            size(col("fps")).cast("long").as("n_fp"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max"),
            aggregate(col("fps"), lit(0L),
              (a, x) => a.bitwiseXOR(x)).as("fp_xor"))
          .orderBy("doc_id")
      },
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks
         |           FROM documents WHERE doc_id % 10 = 0),
         |sh AS (
         |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shs
         |  FROM t),
         |h AS (SELECT doc_id,
         |             list_transform(shs, x -> ${duckHash64("x")}) AS hs
         |      FROM sh),
         |w AS (SELECT doc_id, list_transform(range(1, len(hs) - 2),
         |        i -> list_min(hs[i:i+3])) AS wins FROM h),
         |f AS (SELECT doc_id, list_distinct(wins) AS fps FROM w)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
         |       list_min(fps) AS fp_min, list_max(fps) AS fp_max,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
         |         (a, b) -> xor(a, b)) AS fp_xor
         |FROM f ORDER BY doc_id""".stripMargin),

    // Vocabulary coverage curve: the cumulative corpus share of the top-k
    // tokens — the Zipf/coverage statistic behind vocab-size and
    // tokenizer decisions. One count shuffle; then the top-50 are taken
    // with orderBy+limit (TakeOrderedAndProject: per-partition heaps, no
    // global sort), the grand total is a scalar aggregate broadcast back,
    // and the rank/cumulative window runs over exactly 50 rows. A web
    // corpus's vocab is 100M+ tokens — ranking ALL of it through one
    // partition to keep 50 (the previous shape) is the kind of hidden
    // global sort this file exists to avoid.
    "text_vocab_coverage" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum("n").as("total"))
        val top = counts.orderBy(desc("n"), asc("tok")).limit(50)
        // 50-row input: this window is bounded, not corpus/vocab-sized
        val ord = Window.orderBy(desc("n"), asc("tok"))
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        top
          .withColumn("rank", row_number().over(ord))
          .withColumn("cum_n", sum("n").over(cum))
          .crossJoin(broadcast(total))
          .select(col("rank"), col("tok"), col("n"),
            (col("cum_n").cast("double") / col("total").cast("double"))
              .as("cum_share"))
          .orderBy("rank")
      },
      s"""WITH c AS (
         |  SELECT tok, COUNT(*) AS n FROM (
         |    SELECT unnest($duckToks) AS tok FROM documents) GROUP BY tok),
         |r AS (
         |  SELECT tok, n,
         |         row_number() OVER (ORDER BY n DESC, tok) AS rank,
         |         SUM(n) OVER (ORDER BY n DESC, tok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         |         SUM(n) OVER () AS total
         |  FROM c)
         |SELECT CAST(rank AS INT) AS rank, tok, CAST(n AS BIGINT) AS n,
         |       CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
         |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin),

    // Custom table-valued generator (UDTF): word bigrams streamed
    // row-by-row by graft.expressions.NGramsGenerator — planned through
    // the same Generate node as explode, but without materializing the
    // per-document n-gram array first.
    "generator_ngrams_custom" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .filter(col("doc_id") < 30)
        .select(col("doc_id"),
          graft.expressions.NGramsGenerator.ngrams(col("text"), 2)
            .as(Seq("pos", "ngram")))
        .orderBy("doc_id", "pos"),
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks
         |           FROM documents WHERE doc_id < 30),
         |x AS (SELECT doc_id, toks,
         |             unnest(generate_series(1, len(toks) - 1)) AS i
         |      FROM t)
         |SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |       toks[i] || ' ' || toks[i+1] AS ngram
         |FROM x ORDER BY doc_id, pos""".stripMargin),

    // Bigram language-model statistics: for every token with enough
    // support, its most likely successor and the conditional probability
    // p(b|a) = n(a,b)/n(a·) — the n-gram-LM / next-token-statistics pass
    // over a corpus. Positional pair extraction is per-row column work;
    // the only shuffles are the bigram count and the per-prefix window.
    // Ties broken by successor token so both engines pick the same row.
    "text_bigram_lm" -> QuerySpec(
      (s, d) => {
        // shared bigram census, restricted to the doc_id % 5 == 0 slice
        val counts = ngramCensus(s, d)._1
          .filter(col("n_sub") > 0)
          .select(col("a"), col("b"), col("n_sub").as("n"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
        val rankW = w.orderBy(desc("n"), asc("b"))
        counts
          .withColumn("total", sum("n").over(w))
          .withColumn("rn", row_number().over(rankW))
          .filter(col("rn") === 1 && col("total") >= 100)
          .select(col("a"), col("b").as("next_tok"), col("n"), col("total"),
            (col("n").cast("double") / col("total").cast("double")).as("p"))
          .orderBy("a")
      },
      s"""WITH t AS (SELECT $duckToks AS toks
         |           FROM documents WHERE doc_id % 5 = 0),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> {'a': toks[i], 'b': toks[i+1]})) AS p
         |  FROM t),
         |c AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS n FROM bg GROUP BY 1, 2),
         |r AS (
         |  SELECT a, b, n,
         |         CAST(SUM(n) OVER (PARTITION BY a) AS BIGINT) AS total,
         |         row_number() OVER (PARTITION BY a ORDER BY n DESC, b) AS rn
         |  FROM c)
         |SELECT a, b AS next_tok, CAST(n AS BIGINT) AS n, total,
         |       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS p
         |FROM r WHERE rn = 1 AND total >= 100 ORDER BY a""".stripMargin),

    // Cross-document boilerplate detection: the 3-gram shingles that
    // recur across the MOST documents (headers, footers, templates — the
    // repeated-substring noise a corpus cleaner strips before training).
    // Document frequency, not term frequency: each doc contributes a
    // shingle once (array_distinct before the explode), so one spammy
    // doc cannot promote its own repetition. Scale: distinct-per-doc
    // explode → one keyed count with map-side combine → TakeOrdered
    // top-20; the corpus-size scalar is a single narrow action.
    "text_boilerplate_ngrams" -> QuerySpec(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = Tables.table(s, d, "documents").count()
        docs.select(explode(array_distinct(
            graft.ext.Dedup.shingles3(TextOps.tokens(col("text"))))).as("ngram"))
          .groupBy("ngram").agg(count(lit(1)).as("df"))
          .select(col("ngram"), col("df"),
            (col("df").cast("double") / lit(n.toDouble)).as("doc_share"))
          .orderBy(desc("df"), asc("ngram"))
          .limit(20)
      },
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT unnest(list_distinct(list_transform(
         |         range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS ngram
         |       FROM t),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents)
         |SELECT ngram, COUNT(*) AS df,
         |       CAST(COUNT(*) AS DOUBLE) / (SELECT nd FROM n) AS doc_share
         |FROM sh GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""".stripMargin),

    // BM25 ranked retrieval for a fixed 3-term query — the relevance
    // scorer a corpus-search / hard-negative-mining stage runs, one step
    // past text_tf_idf (adds document-length normalization, k1 = 1.2,
    // b = 0.75). Cross-engine determinism: the idf factor is the RATIONAL
    // Robertson form (N - df + 0.5)/(df + 0.5) — i.e. the standard idf's
    // log ARGUMENT — because ln() carries no bit-exactness guarantee
    // across engines (java.lang.Math.log is <=1 ulp, not correctly
    // rounded); every remaining op is a single IEEE op written in the
    // same order on both sides, and the per-term scores are summed as
    // 2^40-scaled integers in DECIMAL(38,0) so accumulation order cannot
    // diverge. Scale shape: the term filter lands BEFORE the explode's
    // groupBy, so tf/df are tiny keyed aggregations with map-side
    // combine; the corpus-stats scalar (N, avgdl) is one narrow action;
    // the final ranking is a TakeOrdered top-10, never a global sort.
    "text_bm25_topk" -> QuerySpec(
      (s, d) => bm25Scored(s, d)
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(10),
      s"""WITH $duckBm25Ctes
         |SELECT doc_id, n_hit, bm25 FROM bmscore
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),

    "text_fingerprint" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.rollingHash(col("text")).as("roll_hash"),
          TextOps.bowFingerprint(col("text")).as("bow_md5"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(list_filter(string_split(text, ''), c -> c <> ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % ${TextOps.RollMod}) AS roll_hash,
         |  md5(array_to_string(list_sort(list_distinct($duckToks)), ' ')) AS bow_md5
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Sliding-window token chunking (window 50, stride 25) — the
    // context-length splitter that turns documents into training
    // sequences with overlap. Per-row explode of a start-offset sequence
    // + array slice: no shuffle, output volume = tokens/stride per doc at
    // any corpus size. Chunks are identified by (doc_id, chunk_id) and
    // content-addressed with an md5 fingerprint — the chunk table an
    // LLM-data pipeline persists for packing/dedup downstream.
    "text_chunk_sliding" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(25))).as("start"))
        .select(col("doc_id"), expr("start div 25").as("chunk_id"),
          slice(col("toks"), col("start") + 1, lit(50)).as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("n_toks"),
          md5(array_join(col("chunk"), " ")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_id"),
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 25)) AS start
        |      FROM t),
        |c AS (SELECT doc_id, start // 25 AS chunk_id,
        |             toks[start + 1 : start + 50] AS chunk FROM s)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(chunk) AS BIGINT) AS n_toks,
        |       md5(array_to_string(chunk, ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // Chunk-level exact dedup — the paragraph/window dedup pass training
    // pipelines run AFTER chunking (boilerplate paragraphs repeat across
    // documents that are not document-level duplicates). Chunks are
    // content-addressed by fingerprint; groups spanning >1 document are
    // the cross-document repetition to drop or downweight. One hash
    // aggregation on the fingerprint — linear at any corpus size.
    "text_chunk_dedup" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(25))).as("start"))
        .select(col("doc_id"),
          md5(array_join(slice(col("toks"), col("start") + 1, lit(50)), " "))
            .as("chunk_fp"))
        .groupBy("chunk_fp")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct("doc_id").as("n_docs"),
          min("doc_id").as("canonical_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("chunk_fp"),
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        md5(array_to_string(toks[start + 1 : start + 50], ' '))
        |          AS chunk_fp
        |      FROM (SELECT doc_id, toks,
        |              unnest(range(0, len(toks), 25)) AS start FROM t))
        |SELECT chunk_fp, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       MIN(doc_id) AS canonical_doc
        |FROM c GROUP BY chunk_fp HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY chunk_fp""".stripMargin),

    // Hash-ranked uniform sample — the deterministic replacement for
    // reservoir/rand() sampling: rank every row by a content hash and
    // keep the lowest n. Uniform over the hash, identical on every run,
    // engine, and cluster layout, and plans as TakeOrderedAndProject
    // (per-partition heaps of n, no global sort) — the shape that holds
    // at any corpus size.
    "reservoir_sample_hash" -> QuerySpec(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.hash64(col("doc_id").cast("string")).as("h"))
        .orderBy(asc("h"), asc("doc_id"))
        .limit(100),
      s"""SELECT doc_id, ${duckHash64("CAST(doc_id AS VARCHAR)")} AS h
         |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin),

    // Deterministic source-mixture sampling — the data-mixing step that
    // assembles a training set from heterogeneous sources at declared
    // rates (keep 100% of high-quality sources, 50% of mid, 25% of the
    // rest). Selection is a content-hash coin per (source, doc) — exactly
    // reproducible across runs, engines, and cluster layouts, unlike
    // rand()-based sampling. Pure scan+filter then one aggregation on the
    // source key: no data movement before the (tiny) per-source rollup.
    "dataset_mixture_weights" -> QuerySpec(
      (s, d) => {
        val rate = when(col("source")
            .isin("src0", "src1", "src2", "src3", "src4"), 100)
          .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 50)
          .otherwise(25)
        Tables.documents(s, d)
          .withColumn("keep",
            pmod(TextOps.hash64(concat_ws(":", col("source"),
              col("doc_id").cast("string"))), lit(100)) < rate)
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .withColumn("achieved_rate",
            col("n_kept").cast("double") / col("n_total"))
          .orderBy("source")
      },
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |       CAST(SUM(CASE WHEN
        |         CAST(('0x' || substr(md5(source || ':' ||
        |           CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 100 <
        |         CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |              THEN 100
        |              WHEN source IN ('src5','src6','src7','src8','src9')
        |              THEN 50 ELSE 25 END
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN
        |         CAST(('0x' || substr(md5(source || ':' ||
        |           CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 100 <
        |         CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |              THEN 100
        |              WHEN source IN ('src5','src6','src7','src8','src9')
        |              THEN 50 ELSE 25 END
        |         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS achieved_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Deterministic PPS (probability-proportional-to-size) sampling:
    // include each document iff hashfrac(doc_id) < n_target·nt/TT —
    // token-length-weighted Bernoulli selection whose expected sample
    // token mass hits the budget, the standard length-weighted
    // subsampling step a corpus-curation pipeline runs instead of
    // uniform row sampling (which over-represents short docs in token
    // terms). Documents with nt > TT/n_target have rate ≥ 1 and are
    // always included — the cap falls out of hashfrac < 1. Scale shape:
    // embarrassingly parallel — ONE per-row hash + compare against a
    // 1-row broadcast total, then a keyed census agg; no window, no
    // sort, stable under appends (hash-based, like the shard router
    // below). The inclusion test is double arithmetic written in the
    // same op order on both engines (hash and counts are exact ints).
    "corpus_pps_token_sample" -> QuerySpec(
      (s, d) => {
        val nTarget = 500.0
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("nt"),
            TextOps.hash64(col("doc_id").cast("string")).as("h"))
        val tot = docs.agg(sum("nt").as("tt"))
        docs.crossJoin(broadcast(tot))
          .select(col("doc_id"), col("source"), col("nt"),
            (col("h").cast("double") / lit(1152921504606846976.0) <
              lit(nTarget) * col("nt").cast("double") /
                col("tt").cast("double")).as("sel"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
            sum(when(col("sel"), col("nt")).otherwise(0L))
              .as("n_tokens_selected"),
            sum(when(col("sel"), col("doc_id")).otherwise(0L))
              .as("id_checksum"))
          .orderBy("source")
      },
      s"""WITH docs AS (
         |  SELECT doc_id, source,
         |         CAST(len($duckToks) AS BIGINT) AS nt,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |           ::UBIGINT AS BIGINT) AS h
         |  FROM documents),
         |t AS (SELECT CAST(SUM(nt) AS BIGINT) AS tt FROM docs),
         |sel AS (SELECT doc_id, source, nt,
         |          CAST(h AS DOUBLE) / 1152921504606846976.0 <
         |            500.0 * CAST(nt AS DOUBLE) / CAST(tt AS DOUBLE) AS sel
         |        FROM docs, t)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_selected,
         |       CAST(SUM(CASE WHEN sel THEN nt ELSE 0 END) AS BIGINT)
         |         AS n_tokens_selected,
         |       CAST(SUM(CASE WHEN sel THEN doc_id ELSE 0 END) AS BIGINT)
         |         AS id_checksum
         |FROM sel GROUP BY source ORDER BY source""".stripMargin),

    // Deterministic training-shard assignment: route every document to
    // one of 16 loader shards by a stable content-independent hash of
    // its id (TextOps.hash64 — the md5-literal idiom feature_hash_trick
    // established on both engines), and emit the per-shard doc/token
    // census with token share — the balance audit a distributed data
    // loader runs before an epoch (skewed shards = stragglers). Scale
    // shape: one map-side-combined keyed agg to 16 rows + a 1-row
    // broadcast for the share; re-sharding to any N is the same plan.
    // Hash-based assignment keeps placement stable under corpus
    // appends — only new docs move, unlike range/round-robin splits.
    "corpus_shard_assignment" -> QuerySpec(
      (s, d) => {
        val per = Tables.documents(s, d)
          .select(
            pmod(TextOps.hash64(col("doc_id").cast("string")), lit(16L))
              .as("shard"),
            size(TextOps.tokens(col("text"))).cast("long").as("nt"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
        val tot = per.agg(sum("n_tokens").as("tt"))
        per.crossJoin(broadcast(tot))
          .select(col("shard"), col("n_docs"), col("n_tokens"),
            (col("n_tokens").cast("double") / col("tt").cast("double"))
              .as("token_share"))
          .orderBy("shard")
      },
      s"""WITH per AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |           ::UBIGINT AS BIGINT) % 16 AS shard,
         |         COUNT(*) AS n_docs,
         |         CAST(SUM(len($duckToks)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per)
         |SELECT shard, n_docs, n_tokens,
         |       CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)
         |         AS token_share
         |FROM per, t ORDER BY shard""".stripMargin),

    // Temperature-scaled source mixture weighting — the mT5/DoReMi-family
    // step that DERIVES the sampling weights from corpus statistics
    // (dataset_mixture_weights above applies DECLARED rates; this
    // computes them): w_s ∝ share_s^(1/2), i.e. temperature α = 0.5,
    // which up-weights small sources without letting any source
    // dominate. α = 0.5 is deliberate: sqrt is correctly rounded in
    // IEEE-754 on BOTH engines (a general pow() carries no such
    // guarantee), and the normalizing denominator is made order-free by
    // summing floor(sqrt(share)·2^40) INTEGERS — the established
    // decimal-scaling trick — so the final weights are single IEEE
    // divisions of exact integers. Scale shape: one keyed agg to ~20
    // source rows, then two 1-row broadcasts; nothing global touches
    // the corpus twice.
    "corpus_mixture_temperature" -> QuerySpec(
      (s, d) => {
        val Scale = 1099511627776.0 // 2^40
        val per = Tables.documents(s, d)
          .select(col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("nt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
        val tot = per.agg(sum("n_docs").as("td"), sum("n_tokens").as("tt"))
        val w = per.crossJoin(broadcast(tot))
          .withColumn("share",
            col("n_tokens").cast("double") / col("tt").cast("double"))
          .withColumn("scaled",
            floor(sqrt(col("share")) * lit(Scale)).cast("long"))
        val den = w.agg(sum("scaled").as("den"), max("td").as("td2"))
        w.crossJoin(broadcast(den))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("share").as("token_share"),
            (col("scaled").cast("double") / col("den").cast("double"))
              .as("mixture_weight"),
            floor(col("scaled").cast("double") / col("den").cast("double")
              * col("td2").cast("double")).cast("long").as("target_docs"))
          .orderBy("source")
      },
      s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
         |         CAST(SUM(len($duckToks)) AS BIGINT) AS n_tokens
         |       FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
         |               CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per),
         |w AS (SELECT source, n_docs, n_tokens,
         |        CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS share,
         |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
         |          / CAST(tt AS DOUBLE)) * 1099511627776.0) AS BIGINT)
         |          AS scaled,
         |        td
         |      FROM per, tot),
         |den AS (SELECT CAST(SUM(scaled) AS BIGINT) AS den FROM w)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         |       share AS token_share,
         |       CAST(scaled AS DOUBLE) / CAST(den AS DOUBLE)
         |         AS mixture_weight,
         |       CAST(floor(CAST(scaled AS DOUBLE) / CAST(den AS DOUBLE)
         |         * CAST(td AS DOUBLE)) AS BIGINT) AS target_docs
         |FROM w, den ORDER BY source""".stripMargin),

    // Bigram-LM plausibility filter: score each document by the mean
    // corpus conditional probability p(b|a) of its bigrams and flag the
    // implausible tail — the shape of a perplexity-based quality filter
    // (CCNet / Gopher rules), with the mean PROBABILITY standing in for
    // mean log-prob because ln() carries no cross-engine bit-exactness
    // guarantee (same rationale as text_bm25_topk's rational idf). The
    // per-doc sum runs over 2^40-scaled floor()ed integers in
    // DECIMAL(38,0) so accumulation order cannot diverge. Scale shape:
    // LM counts are two keyed aggs with map-side combine; scoring is ONE
    // shuffle join keyed by bigram (the canonical score-every-doc-
    // against-the-corpus-LM pass), then a keyed per-doc agg — no windows,
    // no global sort until the final tiny ORDER BY.
    "text_lm_plausibility" -> QuerySpec(
      (s, d) => {
        val scale = 1099511627776L // 2^40
        // Bigram probabilities come off the shared census (one cached
        // type table), so the exploded per-doc bigram subtree below is
        // the ONLY corpus-sized stage — pre-r10 this query re-evaluated
        // it 3x (counts, totals, final join). `na` is sum over n_all,
        // identical to counting (a, *) occurrences directly.
        val census = ngramCensus(s, d)._1
        val totals = census.groupBy("a").agg(sum("n_all").as("na"))
        // Landed once: probs feeds the head TakeOrdered, the tail
        // anti-join, and the tail equi-join — and the exact head/tail
        // partition must not rest on the recompute determinism of
        // independent TakeOrdered runs (the tf-idf df rationale).
        val probs = census.join(totals, "a")
          .select(col("a"), col("b"), col("n_all").as("nab"),
            (col("n_all").cast("double") / col("na").cast("double")).as("p"))
          .localCheckpoint(true)
        // Staged once (both skew arms scan it): at 100 TB this is the
        // standard persist-once exploded table; here localCheckpoint.
        // bigramPairs is the SAME definition the census was built from.
        val bg = Tables.documents(s, d)
          .select(col("doc_id"), explode(bigramPairs).as("p"))
          .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
          .localCheckpoint(true)
        // Zipfian-key skew split (VERDICT r9 item 3): natural-language
        // bigram keys concentrate mass in a tiny head — at 100x scale a
        // single shuffle join on (a, b) funnels the head pairs through
        // few reducers. Split: the top-K most frequent bigrams' stats
        // BROADCAST onto the scan (no shuffle for the heavy keys); the
        // tail — bounded per-key frequency by construction — takes the
        // ordinary equi-join. head ∪ tail partitions `probs` exactly
        // (deterministic total tie-break), so the union of the two
        // inner-join arms is the original join row-for-row.
        val headK = 1024
        val head = probs
          .orderBy(desc("nab"), asc("a"), asc("b")).limit(headK)
          .select("a", "b", "p")
        val tail = probs.join(broadcast(head.select("a", "b")),
            Seq("a", "b"), "left_anti")
          .select("a", "b", "p")
        bg.join(broadcast(head), Seq("a", "b"))
          .unionByName(bg.join(tail, Seq("a", "b")))
          .select(col("doc_id"),
            floor(col("p") * lit(scale.toDouble))
              .cast("decimal(38,0)").as("c"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            ((sum(col("c")).cast("double") / lit(scale.toDouble)) /
              count(lit(1)).cast("double")).as("plausibility"))
          .withColumn("low_quality", col("plausibility") < 0.033)
          .orderBy("doc_id")
      },
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> {'a': toks[i], 'b': toks[i+1]})) AS p
         |       FROM t WHERE len(toks) >= 2),
         |e AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
         |c AS (SELECT a, b, COUNT(*) AS nab FROM e GROUP BY 1, 2),
         |ta AS (SELECT a, COUNT(*) AS na FROM e GROUP BY 1),
         |pr AS (SELECT a, b,
         |              CAST(nab AS DOUBLE) / CAST(na AS DOUBLE) AS p
         |       FROM c JOIN ta USING (a)),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |              (CAST(SUM(CAST(floor(p * 1099511627776.0)
         |                 AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0) /
         |                CAST(COUNT(*) AS DOUBLE) AS plausibility
         |       FROM e JOIN pr USING (a, b) GROUP BY 1)
         |SELECT doc_id, n_bigrams, plausibility,
         |       plausibility < 0.033 AS low_quality
         |FROM sc ORDER BY doc_id""".stripMargin),

    // Heaps-law vocabulary growth: cumulative distinct-token count vs
    // cumulative token count across the corpus in ingestion (doc_id)
    // order — the statistic behind "how much new vocabulary does the
    // next TB buy". Naive cumulative-distinct is inherently sequential;
    // the distributed shape used here attributes each token to the
    // BUCKET of its first occurrence (min bucket per token: one keyed
    // agg), so the only window is a running sum over the 20 bucket rows.
    // Buckets are equal-width doc_id ranges from a scalar max (one
    // narrow action) — every corpus-sized stage is keyed, shuffle-free
    // of global sorts.
    "text_heaps_law" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val B = 20
        val docs = Tables.documents(s, d)
        val maxIdRow = docs.agg(max("doc_id")).head()
        // empty corpus: every bucket expression below maps zero rows —
        // the placeholder never reaches an output row
        val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
        val bucketOf = (id: org.apache.spark.sql.Column) =>
          least(floor(id * B / (maxId + 1)).cast("int"), lit(B - 1))
        val toks = docs.select(bucketOf(col("doc_id")).as("bucket"),
          TextOps.tokens(col("text")).as("ts"))
        val perBucketTokens = toks.groupBy("bucket")
          .agg(sum(size(col("ts")).cast("long")).as("n_tokens"))
        val firstSeen = toks
          .select(col("bucket"), explode(array_distinct(col("ts"))).as("tok"))
          .groupBy("tok").agg(min("bucket").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_new_vocab"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perBucketTokens.join(firstSeen, Seq("bucket"), "left")
          .na.fill(0L, Seq("n_new_vocab"))
          .select(col("bucket"),
            sum(col("n_tokens")).over(w).as("cum_tokens"),
            sum(col("n_new_vocab")).over(w).as("cum_vocab"))
          .orderBy("bucket")
      },
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |t AS (SELECT LEAST(CAST(floor(doc_id * 20 /
         |               ((SELECT m FROM mx) + 1)) AS INT), 19) AS bucket,
         |             $duckToks AS ts
         |      FROM documents),
         |pb AS (SELECT bucket, CAST(SUM(len(ts)) AS BIGINT) AS n_tokens
         |       FROM t GROUP BY 1),
         |fs AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_vocab
         |       FROM (SELECT tok, min(bucket) AS bucket
         |             FROM (SELECT bucket, unnest(list_distinct(ts)) AS tok
         |                   FROM t) GROUP BY tok)
         |       GROUP BY 1)
         |SELECT bucket,
         |       CAST(SUM(n_tokens) OVER (ORDER BY bucket
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS cum_tokens,
         |       CAST(SUM(COALESCE(n_new_vocab, 0)) OVER (ORDER BY bucket
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS cum_vocab
         |FROM pb LEFT JOIN fs USING (bucket)
         |ORDER BY bucket""".stripMargin),

    // Gopher-style INTRA-document repetition rules (Rae et al. 2021,
    // table A1) — the quality filters that catch degenerate generations
    // and boilerplate loops: (a) the fraction of 3-gram occurrences that
    // are repeats of an earlier 3-gram in the SAME document, and (b) the
    // share of all 2-gram slots taken by the single most frequent 2-gram.
    // Distinct from text_boilerplate_ngrams, which measures CROSS-document
    // n-gram document frequency. Cross-engine determinism: every measure
    // is an integer count and the thresholds are integer cross-
    // multiplications (top2·25 > bi_total·2 ⟺ top2/bi_total > 0.08, the
    // Gopher top-2-gram bound) — no division crosses the engine boundary.
    // Scale shape: the per-document stats are ONE projection — the
    // top-2-gram count folds a sorted shingle array with a (prev, run,
    // best) struct accumulator, so max-multiplicity needs no explode and
    // no (doc, gram) shuffle — and the only exchange is the final tiny
    // groupBy(source). The oracle computes top2 the relational way
    // (unnest + GROUP BY); identical integers either way. Its tp CTE only
    // has rows for docs with ≥1 bigram, so it joins LEFT with
    // COALESCE(top2, 0): an inner join would silently drop 0/1-token
    // documents that the engine side keeps with top2 = 0.
    "text_gopher_repetition" -> QuerySpec(
      (s, d) => {
        val toksed = Tables.documents(s, d)
          .select(col("source"), TextOps.tokens(col("text")).as("toks"))
        val top2 = TextOps.maxMultiplicity(
          sort_array(graft.ext.Dedup.shingles2(col("toks"))))
        val per = toksed.select(col("source"),
          greatest(size(col("toks")) - 2, lit(0)).cast("long").as("tri_total"),
          size(array_distinct(graft.ext.Dedup.shingles3(col("toks"))))
            .cast("long").as("tri_distinct"),
          greatest(size(col("toks")) - 1, lit(0)).cast("long").as("bi_total"),
          top2.as("top2"))
        per.select(col("source"),
            (col("tri_total") - col("tri_distinct")).as("dup3"),
            col("bi_total"), col("top2"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("dup3") > 0, 1L).otherwise(0L)).as("n_dup3_docs"),
            sum(when(col("top2") * 25 > col("bi_total") * 2, 1L)
              .otherwise(0L)).as("n_top2_flagged"),
            sum(col("dup3")).as("sum_dup3"),
            max(col("top2")).as("max_top2"))
          .orderBy("source")
      },
      s"""WITH t AS (SELECT doc_id, source, $duckToks AS toks FROM documents),
         |st AS (SELECT doc_id, source,
         |         greatest(len(toks) - 2, 0) AS tri_total,
         |         len(list_distinct(list_transform(range(1, len(toks) - 1),
         |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         |           AS tri_distinct,
         |         greatest(len(toks) - 1, 0) AS bi_total
         |       FROM t),
         |tp AS (SELECT doc_id, MAX(c) AS top2 FROM (
         |         SELECT doc_id, COUNT(*) AS c FROM (
         |           SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |             i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t)
         |         GROUP BY doc_id, bg) GROUP BY doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN tri_total - tri_distinct > 0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup3_docs,
         |       CAST(SUM(CASE WHEN COALESCE(top2, 0) * 25 > bi_total * 2
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_top2_flagged,
         |       CAST(SUM(tri_total - tri_distinct) AS BIGINT) AS sum_dup3,
         |       CAST(MAX(COALESCE(top2, 0)) AS BIGINT) AS max_top2
         |FROM st LEFT JOIN tp USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin),

    // Length-bucketed padded-batch packing — the batch-assembly step of a
    // training dataloader: group documents into fixed-size batches of 16
    // and pad every document to its batch's max length. Batching docs of
    // similar length together is what makes padding affordable; this
    // query quantifies it (pad_waste = Σ over batches of
    // n_docs·max_len − Σ tokens). Determinism: batch membership is
    // row_number over (n_tokens, doc_id) — a total order — and every
    // output is an integer. Scale shape: the only window runs
    // PARTITIONED BY band (a 16-token-wide length bucket), so each band
    // packs independently — exactly how a 1000-worker loader shards the
    // job; nothing global, no single-partition sort. The alternative
    // (one global length-sorted batching) would be a full-corpus total
    // sort; banding trades ≤1 partial batch per band for shard
    // parallelism.
    "corpus_pack_batches" -> QuerySpec(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band").orderBy("n_tokens", "doc_id")
        val per = Tables.documents(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("band", floor(col("n_tokens") / lit(16)).cast("long"))
        val perBatch = per
          .withColumn("batch", floor((row_number().over(w) - 1) / lit(16)))
          .groupBy("band", "batch")
          .agg(count(lit(1)).as("bdocs"), max("n_tokens").as("max_len"),
            sum("n_tokens").as("btok"))
        perBatch.groupBy("band")
          .agg(count(lit(1)).as("n_batches"),
            sum(col("bdocs")).as("n_docs"),
            sum(col("btok")).as("sum_tokens"),
            sum(col("bdocs") * col("max_len") - col("btok")).as("pad_waste"))
          .orderBy("band")
      },
      s"""WITH per AS (SELECT doc_id,
         |         CAST(len($duckToks) AS BIGINT) AS n_tokens,
         |         CAST(floor(len($duckToks) / 16) AS BIGINT) AS band
         |       FROM documents),
         |b AS (SELECT band, n_tokens,
         |        CAST(floor((row_number() OVER (PARTITION BY band
         |          ORDER BY n_tokens, doc_id) - 1) / 16) AS BIGINT) AS batch
         |      FROM per),
         |pb AS (SELECT band, batch, COUNT(*) AS bdocs,
         |         MAX(n_tokens) AS max_len,
         |         CAST(SUM(n_tokens) AS BIGINT) AS btok
         |       FROM b GROUP BY band, batch)
         |SELECT band, COUNT(*) AS n_batches,
         |       CAST(SUM(bdocs) AS BIGINT) AS n_docs,
         |       CAST(SUM(btok) AS BIGINT) AS sum_tokens,
         |       CAST(SUM(bdocs * max_len - btok) AS BIGINT) AS pad_waste
         |FROM pb GROUP BY band ORDER BY band""".stripMargin),

    // Deterministic stratified train/val/test split — the one assignment
    // every training pipeline makes and must NEVER leak across: the split
    // is a pure function of doc_id (salted content hash mod 100 → <80
    // train, <90 val, else test), so a document lands in exactly one
    // split on every engine, every rerun, every scale — no rand(), no
    // global sort, no coordination. Declared result is the per-(source,
    // split) census with exact token sums, which is also the stratification
    // audit (each source splits ≈80/10/10 independently). Scale: one
    // map-side hash + one keyed agg.
    "dataset_split_stratified" -> QuerySpec(
      (s, d) => {
        val h = pmod(TextOps.hash64(concat_ws(":", lit("split"),
          col("doc_id").cast("string"))), lit(100))
        Tables.documents(s, d)
          .withColumn("split",
            when(h < 80, "train").when(h < 90, "val").otherwise("test"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TextOps.tokens(col("text"))).cast("long"))
              .as("n_tokens"))
          .orderBy("source", "split")
      },
      s"""WITH t AS (SELECT source,
         |         CAST(('0x' || substr(md5('split:' ||
         |           CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)
         |           % 100 AS h,
         |         CAST(len($duckToks) AS BIGINT) AS n_tok
         |       FROM documents)
         |SELECT source,
         |       CASE WHEN h < 80 THEN 'train'
         |            WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM t GROUP BY 1, 2 ORDER BY source, split""".stripMargin),

    // BPE tokenizer TRAINING on the engine (Sennrich et al. 2016, the
    // merge-learning loop): 5 rounds of (count adjacent symbol pairs
    // weighted by word frequency → take the most frequent pair, ties by
    // (a, b) — a total order → apply the merge corpus-wide). The classic
    // scale trick is built in: training runs on the DISTINCT-WORD table
    // with counts (types, not tokens — the corpus collapses by orders of
    // magnitude before any per-round work), so each round is one tiny
    // keyed agg + a 1-row driver argmax + a map-side string rewrite.
    // Merge application is leftmost non-overlapping `replace` over a
    // delimited symbol encoding (" a  b " → " ab "), identical semantics
    // in both engines — no per-symbol fold crosses the engine boundary.
    // Output: the learned merge table plus the weighted corpus symbol
    // count after each merge, derived from the rewritten encodings (NOT
    // n0 − Σf, which over-subtracts when a self-adjacent a==b pair wins
    // a round). Integers and strings only.
    "text_bpe_merges" -> QuerySpec(
      (s, d) => {
        val (rules, _) = trainedBpe(s, d)
        import s.implicits._
        rules.toDF("round", "merged", "freq", "n_symbols_after")
          .orderBy("round")
      },
      {
        // Derived from e$i, mirroring the engine side (NOT n0 − Σf —
        // see trainedBpe's self-adjacent-pair caveat).
        def nAfter(i: Int) =
          s"""(SELECT SUM(len(string_split(trim(enc), '  ')) * c)
             |     FROM e$i)""".stripMargin
        s"""WITH ${duckBpeCtes(5)}
           |SELECT * FROM (
           |${(1 to 5).map(i =>
              s"""  SELECT CAST($i AS BIGINT) AS round,
                 |    (SELECT a FROM t$i) || (SELECT b FROM t$i) AS merged,
                 |    (SELECT f FROM t$i) AS freq,
                 |    CAST(${nAfter(i)} AS BIGINT) AS n_symbols_after
                 |  FROM (SELECT 1)""".stripMargin)
             .mkString("\n  UNION ALL\n")}
           |) ORDER BY round""".stripMargin
      }),

    // BPE ENCODE + fertility audit — the other half of the tokenizer
    // story: apply the 5 learned merges to the corpus and report
    // symbols-per-token fertility per source (the metric that decides
    // whether a tokenizer fits a domain; fertility spikes flag
    // out-of-domain sources). Encoding never touches the corpus text
    // again: the trained (word → symbol count) table is TINY and
    // broadcast against the exploded token stream — the standard
    // vocabulary-join shape. Counts integer; the single fertility
    // division is one IEEE op written identically on both sides.
    "text_bpe_fertility" -> QuerySpec(
      (s, d) => {
        val (_, enc5) = trainedBpe(s, d)
        val vocab = enc5.select(col("w"),
          size(split(trim(col("enc")), "  ")).cast("long").as("n_syms"))
        Tables.documents(s, d)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
          .join(broadcast(vocab), "w")
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("n_syms")).as("n_symbols"))
          .select(col("source"), col("n_tokens"), col("n_symbols"),
            (col("n_symbols").cast("double") /
              col("n_tokens").cast("double")).as("fertility"))
          .orderBy("source")
      },
      s"""WITH ${duckBpeCtes(5)},
         |v AS (SELECT w, CAST(len(string_split(trim(enc), '  ')) AS BIGINT)
         |        AS n_syms FROM e5),
         |tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS w
         |        FROM documents)
         |SELECT source, COUNT(*) AS n_tokens,
         |       CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
         |       CAST(CAST(SUM(n_syms) AS BIGINT) AS DOUBLE) /
         |         CAST(COUNT(*) AS DOUBLE) AS fertility
         |FROM tok JOIN v USING (w)
         |GROUP BY source ORDER BY source""".stripMargin),

    // Chi-square keyness: the distinctive vocabulary of each language
    // slice vs the rest of the corpus — the corpus-linguistics keyword
    // statistic (Dunning's log-likelihood without the transcendental:
    // the 2×2 chi-square uses only rational arithmetic, so the no-ln()
    // determinism rule holds). For term t and slice g the contingency
    // cells are a = count(t in g), b = count(t elsewhere), c/d the
    // complements; chi2 = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), computed in
    // double from exact BIGINT counts with identical op order on both
    // engines. Only POSITIVELY keyed terms rank (over-represented in
    // the slice): the test a/(a+c) > (a+b)/n is evaluated as the exact
    // integer cross-product a·n > (a+b)(a+c) in DECIMAL(38,0) — no
    // double threshold to flip on an ulp. Plan shape: token-level agg
    // (map-side combinable) → two tiny keyed totals joined back (the
    // term-totals join is the only real shuffle; lang totals and the
    // grand total broadcast) → per-slice top-5 via ranked window
    // PARTITIONED by lang. Rare terms (corpus count < 5) are excluded
    // before ranking so the statistic never divides by near-zero
    // margins.
    "text_chi2_keyness" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tc = Tables.documents(s, d)
          .select(col("lang"), explode(TextOps.tokens(col("text")))
            .as("term"))
          .groupBy("lang", "term").agg(count(lit(1)).as("a"))
        val tt = tc.groupBy("term").agg(sum("a").as("t_term"))
        val lt = tc.groupBy("lang").agg(sum("a").as("t_lang"))
        val g = tc.agg(sum("a").as("n"))
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast("decimal(38,0)")
        val joined = tc.join(tt, "term").join(broadcast(lt), "lang")
          .crossJoin(broadcast(g))
          .filter(col("t_term") >= 5)
          .filter(dec(col("a")) * dec(col("n")) >
            dec(col("t_term")) * dec(col("t_lang")))
        val ad = col("a").cast("double") *
          (col("n") - col("t_term") - col("t_lang") + col("a"))
            .cast("double")
        val bc = (col("t_term") - col("a")).cast("double") *
          (col("t_lang") - col("a")).cast("double")
        val denom = col("t_term").cast("double") *
          (col("n") - col("t_term")).cast("double") *
          col("t_lang").cast("double") *
          (col("n") - col("t_lang")).cast("double")
        val scored = joined.select(col("lang"), col("term"),
          col("a").as("n_in_lang"),
          (col("t_term") - col("a")).as("n_elsewhere"),
          (col("n").cast("double") * (ad - bc) * (ad - bc) / denom)
            .as("chi2"))
        val w = Window.partitionBy("lang")
          .orderBy(desc("chi2"), asc("term"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).drop("rn")
          .orderBy("lang", "term")
      },
      s"""WITH tok AS (SELECT lang, unnest($duckToks) AS term
         |             FROM documents),
         |tc AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS a
         |       FROM tok GROUP BY 1, 2),
         |tt AS (SELECT term, CAST(SUM(a) AS BIGINT) AS t_term
         |       FROM tc GROUP BY 1),
         |lt AS (SELECT lang, CAST(SUM(a) AS BIGINT) AS t_lang
         |       FROM tc GROUP BY 1),
         |g AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM tc),
         |j AS (SELECT tc.lang, tc.term, a, t_term, t_lang, n
         |      FROM tc JOIN tt USING (term) JOIN lt USING (lang)
         |      CROSS JOIN g
         |      WHERE t_term >= 5
         |        AND CAST(a AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
         |          > CAST(t_term AS DECIMAL(38,0))
         |            * CAST(t_lang AS DECIMAL(38,0))),
         |x AS (SELECT lang, term, a AS n_in_lang,
         |        t_term - a AS n_elsewhere,
         |        CAST(n AS DOUBLE) *
         |          (CAST(a AS DOUBLE)
         |             * CAST(n - t_term - t_lang + a AS DOUBLE)
         |           - CAST(t_term - a AS DOUBLE)
         |             * CAST(t_lang - a AS DOUBLE))
         |          * (CAST(a AS DOUBLE)
         |             * CAST(n - t_term - t_lang + a AS DOUBLE)
         |           - CAST(t_term - a AS DOUBLE)
         |             * CAST(t_lang - a AS DOUBLE))
         |          / (CAST(t_term AS DOUBLE)
         |             * CAST(n - t_term AS DOUBLE)
         |             * CAST(t_lang AS DOUBLE)
         |             * CAST(n - t_lang AS DOUBLE)) AS chi2
         |      FROM j)
         |SELECT lang, term, n_in_lang, n_elsewhere, chi2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY chi2 DESC, term) AS rn FROM x)
         |WHERE rn <= 5 ORDER BY lang, term""".stripMargin),

    // Interpolated Kneser-Ney bigram model — the smoothing every serious
    // n-gram LM ships (and the conceptual ancestor of backoff in modern
    // tokenizer/LM diagnostics): discounted bigram evidence plus the
    // CONTINUATION probability, which scores a successor by how many
    // distinct contexts it follows (type count), not how often it occurs
    // — the "San Francisco" correction where raw frequency overrates
    // "Francisco". D = 0.75 (= 3/4, exact in binary); observed bigrams
    // have c12 ≥ 1 > D so the max(c−D, 0) clamp is vacuous here and the
    // formula stays a fixed-order double chain both engines evaluate
    // identically. Top-30 by P_KN with full (a, b) tie-break. Scale: the
    // corpus touches one bigram-count agg (map-side combined); every
    // later stat (context totals, fan-out, fan-in, type count) derives
    // from the much smaller bigram-TYPE table via keyed aggs; the scalar
    // type count broadcasts.
    "text_kneser_ney_bigram" -> QuerySpec(
      (s, d) => {
        // shared bigram census, restricted to the doc_id % 5 == 0 slice
        val bg = ngramCensus(s, d)._1
          .filter(col("n_sub") > 0)
          .select(col("a"), col("b"), col("n_sub").as("c12"))
        val ctx = bg.groupBy("a")
          .agg(sum("c12").as("c1"), count(lit(1)).as("n1fwd"))
        val cont = bg.groupBy("b").agg(count(lit(1)).as("n1back"))
        val nt = bg.agg(count(lit(1)).as("ntypes"))
        bg.join(ctx, "a").join(cont, "b").crossJoin(broadcast(nt))
          .select(col("a"), col("b"), col("c12"), col("c1"),
            (((col("c12").cast("double") - lit(0.75)) /
                col("c1").cast("double")) +
              ((lit(0.75) * col("n1fwd").cast("double") /
                  col("c1").cast("double")) *
                (col("n1back").cast("double") /
                  col("ntypes").cast("double")))).as("pkn"))
          .orderBy(desc("pkn"), asc("a"), asc("b"))
          .limit(30)
      },
      s"""WITH t AS (SELECT $duckToks AS toks
         |           FROM documents WHERE doc_id % 5 = 0),
         |bg0 AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> {'a': toks[i], 'b': toks[i+1]})) AS p
         |  FROM t),
         |c AS MATERIALIZED (
         |  SELECT p.a AS a, p.b AS b, COUNT(*) AS c12 FROM bg0 GROUP BY 1, 2),
         |ctx AS (SELECT a, CAST(SUM(c12) AS BIGINT) AS c1,
         |          COUNT(*) AS n1fwd FROM c GROUP BY a),
         |cont AS (SELECT b, COUNT(*) AS n1back FROM c GROUP BY b),
         |nt AS (SELECT COUNT(*) AS ntypes FROM c)
         |SELECT c.a, c.b, CAST(c.c12 AS BIGINT) AS c12, ctx.c1,
         |       ((CAST(c.c12 AS DOUBLE) - 0.75) / CAST(ctx.c1 AS DOUBLE))
         |       + ((0.75 * CAST(ctx.n1fwd AS DOUBLE)
         |            / CAST(ctx.c1 AS DOUBLE))
         |          * (CAST(cont.n1back AS DOUBLE)
         |             / CAST(nt.ntypes AS DOUBLE))) AS pkn
         |FROM c JOIN ctx USING (a) JOIN cont USING (b) CROSS JOIN nt
         |ORDER BY pkn DESC, a, b LIMIT 30""".stripMargin),

    // Context-length packing-waste CURVE: for max-seq-len L ∈ {128, 256,
    // 512}, the chunk count, padded-token waste, and waste fraction when
    // each document is split into ceil(tokens/L) chunks and the last
    // chunk pads to L — the table that decides a loader's context length
    // before training (complements corpus_pack_batches, which packs at
    // ONE length; this censuses the dial). Pure integer arithmetic end
    // to end: one token-count scan, a 3-value explode, one keyed agg
    // with map-side combine, and exact rational divisions at the end.
    "corpus_pack_waste_curve" -> QuerySpec(
      (s, d) => {
        val nTok = size(TextOps.tokens(col("text"))).cast("long")
        Tables.documents(s, d)
          .select(nTok.as("n_tok"),
            explode(array(lit(128L), lit(256L), lit(512L))).as("seq_len"))
          .select(col("seq_len"), col("n_tok"),
            expr("(n_tok + seq_len - 1) div seq_len").as("n_chunks"))
          .groupBy("seq_len")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            sum(col("n_chunks")).as("total_chunks"),
            sum(col("n_chunks") * col("seq_len") - col("n_tok"))
              .as("padded_tokens"))
          .select(col("seq_len"), col("n_docs"), col("total_tokens"),
            col("total_chunks"), col("padded_tokens"),
            (col("padded_tokens").cast("double") /
              (col("total_chunks") * col("seq_len")).cast("double"))
              .as("waste_frac"))
          .orderBy("seq_len")
      },
      s"""WITH t AS (SELECT len($duckToks) AS n_tok FROM documents),
         |x AS (SELECT ls.seq_len, CAST(t.n_tok AS BIGINT) AS n_tok,
         |        (CAST(t.n_tok AS BIGINT) + ls.seq_len - 1) // ls.seq_len
         |          AS n_chunks
         |      FROM t CROSS JOIN (SELECT unnest(CAST([128, 256, 512]
         |        AS BIGINT[])) AS seq_len) ls)
         |SELECT seq_len, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
         |       CAST(SUM(n_chunks * seq_len - n_tok) AS BIGINT)
         |         AS padded_tokens,
         |       CAST(SUM(n_chunks * seq_len - n_tok) AS DOUBLE)
         |         / CAST(SUM(n_chunks) * seq_len AS DOUBLE) AS waste_frac
         |FROM x GROUP BY seq_len ORDER BY seq_len""".stripMargin),

    // Per-source distribution drift vs the whole corpus — total-variation
    // distance and chi-square over unigram token distributions, the
    // screen a mixture curator runs to find sources whose token profile
    // diverges from the blend (a skewed source gets down-weighted or
    // re-audited before training). No ln(): KL needs libm parity, so the
    // divergences used are TV = ½Σ|p_s−p_c| and χ² = Σ(p_s−p_c)²/p_c,
    // both closed under the repo's determinism rules — each per-token
    // term is a fixed sequence of IEEE ops on exact integer counts,
    // summed through the floor(term·2⁴⁰) decimal lift. Tokens the source
    // never emits contribute their missing mass in CLOSED FORM
    // ((N−cov_s)/N for both TV and χ², since (0−p_c)²/p_c = p_c), so the
    // join only materializes (source, token) pairs that EXIST — never
    // the vocab × sources cross product. Scale shape: two keyed aggs
    // (map-side combined), one shuffle join on token, a 20-row broadcast
    // of per-source totals, and a scalar corpus total; nothing all-pairs.
    "corpus_source_divergence" -> QuerySpec(
      (s, d) => {
        val S = 1099511627776.0 // 2^40
        val st = Tables.documents(s, d)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
        val srcTot = st.groupBy("source").agg(sum("c_st").as("n_s"))
        val corpus = st.groupBy("tok").agg(sum("c_st").as("c_t"))
        // r16 (guide §2.4/§5 — the corpus total was a driver .head()
        // whose subtree IS the query's dominant pass: the scalar job
        // re-ran tokenize + both keyed aggs before the main dataflow
        // ran them again; JobProbe measured 59.6 s taskTime for a ~2 s
        // entry). As a broadcast 1-row column the tokenize/(source,tok)
        // exchange is planned once and ReuseExchange shares it with
        // every consumer. big_n goes through the identical long→double
        // conversions, so every IEEE term is bit-identical; on an empty
        // corpus the term table is empty, so the NULL sum is never read
        // (same as the old 0L placeholder).
        val nTab = corpus.agg(sum("c_t").as("big_n"))
        val bigND = col("big_n").cast("double")
        val ps = col("c_st").cast("double") / col("n_s").cast("double")
        val pc = col("c_t").cast("double") / bigND
        st.join(corpus, Seq("tok"))
          .join(broadcast(srcTot), Seq("source"))
          .crossJoin(broadcast(nTab))
          .select(col("source"), col("n_s"), col("c_t"), col("big_n"),
            floor(abs(ps - pc) * lit(S)).cast("decimal(38,0)").as("tv_t"),
            floor((ps - pc) * (ps - pc) / pc * lit(S))
              .cast("decimal(38,0)").as("chi_t"))
          .groupBy("source")
          .agg(first("n_s").as("n_tokens"),
            count(lit(1)).as("n_vocab"),
            sum("c_t").as("cov"), first("big_n").as("big_n"),
            sum("tv_t").as("tv_sum"), sum("chi_t").as("chi_sum"))
          .select(col("source"), col("n_tokens"), col("n_vocab"),
            (((col("tv_sum").cast("double") / lit(S)) +
              (col("big_n") - col("cov")).cast("double") / bigND) *
              lit(0.5)).as("tv"),
            ((col("chi_sum").cast("double") / lit(S)) +
              (col("big_n") - col("cov")).cast("double") / bigND)
              .as("chi2"))
          .orderBy("source")
      },
      s"""WITH t AS (SELECT source, unnest($duckToks) AS tok FROM documents),
         |st AS MATERIALIZED (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
         |       FROM t GROUP BY 1, 2),
         |srct AS MATERIALIZED (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s
         |         FROM st GROUP BY 1),
         |corp AS MATERIALIZED (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t
         |         FROM st GROUP BY 1),
         |nn AS MATERIALIZED (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM corp),
         |terms AS (
         |  SELECT st.source, srct.n_s, corp.c_t,
         |         CAST(FLOOR(abs(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)
         |             - CAST(c_t AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE))
         |           * 1099511627776.0) AS DECIMAL(38,0)) AS tv_t,
         |         CAST(FLOOR(
         |             (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)
         |               - CAST(c_t AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE))
         |             * (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)
         |               - CAST(c_t AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE))
         |             / (CAST(c_t AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE))
         |           * 1099511627776.0) AS DECIMAL(38,0)) AS chi_t
         |  FROM st JOIN corp USING (tok) JOIN srct USING (source))
         |SELECT source, MIN(n_s) AS n_tokens, COUNT(*) AS n_vocab,
         |       ((CAST(SUM(tv_t) AS DOUBLE) / 1099511627776.0)
         |         + CAST((SELECT n FROM nn) - SUM(c_t) AS DOUBLE)
         |           / CAST((SELECT n FROM nn) AS DOUBLE)) * 0.5 AS tv,
         |       (CAST(SUM(chi_t) AS DOUBLE) / 1099511627776.0)
         |         + CAST((SELECT n FROM nn) - SUM(c_t) AS DOUBLE)
         |           / CAST((SELECT n FROM nn) AS DOUBLE) AS chi2
         |FROM terms GROUP BY source ORDER BY source""".stripMargin),

    // Zipf rank-frequency census in power-of-two rank OCTAVES — the
    // corpus-health fingerprint (a natural corpus shows near-constant
    // per-octave mass at exponent ≈ 1; synthetic/templated text shows a
    // cliff). Log-log slope needs ln() on both engines, which carries no
    // bit-exactness guarantee — so the octave assignment is an integer
    // CASE chain over rank ranges [2^j, 2^{j+1}) and the "slope" signal
    // is the exact ratio of consecutive octave masses (one IEEE division
    // of exact BIGINTs). Scale shape: the term count is one keyed agg
    // with map-side combine; the top-1024 cut is a TakeOrdered (never a
    // global sort of the vocabulary); only the ≤1024 survivors enter the
    // single-partition rank window and the ≤11-row octave frame — both
    // bounded by the literal cut, not the corpus.
    "text_zipf_octaves" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tc = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), asc("tok")).limit(1024)
        val ranked = tc.withColumn("rank",
          row_number().over(Window.orderBy(desc("freq"), asc("tok"))))
        val octave = (1 to 10).foldLeft(when(col("rank") < 2, 0)) {
          (acc, j) => acc.when(col("rank") < (1L << (j + 1)), j)
        }
        val byOct = ranked.select(octave.as("octave"), col("freq"))
          .groupBy("octave")
          .agg(count(lit(1)).as("n_terms"), sum("freq").as("octave_mass"),
            max("freq").as("max_freq"), min("freq").as("min_freq"))
        byOct.select(col("octave"), col("n_terms"), col("octave_mass"),
            col("max_freq"), col("min_freq"),
            (col("octave_mass").cast("double") /
              lag("octave_mass", 1).over(Window.orderBy("octave"))
                .cast("double")).as("mass_ratio"))
          .orderBy("octave")
      },
      s"""WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($duckToks) AS tok FROM documents)
         |  GROUP BY 1 ORDER BY freq DESC, tok LIMIT 1024),
         |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok)
         |        AS rank FROM tc),
         |o AS (SELECT CASE ${(0 to 10).map(j =>
                  s"WHEN rank < ${1L << (j + 1)} THEN $j").mkString(" ")}
         |        END AS octave, freq FROM r),
         |g AS (SELECT octave, COUNT(*) AS n_terms,
         |        CAST(SUM(freq) AS BIGINT) AS octave_mass,
         |        MAX(freq) AS max_freq, MIN(freq) AS min_freq
         |      FROM o GROUP BY 1)
         |SELECT octave, n_terms, octave_mass, max_freq, min_freq,
         |       CAST(octave_mass AS DOUBLE) /
         |         CAST(lag(octave_mass) OVER (ORDER BY octave) AS DOUBLE)
         |         AS mass_ratio
         |FROM g ORDER BY octave""".stripMargin),

    // Quality-ranked token-budget allocation — the planning step before
    // corpus_mixture_temperature: given a training budget of 60% of the
    // corpus' tokens, greedily fill from the highest-mean-quality source
    // down, splitting the boundary source pro-rata. Mean source quality
    // goes through the floor(q·2⁴⁰) decimal lift (order-free exact sum
    // of per-doc deterministic doubles); the greedy fill is a running
    // sum over the SOURCE table — bounded by source cardinality (20
    // here; thousands at worst in a real catalog), not the corpus — and
    // every taken/budget quantity is exact integer arithmetic. Scale:
    // one keyed agg over the scan, then windows over the tiny source
    // table only.
    "corpus_token_budget" -> QuerySpec(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val S = 1099511627776.0 // 2^40
        val per = Tables.documents(s, d)
          .select(col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
            TextOps.qualityScore(col("text")).as("q"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
            sum(floor(col("q") * lit(S)).cast("decimal(38,0)")).as("qsum"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            ((col("qsum").cast("double") / lit(S)) /
              col("n_docs").cast("double")).as("mean_q"))
        val wRank = Window.orderBy(desc("mean_q"), asc("source"))
        val ranked = per
          .withColumn("total", sum("n_tokens").over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("rank", row_number().over(wRank))
          .withColumn("cum", sum("n_tokens").over(
            wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        ranked
          .withColumn("budget", expr("(3 * total) div 5"))
          .withColumn("taken", least(col("n_tokens"),
            greatest(col("budget") - (col("cum") - col("n_tokens")),
              lit(0L))))
          .select(col("source"), col("rank"), col("n_docs"),
            col("n_tokens"), col("mean_q"), col("budget"), col("taken"),
            (col("taken").cast("double") / col("n_tokens").cast("double"))
              .as("take_frac"))
          .orderBy("rank")
      },
      s"""WITH t AS (SELECT source, text, $duckToks AS toks FROM documents),
         |c AS (SELECT source,
         |        CAST(len(toks) AS BIGINT) AS n_tok,
         |        LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.4
         |        + (CAST(len(list_filter(toks,
         |             x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
         |           / len(toks)) * 0.3
         |        + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]'))
         |             AS DOUBLE) / length(text)) * 0.2
         |        + (1.0 - CAST(len(regexp_extract_all(text, '[A-Z]'))
         |             AS DOUBLE) / length(text)) * 0.1 AS q
         |      FROM t),
         |p AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |        (CAST(SUM(CAST(FLOOR(q * 1099511627776.0)
         |            AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)
         |          / CAST(COUNT(*) AS DOUBLE) AS mean_q
         |      FROM c GROUP BY 1),
         |r AS (SELECT source, n_docs, n_tokens, mean_q,
         |        CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
         |        CAST(row_number() OVER (ORDER BY mean_q DESC, source)
         |          AS INT) AS rank,
         |        CAST(SUM(n_tokens) OVER (ORDER BY mean_q DESC, source
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM p)
         |SELECT source, rank, n_docs, n_tokens, mean_q,
         |       (3 * total) // 5 AS budget,
         |       LEAST(n_tokens, GREATEST((3 * total) // 5
         |         - (cum - n_tokens), 0)) AS taken,
         |       CAST(LEAST(n_tokens, GREATEST((3 * total) // 5
         |           - (cum - n_tokens), 0)) AS DOUBLE)
         |         / CAST(n_tokens AS DOUBLE) AS take_frac
         |FROM r ORDER BY rank""".stripMargin)
  )
}
