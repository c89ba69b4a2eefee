package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up by TILING: `tiles` shifted copies of a
  * base scale-factor directory, written as a new parquet fixture. Every
  * surrogate key is offset per tile by (tile x base-table cardinality
  * bound) so keys stay unique and referential integrity holds tile-wise;
  * value marginals (dates, prices, segments, event types) are preserved
  * exactly, so every literal filter in the registry still selects the
  * same fraction. Group-size distributions (items/order, events/user)
  * are preserved per tile, which is precisely what a stress probe wants:
  * 10x the keys, 10x the rows, same shape. Document text gets a short
  * per-tile suffix (tile 0 is byte-identical to the base) so near-dup
  * and fingerprint pipelines see 10x corpora rather than 10 exact copies
  * of one corpus; embeddings get a tiny deterministic per-tile
  * perturbation on one coordinate for the same reason. No RNG anywhere —
  * rerunning produces byte-identical data.
  *
  * `--skew` flips the growth law from uniform to Zipfian-ish: a fact
  * row in tile t keeps its tile-shifted FOREIGN key with probability
  * t/(t+1) and FOLDS back to the tile-0 (= base) key with probability
  * 1/(t+1), hash-derived so the build stays deterministic. Hot entities
  * (base customers / parts / suppliers / users) then accumulate
  * ~H(tiles) x their base traffic — group sizes grow superlinearly on
  * the head while the tail thins, which is how real 100 TB corpora
  * grow. Primary keys never fold (uniqueness holds) and every folded FK
  * still resolves (its tile-0 target exists by construction), so
  * referential integrity is preserved in both modes.
  *
  * `--hot=<permille>` (requires `--skew`) steepens the head into a
  * SINGLE dominating key per dimension: in tiles > 0, a fact FK first
  * draws (per (key, tile), hash-derived) with probability permille/1000
  * and, on a hit, maps to the dimension's MINIMUM base key — the
  * "celebrity" entity. At `--hot=120` over 20 tiles the head key
  * carries ~11-12% of the whole fact table, the regime where one
  * reducer would receive an nth of the shuffle and AQE skew splits +
  * salting stop being optional. The head key exists in tile 0 by
  * construction, so referential integrity still holds; PKs still never
  * fold.
  *
  * This is a dev/stress TOOL (the r10 verdict's "one-off deeper-scale
  * stress sweep"), not part of the query surface: the driver's
  * correctness gates stay pinned to the read-only /root/testdata
  * fixtures. Usage:
  *   runMain graft.tools.GenScale <baseDir> <outDir> [tiles=10] [--skew]
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val rest = args.drop(2)
    val (flags, positional) = rest.partition(_.startsWith("--"))
    // a typo'd flag must fail loudly, not silently build a uniform
    // fixture the caller believes is skewed
    val hotRe = "--hot=(\\d{1,3})".r
    require(flags.forall(f => f == "--skew" || hotRe.matches(f)),
      s"[genscale] unknown flag(s): ${flags.filterNot(f =>
        f == "--skew" || hotRe.matches(f))
        .mkString(", ")} (only --skew and --hot=<permille> are recognized)")
    val skew = flags.contains("--skew")
    val hot = flags.collectFirst { case hotRe(n) => n.toInt }.getOrElse(0)
    require(hot == 0 || skew,
      "[genscale] --hot=<permille> requires --skew")
    val tiles = positional.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Session("graft-genscale")
    try generate(spark, base, out, tiles, skew, hot)
    finally spark.stop()
  }

  def generate(spark: SparkSession, base: String, out: String,
               tiles: Int, skew: Boolean = false,
               hotPermille: Int = 0): Unit = {
    require(hotPermille >= 0 && hotPermille <= 1000,
      s"[genscale] hotPermille out of [0,1000]: $hotPermille")
    require(hotPermille == 0 || skew,
      "[genscale] hotPermille requires skew mode")
    def rd(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] wrote $t x$tiles" + (if (skew) " (skew)" else "") +
        (if (hotPermille > 0) s" (hot=$hotPermille)" else ""))
    }
    // Per-tile key offset = (max key + 1): collect() is a 1-row bound.
    // Read defensively: an empty base table or a non-long key column is
    // a contract error this library-surface tool should name, not an
    // opaque NPE/ClassCastException.
    def keyBound(t: String, c: String): Long = {
      val r = rd(t).agg(max(col(c)).cast("long")).head
      require(!r.isNullAt(0), s"[genscale] base table $t is empty — " +
        s"cannot derive a key bound for $c")
      r.getLong(0) + 1L
    }
    // the --hot celebrity key: the dimension's minimum base key (exists
    // in tile 0, so folding onto it cannot orphan a fact row)
    def keyMin(t: String, c: String): Long = {
      val r = rd(t).agg(min(col(c)).cast("long")).head()
      require(!r.isNullAt(0), s"[genscale] base table $t is empty — " +
        s"cannot derive a head key for $c")
      r.getLong(0)
    }
    val tile = spark.range(0, tiles).withColumnRenamed("id", "tile")
    def tiled(t: String): DataFrame = rd(t).crossJoin(broadcast(tile))
    def shift(c: String, bound: Long) =
      (col(c) + col("tile") * lit(bound)).as(c)
    // FOREIGN keys only: in --skew mode tile t's row folds back to the
    // tile-0 key with P = 1/(t+1) (pmod of a per-(key,tile) hash — no
    // RNG, byte-identical reruns); with --hot, a per-(key,tile) draw at
    // permille/1000 FIRST routes the FK to the dimension's head key.
    // Never applied to primary keys.
    def fkShift(c: String, bound: Long, headKey: Long = Long.MinValue) = {
      if (!skew) shift(c, bound)
      else {
        val folded = when(
          pmod(xxhash64(col(c), col("tile"), lit("skewfold")),
            col("tile") + lit(1L)) === 0L, col(c))
          .otherwise(col(c) + col("tile") * lit(bound))
        if (hotPermille == 0) folded.as(c)
        else {
          require(headKey != Long.MinValue,
            s"[genscale] --hot needs a head key for $c")
          when(col("tile") > 0 &&
              pmod(xxhash64(col(c), col("tile"), lit("hothead")),
                lit(1000L)) < lit(hotPermille.toLong), lit(headKey))
            .otherwise(folded).as(c)
        }
      }
    }

    // dimension tables the registry never keys on by surrogate growth
    rd("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    rd("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")

    val custB = keyBound("customer", "c_custkey")
    val suppB = keyBound("supplier", "s_suppkey")
    val partB = keyBound("part", "p_partkey")
    val custH = if (hotPermille > 0) keyMin("customer", "c_custkey") else Long.MinValue
    val suppH = if (hotPermille > 0) keyMin("supplier", "s_suppkey") else Long.MinValue
    val partH = if (hotPermille > 0) keyMin("part", "p_partkey") else Long.MinValue
    val ordB = keyBound("orders", "o_orderkey")
    val evtB = keyBound("events", "event_id")
    val docB = keyBound("documents", "doc_id")
    val vecB = keyBound("embeddings", "vec_id")

    wr(tiled("customer").select(shift("c_custkey", custB), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", math.max(2, tiles / 2))
    wr(tiled("supplier").select(shift("s_suppkey", suppB), col("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier", 2)
    wr(tiled("part").select(shift("p_partkey", partB), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part", math.max(2, tiles / 2))
    wr(tiled("orders").select(shift("o_orderkey", ordB),
      fkShift("o_custkey", custB, custH), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")), "orders", tiles)
    wr(tiled("lineitem").select(shift("l_orderkey", ordB),
      fkShift("l_partkey", partB, partH), fkShift("l_suppkey", suppB, suppH),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem", 2 * tiles)
    // user_id is a FOREIGN key into customer (events_stream_enrich joins
    // user_id = c_custkey), so it shifts by the CUSTOMER key bound —
    // shifting by the events-derived max(user_id) bound would point tile
    // t's events at other tiles' customers once tiles exceed
    // custB / max(user_id), silently dropping enrichment rows.
    wr(tiled("events").select(shift("event_id", evtB), col("ts"),
      fkShift("user_id", custB, custH), col("event_type"), col("value"),
      col("props")), "events", tiles)
    // tile 0 keeps the base text byte-identical; other tiles append a
    // 3-5 char marker so MinHash/SimHash/winnowing see near-dups across
    // tiles, not exact copies; n_chars stays = length(text)
    val docText = when(col("tile") === 0, col("text"))
      .otherwise(concat(col("text"), lit(" t"), col("tile")))
    wr(tiled("documents").select(shift("doc_id", docB),
      docText.as("text"), col("lang"), col("source"),
      length(docText).cast("long").as("n_chars")), "documents",
      math.max(2, tiles / 2))
    // vec_id is simultaneously the embeddings PK and an FK into
    // documents (every embedding query joins vec_id = doc_id), so it
    // must shift by the DOCUMENT key bound — shifting by the
    // embeddings-derived max(vec_id) bound points tile t's embeddings
    // at tile-0 documents whenever the base has fewer embeddings than
    // documents (sf0.1: vecB=2000 vs docB=5000), silently scrambling
    // every embedding<->document association. Uniqueness still holds:
    // embeddings are a subset of documents, so docB >= vecB and the
    // per-tile ranges [t*docB, t*docB + vecB) stay disjoint. Never
    // fkShift: a fold would collide the PK.
    require(docB >= vecB, s"[genscale] embeddings must be a subset of " +
      s"documents (vecB=$vecB > docB=$docB)")
    // perturb coordinate 0 by tile * 1e-4 — deterministic, small enough
    // to keep cluster structure, large enough to break exact ties
    wr(tiled("embeddings").select(shift("vec_id", docB),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + col("tile").cast("float") * lit(1e-4f))
          .otherwise(x)).as("embedding"),
      col("label")), "embeddings", math.max(2, tiles / 2))
  }
}
