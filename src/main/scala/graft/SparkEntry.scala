package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every module's declared queries into one registry. */
object SparkEntry {

  /** All declared queries: name → (Spark plan, optional DuckDB oracle). */
  def registry: Map[String, QuerySpec] = graft.queries.Registry.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-flavored grouped aggregation over lineitem. */
  def entry(spark: SparkSession): DataFrame =
    registry("agg_pricing_summary").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, QuerySpec(_, Some(sql), _)) => k -> sql }

  /** Every shared build stage, in Bench's timing order (each entry's
    * dependencies come before it: the LPA labels read the edge stage). */
  def sharedStages: Seq[graft.util.SharedStage[_]] = {
    import graft.queries._
    Seq(DedupQ.lshVerifiedPairs, SimilarityQ.trainedCents8x2,
      GraphQ.coPurchaseSupportEdges, GraphQ.lpaLabels, Text.trainedBpe,
      Text.ngramCensus, MultimodalQ.pngAssets, MultimodalQ.wavAssets,
      LearnQ.trainedLogreg, LinkageQ.linkageStage, Events.slicedFixtures)
  }

  /** `SPARK_GRAFT_ONLY`'s value as query-name prefixes: split on commas,
    * trimmed, blanks dropped; None when unset (every entry selected). */
  def onlyPrefixes(v: Option[String]): Option[Seq[String]] =
    v.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** Whether an entry (a query or a shared stage: stage names are entry
    * names) is selected by [[onlyPrefixes]]' value: every entry when
    * None, else those starting with one of the prefixes. */
  def selected(only: Option[Seq[String]])(name: String): Boolean =
    only.forall(_.exists(name.startsWith))
}
