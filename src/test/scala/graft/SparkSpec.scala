package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local session per suite (lazy, reused via
  * getOrCreate across suites in the same JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "target/spark-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** `body` under whole-stage codegen (compile errors fail, no silent
    * fallback) or under interpreted evaluation only. A projection over a
    * local Seq is not folded into a local relation by the optimizer, so
    * it runs on the chosen path too. */
  def evalPath[T](codegen: Boolean)(body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` once per eval path: codegen-only, then interpreted-only. */
  def bothEvalPaths(body: => Unit): Unit =
    Seq(true, false).foreach(codegen => evalPath(codegen)(body))
}
