package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.Shim
import graft.expressions.{ByteHistogram, NGramsGenerator, TokenCount}

/** SparkSessionExtensions entry point: registers graft's native functions
  * for SQL users — the `byte_histogram` and `token_count` kernels (each
  * built by its Column entry point, a `StaticInvoke` call of the kernel
  * object) and the `ngrams` generator. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`; [[GraftFunctions.register]]
  * covers already-running sessions.
  *
  * No custom optimizer rules or planner strategies are injected — every
  * operator in the engine lowers to built-in Catalyst plans (SURVEY.md §4:
  * nothing in the surface needs one), so the hook stays minimal.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.byteHistogramDescriptor)
    ext.injectFunction(GraftFunctions.tokenCountDescriptor)
    ext.injectFunction(GraftFunctions.ngramsDescriptor)
  }
}

object GraftFunctions {

  private def buildByteHistogram(args: Seq[Expression]): Expression =
    args match {
      case Seq(child) =>
        Shim.expression(ByteHistogram.byte_histogram(Shim.column(child)))
      case Seq(child, Literal(bins: Int, _)) =>
        Shim.expression(ByteHistogram.byte_histogram(Shim.column(child), bins))
      case _ => throw new IllegalArgumentException(
        "byte_histogram(bytes[, bins]) — bins must be an integer literal")
    }

  val byteHistogramDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("byte_histogram"),
    new ExpressionInfo("graft.expressions.ByteHistogram", "byte_histogram"),
    buildByteHistogram)

  private def buildTokenCount(args: Seq[Expression]): Expression =
    args match {
      case Seq(child) =>
        Shim.expression(TokenCount.token_count(Shim.column(child)))
      case _ => throw new IllegalArgumentException("token_count(text)")
    }

  val tokenCountDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("token_count"),
    new ExpressionInfo("graft.expressions.TokenCount", "token_count"),
    buildTokenCount)

  private def buildNGrams(args: Seq[Expression]): Expression =
    args match {
      case Seq(child) => NGramsGenerator(child, 2)
      case Seq(child, Literal(n: Int, _)) => NGramsGenerator(child, n)
      case _ => throw new IllegalArgumentException(
        "ngrams(text[, n]) — n must be an integer literal")
    }

  val ngramsDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("ngrams"),
    new ExpressionInfo(classOf[NGramsGenerator].getName, "ngrams"),
    buildNGrams)

  /** Register on an existing session (temp-function registry). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "byte_histogram", buildByteHistogram, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_count", buildTokenCount, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ngrams", buildNGrams, "scala_udf")
  }
}
