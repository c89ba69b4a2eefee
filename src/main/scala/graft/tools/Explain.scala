package graft.tools

/** Dev tool: dump formatted physical plans for selected queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-explain")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.registry.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      println(graft.SparkEntry.registry(n).fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
