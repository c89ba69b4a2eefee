package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of every runner (Bench, Verify, RunPipeline and
  * the tools):
  *  - master `SPARK_GRAFT_MASTER`, default `local[<cores>]`. A
  *    multi-process master (local-cluster[N,c,mem] or a standalone URL)
  *    runs the proofs where serialization, locality and executor loss
  *    cross a process boundary. Its executor JVMs need the application
  *    classes on their own classpath, their heap sizing and the JDK17
  *    --add-opens set the driver gets from build.sbt:
  *    `SPARK_GRAFT_EXEC_CLASSPATH`, `SPARK_GRAFT_EXEC_MEM` and
  *    `SPARK_GRAFT_EXEC_JAVAOPTS`, each applied when set;
  *  - cores `SPARK_GRAFT_CPUS`, default the JVM's available processors,
  *    and as many shuffle partitions;
  *  - UTC session time zone, UI off, WARN logging.
  * `conf` adds runner-specific settings on top. */
object Session {
  def apply(app: String, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val execConfs = Seq(
      "spark.executor.extraClassPath" -> "SPARK_GRAFT_EXEC_CLASSPATH",
      "spark.executor.memory" -> "SPARK_GRAFT_EXEC_MEM",
      "spark.executor.extraJavaOptions" -> "SPARK_GRAFT_EXEC_JAVAOPTS")
      .flatMap { case (k, env) => sys.env.get(env).map(k -> _) }
    val spark = SparkSession.builder().appName(app)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config((execConfs ++ Seq(
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++ conf).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
