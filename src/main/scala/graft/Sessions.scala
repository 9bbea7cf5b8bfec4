package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession. The JVM's `spark.*`
  * system properties win; only the keys they leave unset get defaults, so
  * the same jar runs at N and 4N cores without a rebuild. Under
  * spark-submit those properties are `--master`, `--conf k=v` and `--name`,
  * and only they count: spark-submit always sets a master (`local[*]`
  * without `--master`), so `SPARK_GRAFT_CPUS` applies only to mains run
  * outside it (sbt `runMain`, plain `java`).
  */
object Sessions {
  private val Parts = "spark.sql.shuffle.partitions"

  /** The effective conf: `conf` plus a default for every key it lacks.
    * Master: `local[SPARK_GRAFT_CPUS or cores]`. The shuffle partition
    * count is left to [[getOrCreate]].
    */
  def resolve(conf: Map[String, String], env: Map[String, String],
              cores: Int, appName: String): Map[String, String] =
    Map(
      "spark.app.name" -> appName,
      "spark.master" ->
        s"local[${env.getOrElse("SPARK_GRAFT_CPUS", cores.toString)}]",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN") ++ conf

  /** When the conf sets no shuffle partition count, it becomes the
    * session's `defaultParallelism`, which follows the master actually
    * resolved: k for `local[k]`, the executor cores registered so far on a
    * cluster (executors still starting are not counted, so cluster runs
    * should pass the count as `--conf`).
    */
  def getOrCreate(appName: String): SparkSession = {
    val conf = new SparkConf().getAll.toMap
    val spark = SparkSession.builder()
      .config(new SparkConf(false).setAll(resolve(conf, sys.env,
        Runtime.getRuntime.availableProcessors, appName)))
      .getOrCreate()
    if (!conf.contains(Parts))
      spark.conf.set(Parts, spark.sparkContext.defaultParallelism.toLong)
    spark
  }
}
