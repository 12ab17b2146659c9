package perfbench

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs in: the confs `graft.Bench`
  * sets (see its scaledoc for why each one is there), at width
  * `cpus`, with scratch space kept under the benchmark's work dir. */
object Session {

  def confs(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cpus * 8).toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16000000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def start(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
    confs(cpus, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
