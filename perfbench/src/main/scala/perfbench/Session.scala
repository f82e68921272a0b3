package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: the settings `graft.Bench` uses
  * (shuffle partitions = cores, AQE on, a 2000-entry codegen cache and
  * the shared optimizer exclusions), on `local[cores]`, with every
  * scratch directory inside the benchmark's work directory. */
object Session {
  def settings(cores: Int, work: java.nio.file.Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.optimizer.excludedRules" -> graft.Tuning.excludedRules,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the status store keeps up to 1000 jobs and stages by default and
    // trims them in chunks, so the heap it holds saw-tooths with the job
    // count; a small window keeps heap_retained_mb about the program
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.sql.ui.retainedExecutions" -> "50",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def start(cores: Int, work: java.nio.file.Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    settings(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
