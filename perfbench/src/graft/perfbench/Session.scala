package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[n]` and `n` shuffle partitions
  * with `n` the host's processor count (a wider default oversubscribes
  * a small host), every scratch path inside the run's work directory. */
object Session {
  def start(n: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Keys printed with every result, so a configuration change shows up
    * in a diff of two runs; unset keys print their default. */
  val reported: Seq[(String, String)] = Seq(
    "spark.master" -> "", "spark.sql.shuffle.partitions" -> "200",
    "spark.sql.codegen.cache.maxEntries" -> "100",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
    "spark.sql.ansi.enabled" -> "true",
    "spark.serializer" -> "org.apache.spark.serializer.JavaSerializer",
    "spark.memory.fraction" -> "0.6")

  def effectiveConf(s: SparkSession): Seq[(String, String)] = {
    val set = s.sparkContext.getConf.getAll.toMap
    reported.map { case (k, d) =>
      k -> set.getOrElse(k, s.conf.getOption(k).getOrElse(d))
    } :+ ("driver.max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
  }
}
