package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The one session configuration every benchmark run uses. Pinned here so
  * that runs on different commits compare like with like. */
object Session {
  def conf(cpus: Int, outDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftSparkExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> s"$outDir/warehouse",
    "spark.local.dir" -> s"$outDir/spark-local",
    "spark.hadoop.hadoop.tmp.dir" -> s"$outDir/hadoop-tmp")

  def create(cpus: Int, outDir: String): SparkSession = {
    val b = SparkSession.builder().appName("graft-perfbench")
    conf(cpus, outDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
