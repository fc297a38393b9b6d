package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parse-bound: graft-json and graft-csv reads over the seeded corpus.
  * Each op's order-insensitive digest must equal the same query's digest
  * on Spark's built-in json/csv readers, computed in setup. */
final class ScanPushdown(spark: SparkSession, dir: Path, seed: Long, cpus: Int)
    extends Workload {
  private var jsonBytes = 0L
  private var csvBytes = 0L
  private var sortedBytes = 0L
  private var refs: Map[String, String] = Map.empty
  private var rowPathSkipped = 0L
  private def jsonDir = dir.resolve("corpus/json").toString
  private def csvDir = dir.resolve("corpus/csv").toString
  private def sortedDir = dir.resolve("sorted").toString
  /** The skipping op keeps ids below this: 2% of rows. */
  private val cut = Corpus.jsonRows / 50

  private def graftJson: DataFrame = spark.read.format("graft-json").schema(Corpus.jsonSchema).load(jsonDir)
  private def graftCsv: DataFrame =
    spark.read.format("graft-csv").schema(Corpus.csvSchema).option("header", "true").load(csvDir)
  private def sparkJson: DataFrame = spark.read.schema(Corpus.jsonSchema).json(jsonDir)
  private def sparkCsv: DataFrame =
    spark.read.schema(Corpus.csvSchema).option("header", "true").csv(csvDir)

  /** The queries, each applied to a graft reader and, for the reference,
    * to Spark's built-in reader of the same files. */
  private val jsonQueries: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("json_full", "heavy", identity),
    ("json_project", "short", _.select("amount")),
    ("json_filter", "short", _.filter(col("category") === Corpus.FilterCategory)),
    ("json_nested", "short", _.select(col("meta.src"), col("items"))))
  private val csvQueries: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("csv_full", "heavy", identity),
    ("csv_project", "short", _.select("price")))

  private def skipAgg(df: DataFrame): DataFrame =
    df.filter(col("id") < cut).agg(count(lit(1)),
      sum(col("qty")), sum(col("amount").cast(DecimalType(18, 2))))

  def prepare(): Unit = {
    Files.createDirectories(dir)
    Fs.delete(dir.resolve("corpus"))
    val (j, c) = Corpus.write(dir.resolve("corpus"), seed, cpus)
    jsonBytes = j
    csvBytes = c
    graftJson.select("id", "qty", "amount").repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite")
      .option("blockbytes", (1L << 20).toString).save(sortedDir)
    sortedBytes = Fs.dataBytes(dir.resolve("sorted"))
    // each built-in reader parses its corpus once; the queries run over the cache
    val (json, csv) = (sparkJson.cache(), sparkCsv.cache())
    val r = try {
      jsonQueries.map { case (n, _, q) => n -> Digest.of(q(json)) } ++
        csvQueries.map { case (n, _, q) => n -> Digest.of(q(csv)) } ++
        Seq("json_count" -> json.count().toString,
          "skip_agg" -> skipAgg(json).collect()(0).toSeq.mkString(","))
    } finally { json.unpersist(blocking = true); csv.unpersist(blocking = true) }
    require(refs.isEmpty || refs == r.toMap, s"references differ between set-up rounds: $refs vs $r")
    refs = r.toMap
  }

  private def digestOp(r: Runner, name: String, kind: String, family: String,
      bytes: Long, read: => DataFrame, q: DataFrame => DataFrame): Unit =
    r.op(name, kind, family, bytes) {
      Digest.of(r.oneRow("spark.scan.build")(Digest.frame(q(read))))
    }(_ == refs(name))

  def pass(r: Runner): Unit = {
    jsonQueries.foreach { case (n, kind, q) => digestOp(r, n, kind, "json", jsonBytes, graftJson, q) }
    r.op("json_count", "short", "json", jsonBytes) {
      r.oneRow("spark.scan.build")(graftJson.groupBy().count()).getLong(0)
    }(_.toString == refs("json_count"))
    csvQueries.foreach { case (n, kind, q) => digestOp(r, n, kind, "csv", csvBytes, graftCsv, q) }
    r.op("skip_agg", "short", "json", sortedBytes) {
      r.oneRow("spark.scan.build")(skipAgg(
        spark.read.format("graft-json").schema("id BIGINT, qty BIGINT, amount DOUBLE")
          .option("dataskipping", "true").load(sortedDir)))
    }(_.toSeq.mkString(",") == refs("skip_agg"))
  }

  /** The warm-up passes, each followed by a probe of the skipped-bytes
    * metric: the JSON projection on graft-json's row reader, whose plate
    * counts the bytes the parser skips, must report skipped bytes. A 0
    * means the metric was read from a plan that did not run, or the row
    * reader stopped skipping. (Both readers' default vectorized paths
    * report 0 today.) */
  override def warmup(r: Runner): Unit = {
    pass(r)
    r.op("row_path_probe", "short", "json", jsonBytes) {
      val (df, rows) = r.query("spark.scan.build")(Digest.frame(
        spark.read.format("graft-json").schema(Corpus.jsonSchema).option("vectorized", "false")
          .load(jsonDir).select("amount")))
      (Digest.of(rows(0)), Plans.skippedBytes(df.queryExecution).toLong)
    } { case (got, skipped) =>
      rowPathSkipped = skipped
      if (skipped == 0L) System.err.println("[perfbench] row_path_probe: the scan reports 0 skipped bytes")
      got == refs("json_project") && skipped > 0L
    }
  }

  def info: Map[String, Any] = Map("json_bytes" -> jsonBytes, "csv_bytes" -> csvBytes,
    "sorted_bytes" -> sortedBytes, "row_path_skipped_bytes" -> rowPathSkipped, "json_rows" -> Corpus.jsonRows, "csv_rows" -> Corpus.csvRows)
}
