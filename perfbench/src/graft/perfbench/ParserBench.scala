package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.core._
import graft.core.csv.CsvParser
import graft.core.json.JsonParser
import graft.spark.{ColumnarPlate, RowPlate}

/** The `core` and `spark.plate` layers on one thread, over the scan
  * workload's corpus bytes held in memory. Runs in its own JVM before any
  * Spark query, so the parser's call sites are not shared with plates the
  * Spark reads would load.
  *
  * Usage: ParserBench SEED OUT_JSON */
object ParserBench {
  private val Chunk = 1 << 20
  private val Warmup = 3
  private val Reps = 5

  /** Counts rows; with `keep` set it asks the parser to skip every
    * row-level key except that one (projection pushdown). */
  final class CountPlate(keep: String) extends Plate[Long] {
    var rows = 0L
    var skippedBytes = 0L
    private var depth = 0
    def nul(): Signal = Signal.Continue
    def fls(): Signal = Signal.Continue
    def tru(): Signal = Signal.Continue
    def map(): Signal = Signal.Continue
    def arr(): Signal = Signal.Continue
    def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = Signal.Continue
    def str(s: CharSequence): Signal = Signal.Continue
    def nestMap(key: CharSequence): Signal = {
      depth += 1
      if (keep != null && depth == 1 && !keep.contentEquals(key)) Signal.SkipColumn
      else Signal.Continue
    }
    def nestArr(): Signal = { depth += 1; Signal.Continue }
    def nestMeta(key: CharSequence): Signal = { depth += 1; Signal.Continue }
    def unnest(): Signal = { depth -= 1; Signal.Continue }
    def finishRow(): Unit = rows += 1
    def finishBatch(terminal: Boolean): Long = rows
    def skipped(bytes: Int): Unit = skippedBytes += bytes
  }

  private def check[A](r: ParseResult[A]): Unit = r match {
    case ParseResult.Failure(e) => throw e
    case _ => ()
  }

  /** Feeds `data` in 1 MiB chunks, calling `drain` after each. */
  private def feed(p: BaseParser[_], data: Array[Byte])(drain: => Unit): Unit = {
    var off = 0
    while (off < data.length) {
      val n = math.min(Chunk, data.length - off)
      check(p.absorb(data, off, n))
      drain
      off += n
    }
    check(p.finish())
    drain
  }

  private def jsonCount(data: Array[Byte], keep: String): CountPlate = {
    val plate = new CountPlate(keep)
    feed(new JsonParser(plate, JsonParser.ValueStream), data)(())
    plate
  }

  private def rowPlateJson(data: Array[Byte]): Long = {
    var rows = 0L
    var plate: RowPlate = null
    plate = new RowPlate(Corpus.jsonSchema, Array.empty,
      (r: InternalRow) => { rows += 1; plate.recycle(r) }, strictTokens = true)
    feed(new JsonParser(plate, JsonParser.ValueStream), data)(())
    rows
  }

  private def columnarJson(data: Array[Byte]): Long = {
    var rows = 0L
    val plate = new ColumnarPlate(Corpus.jsonSchema, Array.empty, strictTokens = true)
    feed(new JsonParser(plate, JsonParser.ValueStream), data) {
      if (plate.pendingRows > 0) rows += plate.takeBatch().numRows
    }
    rows
  }

  private val csvConfig = CsvParser.Config(header = true, row1 = '\n', row2 = 0)

  private def csvCount(data: Array[Byte]): Long = {
    val plate = new CountPlate(null)
    feed(new CsvParser(plate, csvConfig), data)(())
    plate.rows
  }

  private def rowPlateCsv(data: Array[Byte]): Long = {
    var rows = 0L
    var plate: RowPlate = null
    plate = new RowPlate(Corpus.csvSchema, Array.empty,
      (r: InternalRow) => { rows += 1; plate.recycle(r) }, emptyCellsAsNull = true)
    feed(new CsvParser(plate, csvConfig), data)(())
    rows
  }

  /** Median MB/s over the timed repetitions; every repetition must see
    * `rows` rows. */
  private def mbps(bytes: Long, rows: Long)(body: => Long): Double = {
    (0 until Warmup).foreach(_ => require(body == rows))
    val secs = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      val n = body
      val t = (System.nanoTime() - t0) / 1e9
      require(n == rows, s"parsed $n rows, expected $rows")
      t
    }.sorted
    bytes / 1e6 / secs(Reps / 2)
  }

  def run(seed: Long): Map[String, Double] = {
    val json = (0 until 4).map(Corpus.jsonFile(seed, _)).reduce(_ ++ _)
    // two CSV files as one input: the second one's header line dropped
    val csv = Corpus.csvFile(seed, 0) ++ Corpus.csvFile(seed, 1).dropWhile(_ != '\n').drop(1)
    val jsonRows = 4L * Corpus.JsonRowsPerFile
    val csvRows = 2L * Corpus.CsvRowsPerFile
    require(ColumnarPlate.supports(Corpus.jsonSchema), "the columnar plate must take the corpus schema")
    Map(
      "core.json.full_mbps" -> mbps(json.length, jsonRows)(jsonCount(json, null).rows),
      "core.json.skip_mbps" -> mbps(json.length, jsonRows)(jsonCount(json, "amount").rows),
      "core.json.skipped_fraction" -> jsonCount(json, "amount").skippedBytes.toDouble / json.length,
      "core.csv.mbps" -> mbps(csv.length, csvRows)(csvCount(csv)),
      "spark.plate.row_mbps" -> mbps(json.length, jsonRows)(rowPlateJson(json)),
      "spark.plate.columnar_mbps" -> mbps(json.length, jsonRows)(columnarJson(json)),
      "spark.plate.csv_typed_mbps" -> mbps(csv.length, csvRows)(rowPlateCsv(csv)))
  }

  def main(args: Array[String]): Unit = {
    val out = run(args(0).toLong)
    Files.write(Paths.get(args(1)), Serialization.write(out)(DefaultFormats).getBytes("UTF-8"))
  }
}
