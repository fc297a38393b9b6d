package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.types._

/** The scan workload's seeded input, written by the benchmark itself:
  * JSON lines with 20 fields (one struct, one array) and a typed CSV.
  * Every `id` is unique, and no object repeats a key. */
object Corpus {
  val JsonFiles = 8
  val JsonRowsPerFile = 10000
  val CsvFiles = 4
  val CsvRowsPerFile = 30000
  val Categories = 50
  /** The filter op keeps one category: 1/50 = 2% of rows. */
  val FilterCategory = "cat_07"

  def jsonRows: Long = JsonFiles.toLong * JsonRowsPerFile
  def csvRows: Long = CsvFiles.toLong * CsvRowsPerFile

  val jsonSchema: StructType = StructType.fromDDL(
    "id BIGINT, uid STRING, country STRING, city STRING, category STRING, " +
      "tag STRING, flag BOOLEAN, qty BIGINT, score DOUBLE, amount DOUBLE, " +
      "lat DOUBLE, lon DOUBLE, ver BIGINT, device STRING, os STRING, " +
      "rank BIGINT, ref STRING, note STRING, " +
      "meta STRUCT<src: STRING, ver: BIGINT, w: DOUBLE>, items ARRAY<BIGINT>")

  val csvSchema: StructType = StructType.fromDDL(
    "id INT, qty INT, price DOUBLE, day DATE, ts TIMESTAMP, name STRING, " +
      "code STRING, ratio DOUBLE")

  private val Countries = Array("DE", "FR", "US", "GB", "JP", "BR", "IN", "CN",
    "IT", "ES", "NL", "SE", "PL", "CA", "AU", "MX")
  private val Devices = Array("phone", "tablet", "desktop", "tv", "watch", "car")
  private val Oses = Array("linux", "android", "ios", "windows", "macos")
  private val Sources = Array("web", "app", "api", "batch")
  private val Words = Array("alpha", "bravo", "delta", "echo", "golf", "hotel",
    "india", "kilo", "lima", "mike", "oscar", "papa", "romeo", "sierra",
    "tango", "victor", "whiskey", "yankee", "zulu", "amber", "cobalt", "ember")

  /** A bijection on [0, n): ids are a seeded permutation of row numbers. */
  private def permute(i: Long, n: Long, seed: Long): Long =
    Math.floorMod(i * 1000003L + seed * 7919L, n)

  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  private def letters(sb: java.lang.StringBuilder, r: SplittableRandom, n: Int): Unit = {
    var k = 0
    while (k < n) { sb.append(('a' + r.nextInt(26)).toChar); k += 1 }
  }

  private def frac(sb: java.lang.StringBuilder, whole: Long, digits: Int, r: SplittableRandom): Unit = {
    sb.append(whole).append('.')
    var k = 0
    while (k < digits) { sb.append(('0' + r.nextInt(10)).toChar); k += 1 }
  }

  def jsonFile(seed: Long, file: Int): Array[Byte] = {
    val r = rng(seed, file)
    val sb = new java.lang.StringBuilder(JsonRowsPerFile * 420)
    var i = 0
    while (i < JsonRowsPerFile) {
      val row = file.toLong * JsonRowsPerFile + i
      sb.append("{\"id\":").append(permute(row, jsonRows, seed))
      sb.append(",\"uid\":\"u").append(100000 + r.nextInt(900000))
      sb.append("\",\"country\":\"").append(Countries(r.nextInt(Countries.length)))
      sb.append("\",\"city\":\"")
      letters(sb, r, 5 + r.nextInt(8))
      sb.append("\",\"category\":\"cat_")
      val cat = r.nextInt(Categories)
      if (cat < 10) sb.append('0')
      sb.append(cat)
      sb.append("\",\"tag\":")
      if (r.nextInt(20) == 0) sb.append("null")
      else { sb.append("\"t_"); letters(sb, r, 3); sb.append('"') }
      sb.append(",\"flag\":").append(r.nextBoolean())
      sb.append(",\"qty\":").append(r.nextInt(1000))
      sb.append(",\"score\":"); frac(sb, r.nextInt(100), 4, r)
      sb.append(",\"amount\":"); frac(sb, r.nextInt(100000), 2, r)
      sb.append(",\"lat\":")
      if (r.nextBoolean()) sb.append('-')
      frac(sb, r.nextInt(90), 6, r)
      sb.append(",\"lon\":")
      if (r.nextBoolean()) sb.append('-')
      frac(sb, r.nextInt(180), 6, r)
      sb.append(",\"ver\":").append(r.nextInt(8))
      sb.append(",\"device\":\"").append(Devices(r.nextInt(Devices.length)))
      sb.append("\",\"os\":\"").append(Oses(r.nextInt(Oses.length)))
      sb.append("\",\"rank\":").append(r.nextInt(1000000))
      sb.append(",\"ref\":\"").append(java.lang.Long.toHexString(r.nextLong() | (1L << 63)))
      sb.append("\",\"note\":\"")
      val words = 6 + r.nextInt(14)
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(' ')
        sb.append(Words(r.nextInt(Words.length)))
        w += 1
      }
      sb.append("\",\"meta\":{\"src\":\"").append(Sources(r.nextInt(Sources.length)))
      sb.append("\",\"ver\":").append(r.nextInt(5))
      sb.append(",\"w\":"); frac(sb, r.nextInt(10), 3, r)
      sb.append("},\"items\":[")
      val n = 2 + r.nextInt(5)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(',')
        sb.append(r.nextInt(100000))
        k += 1
      }
      sb.append("]}\n")
      i += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  def csvFile(seed: Long, file: Int): Array[Byte] = {
    val r = rng(seed, 1000 + file)
    val sb = new java.lang.StringBuilder(CsvRowsPerFile * 90)
    sb.append("id,qty,price,day,ts,name,code,ratio\n")
    var i = 0
    while (i < CsvRowsPerFile) {
      val row = file.toLong * CsvRowsPerFile + i
      sb.append(permute(row, csvRows, seed)).append(',')
      sb.append(r.nextInt(10000)).append(',')
      frac(sb, r.nextInt(100000), 2, r)
      val day = java.time.LocalDate.ofEpochDay(18000 + r.nextInt(2000))
      // timestamps are ISO-8601 instants: graft-csv reads the space-separated
      // `yyyy-MM-dd HH:mm:ss` form as NULL, where Spark's csv reader parses it
      sb.append(',').append(day).append(',').append(day).append('T')
      val secs = r.nextInt(86400)
      two(sb, secs / 3600); sb.append(':'); two(sb, secs / 60 % 60); sb.append(':'); two(sb, secs % 60)
      sb.append('Z')
      sb.append(",n_")
      letters(sb, r, 4 + r.nextInt(8))
      sb.append(',').append(('A' + r.nextInt(26)).toChar).append(('A' + r.nextInt(26)).toChar)
        .append(r.nextInt(100)).append(',')
      frac(sb, 0, 4, r)
      sb.append('\n')
      i += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  private def two(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0')
    sb.append(v)
  }

  /** Writes both corpora under `dir` in parallel; returns (json, csv) bytes. */
  def write(dir: Path, seed: Long, threads: Int): (Long, Long) = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Files.createDirectories(dir.resolve("json"))
      Files.createDirectories(dir.resolve("csv"))
      val json = (0 until JsonFiles).map(f => Future {
        Files.write(dir.resolve(f"json/part-$f%02d.json"), jsonFile(seed, f)).toFile.length
      })
      val csv = (0 until CsvFiles).map(f => Future {
        Files.write(dir.resolve(f"csv/part-$f%02d.csv"), csvFile(seed, f)).toFile.length
      })
      (Await.result(Future.sequence(json), Duration.Inf).sum,
        Await.result(Future.sequence(csv), Duration.Inf).sum)
    } finally pool.shutdown()
  }
}
