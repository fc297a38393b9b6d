package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.parallel.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.{GQuery, SparkEntry}

/** Operator- and plan-bound: registry queries over read-only parquet. The
  * graft parser does no work here, so this is the control for parser
  * changes. Each result must equal the query's registry oracle SQL run in
  * DuckDB, with the float tolerance of the repository's oracle check. */
final class Analytics(spark: SparkSession, dir: Path, sfDir: String, seed: Long,
    benchDir: String) extends Workload {
  import Analytics._

  private val queries: Seq[GQuery] =
    SparkEntry.registry.filter(q => q.bench || Heavy.contains(q.name))
  require(queries.size == 9 && queries.forall(_.oracle.isDefined),
    s"expected the six bench queries and ${Heavy.mkString(", ")} with oracles")
  private var refs: Map[String, Result] = Map.empty

  def prepare(): Unit = {
    Files.createDirectories(dir)
    val oracle = dir.resolve("oracle.json")
    Files.write(oracle, Serialization.write(queries.map(q => q.name -> q.oracle.get).toMap)(DefaultFormats).getBytes("UTF-8"))
    val out = dir.resolve("reference.json")
    Files.deleteIfExists(out)
    val cmd = Seq("python3", s"$benchDir/duckdb_ref.py", sfDir, oracle.toString, out.toString)
    require(Process(cmd).! == 0, s"DuckDB reference failed: ${cmd.mkString(" ")}")
    val r = parse(new String(Files.readAllBytes(out), "UTF-8"))
    refs.foreach { case (n, old) =>
      require(mismatch(old, r(n)).isEmpty, s"$n: references differ between set-up rounds")
    }
    refs = r
  }

  def pass(r: Runner): Unit = {
    val order = new scala.util.Random(seed * 31 + r.pass).shuffle(queries)
    order.foreach { q =>
      r.op(q.name, if (Heavy.contains(q.name)) "heavy" else "short", "query", inputBytes(q)) {
        val (df, rows) = r.query("operators.build")(q.build(spark, sfDir))
        (df.columns.toSeq, rows)
      } { case (cols, rows) =>
        val bad = mismatch(refs(q.name), Result.of(cols, rows))
        bad.foreach(m => System.err.println(s"[perfbench] ${q.name}: $m"))
        bad.isEmpty
      }
    }
  }

  /** The queries run once concurrently (none of them changes session
    * state), unchecked: the generated code and the JIT warm up in less
    * time than a pass takes. */
  override def warmup(r: Runner): Unit = queries.par.foreach(_.build(spark, sfDir).collect())

  def info: Map[String, Any] = Map("sf_dir" -> sfDir, "queries" -> queries.map(_.name),
    "input_bytes" -> queries.map(q => q.name -> inputBytes(q)).toMap)

  /** Parquet bytes of the tables a query's oracle SQL names. */
  def inputBytes(q: GQuery): Long =
    graft.Tables.names.filter(t => s"\\b$t\\b".r.findFirstIn(q.oracle.get).isDefined)
      .map(t => new java.io.File(s"$sfDir/$t.parquet").length).sum
}

object Analytics {
  val Heavy = Seq("q106_percentiles_exact", "q152_table_profile", "q163_jaro_winkler_linkage")
  /** tools/check.py's absolute float tolerance. */
  val Atol = 1e-6

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A result with its columns sorted by name; rows keep their order. */
  final case class Result(cols: Seq[String], rows: Seq[Seq[Any]])

  object Result {
    def of(cols: Seq[String], rows: Array[Row]): Result = {
      val order = cols.zipWithIndex.sortBy(_._1)
      Result(order.map(_._1), rows.toSeq.map(r => order.map { case (_, i) => norm(r.get(i)) }))
    }
  }

  /** Spark values as the reference file spells them: integers and
    * fractions as BigDecimal/Double, temporals as text. */
  def norm(v: Any): Any = v match {
    case null => null
    case x @ (_: Byte | _: Short | _: Int | _: Long) => BigDecimal(x.toString)
    case x: Float => x.toDouble
    case x: java.math.BigDecimal => x.doubleValue
    case x: java.sql.Timestamp => TsFormat.format(x.toLocalDateTime)
    case x: java.time.Instant => TsFormat.format(x.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case x: java.time.LocalDateTime => TsFormat.format(x)
    case x: java.sql.Date => x.toString
    case x: Row => x.toSeq.map(norm)
    case x: collection.Seq[_] => x.toSeq.map(norm)
    case x => x
  }

  def parse(text: String): Map[String, Result] = {
    def value(v: JValue): Any = v match {
      case JNull | JNothing => null
      case JInt(i) => BigDecimal(i)
      case JLong(l) => BigDecimal(l)
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JString(s) => s
      case JBool(b) => b
      case JArray(xs) => xs.map(value)
      case other => throw new IllegalArgumentException(s"unexpected reference value $other")
    }
    JsonMethods.parse(text) match {
      case JObject(fields) => fields.map {
        case (name, JObject(res)) =>
          val m = res.toMap
          val JArray(cols) = m("cols")
          val JArray(rows) = m("rows")
          name -> Result(cols.map { case JString(c) => c; case c => c.toString },
            rows.map { case JArray(xs) => xs.map(value); case x => Seq(value(x)) })
        case (name, other) => throw new IllegalArgumentException(s"$name: bad reference $other")
      }.toMap
      case other => throw new IllegalArgumentException(s"bad reference file: $other")
    }
  }

  /** The first difference between a reference and a result, if any. */
  def mismatch(want: Result, got: Result): Option[String] =
    if (want.cols != got.cols) Some(s"columns ${got.cols} vs ${want.cols}")
    else if (want.rows.size != got.rows.size) Some(s"rows ${got.rows.size} vs ${want.rows.size}")
    else want.rows.iterator.zip(got.rows.iterator).zipWithIndex.collectFirst {
      case ((w, g), i) if !same(w, g) => s"row $i: got $g want $w"
    }

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x == y
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= Atol || (x.isNaN && y.isNaN)
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      x.size == y.size && x.iterator.zip(y.iterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }
}
