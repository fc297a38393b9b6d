package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

final case class OpRecord(id: Long, op: String, kind: String, family: String,
    pass: Int, traced: Boolean, seconds: Double, ok: Boolean, bytes: Long,
    error: String, layers: collection.Map[String, Double])

/** Runs one op at a time (a closed loop with one client), times it, checks
  * it, and, while tracing, records its spans and layer counters. */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** Per-pass figures a workload adds (table size, stream batches). */
  val passExtras = mutable.Map.empty[String, Any]
  var pass = -1
  private var nextOp = 1L
  private var layers: mutable.Map[String, Double] = mutable.Map.empty

  def traced: Boolean = tracer.on

  /** Times `body`, then checks its result against the reference with
    * `check`, untimed. `kind` is "short" or "heavy"; `family` groups ops
    * for the metrics of one op type; `bytes` is the raw input the op names. */
  def op[T](name: String, kind: String, family: String, bytes: Long = 0L)(
      body: => T)(check: T => Boolean): Boolean = {
    val id = nextOp
    nextOp += 1
    layers = mutable.Map.empty
    val sc = spark.sparkContext
    sc.setJobGroup(if (traced) s"${ExecListener.Prefix}$id" else "perfbench", name)
    val t0 = System.nanoTime()
    val result = try Right(tracer.root(id)(body)) catch { case NonFatal(e) => Left(e.toString) }
    val secs = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    val (ok, err) = result match {
      case Right(v) => try (check(v), null) catch { case NonFatal(e) => (false, e.toString) }
      case Left(e) => (false, e)
    }
    if (!ok) System.err.println(s"[perfbench] $name failed: ${Option(err).getOrElse("wrong result")}")
    ops += OpRecord(id, name, kind, family, pass, traced, secs, ok, bytes,
      Option(err).getOrElse(if (ok) null else "wrong result"), layers)
    ok
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Builds a query in a span named `buildSpan`, plans and collects it in
    * the spans `plan` and `exec`, and observes its executed plan. The
    * rows come from the same QueryExecution whose plan is forced and
    * observed: `Dataset.head` would plan and run a second query (with a
    * limit), leaving the observed plan unexecuted and its scan metrics 0. */
  def query(buildSpan: String)(build: => DataFrame): (DataFrame, Array[Row]) = {
    val df = span(buildSpan)(build)
    span("plan")(df.queryExecution.executedPlan)
    val rows = span("exec")(df.collect())
    observe(df.queryExecution)
    (df, rows)
  }

  /** [[query]] of a query that returns one row, such as an aggregate. */
  def oneRow(buildSpan: String)(build: => DataFrame): Row = {
    val (_, rows) = query(buildSpan)(build)
    require(rows.length == 1, s"expected one row, got ${rows.length}")
    rows(0)
  }

  /** Adds to a layer counter of the op running, or of the last op between
    * ops; only while tracing. */
  def note(key: String, v: Double): Unit =
    if (traced) layers(key) = layers.getOrElse(key, 0.0) + v

  /** Planning phases and graft's skipped-bytes scan metric of a query the
    * current op executed. */
  private def observe(qe: QueryExecution): Unit = if (traced) {
    qe.tracker.phases.foreach { case (phase, s) => note(s"plan.${phase}_ms", s.durationMs.toDouble) }
    note("spark.scan.skipped_bytes", Plans.skippedBytes(qe))
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  val SkippedBytes = "graftSkippedBytes"

  def skippedBytes(qe: QueryExecution): Double =
    collectWithSubqueries(qe.executedPlan) {
      case p if p.metrics.contains(SkippedBytes) => p.metrics(SkippedBytes).value.toDouble
    }.sum
}
