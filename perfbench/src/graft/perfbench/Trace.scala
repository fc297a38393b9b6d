package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval. `parent` is 0 for an op's root span; listener spans
  * get their parent when the trace is finished (see [[Trace.link]]). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Wall clock in epoch microseconds with nanoTime resolution, so client
  * spans line up with the listener's epoch-millisecond event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans of the client thread, kept in memory and written out when the
  * run ends. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var op = 0L

  def root[T](opId: Long)(body: => T): T = { op = opId; span("op")(body) }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val start = Clock.nowUs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, start, Clock.nowUs)
      }
    }
}

/** Task, stage and job counters per op, plus job and stage spans, from
  * Spark's public listener bus. Ops are told apart by their job group. */
final class ExecListener extends SparkListener {
  import ExecListener._

  val counters = mutable.Map.empty[Long, mutable.Map[String, Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobOp = mutable.Map.empty[Int, (Long, Long)] // job -> (op, startUs)
  private val stageOp = mutable.Map.empty[Int, (Long, Int)] // stage -> (op, job)

  private def add(op: Long, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Prefix)) {
      val op = g.substring(Prefix.length).toLong
      jobOp(e.jobId) = (op, e.time * 1000L)
      e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
      add(op, "exec.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      spans += Span(JobBase + e.jobId, 0L, op, "exec.job", start, e.time * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOp.get(si.stageId).foreach { case (op, job) =>
      add(op, "exec.stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime)
        spans += Span(StageBase + si.stageId * 100L + si.attemptNumber(),
          JobBase + job, op, "exec.stage", s * 1000L, c * 1000L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).filter(_ => m != null).foreach { case (op, _) =>
      val info = e.taskInfo
      val runMs = m.executorRunTime.toDouble
      add(op, "exec.tasks", 1)
      add(op, "exec.task_run_ms", runMs)
      add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
      // the Spark UI's definition of scheduler delay
      add(op, "exec.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime).toDouble)
      add(op, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "exec.spill_bytes", m.diskBytesSpilled.toDouble)
      val in = m.inputMetrics
      if (in.bytesRead > 0 || in.recordsRead > 0) {
        add(op, "spark.scan.bytes_read", in.bytesRead.toDouble)
        add(op, "spark.scan.rows_out", in.recordsRead.toDouble)
        add(op, "spark.scan.tasks", 1)
        add(op, "spark.scan.task_ms", runMs)
      }
    }
  }
}

object ExecListener {
  val Prefix = "perfbench-op-"
  private val JobBase = 1000000000L
  private val StageBase = 2000000000L
}

object Trace {
  /** Give each listener span without a parent the innermost client span of
    * the same op that was open when it started. */
  def link(client: Seq[Span], listener: Seq[Span]): Seq[Span] = {
    val byOp = client.groupBy(_.op)
    val linked = listener.map { s =>
      if (s.parent != 0L) s
      else {
        val open = byOp.getOrElse(s.op, Nil)
          .filter(d => d.startUs <= s.startUs && s.startUs <= d.endUs)
        if (open.isEmpty) s else s.copy(parent = open.maxBy(_.startUs).id)
      }
    }
    client ++ linked
  }

  /** Self time per span name in milliseconds: each span's duration minus
    * the part of its interval that its children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => a < b }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      s.name -> (s.durUs - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
