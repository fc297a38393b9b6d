package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in this JVM: set-up rounds, a warm-up, then a fixed
  * number of measured passes. Writes the raw samples as JSON; the
  * statistics are computed from them by `stats.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *             --cpus C --sf DIR --bench-dir DIR */
object Main {
  /** Nominal seconds of one pass on a 4-core host: a run measures about
    * `--seconds` of work, as a fixed number of passes so that every run of
    * a workload takes the same number of samples. */
  val NominalPassSeconds = Map("scan-pushdown" -> 2.0, "analytics" -> 10.0, "table-churn" -> 5.0)
  /** Warm-ups run before measuring, so that the JIT has compiled the loops. */
  val WarmupPasses = Map("scan-pushdown" -> 3, "analytics" -> 1, "table-churn" -> 1)
  /** Set-up rounds; setup_s takes their median. Analytics makes no inputs
    * and its one DuckDB reference run is slow, so it sets up once. */
  val SetupRounds = Map("scan-pushdown" -> 2, "analytics" -> 1, "table-churn" -> 2)
  val MinPasses = 2

  /** A traced run alternates untraced and traced passes. */
  def passes(workload: String, seconds: Int): Int =
    math.max(MinPasses, math.round(seconds / NominalPassSeconds(workload)).toInt)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def allocBytes: Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
    case _ => 0L
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val out = Paths.get(opts("out")).toAbsolutePath
    val cpus = opts("cpus").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = Session.create(cpus, out.toString)
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val listener = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer
    val runner = new Runner(spark, tracer)
    val data = out.resolve("data")
    val w: Workload = workload match {
      case "scan-pushdown" => new ScanPushdown(spark, data, seed, cpus)
      case "analytics" => new Analytics(spark, data, opts("sf"), seed, opts("bench-dir"))
      case "table-churn" => new TableChurn(spark, data, seed, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val setupRounds = (1 to SetupRounds(workload)).map(_ => timed(w.prepare()))
    runner.pass = -1
    val warmupS = timed((1 to WarmupPasses(workload)).foreach(_ => w.warmup(runner)))

    val passRecords = (0 until passes(workload, seconds)).map { p =>
      runner.pass = p
      tracer.on = trace && p % 2 == 1
      val (gc0, alloc0) = (gcMs, allocBytes)
      val secs = timed(w.pass(runner))
      tracer.on = false
      Map[String, Any]("pass" -> p, "traced" -> (trace && p % 2 == 1), "wall_s" -> secs,
        "jvm_gc_ms" -> (gcMs - gc0), "jvm_alloc_mb" -> (allocBytes - alloc0) / 1e6) ++
        runner.passExtras
    }

    // collect, let Spark's cleaner drop what the collection freed, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    // the listener bus is asynchronous: let it deliver the last events
    if (trace) Thread.sleep(1000)
    val spans = listener.synchronized(Trace.link(tracer.spans.toSeq, listener.spans.toSeq))
    val passOf = runner.ops.map(o => o.id -> o.pass).toMap
    val byPass = spans.groupBy(s => passOf.getOrElse(s.op, -2))
    val ops = runner.ops.map { o =>
      val layers = o.layers ++ listener.synchronized(listener.counters.get(o.id).map(_.toMap).getOrElse(Map.empty))
      Map("id" -> o.id, "op" -> o.op, "kind" -> o.kind, "family" -> o.family, "pass" -> o.pass,
        "traced" -> o.traced, "seconds" -> o.seconds, "ok" -> o.ok, "bytes" -> o.bytes,
        "error" -> o.error, "layers" -> layers.toMap)
    }
    val passesOut = passRecords.map { p =>
      val ss = byPass.getOrElse(p("pass").asInstanceOf[Int], Nil)
      p ++ Map("spans" -> ss.size, "self_ms" -> Trace.selfMs(ss),
        "span_ms" -> ss.groupMapReduce(_.name)(_.durUs / 1000.0)(_ + _))
    }
    if (trace) {
      val lines = spans.sortBy(_.startUs).map(s => Serialization.write(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))(DefaultFormats))
      Files.write(out.resolve("spans.jsonl"), lines.asJava)
    }
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "session" -> Session.conf(cpus, out.toString).toMap,
      "session_start_s" -> sessionStartS, "setup_rounds_s" -> setupRounds,
      "warmup_s" -> warmupS, "heap_retained_mb" -> heapMb,
      "info" -> w.info, "passes" -> passesOut, "ops" -> ops)
    Files.write(out.resolve("result.json"), Serialization.write(result)(DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }
}
