package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.TrainingData

/** Write-bound: a cyclic loop over one graft-json table. Each pass is one
  * cycle: batch appends, a streaming drain of landed files, a
  * deletion-vector delete, an upsert, two snapshot reads, and a close that
  * drops the previous cycle's rows, compacts, checkpoints and expires, so
  * the table's size, file count and log length return to the same level.
  * Reads are checked against a model of every live key that the benchmark
  * keeps itself; writes must commit a new table version. */
final class TableChurn(spark: SparkSession, dir: Path, seed: Long, cpus: Int)
    extends Workload {
  import TableChurn._

  private val table = dir.resolve("table")
  private val off = Math.floorMod(seed * 7919L, 1000003L)
  /** Live keys and the cycle that last wrote each. */
  private val model = mutable.LongMap.empty[Long]
  private var cycle = 0L
  private var snapshot = Map.empty[String, (Long, Long)]

  private def grp(id: Long): Long = Math.floorMod(id * 7919L + off, Groups.toLong)
  private def line(id: Long, cyc: Long): String =
    s"""{"id":$id,"grp":${grp(id)},"cyc":$cyc,"v":${Math.floorMod(id * 31L + cyc, 100000L) / 100.0},""" +
      s""""s":"u${Math.floorMod(id * 131L + off, 999983L)}"}"""
  /** User bytes of some rows: their size as JSON lines. */
  private def userBytes(ids: Iterator[Long], cyc: Long): Long = ids.map(line(_, cyc).length + 1L).sum

  /** The same rows as [[line]], computed by Spark from a column of ids. */
  private def rows(ids: DataFrame, cyc: Long): DataFrame = {
    val id = col("id")
    ids.select(id, pmod(id * 7919L + off, lit(Groups.toLong)).as("grp"), lit(cyc).as("cyc"),
      (pmod(id * 31L + cyc, lit(100000L)) / 100.0).as("v"),
      concat(lit("u"), pmod(id * 131L + off, lit(999983L)).cast("string")).as("s"))
  }

  private def snapshotRead: DataFrame =
    spark.read.format("graft-json").schema(Ddl).option("snapshot", "true").load(table.toString)

  private def version: Long = {
    val log = table.resolve(".graft-log")
    if (!Files.exists(log)) -1L
    else {
      val s = Files.list(log)
      try s.iterator().asScala.map(_.getFileName.toString).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).foldLeft(-1L)(math.max)
      finally s.close()
    }
  }

  /** Runs a table write as one op: it must commit a new version. Records
    * the bytes it wrote under the table directory and the user bytes. */
  private def write(r: Runner, name: String, kind: String, span: String, user: Long)(body: => Unit): Unit = {
    val v0 = version
    r.op(name, kind, name, user)(r.span(span)(body))(_ => version > v0)
    val after = Fs.snapshot(table)
    val wrote = Fs.written(snapshot, after)
    snapshot = after
    r.note("table.bytes_written", wrote.toDouble) // counted to the op just run
    add(r, "user_bytes", user)
    add(r, "bytes_written", wrote)
  }

  private def add(r: Runner, k: String, v: Long): Unit =
    r.passExtras(k) = r.passExtras.getOrElse(k, 0L).asInstanceOf[Long] + v

  def prepare(): Unit = {
    Fs.delete(dir)
    Files.createDirectories(dir)
    model.clear()
    cycle = 0L
    rows(spark.range(0L, BaseRows, 1L, cpus).toDF(), 0L)
      .write.format("graft-json").mode("overwrite").save(table.toString)
    (0L until BaseRows).foreach(model(_) = 0L)
    val got = snapshotRead.agg(count(lit(1)), sum("id")).collect()(0)
    require(got.getLong(0) == BaseRows && got.getLong(1) == BaseRows * (BaseRows - 1) / 2,
      s"base table reads back $got")
    snapshot = Fs.snapshot(table)
  }

  def pass(r: Runner): Unit = {
    cycle += 1
    val c = cycle
    val base = c * 1000000L
    r.passExtras.clear()

    (0 until Appends).foreach { k =>
      val lo = base + k * AppendRows
      write(r, "append", "heavy", "table.append", userBytes(Iterator.range(0, AppendRows).map(lo + _), c)) {
        rows(spark.range(lo, lo + AppendRows, 1L, cpus).toDF(), c)
          .write.format("graft-json").mode("append").save(table.toString)
      }
      (lo until lo + AppendRows).foreach(model(_) = c)
    }

    // landed files, written by the benchmark as an upstream producer would
    val landing = dir.resolve(s"landing/c$c")
    Files.createDirectories(landing)
    val streamLo = base + 400000L
    val landed = (0 until StreamFiles).map { f =>
      val ids = (streamLo + f * StreamRowsPerFile) until (streamLo + (f + 1) * StreamRowsPerFile)
      Files.write(landing.resolve(f"f$f%02d.json"), ids.map(line(_, c)).mkString("", "\n", "\n").getBytes("UTF-8"))
        .toFile.length
    }.sum
    val batches = mutable.ArrayBuffer.empty[Double]
    write(r, "stream", "heavy", "stream.drain", landed) {
      val sink: (DataFrame, Long) => Unit =
        (b, _) => b.write.format("graft-json").mode("append").save(table.toString)
      val q = spark.readStream.format("graft-json").schema(Ddl)
        .option("maxfilespertrigger", "1").option("admission", "files")
        .load(landing.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", dir.resolve(s"checkpoint/c$c").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        val d = p.durationMs.asScala
        batches += d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        r.note("stream.batches", 1)
        StreamPhases.foreach(k => r.note(s"stream.${k}_ms", d.get(k).map(_.toDouble).getOrElse(0.0)))
      }
    }
    r.passExtras("stream_batch_ms") = batches.toSeq
    (streamLo until streamLo + StreamFiles * StreamRowsPerFile).foreach(model(_) = c)

    val gDel = Math.floorMod(seed + c * 37L, Groups.toLong)
    write(r, "delete", "short", "table.delete_dv", 0L) {
      TrainingData.deleteWhereDV(spark, table.toString, Ddl, s"grp = $gDel")
    }
    model.filterInPlace { case (id, _) => grp(id) != gDel }

    val rnd = new java.util.SplittableRandom(seed * 1000003L + c)
    val updates = Iterator.continually(base + rnd.nextLong(Appends.toLong * AppendRows))
      .distinct.take(UpsertKeys / 2).toSeq
    val keys = updates ++ (base + 500000L until base + 500000L + UpsertKeys / 2)
    write(r, "upsert", "short", "table.upsert", userBytes(keys.iterator, c)) {
      import spark.implicits._
      TrainingData.upsert(spark, table.toString, Ddl, rows(keys.toDF("id"), c), Seq("id"))
    }
    keys.foreach(model(_) = c)

    val gRead = Math.floorMod(seed + c * 53L + 11L, Groups.toLong)
    read(r, "read_selective", col("grp") === gRead, id => grp(id) == gRead)
    read(r, "read_full", lit(true), _ => true)

    write(r, "close", "heavy", "table.close", 0L) {
      r.span("table.retention_dv")(TrainingData.deleteWhereDV(spark, table.toString, Ddl, s"cyc < $c"))
      r.span("table.optimize")(TrainingData.optimizeTable(spark, table.toString, Ddl,
        targetFileBytes = TargetFileBytes))
      r.span("table.checkpoint")(TrainingData.checkpointLog(spark, table.toString))
      r.span("table.expire_log")(TrainingData.expireLogHistory(spark, table.toString))
      r.span("table.expire_retired")(TrainingData.expireRetired(spark, table.toString))
    }
    model.filterInPlace { case (_, cyc) => cyc >= c }

    Fs.delete(landing)
    Fs.delete(dir.resolve(s"checkpoint/c$c"))
    // retired files are expired above, so the data files on disk are the live ones
    r.passExtras("files_live") = Fs.dataFiles(table).toLong
    r.passExtras("log_entries") = {
      val s = Files.list(table.resolve(".graft-log"))
      try s.count() finally s.close()
    }
  }

  /** A snapshot read: row count and key sum must match the model. */
  private def read(r: Runner, name: String, pred: Column, keep: Long => Boolean): Unit = {
    var n = 0L
    var sumId = 0L
    model.foreachKey(id => if (keep(id)) { n += 1; sumId += id })
    r.op(name, "short", "read", Fs.dataBytes(table)) {
      r.oneRow("spark.scan.build")(
        snapshotRead.filter(pred).agg(count(lit(1)), coalesce(sum("id"), lit(0L))))
    }(got => got.getLong(0) == n && got.getLong(1) == sumId)
  }

  def info: Map[String, Any] = Map("base_rows" -> BaseRows, "append_rows" -> AppendRows,
    "appends" -> Appends, "stream_files" -> StreamFiles, "stream_rows_per_file" -> StreamRowsPerFile,
    "upsert_keys" -> UpsertKeys, "groups" -> Groups, "live_rows" -> model.size)
}

object TableChurn {
  val Ddl = "id BIGINT, grp BIGINT, cyc BIGINT, v DOUBLE, s STRING"
  val BaseRows = 100000L
  val Appends = 3
  val AppendRows = 100000
  val StreamFiles = 4
  val StreamRowsPerFile = 10000
  val UpsertKeys = 5000
  /** The delete and the selective read each hit one group: 1% of rows. */
  val Groups = 100
  val TargetFileBytes: Long = 16L << 20
  val StreamPhases = Seq("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")
}
