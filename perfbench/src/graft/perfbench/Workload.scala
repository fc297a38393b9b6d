package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One workload: set-up rounds, then passes over a fixed op list. */
trait Workload {
  /** Make the inputs from the seed and compute the references. Runs
    * several times; every round must produce the same references. */
  def prepare(): Unit
  /** One pass over the op list. */
  def pass(r: Runner): Unit
  /** Work run before measuring, so that the JIT has compiled the loops. */
  def warmup(r: Runner): Unit = pass(r)
  /** Sizes and counts describing the inputs. */
  def info: Map[String, Any]
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Every regular file under `p` with its size and modification time. */
  def snapshot(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }

  /** Bytes in files that are new or changed between two snapshots. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (f, st) if !before.get(f).contains(st) => st._1 }.sum

  /** Sizes of the data files under `p`: hidden and metadata files (`.x`,
    * `_x`, at any depth) excluded. */
  private def dataSizes(p: Path): Iterable[Long] =
    snapshot(p).collect {
      case (f, (size, _)) if !p.relativize(java.nio.file.Paths.get(f)).iterator().asScala
        .exists(n => n.toString.startsWith(".") || n.toString.startsWith("_")) => size
    }

  def dataBytes(p: Path): Long = dataSizes(p).sum

  def dataFiles(p: Path): Int = dataSizes(p).size
}
