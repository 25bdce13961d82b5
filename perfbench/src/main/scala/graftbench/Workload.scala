package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation, the problems its output check found, the
  * latencies it reports in place of its wall (one per key of a pass, or
  * a wave's CSV commit), and the input items it processed when the
  * workload counts them. */
final case class OpResult(seconds: Double, problems: Seq[String], parts: Seq[Double] = Nil,
                          items: Long = 0L) {
  def samples: Seq[Double] = if (parts.isEmpty) Seq(seconds) else parts
}

/** Counts recorded by a traced run at the layers' span edges, summed
  * over the traced operations. */
final class LayerStats {
  val values: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { values(k) += v }
}

/** A benchmark workload: generated inputs, an untimed warm-up, timed
  * operations, and a correctness gate over the last operation. */
trait Workload {
  def name: String
  /** Writes the seeded inputs and builds the reference outputs; runs
    * before any timed window. */
  def generate(spark: SparkSession): Unit
  /** One operation (a chain load, a stream replay, a key-set pass). */
  def op(spark: SparkSession, tr: Tracer, layer: LayerStats): OpResult
  /** The output check after the timed operations. */
  def gate(spark: SparkSession): Seq[String]
  /** Workload-specific end-to-end figures from the untraced operations. */
  def summary(ops: Seq[OpResult]): Map[String, (Double, String)]
  /** Untimed operation time between set-up and the timed window, as a
    * share of the window. */
  def warmupShare: Double = 0.0
  /** Releases what the workload keeps running in a session; called
    * before the session stops. */
  def close(): Unit = ()
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val t = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }

  private def files(p: Path, keep: String => Boolean): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val b = Seq.newBuilder[Path]
        s.forEach(x => if (Files.isRegularFile(x) && keep(x.getFileName.toString)) b += x)
        b.result()
      } finally s.close()
    }

  def treeBytes(p: Path, keep: String => Boolean = _ => true): Long =
    files(p, keep).map(Files.size).sum
  def treeFiles(p: Path, keep: String => Boolean = _ => true): Long =
    files(p, keep).size.toLong
}
