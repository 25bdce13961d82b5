package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{OracleJson, SparkEntry}
import org.apache.spark.sql.SparkSession

/** curation_mix: every dd_*, tx_* and ann_* key once per pass, one
  * client in a closed loop. Each pass reads a byte-identical copy of
  * the seeded corpus under a fresh path, so the per-directory memos
  * start cold as they do for a new corpus. One operation is one pass;
  * its parts are the per-key latencies. */
final class CurationWorkload(seed: Long, sz: Sizes, work: Path) extends Workload {
  val name = "curation_mix"
  private val corpus = work.resolve("inputs/corpus")
  val keys: Seq[String] = SparkEntry.queries.keys
    .filter(k => k.startsWith("dd_") || k.startsWith("tx_") || k.startsWith("ann_")).toSeq.sorted
  private var iter = 0
  private var lastDir: Option[Path] = None

  def family(key: String): String = key.takeWhile(_ != '_')

  def generate(spark: SparkSession): Unit = Gen.writeCorpus(spark, corpus, seed, sz)

  def op(spark: SparkSession, tr: Tracer, layer: LayerStats): OpResult = {
    iter += 1
    val dir = work.resolve(s"curation/iter-$iter")
    Io.deleteTree(dir)
    Io.copyTree(corpus, dir)
    val problems = mutable.ArrayBuffer.empty[String]
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    tr.span("iteration") {
      keys.foreach { k =>
        val tk = System.nanoTime()
        try tr.span(s"queries.${family(k)}.$k") {
          SparkEntry.queries(k)(spark, dir.toString).write.format("noop").mode("overwrite").save()
        } catch { case e: Exception => problems += s"$k: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        lat += (System.nanoTime() - tk) / 1e9
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    lastDir.foreach(Io.deleteTree)
    lastDir = Some(dir)
    OpResult(secs, problems.toSeq, lat.toSeq)
  }

  /** Dumps every key's result on the last pass's corpus plus the keys'
    * DuckDB twins (`oracle_sql.json`); run.py compares them in DuckDB.
    * Keys without a twin only have to run. */
  def gate(spark: SparkSession): Seq[String] = {
    val dir = lastDir.getOrElse(throw new IllegalStateException("no pass ran"))
    val out = work.resolve("check")
    Io.deleteTree(out)
    Files.createDirectories(out)
    val bad = mutable.ArrayBuffer.empty[String]
    keys.foreach { k =>
      try SparkEntry.queries(k)(spark, dir.toString).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(k).toString)
      catch { case e: Exception => bad += s"$k: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    OracleJson.write(out.resolve("oracle_sql.json"), SparkEntry.oracleSql.filter(kv => keys.contains(kv._1)))
    Files.writeString(out.resolve("corpus_dir.txt"), dir.toString)
    bad.toSeq
  }

  def summary(ops: Seq[OpResult]): Map[String, (Double, String)] = {
    val lat = ops.flatMap(_.samples)
    val wall = Stats.median(ops.map(_.seconds))
    Map(
      "query_latency_p50_s" -> (Stats.median(lat), "s"),
      "query_latency_p90_s" -> (Stats.quantile(lat, 0.9), "s"),
      "suite_wall_s" -> (wall, "s"),
      "latency_p50_s" -> (Stats.median(lat), "s"),
      "latency_p90_s" -> (Stats.quantile(lat, 0.9), "s"),
      "items_per_s" -> (sz.docs / wall, "1/s"))
  }
}
