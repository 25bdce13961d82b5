package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. run.py builds the classpath, starts
  * this with the workload, seed, run length and trace flag, and turns
  * the result file it writes into the one-line summary.
  *
  * Untraced run: generate inputs; set up three times (session start,
  * function registration, one untimed warm-up operation) and keep the
  * median; run untimed operations for the workload's warm-up share of
  * `--seconds` so the JIT has compiled the hot paths; time operations
  * for `--seconds`; gate the last operation's output.
  *
  * Traced run: the same set-up and warm-up, then traced and untraced operations
  * alternate for `--seconds`. Traced operations wrap every layer call
  * in a span and materialize each layer's output at its edge; the
  * untraced ones give the tracing overhead. The graph-load workloads
  * then run one traced operation at local[1] for each layer's parallel
  * speedup. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, detail: Path, result: Path, sizes: Sizes, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("detail")).toAbsolutePath, Paths.get(need("result")).toAbsolutePath,
      if (m.get("size").contains("tiny")) Sizes.tiny else Sizes.full,
      need("cores").toInt)
  }

  def workload(o: Opts): Workload = o.workload match {
    case "graph_load_deep" => new GraphLoadWorkload(GraphSpec.deep, o.seed, o.sizes, o.work)
    case "graph_load_wide" => new GraphLoadWorkload(GraphSpec.wide, o.seed, o.sizes, o.work)
    case "live_sink" => new LiveSinkWorkload(o.seed, o.sizes, o.work)
    case "curation_mix" => new CurationWorkload(o.seed, o.sizes, o.work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The library's production session: GraftSession's builder (AQE on,
    * shuffle partitions = cores) with Spark's scratch and warehouse dirs
    * kept inside the work dir. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.ensureRegistered(s)
    s
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Io.deleteTree(o.work)
    Files.createDirectories(o.work)
    val w = workload(o)
    val off = Tracer.off
    val scratch = new LayerStats
    val problems = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    def count(r: OpResult): OpResult = {
      attempted += 1
      if (r.problems.nonEmpty) { failed += 1; problems ++= r.problems }
      r
    }

    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    var spark = session(o.cores, o.work)
    val firstStart = since(t0)
    val tg = System.nanoTime()
    w.generate(spark)
    detail("generate_s") = since(tg)

    // the first set-up is the session the inputs were generated in: its
    // start is timed, the generation is not
    val setups = (1 to 3).map { k =>
      val started =
        if (k == 1) firstStart
        else {
          w.close()
          spark.stop()
          val ts = System.nanoTime()
          spark = session(o.cores, o.work)
          since(ts)
        }
      val tw = System.nanoTime()
      count(w.op(spark, off, scratch))
      started + since(tw)
    }

    val warm = System.nanoTime() + (o.seconds * w.warmupShare * 1e9).toLong
    val warmOps = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < warm) warmOps += count(w.op(spark, off, scratch)).seconds
    detail("warmup_ops_s") = warmOps

    if (!o.trace) {
      val ops = mutable.ArrayBuffer.empty[OpResult]
      val end = System.nanoTime() + (o.seconds * 1e9).toLong
      while (ops.isEmpty || System.nanoTime() < end) ops += count(w.op(spark, off, scratch))
      metrics("setup_s") = (Stats.median(setups), "s")
      w.summary(ops.toSeq).toSeq.sortBy(_._1).foreach { case (k, v) => metrics(k) = v }
      detail("ops") = ops.map(_.seconds)
      detail("samples_s") = ops.flatMap(_.samples)
    } else {
      val t = new TracedRun(o, w)
      spark = t.run(spark, count)
      t.metrics.foreach { case (k, v) => metrics(k) = v }
      detail ++= t.detail
    }
    val tgate = System.nanoTime()
    val gate = w.gate(spark)
    detail("gate_s") = since(tgate)
    attempted += 1
    if (gate.nonEmpty) { failed += 1; problems ++= gate }
    metrics("peak_rss_mb") = (peakRssMb(), "MB")
    metrics("failed_ops_ratio") = (failed.toDouble / math.max(1L, attempted), "ratio")
    w.close()
    spark.stop()

    detail("setups_s") = setups
    detail("jvm_s") = since(t0)
    detail("cores") = o.cores
    detail("heap_mb") = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    detail("problems") = problems.take(50)
    Files.createDirectories(o.detail.getParent)
    Files.writeString(o.detail, Json.render(detail))
    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-34s $v%.6g $u") }
    println(s"heap_mb ${detail("heap_mb")} cores ${o.cores} detail ${o.detail}")
    problems.take(20).foreach(p => println(s"problem $p"))
    Files.writeString(o.result, Json.render(Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }
}
