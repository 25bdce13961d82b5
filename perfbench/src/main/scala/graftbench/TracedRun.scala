package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The traced run: per-layer figures from spans and listener counters,
  * all given per traced operation. Layers are named after the library's
  * modules; a span `versioner.versions` belongs to layer `versioner`,
  * `queries.dd.<key>` to `queries.dd`. */
final class TracedRun(o: Main.Opts, w: Workload) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  /** Every per-layer metric with its unit; a layer the workload does not
    * exercise reads 0. */
  val Units: Seq[(String, String)] = Seq(
    "sources.decode_s" -> "s", "sources.payload_mb" -> "MB", "sources.changes_out" -> "count",
    "versioner.s" -> "s", "versioner.shuffle_write_mb" -> "MB", "versioner.spill_mb" -> "MB",
    "versioner.sort_ms" -> "ms", "versioner.rows_out" -> "count",
    "serializer.s" -> "s", "serializer.bytes_out" -> "B",
    "bundler.write_s" -> "s", "bundler.files" -> "count", "bundler.bytes_written" -> "B",
    "bundler.bytes_per_change" -> "B",
    "inject.s" -> "s", "inject.driver_rows" -> "count",
    "poi.s" -> "s", "poi.blocks" -> "count", "poi.shuffle_write_mb" -> "MB",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.write_batch_s" -> "s", "streaming.metrics_record_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB") ++
    Seq("dd", "tx", "ann").flatMap(f => Seq(s"queries.$f.s" -> "s", s"queries.$f.stages" -> "count",
      s"queries.$f.shuffle_write_mb" -> "MB")) ++ Seq(
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_fetch_wait_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.stage_floor_ms" -> "ms", "spark.floor_share" -> "ratio") ++
    TracedRun.ChainLayers.map(l => s"$l.speedup_vs_1core" -> "x") ++ Seq(
    "trace.driver_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** Layer self-time metric names. */
  private val SelfName = Map("sources" -> "sources.decode_s", "versioner" -> "versioner.s",
    "serializer" -> "serializer.s", "bundler" -> "bundler.write_s", "inject" -> "inject.s",
    "poi" -> "poi.s", "queries.dd" -> "queries.dd.s", "queries.tx" -> "queries.tx.s",
    "queries.ann" -> "queries.ann.s", "iteration" -> "trace.driver_s")

  private def layerOf(span: String): String =
    if (span.startsWith("queries.")) span.split('.').take(2).mkString(".")
    else span.takeWhile(_ != '.')

  private def selfByLayer(t: Tracer): Map[String, Double] =
    t.all.groupBy(s => layerOf(s.name)).map { case (l, ss) => l -> ss.map(t.selfSeconds).sum }

  /** The fixed cost of one stage: the median of trivial one-stage jobs. */
  private def stageFloorSeconds(spark: SparkSession): Double =
    Stats.median((1 to 12).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.drop(2))

  def run(spark0: SparkSession, count: OpResult => OpResult): SparkSession = {
    var spark = spark0
    val off = Tracer.off
    val scratch = new LayerStats
    val counters = new Counters
    counters.register(spark)
    val floor = stageFloorSeconds(spark)
    val layer = new LayerStats
    val runId = s"${w.name}-${o.seed}-${java.util.UUID.randomUUID()}"
    val tracer = new Tracer(spark, enabled = true, runId)
    val traced = mutable.ArrayBuffer.empty[OpResult]
    val plain = mutable.ArrayBuffer.empty[OpResult]
    val global = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    while (traced.isEmpty || System.nanoTime() < end) {
      plain += count(w.op(spark, off, scratch))
      val before = counters.snapshot(spark)
      traced += count(w.op(spark, tracer, layer))
      val after = counters.snapshot(spark)
      after.foreach { case (k, v) => global(k) += v - before(k) }
    }
    counters.drain(spark)
    val n = traced.size.toDouble
    val v = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    selfByLayer(tracer).foreach { case (l, s) => SelfName.get(l).foreach(m => v(m) = s / n) }
    val spansByLayer = tracer.all.groupBy(s => layerOf(s.name))
    def acc(l: String): Seq[Counters.Acc] =
      spansByLayer.getOrElse(l, Nil).flatMap(s => counters.byGroup.get(s.id.toString))
    v("versioner.shuffle_write_mb") = acc("versioner").map(_.shuffleWrite).sum / 1e6 / n
    v("versioner.spill_mb") = acc("versioner").map(_.spill).sum / 1e6 / n
    v("poi.shuffle_write_mb") = acc("poi").map(_.shuffleWrite).sum / 1e6 / n
    Seq("dd", "tx", "ann").foreach { f =>
      v(s"queries.$f.stages") = acc(s"queries.$f").map(_.stages).sum / n
      v(s"queries.$f.shuffle_write_mb") = acc(s"queries.$f").map(_.shuffleWrite).sum / 1e6 / n
    }
    v("versioner.sort_ms") = counters.queries.synchronized(counters.queries.toList)
      .filter(q => tracer.spanAt(q.startMs).exists(s => layerOf(s.name) == "versioner"))
      .map(_.sortMs).sum / n
    layer.values.foreach { case (k, x) => v(k) = x / n }
    global.foreach { case (k, x) => if (k != "spark.shuffle_write_mb") v(k) = x / n }
    v("streaming.state_rows") = counters.stateRows.toDouble
    v("streaming.state_mb") = counters.stateBytes / 1e6
    w match {
      case g: GraphLoadWorkload =>
        v("sources.payload_mb") = g.payloadBytes / 1e6
        v("bundler.files") = g.csvFiles.toDouble
        v("bundler.bytes_written") = g.csvBytes.toDouble
        v("bundler.bytes_per_change") = g.csvBytes.toDouble / g.inputChanges
      case l: LiveSinkWorkload =>
        v("sources.payload_mb") = l.payloadBytes / 1e6
        v("bundler.bytes_written") = l.csvBytes.toDouble
        v("bundler.bytes_per_change") = l.csvBytes.toDouble / l.inputChanges
      case _ =>
    }
    val plainWall = Stats.median(plain.map(_.seconds).toSeq)
    val tracedWall = Stats.median(traced.map(_.seconds).toSeq)
    v("spark.stage_floor_ms") = floor * 1e3
    v("spark.floor_share") = v("spark.stages") * floor / plainWall
    v("trace.overhead_ratio") = tracedWall / plainWall - 1.0
    detail("untraced_ops_s") = plain.map(_.seconds)
    detail("traced_ops_s") = traced.map(_.seconds)
    detail("stage_floor_s") = floor
    detail("stages_x_floor_share_of_untraced_wall") = v("spark.floor_share")

    val selfAt4 = selfByLayer(tracer)
    detail("spans") = tracer.all.map { s =>
      val a = counters.byGroup.get(s.id.toString)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds,
        "self_s" -> tracer.selfSeconds(s),
        "jobs" -> a.map(_.jobs).getOrElse(0L), "stages" -> a.map(_.stages).getOrElse(0L),
        "tasks" -> a.map(_.tasks).getOrElse(0L),
        "shuffle_write_b" -> a.map(_.shuffleWrite).getOrElse(0L),
        "spill_b" -> a.map(_.spill).getOrElse(0L))
    }
    counters.unregister(spark)

    w match {
      case g: GraphLoadWorkload =>
        // the same traced operation on one core: each layer's speedup
        spark.stop()
        spark = Main.session(1, o.work)
        count(g.op(spark, off, scratch))
        val one = new Tracer(spark, enabled = true, runId + "-1core")
        count(g.op(spark, one, new LayerStats))
        val selfAt1 = selfByLayer(one)
        TracedRun.ChainLayers.foreach { l =>
          val a = selfAt4.getOrElse(l, 0.0) / n
          if (a > 0) v(s"$l.speedup_vs_1core") = selfAt1.getOrElse(l, 0.0) / a
        }
        detail("one_core_self_s") = selfAt1
      case _ =>
    }
    Units.foreach { case (k, u) => metrics(k) = (v(k), u) }
    spark
  }
}

object TracedRun {
  val ChainLayers: Seq[String] = Seq("sources", "versioner", "serializer", "bundler", "inject", "poi")
}
