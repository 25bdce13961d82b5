package graftbench

import java.nio.file.Path

import scala.collection.mutable

import graft.operators.PoiStableHash
import graft.streaming.{BundledCsvSink, EntityChangeStream, PoiStableHashStream, SinkMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** live_sink: graph_load_deep's payloads streamed in block order, in
  * fixed waves of `liveWaveBlocks` blocks, through the streaming SCD2
  * squash, the bundled CSV sink (with SinkMetrics on the same
  * foreachBatch seam) and the streaming POI. The three queries start
  * once per session, in its set-up, and keep their state across
  * operations. One operation is one wave, closed loop: the wave goes to
  * the three queries in turn, each from its own source, CSV first, and
  * the operation ends when the last has processed it (the CSV batch
  * committed, the versions and POIs emitted). Its latency is the CSV
  * query's, from the wave added to its commit; its wall covers all
  * three. One query runs at a time, so the run holds no more busy
  * threads than the session has cores. */
final class LiveSinkWorkload(seed: Long, sz: Sizes, work: Path) extends Workload {
  val name = "live_sink"
  private val deep = new GraphLoadWorkload(GraphSpec.deep, seed, sz, work)
  private var changes: Seq[GenChange] = Nil
  private var refPoi: Map[Long, String] = Map.empty
  private var waves: IndexedSeq[Seq[(Long, Array[Byte])]] = IndexedSeq.empty
  private var waveChanges: IndexedSeq[Long] = IndexedSeq.empty
  private var streams = 0
  private var live: Option[Live] = None
  // the tracer and counters of the operation in flight, read by the
  // foreachBatch closure of the running CSV query
  @volatile private var current: (Tracer, LayerStats) = (Tracer.off, new LayerStats)

  /** One running set of the three queries and what they have emitted. */
  private final class Live(val spark: SparkSession, val base: Path, val table: String,
                           val metrics: SinkMetrics, val emitted: mutable.ArrayBuffer[(Long, String)],
                           val queries: Seq[(MemoryStream[(Long, Array[Byte])], StreamingQuery)]) {
    var next = 0
    var checked = 0
    def csv: StreamingQuery = queries.head._2
    def csvDir: String = base.resolve("csv").toString
    /** The changes of the waves streamed so far. */
    def streamed: Seq[GenChange] = changes.filter(_.block < next.toLong * sz.liveWaveBlocks)
  }

  def generate(spark: SparkSession): Unit = {
    changes = deep.generateChanges(spark)
    refPoi = Reference.poiChain(changes, "value")
    val ps = spark.read.parquet(deep.payloadDir).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_._1).toSeq
    val byWave = ps.groupBy(_._1 / sz.liveWaveBlocks)
    waves = (0L to byWave.keys.max).map(k => byWave.getOrElse(k, Nil))
    val counts = changes.groupBy(_.block / sz.liveWaveBlocks).map { case (k, cs) => k -> cs.size.toLong }
    waveChanges = waves.indices.map(k => counts.getOrElse(k.toLong, 0L))
  }

  /** Changes streamed by the running queries. */
  def inputChanges: Long = live.map(l => waveChanges.take(l.next).sum).getOrElse(0L)
  /** Mean payload bytes of one wave. */
  def payloadBytes: Long = waves.map(_.map(_._2.length.toLong).sum).sum / math.max(1, waves.size)

  private def start(spark: SparkSession): Live = {
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    close()
    streams += 1
    val base = work.resolve(s"live/stream-$streams")
    Io.deleteTree(base)
    val csvDir = base.resolve("csv").toString
    val table = s"live_versions_$streams"

    def source(): (MemoryStream[(Long, Array[Byte])], DataFrame) = {
      val input = MemoryStream[(Long, Array[Byte])]
      input -> Decode.fromPayloads(input.toDF().toDF("block_num", "payload"))
        .select(col("entity"), col("id"), col("block_num"), col("op"),
          col("fm").getItem("value").getField("v").as("value"))
    }
    val (inCsv, decoded) = source()
    val (inVersions, forVersions) = source()
    val (inPoi, forPoi) = source()

    val metrics = new SinkMetrics
    val emitted = mutable.ArrayBuffer.empty[(Long, String)]
    val folder = new PoiStableHashStream.ChainFolder()
    val qCsv = decoded.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val (tr, layer) = current
        val t0 = System.nanoTime()
        metrics.record(b)
        val t1 = System.nanoTime()
        BundledCsvSink.writeBatch(b, id, csvDir, sz.bundleBlocks): Unit
        val t2 = System.nanoTime()
        if (tr.enabled) {
          layer.add("streaming.metrics_record_s", (t1 - t0) / 1e9)
          layer.add("streaming.write_batch_s", (t2 - t1) / 1e9)
        }
      }
      .option("checkpointLocation", base.resolve("ckpt-csv").toString)
      .start()
    val qVersions = EntityChangeStream.closedVersions(
        forVersions.select(col("id"), col("block_num").as("blockNum"), col("op"),
          coalesce(col("value").cast("double"), lit(0.0)).as("value"))
          .as[EntityChangeStream.Change])
      .writeStream.format("memory").queryName(table).outputMode("append")
      .option("checkpointLocation", base.resolve("ckpt-versions").toString)
      .start()
    val qPoi = {
      spark.conf.set("spark.sql.streaming.checkpointLocation", base.resolve("ckpt").toString)
      PoiStableHashStream.start(
        forPoi.select(col("block_num").as("blockNum"), col("id"), col("op"),
            PoiStableHash.valueText(col("value")).as("value"),
            // event time: one second per block, from a non-zero epoch
            timestamp_seconds(col("block_num") + LiveSinkWorkload.EpochS).as("ts"))
          .withWatermark("ts", "0 seconds").as[PoiStableHashStream.ChangeEvent],
        folder)(out => emitted.synchronized { emitted ++= out })
    }
    val l = new Live(spark, base, table, metrics, emitted,
      Seq(inCsv -> qCsv, inVersions -> qVersions, inPoi -> qPoi))
    live = Some(l)
    l
  }

  /** Stops the running queries and removes their outputs. */
  override def close(): Unit = live.foreach { l =>
    live = None
    l.queries.foreach(_._2.stop())
    if (!l.spark.sparkContext.isStopped) l.spark.catalog.dropTempView(l.table)
    Io.deleteTree(l.base)
  }

  /** One wave. The first operation in a session starts the queries;
    * when every wave has been streamed they start again on fresh
    * outputs. */
  def op(spark: SparkSession, tr: Tracer, layer: LayerStats): OpResult = {
    val l = live.filter(x => (x.spark eq spark) && x.next < waves.size).getOrElse(start(spark))
    current = (tr, layer)
    val w = l.next
    val problems = mutable.ArrayBuffer.empty[String]
    val (secs, commit) = tr.span("iteration") {
      tr.span("streaming.wave") {
        val t0 = System.nanoTime()
        val done = l.queries.map { case (in, q) =>
          in.addData(waves(w))
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        (done.last, done.head)
      }
    }
    current = (Tracer.off, new LayerStats)
    l.next += 1
    val marker = new java.io.File(l.csvDir, s"_committed/batch-${l.csv.lastProgress.batchId}")
    if (!marker.exists()) problems += s"wave $w: no commit marker after processing"
    problems ++= checkNewPoi(l)
    OpResult(secs, problems.toSeq, Seq(commit), waveChanges(w))
  }

  /** POIs emitted since the last check must equal the sequential chain. */
  private def checkNewPoi(l: Live): Seq[String] = {
    val got = l.emitted.synchronized(l.emitted.drop(l.checked).toSeq)
    l.checked += got.size
    val wrong = got.count { case (b, p) => !refPoi.get(b).contains(p) }
    if (wrong > 0) Seq(s"$wrong streamed POI blocks differ from chainSequential") else Nil
  }

  /** The running queries' outputs against the batch semantics for the
    * blocks streamed so far: closed versions, committed CSV lines, sink
    * counters, and every POI but the newest wave's finalized. */
  def gate(spark: SparkSession): Seq[String] = {
    val l = live.getOrElse(throw new IllegalStateException("no wave ran"))
    val bad = mutable.ArrayBuffer.empty[String]
    val ch = l.streamed
    val lastWave = waves(l.next - 1).map(_._1).toSet
    val emittedBlocks = l.emitted.synchronized(l.emitted.map(_._1).toSet)
    val missing = ch.map(_.block).toSet.diff(emittedBlocks).diff(lastWave)
    if (missing.nonEmpty) bad += s"${missing.size} POI blocks never finalized"
    val wantV = Reference.versions(ch).collect { case RefRow(id, s, Some(e), f) =>
      (id, s, e, f.get("value").flatten.map(_.value.toDouble).getOrElse(0.0))
    }.toSet
    val gotV = spark.table(l.table).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    if (gotV != wantV) bad += s"streamed closed versions differ: ${gotV.size} vs ${wantV.size}"
    val wantL = Digest.of(ch.iterator.map { c =>
      val v = c.fields.toMap.get("value").flatten
        .map(x => new java.math.BigDecimal(x.value).setScale(2).toPlainString).getOrElse("0")
      Seq((c.block / sz.bundleBlocks).toString, s"${c.id},${c.block},$v")
    })
    val gotL = Digest.of(BundledCsvSink.committedLines(spark, l.csvDir)
      .collect().iterator.map(r => Seq(r.getLong(0).toString, r.getString(1))))
    if (gotL != wantL) bad += s"committed CSV lines differ: got $gotL want $wantL"
    val counted = l.metrics.snapshot(spark).collect().map(_.getLong(1)).sum
    if (counted != ch.size) bad += s"SinkMetrics counted $counted changes, want ${ch.size}"
    bad.toSeq
  }

  def csvBytes: Long =
    live.map(l => Io.treeBytes(l.base.resolve("csv"), n => n.startsWith("batch-"))).getOrElse(0L)

  // a wave's latency keeps falling over its first ten or so waves in a
  // session, while the JIT compiles the per-batch planning paths
  override def warmupShare: Double = 1.2

  def summary(ops: Seq[OpResult]): Map[String, (Double, String)] = {
    val lat = ops.flatMap(_.samples)
    val wall = ops.map(_.seconds).sum
    val rate = ops.map(_.items).sum / wall
    Map(
      "sink_batch_latency_p50_s" -> (Stats.median(lat), "s"),
      "sink_batch_latency_p90_s" -> (Stats.quantile(lat, 0.9), "s"),
      "replay_wall_s" -> (wall, "s"),
      "changes_per_s" -> (rate, "changes/s"),
      "csv_bytes_per_change" -> (csvBytes.toDouble / inputChanges, "B"),
      "latency_p50_s" -> (Stats.median(lat), "s"),
      "latency_p90_s" -> (Stats.quantile(lat, 0.9), "s"),
      "items_per_s" -> (rate, "1/s"))
  }
}


object LiveSinkWorkload {
  val EpochS = 1700000000L
}
