package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a graft layer. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer. Every span sets
  * the Spark job group to its id, so [[Counters]] can charge jobs,
  * stages and tasks to the span that caused them. A disabled tracer
  * runs the body and records nothing. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), runId,
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time: the span's duration minus the part its children cover
    * (children of one span run one after another on the driver). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** The innermost span open at wall-clock time `ms`. */
  def spanAt(ms: Long): Option[Span] =
    spans.iterator.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(_.startNs)
}

object Tracer {
  /** Runs every body untraced. */
  val off = new Tracer(null, enabled = false, "")
}

/** Task- and query-level counters, gathered from outside the program by
  * a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener registered by the benchmark. */
final class Counters extends SparkListener {
  import Counters.{Acc, QueryRecord}
  /** Per job group (the span id, or "" for jobs outside any span). */
  val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      if (info != null && info.finishTime > 0) {
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime
        a.schedDelayMs += math.max(0L, delay)
      }
    }
  }

  val queries = mutable.ArrayBuffer.empty[QueryRecord]

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val sort = try metricSum(qe.executedPlan, "sortTime") catch { case _: Exception => 0L }
    queries.synchronized {
      queries += QueryRecord(start, ms("analysis"), ms("optimization"), ms("planning"), sort)
    }
  }

  private def metricSum(p: SparkPlan, name: String): Long = {
    val own = p.metrics.get(name).map(_.value).getOrElse(0L)
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    own + kids.map(metricSum(_, name)).sum
  }

  /** Streaming progress, summed over every micro-batch of every query. */
  val streamDurMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var streamBatches = 0L
  var stateRows = 0L
  var stateBytes = 0L
  private val lastState = mutable.Map.empty[String, (Long, Long)]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        streamBatches += 1
        p.durationMs.forEach((k, v) => streamDurMs(k) += v.longValue)
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
        lastState(p.id.toString) = (rows, bytes)
        stateRows = math.max(stateRows, lastState.values.map(_._1).sum)
        stateBytes = math.max(stateBytes, lastState.values.map(_._2).sum)
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(spark: SparkSession): Unit = BenchBus.drain(spark.sparkContext)

  /** Run-wide running totals; a traced operation's share is the
    * difference of two snapshots taken around it. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    drain(spark)
    val a = byGroup.values
    val q = queries.synchronized(queries.toList)
    synchronized {
      Map(
        "spark.jobs" -> a.map(_.jobs).sum.toDouble,
        "spark.stages" -> a.map(_.stages).sum.toDouble,
        "spark.tasks" -> a.map(_.tasks).sum.toDouble,
        "spark.task_cpu_s" -> a.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> a.map(_.gcMs).sum / 1e3,
        "spark.shuffle_fetch_wait_s" -> a.map(_.fetchWaitMs).sum / 1e3,
        "spark.scheduler_delay_s" -> a.map(_.schedDelayMs).sum / 1e3,
        "spark.shuffle_write_mb" -> a.map(_.shuffleWrite).sum / 1e6,
        "spark.analysis_s" -> q.map(_.analysisMs).sum / 1e3,
        "spark.optimization_s" -> q.map(_.optimizationMs).sum / 1e3,
        "spark.planning_s" -> q.map(_.planningMs).sum / 1e3,
        "streaming.trigger_s" -> streamDurMs("triggerExecution") / 1e3,
        "streaming.add_batch_s" -> streamDurMs("addBatch") / 1e3,
        "streaming.wal_commit_s" -> streamDurMs("walCommit") / 1e3,
        "streaming.batches" -> streamBatches.toDouble)
    }
  }
}

object Counters {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    var fetchWaitMs = 0L; var schedDelayMs = 0L
  }

  /** One finished Dataset action: its planning phases and its sort
    * time, stamped with the wall time its analysis began. */
  final case class QueryRecord(startMs: Long, analysisMs: Long, optimizationMs: Long,
                               planningMs: Long, sortMs: Long)
}
