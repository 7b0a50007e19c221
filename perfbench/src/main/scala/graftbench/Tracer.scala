package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `trace` is the id shared by every span of one operation run
  * (0 for the workload span), `parent` the span that caused it. Times are
  * epoch milliseconds. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double)

/** Wall clock in epoch milliseconds with nanoTime resolution, so operation
  * spans and Spark's listener timestamps share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** The benchmark's tracing: Spark's public listeners feed span and counter
  * records that stay in memory until the run ends. The operation currently
  * running is tagged on the calling thread as a local property, which Spark
  * copies onto every job the operation causes. */
final class Tracer {
  val OpProp = "graftbench.trace"
  private val spanIds = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private val pendingJobs = new ConcurrentHashMap[Int, (Long, Double)]()
  private val pendingStages = new ConcurrentHashMap[Int, java.lang.Long]()
  private val pendingSql = new ConcurrentHashMap[Long, java.lang.Long]()
  /** SQL executions, micro-batches and query-planning phases carry no
    * local properties; they are parented after the run to the operation
    * span that contains their start. */
  private val unowned = ArrayBuffer.empty[(String, Double, Double)]

  val counters: Map[String, AtomicLong] = Seq(
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "task_gc_ms",
    "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "analysis_ms", "optimization_ms", "planning_ms", "connector_rows",
    "batches", "trigger_ms", "add_batch_ms", "query_planning_ms", "offset_ms",
    "commit_ms", "state_rows", "state_commit_ms")
    .map(_ -> new AtomicLong).toMap

  private def add(k: String, v: Long): Unit = { counters(k).addAndGet(v); () }

  /** Add a DataFrame's analysis time, if the analysis started at or after
    * `sinceMs` (epoch ms). */
  def addAnalysis(df: org.apache.spark.sql.DataFrame, sinceMs: Double): Unit = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      d.queryExecution.tracker.phases.get("analysis")
        .filter(_.startTimeMs >= sinceMs.toLong)
        .foreach(p => add("analysis_ms", p.durationMs))
    case _ => ()
  }

  def newSpanId(): Long = spanIds.getAndIncrement()
  def record(s: Span): Unit = spans.synchronized { spans += s; () }

  private def traceOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toLong)

  private def addUnowned(name: String, startMs: Double, endMs: Double): Unit =
    unowned.synchronized { unowned += ((name, startMs, endMs)); () }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      pendingJobs.put(e.jobId, (traceOf(e.properties).getOrElse(-1L), e.time.toDouble))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      add("jobs", 1)
      val start = pendingJobs.remove(e.jobId)
      if (start != null && start._1 >= 0)
        record(Span(start._1, newSpanId(), -1, s"job ${e.jobId}", start._2, e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      traceOf(e.properties).foreach(t => pendingStages.put(e.stageInfo.stageId, t))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      val info = e.stageInfo
      for (trace <- Option(pendingStages.remove(info.stageId)); t0 <- info.submissionTime;
           t1 <- info.completionTime)
        record(Span(trace, newSpanId(), -1, s"stage ${info.stageId}", t0.toDouble, t1.toDouble))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => pendingSql.put(x.executionId, x.time); ()
      case x: SparkListenerSQLExecutionEnd =>
        Option(pendingSql.remove(x.executionId))
          .foreach(t0 => addUnowned(s"sql ${x.executionId}", t0.toDouble, x.time.toDouble))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime); add("task_cpu_ns", m.executorCpuTime)
        add("task_gc_ms", m.jvmGCTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      add("analysis_ms", ms("analysis")); add("optimization_ms", ms("optimization"))
      add("planning_ms", ms("planning"))
      ph.foreach { case (name, p) => addUnowned(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      add("connector_rows", graftScanRows(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Rows that graft connector scans produced in an executed plan, read
    * from the scan node's own output-row metric. */
  private def graftScanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => graftScanRows(a.executedPlan)
    case q: QueryStageExec => graftScanRows(q.plan)
    case _: ReusedExchangeExec => 0L
    case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.api.GraftScan] =>
      b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other =>
      other.children.map(graftScanRows).sum + other.subqueries.map(graftScanRows).sum
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("batches", 1)
      add("trigger_ms", d("triggerExecution")); add("add_batch_ms", d("addBatch"))
      add("query_planning_ms", d("queryPlanning"))
      add("offset_ms", d("latestOffset") + d("getBatch") + d("walCommit"))
      add("commit_ms", d("commitOffsets"))
      p.stateOperators.foreach { so =>
        add("state_rows", so.numRowsUpdated); add("state_commit_ms", so.commitTimeMs)
      }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      addUnowned("microbatch", start, start + d("triggerExecution"))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def snapshot(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    counters.map { case (k, v) => k -> v.get }
  }

  /** Every recorded span, with micro-batches and planning phases attached
    * to the operation span whose interval holds their start. Listener
    * times are whole milliseconds, hence the 1 ms of slack. */
  def allSpans: Seq[Span] = {
    val recorded = spans.synchronized(spans.toList)
    val ops = recorded.filter(_.name.startsWith("op "))
    val bs = unowned.synchronized(unowned.toList).flatMap { case (name, s, e) =>
      ops.find(o => o.startMs - 1 <= s && s <= o.endMs)
        .map(o => Span(o.trace, newSpanId(), o.id, name, s, e))
    }
    val opOf = ops.map(o => o.trace -> o.id).toMap
    recorded.map { s =>
      if (s.parent == -1) s.copy(parent = opOf.getOrElse(s.trace, 0L)) else s
    } ++ bs
  }
}
