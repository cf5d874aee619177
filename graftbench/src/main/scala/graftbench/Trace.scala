package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the operation id the
  * span belongs to (0 outside any operation), `parent` the enclosing span.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** Layer counters and spans for the traced run, fed only by Spark's public
  * listener interfaces plus the harness's own timers.
  *
  * Attribution: the harness tags every job it causes with the local
  * properties [[Trace.OpProp]] (operation id), [[Trace.SpanProp]] (the
  * enclosing span) and [[Trace.PhaseProp]] (`build` while a query builder
  * runs, `exec` otherwise). Counters are totals over the traced passes;
  * [[barrier]] drains the listener queues before an operation's span
  * closes, so every event an operation caused is counted before the next
  * one starts.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val t0Ns = System.nanoTime()
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Counter totals over everything traced so far. */
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap(CounterKeys.map(_ -> 0.0): _*)
  private def add(k: String, v: Double): Unit = counts.synchronized { counts(k) += v }

  /** Per streaming query run: its last progress, for end-of-stream state sizes. */
  private val lastProgress = new ConcurrentHashMap[java.util.UUID, StreamingQueryListener.QueryProgressEvent]()
  val batchMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty[Double]
  private val streamsOpen = new AtomicLong(0)

  // Job bookkeeping: job id → (op, parent span, start ns, build phase?).
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Long, Boolean)]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val barrierTokens = new ConcurrentHashMap[Int, String]()
  private val barrierDone = ConcurrentHashMap.newKeySet[String]()

  private def ms(ns: Long): Long = ns - t0Ns

  def newSpanId(): Long = nextId.getAndIncrement()

  def record(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long): Unit =
    spans.synchronized { spans += Span(id, parent, op, name, ms(startNs), ms(endNs)) }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val barrier = Option(p).flatMap(x => Option(x.getProperty(BarrierProp)))
      barrier match {
        case Some(token) => jobs.put(e.jobId, (-1L, 0L, 0L, false)); barrierTokens.put(e.jobId, token)
        case None =>
          // Jobs outside any operation are the harness's own; not counted.
          val op = Option(p).flatMap(x => Option(x.getProperty(OpProp))).map(_.toLong).getOrElse(0L)
          if (op > 0) {
            val parent = Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
            val build = Option(p).flatMap(x => Option(x.getProperty(PhaseProp))).contains("build")
            jobs.put(e.jobId, (op, parent, System.nanoTime(), build))
            e.stageIds.foreach(s => stageOp.put(s, java.lang.Boolean.TRUE))
            add("exec.jobs", 1)
            if (build) add("build.jobs", 1)
          }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(barrierTokens.remove(e.jobId)).foreach(barrierDone.add)
      Option(jobs.remove(e.jobId)).foreach { case (op, parent, start, _) =>
        if (op >= 0) record(newSpanId(), parent, op, "exec.job", start, System.nanoTime())
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageOp.containsKey(e.stageInfo.stageId)) {
        add("exec.stages", 1)
        if (e.stageInfo.attemptNumber() > 0) add("exec.stage_retried", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageOp.containsKey(e.stageId)) {
        add("exec.tasks", 1)
        if (e.reason != org.apache.spark.Success) add("exec.task_failed", 1)
        Option(e.taskMetrics).foreach { m =>
          add("exec.task_run_s", m.executorRunTime / 1e3)
          add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          add("exec.task_gc_s", m.jvmGCTime / 1e3)
          add("exec.shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      add("plan.analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)
      add("plan.optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
      add("plan.physical_ms", ph.get("planning").map(_.durationMs).getOrElse(0L).toDouble)
      add("plan.actions", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamsOpen.incrementAndGet(); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.query_planning_ms", d("queryPlanning"))
      add("stream.wal_commit_ms", d("walCommit"))
      add("stream.commit_offsets_ms", d("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("stream.state_commit_ms", s.commitTimeMs.toDouble)
        add("stream.rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
      }
      batchMs.synchronized { batchMs += d("triggerExecution") }
      lastProgress.put(p.runId, e)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      // State sizes are those the stream ended with: its last batch's.
      Option(lastProgress.remove(e.runId)).foreach { last =>
        last.progress.stateOperators.foreach { s =>
          add("stream.state_rows", s.numRowsTotal.toDouble)
          add("stream.state_mem_bytes", s.memoryUsedBytes.toDouble)
          add("stream.state_store_instances", s.numStateStoreInstances.toDouble)
        }
      }
      streamsOpen.decrementAndGet(); ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listeners have seen every event the finished operation
    * posted. Spark's listener bus is asynchronous and offers no public
    * flush, so a one-task marker job goes through the same queue as the
    * SparkListener and QueryExecutionListener events: once its end is seen,
    * everything posted before it has been delivered. Streaming events use
    * their own queue; a run counts as delivered at its terminated event.
    */
  def barrier(): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val saved = Seq(OpProp, SpanProp, PhaseProp).map(k => k -> sc.getLocalProperty(k))
    saved.foreach { case (k, _) => sc.setLocalProperty(k, null) }
    sc.setLocalProperty(BarrierProp, token)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(BarrierProp, null)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((!barrierDone.remove(token) || streamsOpen.get() > 0) && System.nanoTime() < deadline)
      Thread.sleep(1)
  }
}

object Trace {
  /** Every counter the listeners keep, zero until an event adds to it. */
  val CounterKeys: Seq[String] = Seq(
    "build.jobs", "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms", "plan.actions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
    "exec.task_failed", "exec.stage_retried",
    "stream.batches", "stream.input_rows", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.state_rows", "stream.state_mem_bytes",
    "stream.state_commit_ms", "stream.state_store_instances", "stream.rows_dropped_by_watermark")

  val OpProp = "graftbench.op"
  val SpanProp = "graftbench.span"
  val PhaseProp = "graftbench.phase"
  val BarrierProp = "graftbench.barrier"
}
