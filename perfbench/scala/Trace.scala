package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans timed by the benchmark (nanoTime) and spans reported by Spark's
  * listener events (currentTimeMillis) share one time axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `op` is the benchmark operation it belongs to
  * (0 when no operation could be linked); `layer` names what the
  * interval's self time is charged to.
  */
final case class Span(op: Long, layer: String, name: String,
                      start: Double, end: Double)

/** One benchmark operation: a registry row, a pipeline call, a stream
  * trigger drain or a JDBC statement. Recorded in every run.
  */
final case class Op(id: Long, kind: String, name: String, start: Double,
                    end: Double, ok: Boolean, error: String,
                    extra: Map[String, Double]) {
  def ms: Double = end - start
}

/** Spans and operations kept in memory until the run ends. Spans are
  * recorded only in a traced run; operations always.
  */
final class Recorder(val tracing: Boolean) {
  private val ids = new AtomicLong(0L)
  val ops = new ConcurrentLinkedQueue[Op]()
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Operations of the sequential workloads, by start time, so listener
    * events without an op marker can be charged to the op that was
    * running when they happened.
    */
  private val sequential = new ConcurrentLinkedQueue[(Long, Double)]()

  def newOp(): Long = ids.incrementAndGet()

  def span(op: Long, layer: String, name: String, start: Double,
           end: Double): Unit =
    if (tracing) spans.add(Span(op, layer, name, start, end))

  def markSequential(op: Long, start: Double): Unit = sequential.add(op -> start)

  /** The latest sequential op that started at or before `t`. */
  def opAt(t: Double): Long = {
    var best = 0L; var bestT = Double.MinValue
    sequential.forEach { case (id, s) =>
      if (s <= t + 1.0 && s >= bestT) { best = id; bestT = s }
    }
    best
  }
}

object OpTag {
  private val re = "pb:op=(\\d+)".r
  def apply(op: Long): String = s"pb:op=$op"
  def parse(s: String): Option[Long] =
    Option(s).flatMap(x => re.findFirstMatchIn(x).map(_.group(1).toLong))
}

/** One micro-batch as reported by `StreamingQueryProgress`. */
final case class Trigger(start: Double, durations: Map[String, Long],
                         rows: Long, stateBytes: Long)

/** Per-micro-batch phases. Registered in every ingest run: the trigger
  * latency is an end-to-end metric.
  */
final class TriggerListener(rec: Recorder) extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val state = p.stateOperators.map(_.memoryUsedBytes).sum
    triggers.add(Trigger(start, d, p.numInputRows, state))
    val total = d.getOrElse("triggerExecution", 0L)
    rec.span(rec.opAt(start), "streaming", s"trigger ${p.batchId}",
      start, start + total)
  }
}

/** Scheduler, executor, shuffle, source and query-execution counters
  * plus job/stage/execution spans, from Spark's listener bus. Registered
  * only in traced runs.
  */
final class LayerListener(rec: Recorder) extends SparkListener {
  val jobs, stages, stagesSkipped, tasks, taskRetries = new AtomicLong(0L)
  val taskDelayMs, execCpuNs, execRunMs, deserMs, execGcMs = new AtomicLong(0L)
  val shuffleWrite, shuffleRead, fetchWaitMs, spill = new AtomicLong(0L)
  val inputBytes, inputRows = new AtomicLong(0L)
  val plans = new AtomicLong(0L)
  val analysisMs, optimizationMs, planningMs = new DoubleAdder()
  val graftRuleNs, graftRuleRuns, graftRuleEffective = new AtomicLong(0L)

  private val jobInfo = mutable.Map.empty[Int, (Double, Long, Seq[Int])]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val submitted = mutable.Set.empty[Int]
  private val execInfo = mutable.Map.empty[Long, (Double, Long)]

  private def opOf(texts: String*)(t: Double): Long =
    texts.iterator.flatMap(OpTag.parse).nextOption().getOrElse(rec.opAt(t))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.map(_.getProperty(k)).orNull
    val t = e.time.toDouble
    val op = opOf(prop("spark.job.description"), prop("spark.jobGroup.id"),
      prop("spark.job.tags"))(t)
    jobInfo(e.jobId) = (t, op, e.stageIds)
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.incrementAndGet()
    jobInfo.remove(e.jobId).foreach { case (t0, op, stageIds) =>
      stagesSkipped.addAndGet(stageIds.count(s => !submitted.contains(s)).toLong)
      rec.span(op, "scheduler", s"job ${e.jobId}", t0, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { submitted += e.stageInfo.stageId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.incrementAndGet()
    for (t0 <- s.submissionTime; t1 <- s.completionTime) {
      val op = synchronized(stageOp.getOrElse(s.stageId, rec.opAt(t0.toDouble)))
      rec.span(op, "executor", s"stage ${s.stageId}.${s.attemptNumber()}",
        t0.toDouble, t1.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success || e.taskInfo.attemptNumber > 0)
      taskRetries.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      taskDelayMs.addAndGet(math.max(0L, delay))
      execCpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      execRunMs.addAndGet(m.executorRunTime)
      deserMs.addAndGet(m.executorDeserializeTime)
      execGcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val t = s.time.toDouble
      val op = opOf(s.description +: s.jobTags.toSeq: _*)(t)
      synchronized { execInfo(s.executionId) = (t, op) }
    case x: SparkListenerSQLExecutionEnd =>
      val started = synchronized(execInfo.remove(x.executionId))
      started.foreach { case (t0, op) =>
        rec.span(op, "sql", s"execution ${x.executionId}", t0, x.time.toDouble)
        Option(x.qe).foreach(qe => tracked(op, qe.tracker))
      }
    case _ =>
  }

  private val seenTrackers =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  /** Planning phases and rule statistics of one query, counted once even
    * when the query runs several executions (AQE, nested writes).
    */
  private def tracked(op: Long,
                      t: org.apache.spark.sql.catalyst.QueryPlanningTracker): Unit = {
    if (!seenTrackers.synchronized(seenTrackers.add(t))) return
    plans.incrementAndGet()
    t.phases.foreach { case (phase, s) =>
      val ms = (s.endTimeMs - s.startTimeMs).toDouble
      phase match {
        case "analysis" => analysisMs.add(ms)
        case "optimization" => optimizationMs.add(ms)
        case "planning" => planningMs.add(ms)
        case _ =>
      }
      rec.span(op, "catalyst", phase, s.startTimeMs.toDouble,
        s.endTimeMs.toDouble)
    }
    t.rules.foreach { case (rule, r) =>
      if (rule.startsWith("graft.plans")) {
        graftRuleNs.addAndGet(r.totalTimeNs)
        graftRuleRuns.addAndGet(r.numInvocations)
        graftRuleEffective.addAndGet(r.numEffectiveInvocations)
      }
    }
  }
}

/** Process-wide counters read before and after the measured section. */
object JvmCounters {
  import java.lang.management.ManagementFactory
  import org.apache.spark.metrics.source.CodegenMetrics

  private def histSum(h: com.codahale.metrics.Histogram): Double =
    h.getSnapshot.getValues.map(_.toDouble).sum

  def snapshot(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble,
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      // the histograms keep every sample up to their reservoir size
      // (1028), far above one run's compile count
      "codegen_compile_ms" -> histSum(CodegenMetrics.METRIC_COMPILATION_TIME),
      "codegen_class_bytes" -> histSum(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE))
  }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
