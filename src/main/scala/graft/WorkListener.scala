package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener-summed work of a session, shared by [[Bench]] and
  * [[Profile]]: snapshot deltas around a query attribute its jobs
  * (incl. foreachBatch micro-batches, which run on the same
  * SparkContext). Jobs, stages and tasks count every end event; executor
  * CPU (run + deserialize), shuffle read + write bytes and spill bytes
  * count SUCCESSFUL attempts only (round-15 verdict #5): failed/killed
  * attempts — lost-executor retries, speculation losers — burn real CPU
  * that is box state, not plan cost, and were one source of the 1.9x
  * cpu_s spread between bit-identical sf100 twins. Spill is its own
  * counter for the same reason: spilling is real work, but its VOLUME
  * tracks box memory pressure, so benchcmp attributes a cpu move with a
  * matching spill move to the box.
  *
  * With `trace`, every job and stage end is logged to stderr with its
  * duration and description.
  */
private[graft] final class WorkListener(trace: Boolean = false)
    extends SparkListener {
  val jobs = new AtomicLong(0L)
  val stages = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val cpuNs = new AtomicLong(0L)
  val shuffleBytes = new AtomicLong(0L)
  val spillBytes = new AtomicLong(0L)
  private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (trace) {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(j.stageInfos.lastOption.map(_.name))
        .getOrElse("")
      t0.put(j.jobId, (j.time, desc))
      ()
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    if (trace) {
      val s = t0.remove(j.jobId)
      if (s != null)
        System.err.println(f"[job] ${j.jobId}%4d ${(j.time - s._1) / 1e3}%7.3fs  ${s._2.take(90)}")
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (trace) {
      val i = s.stageInfo
      val ms = (for (a <- i.completionTime; b <- i.submissionTime)
        yield a - b).getOrElse(-1L)
      System.err.println(f"[stage] ${i.stageId}%4d ${ms / 1e3}%7.3fs " +
        f"tasks=${i.numTasks}%3d  ${i.name.take(100)}")
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null && t.reason == org.apache.spark.Success) {
      cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      ()
    }
  }
}

private[graft] object WorkListener {

  /** Drain the async listener bus (up to 30 s) so a snapshot taken next
    * owns every event already produced; false when the bus did not
    * empty in time.
    */
  def drain(sc: SparkContext): Boolean =
    try {
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc, 30000L)
      true
    } catch { case _: java.util.concurrent.TimeoutException => false }
}

/** The JVM's codegen compiles so far: their count (CodegenMetrics'
  * compilation-time histogram, one sample per janino compile, i.e. per
  * codegen cache miss) and their summed compile time in ms
  * (CodeGenerator's own accumulator, exact where the histogram keeps
  * only a sample). Deltas around a query attribute its compiles.
  */
private[graft] object Compiles {
  def now(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
}
