package org.apache.spark.sql.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** The bench JVM. Launched by `perfbench/run.py` on the engine's
  * compiled classes (no build tool in the timed process). It sets up one
  * workload, prints `PERFBENCH READY`, runs the measured section, checks
  * the outputs it can check in-process and writes everything it measured
  * to the `--out` JSON file.
  *
  * Every directory the engine may write to (temp, Spark local dirs,
  * warehouse, Hive working dirs, Derby, which writes to the working directory)
  * is placed under `--run-dir` by the launcher and by [[session]].
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, runDir: String, sfDir: String,
                        out: String)

  /** What a workload hands back to the harness. */
  final class Ctx(val spark: SparkSession, val args: Args,
                  val rec: Recorder, val cpus: Int) {
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** registry rows whose results were dumped for the DuckDB oracle */
    val oracle = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    /** per-event samples, e.g. each micro-batch's trigger time */
    val series = mutable.LinkedHashMap.empty[String, Seq[Double]]

    def check(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }

    /** Runs one op: tags its Spark jobs, times it, records it. A thrown
      * error is recorded as a failed op, never as a fast one.
      */
    def op[A](kind: String, name: String)(body: Long => A): Option[A] = {
      val id = rec.newOp()
      val sc = spark.sparkContext
      sc.setJobGroup(OpTag(id), OpTag(id))
      val t0 = Clock.nowMs()
      rec.markSequential(id, t0)
      val extra = mutable.LinkedHashMap.empty[String, Double]
      opExtra.set(extra)
      try {
        val r = body(id)
        rec.ops.add(Op(id, kind, name, t0, Clock.nowMs(), ok = true, null, extra.toMap))
        Some(r)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          rec.ops.add(Op(id, kind, name, t0, Clock.nowMs(), ok = false,
            e.toString, extra.toMap))
          None
      } finally {
        sc.clearJobGroup()
        opExtra.remove()
      }
    }

    private val opExtra = new ThreadLocal[mutable.Map[String, Double]]

    /** Times a child step of the current op: a span in traced runs and
      * an `<step>_ms` field on the op in every run.
      */
    def step[A](op: Long, layer: String, name: String)(body: => A): A = {
      val t0 = Clock.nowMs()
      try body finally {
        val t1 = Clock.nowMs()
        rec.span(op, layer, name, t0, t1)
        Option(opExtra.get).foreach(m => m(s"${name}_ms") = m.getOrElse(s"${name}_ms", 0.0) + (t1 - t0))
      }
    }

    def noteOp(key: String, v: Double): Unit =
      Option(opExtra.get).foreach(_(key) = v)
  }

  trait Workload {
    def setup(): Unit
    def run(): Unit
    /** Output checks and result dumps, after the measured section. */
    def verify(): Unit
    def close(): Unit = ()
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("run-dir"), need("sf-dir"), need("out"))
  }

  /** Session settings mirror graft.Bench: local[nproc], shuffle
    * partitions = nproc, AQE on, 4 MB max split, UTC.
    */
  def session(a: Args, cpus: Int): SparkSession = {
    val run = a.runDir
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.hadoop.hive.exec.scratchdir", s"$run/hive/exec")
      .config("spark.hadoop.hive.exec.local.scratchdir", s"$run/hive/local")
      .config("spark.hadoop.hive.downloaded.resources.dir", s"$run/hive/resources")
      .config("spark.hadoop.hive.querylog.location", s"$run/hive/querylog")
      .config("spark.hadoop.hive.server2.logging.operation.log.location",
        s"$run/hive/operation_logs")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(a, cpus)
    val rec = new Recorder(a.trace)
    val ctx = new Ctx(spark, a, rec, cpus)
    val listener = if (a.trace) Some(new LayerListener(rec)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val w: Workload = a.workload match {
      case "registry_cold" => new RegistryCold(ctx)
      case "ingest_write" => new IngestWrite(ctx)
      case "dashboard_serving" => new DashboardServing(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var status = 0
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] ${a.workload} $name at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
    try {
      w.setup()
      phase("ready")
      println("PERFBENCH READY")
      System.out.flush()
      val before = JvmCounters.snapshot()
      val t0 = Clock.nowMs()
      w.run()
      val t1 = Clock.nowMs()
      val after = JvmCounters.snapshot()
      ctx.metrics("wall_s") = (t1 - t0) / 1000.0
      drain(spark)
      after.foreach { case (k, v) => ctx.layers(k) = v - before(k) }
      ctx.layers("heap_peak_mb") = JvmCounters.heapPeakMb()
      ctx.layers("rss_peak_mb") = JvmCounters.rssPeakMb()
      listener.foreach(l => layerCounters(l, ctx.layers))
      phase("measured")
      w.verify()
      phase("verified")
      writeResult(ctx)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${a.workload} aborted: $e")
        e.printStackTrace()
        status = 3
    } finally {
      try w.close() finally spark.stop()
      phase("stopped")
    }
    System.exit(status)
  }

  /** Waits for the listener bus so every event of the run is counted. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  private def layerCounters(l: LayerListener, m: mutable.Map[String, Double]): Unit = {
    Seq("jobs" -> l.jobs, "stages" -> l.stages, "stages_skipped" -> l.stagesSkipped,
      "tasks" -> l.tasks, "task_retries" -> l.taskRetries,
      "task_delay_ms" -> l.taskDelayMs, "exec_cpu_ns" -> l.execCpuNs,
      "exec_run_ms" -> l.execRunMs, "exec_deser_ms" -> l.deserMs,
      "exec_gc_ms" -> l.execGcMs, "shuffle_write_bytes" -> l.shuffleWrite,
      "shuffle_read_bytes" -> l.shuffleRead, "fetch_wait_ms" -> l.fetchWaitMs,
      "spill_bytes" -> l.spill, "input_bytes" -> l.inputBytes,
      "input_rows" -> l.inputRows, "plans" -> l.plans,
      "graft_rule_ns" -> l.graftRuleNs, "graft_rule_runs" -> l.graftRuleRuns,
      "graft_rule_effective" -> l.graftRuleEffective)
      .foreach { case (k, v) => m(k) = v.get.toDouble }
    m("analysis_ms") = l.analysisMs.sum
    m("optimization_ms") = l.optimizationMs.sum
    m("planning_ms") = l.planningMs.sum
  }

  private def writeResult(ctx: Ctx): Unit = {
    import scala.jdk.CollectionConverters._
    val spark = ctx.spark
    val env = Map(
      "workload" -> ctx.args.workload,
      "seed" -> ctx.args.seed,
      "seconds" -> ctx.args.seconds,
      "trace" -> ctx.args.trace,
      "nproc" -> ctx.cpus,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "max_partition_bytes" -> spark.conf.get("spark.sql.files.maxPartitionBytes"),
      "heap_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" "),
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "fixture_dir" -> ctx.args.sfDir)
    val ops = ctx.rec.ops.asScala.toSeq.sortBy(_.start).map { o =>
      Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name, "start" -> o.start,
        "end" -> o.end, "ok" -> o.ok, "error" -> o.error, "extra" -> o.extra)
    }
    val spans = ctx.rec.spans.asScala.toSeq.map(s =>
      Seq(s.op, s.layer, s.name, s.start, s.end))
    val out = Map("env" -> env, "ops" -> ops, "metrics" -> ctx.metrics,
      "layers" -> ctx.layers, "series" -> ctx.series, "checks" -> ctx.checks, "oracle" -> ctx.oracle,
      "spans" -> spans)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(ctx.args.out), out)
  }
}
