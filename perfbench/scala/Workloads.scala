package org.apache.spark.sql.perfbench

import java.sql.{Connection, DriverManager, ResultSet}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{CurationJob, DailyJob, Load}
import graft.queries.Registry
import graft.server.SqlEndpoint

import Main.{Ctx, Workload}

/** Registry rows run through `Q.run` → `executedPlan` → `collect`, each
  * step timed; results are kept for the DuckDB oracle check.
  */
final class RowRunner(ctx: Ctx) {
  private val results = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  def resolve(names: Seq[String]): Seq[graft.queries.Q] = names.map(n =>
    Registry.byName.getOrElse(n, throw new IllegalStateException(s"no registry row $n")))

  def run(kind: String, q: graft.queries.Q): Unit = {
    ctx.op(kind, q.name) { op =>
      val df = ctx.step(op, "queries", "build")(q.run(ctx.spark, ctx.args.sfDir))
      ctx.step(op, "catalyst", "plan")(df.queryExecution.executedPlan)
      val rows = ctx.step(op, "execute", "collect")(df.collect())
      ctx.noteOp("rows", rows.length.toDouble)
      results(q.name) = (rows, df.schema)
    }
    // the same per-row release graft.Bench does between rows
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Writes each collected result as parquet for `run.py`'s DuckDB
    * comparison against the row's oracle SQL.
    */
  def dump(): Unit = results.foreach { case (name, (rows, schema)) =>
    val dir = s"${ctx.args.runDir}/results/$name"
    ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    ctx.oracle(name) = Map("sql" -> Registry.byName(name).oracle.getOrElse(""),
      "dir" -> dir, "rows" -> rows.length)
  }
}

/** Fresh JVM, no warm-up: a fixed sample of 40 non-stream registry rows
  * in seed-shuffled order, each once. Cold Catalyst, codegen/JIT and
  * job-scheduling round-trips dominate.
  */
final class RegistryCold(ctx: Ctx) extends Workload {
  private val runner = new RowRunner(ctx)
  private var rows: Seq[graft.queries.Q] = Nil

  def setup(): Unit = {
    val n = math.min(RegistryCold.Rows.size, RegistryCold.RowsPerSecond * ctx.args.seconds)
    rows = new Random(ctx.args.seed).shuffle(runner.resolve(RegistryCold.Rows.take(n)))
  }

  def run(): Unit = rows.foreach(runner.run("row", _))

  def verify(): Unit = runner.dump()
}

object RegistryCold {
  /** rows per second of run length: 40 rows take about 20 s cold */
  val RowsPerSecond = 2

  /** Every other row, by name, of the 80 cheapest non-stream rows of a
    * cold sf0.1 pass on 4 cores: 40 rows from every query module, about
    * 20 s cold, so p75 has ten samples beyond it.
    */
  val Rows: Seq[String] = Seq(
    "q03_customer_distincts", "q09_top_nation", "q11_year_stats",
    "q13_semi_join", "q16_range_filter", "q18_rlike_filter",
    "q21_pivot_status", "q23_first_per_customer", "q27_moment_stats",
    "q30_docs_dedup_stats", "q32_docs_lang_stats", "q38_lang_id_confusion",
    "q44_asof_attribution", "q46_events_props", "q48_events_funnel",
    "q51_multilabel_classify", "q53_date_parts", "q55b_stratified_sample",
    "q58_cube_grouping", "q62_daily_growth", "q64b_keyset_page",
    "q65_topk_heap", "q68_regex_tokens", "q74_kmv_distinct",
    "q76_weighted_sample", "q83_embed_quantize", "q87_seq_pack",
    "q91_split_assign", "q96_image_decode", "q108_cms_counts",
    "q114_embed_dim_stats", "q117_embed_zscore", "q119_feature_hash_embed",
    "q121_token_budget_shards", "q126_sample_quantiles", "q128_zrange_prune",
    "q135_hamming_topk", "q149_repetition_profile", "q159_bpe_curve",
    "q172_html_extract")
}

/** The write path: daily batch loads over seeded run dates, an idempotent
  * rerun, the streaming twin over the same landing dir, a sample of the
  * micro-batch stream rows, and the curation job — all into the run's
  * work dir. Serves no queries.
  */
final class IngestWrite(ctx: Ctx) extends Workload {
  import IngestWrite._
  private val spark = ctx.spark
  private val work = s"${ctx.args.runDir}/work"
  private val triggers = new TriggerListener(ctx.rec)
  private val runner = new RowRunner(ctx)
  private var dates: Seq[String] = Nil
  private var streams: Seq[graft.queries.Q] = Nil
  private val loaded = mutable.ArrayBuffer.empty[Seq[String]]
  private val reloaded = mutable.ArrayBuffer.empty[Seq[String]]
  private var offered = 0
  private var curation: Option[graft.pipeline.CurationReport] = None
  private var streamOk = false
  private val nDates = math.max(2, ctx.args.seconds * DatesPerMinute / 60)

  def setup(): Unit = {
    val rng = new Random(ctx.args.seed)
    val base = java.time.LocalDate.of(2025, 1, 1)
    dates = rng.shuffle((0 until 365).toList).take(nDates).map(d => base.plusDays(d).toString)
    streams = rng.shuffle(runner.resolve(StreamRows))
    spark.streams.addListener(triggers)
  }

  def run(): Unit = {
    dates.foreach { d =>
      ctx.op("daily", d)(_ => DailyJob.runOnce(spark, ctx.args.sfDir, work, d))
        .foreach(loaded += _)
    }
    dates.foreach { d =>
      offered += Option(new java.io.File(s"$work/landing").list()).map(_.length).getOrElse(0)
      ctx.op("rerun", d)(_ => DailyJob.runOnce(spark, ctx.args.sfDir, work, d))
        .foreach(reloaded += _)
    }
    streamOk = ctx.op("stream_twin", "runStreaming")(_ => DailyJob.runStreaming(spark, work)).isDefined
    streams.foreach(runner.run("stream_row", _))
    curation = ctx.op("curation", "CurationJob.run")(_ =>
      CurationJob.run(spark, ctx.args.sfDir, s"$work/curation"))
  }

  def verify(): Unit = {
    import org.apache.spark.sql.functions._
    val ops = ctx.rec.ops.asScala.toSeq
    def opMs(kind: String) = ops.filter(_.kind == kind).map(_.ms).sum
    val store = spark.read.parquet(s"$work/store")
    val storeRows = store.count()
    val perDate = store.groupBy(to_date(col("job_posted_date")).as("d")).count()
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    ctx.check("daily_loads_one_file_per_date",
      loaded.size == nDates && loaded.forall(_.size == 1), s"loaded=$loaded")
    ctx.check("store_rows_eq_dates_x_rows_per_date",
      perDate.keySet == dates.toSet && perDate.values.forall(_ == RowsPerDate) &&
        storeRows == nDates * RowsPerDate,
      s"store=$storeRows per_date=$perDate expected $RowsPerDate per date")
    ctx.check("rerun_loads_zero_files",
      reloaded.size == nDates && reloaded.forall(_.isEmpty), s"reloaded=$reloaded")
    val twin = if (streamOk) spark.read.parquet(s"$work/stream_store") else store.limit(0)
    val twinRows = twin.count()
    val same = twinRows == storeRows &&
      store.exceptAll(twin).isEmpty && twin.exceptAll(store).isEmpty
    ctx.check("stream_store_eq_batch_store", same,
      s"batch=$storeRows stream=$twinRows")
    val funnel = curation.map(r => Seq(r.n_input, r.n_quality_kept, r.n_ppl_kept,
      r.n_tokens_out, r.n_shards))
    ctx.check("curation_funnel", funnel.contains(CurationFunnel),
      s"funnel=$funnel expected=$CurationFunnel")
    runner.dump()

    val trig = triggers.triggers.asScala.toSeq
    ctx.series("trigger_ms") = trig.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    ctx.layers ++= Seq(
      "rows_loaded" -> storeRows.toDouble,
      "daily_ms" -> opMs("daily"), "rerun_ms" -> opMs("rerun"),
      "stream_twin_ms" -> opMs("stream_twin"),
      "curation_ms" -> opMs("curation"),
      "curation_docs" -> curation.map(_.n_input.toDouble).getOrElse(0.0),
      "rerun_offered" -> offered.toDouble,
      "rerun_loaded" -> reloaded.map(_.size).sum.toDouble,
      "triggers" -> trig.size.toDouble,
      "empty_triggers" -> trig.count(_.rows == 0).toDouble,
      "trigger_rows_in" -> trig.map(_.rows).sum.toDouble,
      "state_bytes" -> trig.map(_.stateBytes).foldLeft(0L)(math.max).toDouble)
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach(k => ctx.layers(s"trigger_${k}_ms") = trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble)
    val stores = Seq("store", "stream_store", "curation")
    ctx.layers("delivered_bytes") = stores.map(s => Load.storeBytes(spark, s"$work/$s")).sum.toDouble
    ctx.layers("written_bytes") = Load.storeBytes(spark, work).toDouble
    ctx.layers("files_written") = countFiles(new java.io.File(work)).toDouble
  }

  private def countFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0)
    else if (f.getName.matches("part-.*\\.(parquet|csv|json)") ||
      f.getName.matches("fetch_jobs_.*\\.csv")) 1 else 0
}

object IngestWrite {
  /** seeded run dates per minute of run length, at least two: four at
    * 20 s, one cold load and three warm ones
    */
  val DatesPerMinute = 12
  /** store rows one run date loads at sf0.1, as measured at the seed
    * commit: every date loads the same raw postings
    */
  val RowsPerDate = 45045L
  /** One of the 18 micro-batch stream rows, run through `Q.run`: an
    * event-time window stream with state over `events`.
    */
  val StreamRows: Seq[String] = Seq("q57_events_hourly_stream")
  /** documents in, quality kept, perplexity kept, tokens out, shards */
  val CurationFunnel: Seq[Long] = Seq(5000L, 2893L, 2867L, 185564L, 93L)
}

/** The BI surface under a closed loop: four hive-jdbc connections, each
  * sending its next statement when the last reply is drained. Half the
  * statements are dashboard views (plans the codegen cache has seen), half
  * ad-hoc SQL with fresh seeded literals (plans it has not).
  */
final class DashboardServing(ctx: Ctx) extends Workload {
  import DashboardServing._
  private val spark = ctx.spark
  private var server: org.apache.hive.service.server.HiveServer2 = _
  private var port = 0
  private val direct = mutable.Map.empty[String, Digest]
  private val wire = new ConcurrentLinkedQueue[(String, Digest)]()
  private val conns = mutable.ArrayBuffer.empty[Connection]

  def setup(): Unit = {
    port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    server = SqlEndpoint.start(spark, ctx.args.sfDir, port)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    (0 until Clients).foreach(_ => conns += connect())
    val st = conns.head.createStatement()
    // pinned like a BI deployment pins its hot tables; otherwise every
    // job_* statement recomputes the extract→transform chain, which is
    // the ingest_write workload's subject
    try Seq("job_data", "job_skills").foreach(t => st.execute(s"CACHE TABLE global_temp.$t"))
    finally st.close()
    // every view and each ad-hoc shape once, so the measured statements
    // differ from what the engine has seen only in their literals; spread
    // over the clients, as the measured loop runs
    val warm = new Random(-1L)
    val warmUp = Views.map(viewSql) ++ (0 until Templates).map(adhoc(_, warm))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Clients)
    try conns.zipWithIndex.map { case (c, ci) =>
      pool.submit(() => {
        val s = c.createStatement()
        try warmUp.indices.filter(_ % Clients == ci).map(i => drainRs(s.executeQuery(warmUp(i))).size).sum
        finally s.close()
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  private def connect(): Connection = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var c: Connection = null
    while (c == null) {
      try c = DriverManager.getConnection(s"jdbc:hive2://localhost:$port/", "anonymous", "")
      catch {
        case e: Exception =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(200)
      }
    }
    c
  }

  def run(): Unit = {
    val perClient = StatementsPerSecond * ctx.args.seconds / Clients
    val threads = conns.zipWithIndex.map { case (c, ci) =>
      new Thread(() => client(c, ci, new Random(ctx.args.seed * 7919L + ci), perClient))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Alternates a dashboard view and an ad-hoc statement, cycling through
    * the views (in a seeded order) and the ad-hoc templates, so every run
    * sends the same mix of shapes; the seed sets order and literals.
    */
  private def client(c: Connection, ci: Int, rng: Random, statements: Int): Unit = {
    val st = c.createStatement()
    val views = rng.shuffle(Views)
    try (0 until statements).foreach { k =>
      val i = ci + k / 2
      val (kind, sql) =
        if (k % 2 == 0) "view" -> viewSql(views(i % views.size))
        else "adhoc" -> adhoc(i % Templates, rng)
      val id = ctx.rec.newOp()
      val t0 = Clock.nowMs()
      try {
        val rs = st.executeQuery(s"/* ${OpTag(id)} */ $sql")
        val t1 = Clock.nowMs()
        val rows = drainRs(rs)
        val t2 = Clock.nowMs()
        ctx.rec.span(id, "server", "execute", t0, t1)
        ctx.rec.span(id, "fetch", "fetch", t1, t2)
        wire.add(sql -> Digest.of(rows))
        ctx.rec.ops.add(Op(id, kind, sql, t0, t2, ok = true, null,
          Map("execute_ms" -> (t1 - t0), "fetch_ms" -> (t2 - t1), "rows" -> rows.size.toDouble)))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] statement failed: $sql: $e")
          ctx.rec.ops.add(Op(id, kind, sql, t0, Clock.nowMs(), ok = false, e.toString, Map.empty))
      }
    } finally st.close()
  }

  def verify(): Unit = {
    // direct results are computed only now, so the measured section met
    // every ad-hoc literal for the first time
    val distinct = wire.asScala.map(_._1).toSeq.distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try {
      val futures = distinct.map(sql => sql -> pool.submit(() =>
        Digest.of(spark.sql(sql).collect().toSeq.map(_.toSeq))))
      futures.foreach { case (sql, f) => direct(sql) = f.get() }
    } finally pool.shutdown()
    val bad = wire.asScala.filter { case (sql, d) => !direct.get(sql).contains(d) }
    bad.take(3).foreach { case (sql, d) =>
      System.err.println(s"[perfbench] wire != direct: $sql wire=$d direct=${direct.get(sql)}")
    }
    ctx.check("wire_eq_direct", bad.isEmpty,
      s"${wire.size} statements, ${bad.size} mismatched, ${direct.size} distinct")
    ctx.layers("wire_mismatched") = bad.size.toDouble
  }

  override def close(): Unit = {
    conns.foreach(c => try c.close() catch { case _: Exception => })
    if (server != null) server.stop()
  }
}

object DashboardServing {
  val Clients = 4
  /** statements per second of run length, split evenly over the clients */
  val StatementsPerSecond = 3

  /** Dashboard pages in the mix: eight of the q01–q27 views, one per
    * shape (distinct counts, shares, a daily series, argmax, semi-join,
    * regex filter, pivot, rollup), plus the job_summary KPI view.
    */
  val Views: Seq[String] = Seq(
    "q03_customer_distincts", "q05_priority_share", "q07_daily_by_status",
    "q12_argmax_per_group", "q13_semi_join", "q18_rlike_filter",
    "q21_pivot_status", "q25_rollup", "job_summary")

  def viewSql(v: String): String = s"SELECT * FROM global_temp.$v"

  /** Parameterized ad-hoc SQL over job_data / job_skills / lineitem with
    * seeded numeric, string and timestamp literals.
    */
  val Templates = 5

  def adhoc(template: Int, r: Random): String = template match {
    case 0 =>
      s"SELECT job_type, count(*) AS n, round(avg(salary), 2) AS avg_salary " +
        s"FROM global_temp.job_data WHERE salary >= ${20000 + r.nextInt(70000)} " +
        "GROUP BY job_type"
    case 1 =>
      val t = if (r.nextBoolean()) "Full-Time" else "Contract"
      s"SELECT skill, count(*) AS n FROM global_temp.job_skills WHERE job_type = '$t' " +
        s"GROUP BY skill ORDER BY n DESC, skill LIMIT ${3 + r.nextInt(18)}"
    case 2 =>
      val d = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400))
      "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev " +
        s"FROM global_temp.lineitem WHERE l_shipdate < TIMESTAMP '$d 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus"
    case 3 =>
      val lo = 1 + r.nextInt(40)
      s"SELECT count(*) AS n, round(sum(l_quantity), 1) AS qty FROM global_temp.lineitem " +
        s"WHERE l_quantity BETWEEN $lo AND ${lo + 1 + r.nextInt(20)} " +
        s"AND l_discount <= 0.0${r.nextInt(10)}"
    case _ =>
      f"SELECT city, count(*) AS n, max(salary) AS top FROM global_temp.job_data " +
        f"WHERE job_posted_date >= TIMESTAMP '2025-10-21 ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00' " +
        s"AND salary < ${30000 + r.nextInt(60000)} GROUP BY city ORDER BY n DESC, city LIMIT 10"
  }

  def drainRs(rs: ResultSet): Seq[Seq[Any]] = {
    val n = rs.getMetaData.getColumnCount
    val out = mutable.ArrayBuffer.empty[Seq[Any]]
    try while (rs.next()) out += (1 to n).map(rs.getObject)
    finally rs.close()
    out.toSeq
  }
}

/** Order-insensitive digest of a result: row count plus a hash of the
  * sorted canonical rows. Wire values (hive-jdbc) and direct values
  * (Spark rows) canonicalize to the same strings.
  */
final case class Digest(rows: Int, hash: String)

object Digest {
  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toDouble.toString
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      n.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  def of(rows: Seq[Seq[Any]]): Digest = {
    val canon = rows.map(_.map(cell).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    canon.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    Digest(rows.size, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}
