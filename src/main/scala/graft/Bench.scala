package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized via collect()
  * (not count(), which would let Catalyst prune the computed columns).
  *
  * Besides wall time, every row records two box-state-immune work
  * metrics (round-14 verdict #4 — two consecutive rounds burned effort
  * adjudicating ±20% wall drift that was box load, not plan cost):
  *   - cpu_s: listener-summed executor CPU time (run + deserialize)
  *   - shuffle_bytes: shuffle read + write bytes
  * A wall regression with flat cpu_s/shuffle_bytes is box drift; one
  * where they move too is a real plan change. tools/benchcmp.py
  * classifies flagged regressions using exactly this split.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-bench")
    // warm the JVM/codegen paths once so per-query numbers reflect the
    // engine, not first-call classloading
    SparkEntry.queries.get("q01_orders_kpis")
      .foreach(fn => fn(spark, sfDir).collect())
    // ... and the Structured Streaming machinery, which alphabetical
    // order would otherwise bill entirely to q101 (the first stream)
    locally {
      import org.apache.spark.sql.functions.col
      val warmDir = org.apache.spark.sql.graftbridge.TempDirBridge
        .createTempDir(System.getProperty("java.io.tmpdir"),
          "bench_warm_stream").toString
      spark.range(2).select(col("id")).coalesce(1)
        .write.parquet(s"$warmDir/in")
      val q = spark.readStream
        .schema(spark.read.parquet(s"$warmDir/in").schema)
        .parquet(s"$warmDir/in")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(s"$warmDir/out"); ()
        }
        .option("checkpointLocation", s"$warmDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // SPARK_GRAFT_ONLY=q70,...: time a subset (iteration loops; the
    // driver's per-round run leaves it unset and times everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // A failed query must NOT land as a (fast) timing row — round 6's
    // BENCH had three analysis-exception latencies masquerading as
    // sub-100ms successes, poisoning round-over-round comparison. Omit
    // the row and report the failure on stderr + in a "failed" field.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    // drain the async listener bus so the snapshot below owns every
    // task-end already produced; tolerate a slow bus rather than abort
    def drain(): Unit =
      if (!WorkListener.drain(spark.sparkContext))
        System.err.println("[bench] listener bus drain timed out (30s); " +
          "work metrics for the adjacent rows may bleed")
    val workRows = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Long, Long)] // name -> (cpu_s, shuffle, spill)
    // Both listener-bus drains sit OUTSIDE the wall-time window (round-15
    // ADVICE): the wall metric must cover only the query body, not up to
    // 30s of bus-drain wait, or a slow bus inflates the very number the
    // cpu_s/shuffle_bytes split exists to de-noise.
    def timed[A](name: String)(body: => A): (A, Double) = {
      drain()
      val cpu0 = work.cpuNs.get(); val shf0 = work.shuffleBytes.get()
      val spl0 = work.spillBytes.get()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      workRows(name) =
        ((work.cpuNs.get() - cpu0) / 1e9, work.shuffleBytes.get() - shf0,
          work.spillBytes.get() - spl0)
      (r, wall)
    }
    val results = picked.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val (_, wall) = timed(name) { fn(spark, sfDir).collect() }
        Some(name -> wall)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name: $e")
        failed += name
        workRows.remove(name)
        None
      } finally {
        val heavy = (System.nanoTime() - t0) > 30L * 1000 * 1000 * 1000
        // Per-query isolation (same fix as Verify): localCheckpoint
        // blocks pin storage for the whole session, so a big rung's
        // earlier queries would otherwise shrink the execution pool the
        // later ones aggregate in (q130 hit AGGREGATE_OUT_OF_MEMORY at
        // sf10 behind 12 queries' accumulated blocks). Queries share no
        // cached state by design, so this frees memory without
        // distorting any timing.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(
          _.unpersist(blocking = false))
        // shuffle files are reclaimed by the ContextCleaner only after
        // their dependencies are GC'd; nudge the collector after HEAVY
        // queries (>30 s — the scale-rung rows whose shuffles occupy
        // tens of GB of disk through their successor). Unconditional
        // GC here cost the 165-query sf0.1 tree ~70 s of full-GC pauses
        // for shuffle data measured in MBs.
        if (heavy) System.gc()
      }
    }
    // The composed end-to-end curation pipeline as its own bench row
    // (round-4 advice: operators evolve — the funnel's wall-time must
    // stay honest with them). Skipped under SPARK_GRAFT_ONLY unless
    // asked for by name.
    val curation =
      if (only.forall(_.contains("curation"))) {
        val out = org.apache.spark.sql.graftbridge.TempDirBridge
          .createTempDir(System.getProperty("java.io.tmpdir"),
            "bench_curation").toString
        try {
          val (r, wall) = timed("curation") {
            graft.pipeline.CurationJob.run(spark, sfDir, out) }
          System.err.println(s"[bench] curation funnel: input=${r.n_input} " +
            s"quality_kept=${r.n_quality_kept} ppl_kept=${r.n_ppl_kept} " +
            s"tokens=${r.n_tokens_out} shards=${r.n_shards}")
          Seq("curation" -> wall)
        } catch { case e: Throwable =>
          // same policy as the per-query rows (round-6 lesson): a failed
          // run must NOT land as a timing row masquerading as fast
          System.err.println(s"[bench] curation: $e")
          failed += "curation"
          workRows.remove("curation")
          Seq.empty
        }
      } else Seq.empty
    val qs = (results ++ curation).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = (results ++ curation).map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // parallel maps, not per-row objects: the driver parses
    // "queries" as name->seconds, so the shape must stay stable
    val cpuJson = workRows.map { case (k, (c, _, _)) =>
      "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(c))
    }.mkString("{", ",", "}")
    val shfJson = workRows.map { case (k, (_, s, _)) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val splJson = workRows.map { case (k, (_, _, p)) => "\"" + k + "\":" + p }
      .mkString("{", ",", "}")
    val totalCpu = workRows.valuesIterator.map(_._1).sum
    val totalShf = workRows.valuesIterator.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpu_s":$cpuJson,"shuffle_bytes":$shfJson,"spill_bytes":$splJson,"total_cpu_s":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(totalCpu))},"total_shuffle_bytes":$totalShf,"failed":$failedJson,"sf":"$sfDir"}"""
    // Round-7 driver run recorded "parsed": null — the JSON line landed
    // interleaved with sbt/log4j noise. Two fixes: (1) persist the result
    // to a file so the authoritative copy never depends on stdout at all;
    // (2) print the JSON only AFTER spark.stop(), when no executor/log4j
    // thread can write mid-line, as the process's final bare stdout line.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Round-9 run STILL recorded "parsed": null — the full per-query map
    // is ~5.5 KB and the driver's captured stdout tail truncates mid-line.
    // The authoritative per-query map lives in bench_out.json (above);
    // stdout gets a compact line (headline queries only, <600 bytes) that
    // always fits the tail while keeping the driver's expected shape.
    val headline = Set("q01_orders_kpis", "q55_jobs_pipeline",
      "q70_docs_minhash_portable", "q86_ivf_seeded_ann",
      "q106_semantic_dedup", "q130_pagerank",
      "q140_pairs_auto_routed", "q155_dedup_yield", "curation")
    val qsHead = (results ++ curation)
      .filter { case (k, _) => headline.contains(k) }
      // explicit ROOT locale: the f-interpolator uses the JVM default,
      // which under a comma-decimal locale would emit 1,234 — invalid JSON
      .map { case (k, v) =>
        "\"" + k + "\":" +
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsHead,"n":${results.size + curation.size},"total_cpu_s":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(totalCpu))},"total_shuffle_bytes":$totalShf,"failed":$failedJson,"sf":"$sfDir","detail":"$outFile"}"""
    spark.stop()
    System.out.flush()
    println(summary)
    System.out.flush()
  }
}
