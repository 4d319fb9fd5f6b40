package graft

import graft.queries.Registry
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics (E6): the streaming hourly aggregation must agree
  * with its batch twin on a replayed fixture, and the stateful session
  * operator must agree with the window-based batch sessionization (q47).
  */
class StreamingSpec extends SparkSpec {

  test("streaming hourly windows match the batch aggregation") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val streamed = EventStreams.runToMemory(
      spark, EventStreams.hourlyCounts(stream), "t_hourly", OutputMode.Update())
      .select(col("h"), col("event_type"), col("n"), col("sum_v"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))

    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))

    assert(streamed.length == batch.length)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("stream-static dimension join is stateless and matches the batch star join") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val agg = EventStreams.segmentCounts(stream, dim)
    val streamed = EventStreams.runToMemory(spark, agg, "t_segments", OutputMode.Update())
      .select(col("h"), col("c_mktsegment"), col("n"), col("sum_v"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))

    val batch = Tables.events(spark, sfDir)
      .join(dim, Seq("user_id"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))

    assert(streamed.nonEmpty)
    assert(streamed.length == batch.length)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })

    // the static side must come in as a broadcast: no shuffle of the
    // stream, no stream-stream join state operator in the plan
    val plan = agg.queryExecution.analyzed.toString
    assert(plan.contains("ResolvedHint") || plan.toLowerCase.contains("broadcast"))
  }

  test("stateful session counts match the batch window sessionization") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val streamed = EventStreams.runToMemory(
      spark, EventStreams.sessionCounts(spark, stream), "t_sessions",
      OutputMode.Update())
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .sortBy(_._1)

    val batch = Registry.byName("q47_events_sessions").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case ((u1, s1), (u2, s2)) =>
      assert(u1 == u2 && s1 == s2, s"user $u1: stream=$s1 batch=$s2")
    }
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    // duplicate the stream by unioning the same source twice
    val s1 = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val s2 = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val deduped = EventStreams.dedupStream(s1.unionByName(s2))
    val out = EventStreams.runToMemory(spark, deduped, "t_dedup",
      OutputMode.Append())
    val nEvents = Tables.events(spark, sfDir).count()
    assert(out.count() == nEvents)
    assert(out.select("event_id").distinct().count() == nEvents)
  }

  test("a row later than the watermark is dropped from its closed window") {
    // Batch 0 (f1) advances event time to 14:00 => watermark 12:00;
    // batch 1 (f2) runs under that watermark, which finalizes and emits
    // window [10,11); batch 2 (f3) replays a LATE 10:45 row against the
    // now-evicted window — it must vanish: no spurious append row, count
    // stays 2. (Emission and late arrival must be separate batches:
    // state eviction happens at end-of-batch, and a late row landing in
    // the SAME batch as the eviction still merges — Spark's drop
    // guarantee starts once the state is gone.)
    import spark.implicits._
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) =>
        (id, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0,
         null.asInstanceOf[String]) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    mk(Seq((1L, "2025-10-21 10:00:00"), (2L, "2025-10-21 10:30:00"),
           (3L, "2025-10-21 14:00:00")))
      .coalesce(1).write.parquet(s"$dir/f1")
    mk(Seq((5L, "2025-10-21 14:10:00"))) // advances the stream, closes [10,11)
      .coalesce(1).write.parquet(s"$dir/f2")
    mk(Seq((4L, "2025-10-21 10:45:00"))) // late beyond watermark
      .coalesce(1).write.parquet(s"$dir/f3")
    // file source orders by modification time: force f1 < f2 < f3
    new java.io.File(s"$dir/f1").listFiles().foreach(_.setLastModified(1000000L))
    new java.io.File(s"$dir/f2").listFiles().foreach(_.setLastModified(2000000L))

    val stream = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
    val closed = EventStreams.runToMemory(
      spark, EventStreams.hourlyCounts(stream), "t_late", OutputMode.Append())
      .select(date_format(col("h"), "HH:mm").as("h"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    // Append mode emits only watermark-closed windows: [10,11) WITHOUT
    // the late row, exactly once; [14,15) never closes so never emits.
    assert(closed == Map("10:00" -> 2L), s"got $closed")

    // non-vacuous: the batch twin over the same five rows counts 3
    val batch = mk(Seq((1L, "2025-10-21 10:00:00"), (2L, "2025-10-21 10:30:00"),
                       (3L, "2025-10-21 14:00:00"), (5L, "2025-10-21 14:10:00"),
                       (4L, "2025-10-21 10:45:00")))
      .groupBy(window(col("ts"), "1 hour")).count()
      .where(date_format(col("window.start"), "HH:mm") === "10:00")
      .collect()(0).getLong(1)
    assert(batch == 3L)
  }

  test("custom SQL functions registered for the SQL entry point") {
    val r = spark.sql(
      "SELECT title_case('ai/ml engineer') AS t, " +
      "dot_product(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d, " +
      "squared_norm(array(3D, 4D)) AS n").collect()(0)
    assert(r.getString(0) == "Ai/Ml Engineer")
    assert(r.getDouble(1) == 32.0)
    assert(r.getDouble(2) == 25.0)

    // round-3 kernels and the KMV aggregate are SQL-reachable too
    val r2 = spark.sql(
      "SELECT size(shingle_packs('a b c d')) AS n_sh, " +
      "size(minhash_sig(shingle_packs('a b c d'))) AS n_sig").collect()(0)
    assert(r2.getInt(0) == 2)  // "a b c", "b c d"
    assert(r2.getInt(1) == 32)
    val r3 = spark.sql(
      "SELECT kmv_mins(h, 4) AS mins FROM " +
      "(SELECT CAST(id % 1000 AS BIGINT) AS h FROM range(10000))").collect()(0)
    assert(r3.getSeq[Long](0) == Seq(0L, 1L, 2L, 3L))
    // gram_packs shares shingle_packs' identity contract: the single
    // 3-gram of a 3-token doc packs identically in both kernels
    val r4 = spark.sql(
      "SELECT size(gram_packs('a b c d e', 2)) AS n, " +
      "gram_packs('a b c', 3)[0] = shingle_packs('a b c')[0] AS same").collect()(0)
    assert(r4.getInt(0) == 4)
    assert(r4.getBoolean(1))
  }

  test("checkpointed foreachBatch ingestion is exactly-once across restarts") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (srcDir, outDir, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    new java.io.File(srcDir).mkdirs()

    def copyBatch(n: Int): Unit =
      Tables.events(spark, sfDir).where(col("event_id") % 3 === n)
        .write.parquet(s"$srcDir/batch_$n")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(Tables.events(spark, sfDir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/batch_*")
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    copyBatch(0)
    runOnce()                      // first run ingests batch 0
    val afterFirst = spark.read.parquet(outDir).count()
    copyBatch(1)
    runOnce()                      // restart: must pick up ONLY batch 1
    val all = spark.read.parquet(outDir)
    val expected = Tables.events(spark, sfDir)
      .where(col("event_id") % 3 < 2).count()
    assert(all.count() == expected, s"afterFirst=$afterFirst")
    assert(all.select("event_id").distinct().count() == expected) // no dup ingest
  }

  test("stream-stream interval join matches the batch join") {
    val s1 = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val s2 = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val streamed = EventStreams.runToMemory(
      spark, EventStreams.viewToPurchaseJoin(s1, s2), "t_ssjoin",
      OutputMode.Append())
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = Tables.events(spark, sfDir)
    val batch = ev.where(col("event_type") === "purchase").as("p")
      .join(ev.where(col("event_type") === "view").as("v"),
            col("p.user_id") === col("v.user_id") &&
              col("v.ts") <= col("p.ts") &&
              col("v.ts") >= col("p.ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p.event_id"), col("v.event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("sliding windows produce overlapping coverage") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val out = EventStreams.runToMemory(
      spark, EventStreams.slidingCounts(stream), "t_sliding", OutputMode.Update())
    // each event lands in 4 sliding windows (1h window / 15m slide)
    val slidingTotal = out.agg(sum("n")).collect()(0).getLong(0)
    val nEvents = Tables.events(spark, sfDir).count()
    assert(slidingTotal == nEvents * 4)
  }

  test("KMV sketch as streaming window state: exact below k, bracketed above") {
    import org.apache.spark.sql.streaming.OutputMode
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val q = EventStreams.hourlyDistinctUsers(stream).writeStream
      .outputMode(OutputMode.Update()).format("memory")
      .queryName("t_kmv_users").start()
    try q.processAllAvailable() finally q.stop()
    // the aggregate genuinely ran as stateful streaming
    assert(q.lastProgress != null && q.lastProgress.stateOperators.nonEmpty)
    val truth = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(countDistinct(col("user_id")).as("du"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val rows = spark.table("t_kmv_users").collect()
    assert(rows.nonEmpty && rows.length == truth.size)
    var saturated = 0
    rows.foreach { r =>
      val du = truth(r.getTimestamp(0))
      val nMin = r.getLong(1); val est = r.getDouble(3)
      if (nMin < 8) {
        // below saturation the sketch IS the distinct set: exact
        assert(nMin == du && est == du.toDouble, s"h=${r.getTimestamp(0)}")
      } else {
        saturated += 1
        // k=8 gives ~35% standard error; 3x is a loose deterministic
        // bracket the fixture sits inside
        assert(est > du / 3.0 && est < du * 3.0, s"est=$est du=$du")
      }
    }
    // sf0.001 hours hold < 8 users, so every window is exact here; the
    // saturated (genuinely-estimating) branch is exercised by the
    // sf0.01 oracle gate, where busy hours reach 28 distinct users
    assert((saturated > 0) == truth.values.exists(_ >= 8),
      s"saturated=$saturated max_truth=${truth.values.max}")
  }

  test("incremental MinHash-LSH dedup: boundary invariance, pruned-probe parity, planted dups caught") {
    val docs = Tables.documents(spark, sfDir)
    // expected verdicts derived from the registered batch pair set:
    // doc kept iff it is nobody's doc_b at jac >= 0.8
    val pairs = Registry.byName("q70_docs_minhash_portable")
      .run(spark, sfDir).select(col("doc_a"), col("doc_b")).collect()
    val dupCounts = pairs.groupBy(_.getLong(1)).view.mapValues(_.size).toMap
    assert(dupCounts.nonEmpty, "fixture has no planted near-dups")
    val expected = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      .map(id => (id, dupCounts.getOrElse(id, 0).toLong,
        if (dupCounts.contains(id)) 0 else 1))

    def verdicts(nSplits: Int, prune: Long): Seq[(Long, Long, Int)] =
      graft.streaming.MinHashDedupStream
        .runOn(spark, docs, nSplits, pruneThresholdBytes = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

    // 4 splits exercises cross-batch store state at 3 boundaries; the
    // result must not depend on where the batch cuts fall
    val fourSplit = verdicts(4, Long.MaxValue)
    assert(fourSplit == expected.toSeq)
    // threshold 0 forces the bucket-pruned probe path on every batch:
    // partition-pruned store reads must yield the identical answer
    val pruned = verdicts(3, 0L)
    assert(pruned == expected.toSeq)
  }

  test("q134 incremental CC stream equals batch CC over the q70 pair set") {
    val docs = Tables.documents(spark, sfDir)
    // batch ground truth: large-star/small-star CC over the full
    // registered pair set, computed in one shot
    val edges = Registry.byName("q70_docs_minhash_portable")
      .run(spark, sfDir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val batchLabels = graft.ops.ConnectedComponents.clusters(edges)
      .select(col("node").cast("long"), col("cluster_rep").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(batchLabels.nonEmpty, "fixture has no near-dup clusters")

    def streamed(nSplits: Int): Seq[(Long, Long)] =
      graft.streaming.MinHashDedupStream.runClustersOn(
        spark, "q134_incremental_cc_stream", docs, nSplits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // 3 splits: pairs spanning batch boundaries must fold into the same
    // components as the one-shot run — the incremental-fold handoff
    // (prev snapshot re-read as edges) is what this certifies
    assert(streamed(3) == batchLabels)
    // and the fold is split-count invariant
    assert(streamed(2) == batchLabels)
  }

  test("q158 streaming dedup yield equals the batch q155 histogram") {
    val batch = Registry.byName("q155_dedup_yield").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the registered stream entry (2 splits) must reproduce the batch
    // histogram exactly — the snapshot-fold handoff carried through to
    // the economics report
    val stream2 = Registry.byName("q158_yield_stream").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stream2 == batch)
    // and the fold is split-count invariant
    val dd = Tables.documents(spark, sfDir)
    val labels3 = graft.streaming.MinHashDedupStream
      .runClustersOn(spark, "q158_yield_stream", dd, nSplits = 3)
    val stream3 = graft.queries.TextOps.yieldHistogram(
      graft.queries.TextOps.docTokens(dd), labels3)
      .collect().map(_.toSeq).toSeq
    assert(stream3 == batch)
  }

  test("q138 streaming NB training equals the batch q137 confusion row for row") {
    // the model rebuilds from per-batch partial token/doc counts folded
    // at read time; equality with the batch classifier proves the
    // additive-statistics handoff end to end (training split, smoothing
    // denominators, priors, argmin tie-breaks)
    val batch = Registry.byName("q137_nb_classifier").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    def streamed(nSplits: Int): Seq[Seq[Any]] =
      graft.streaming.NbClassifierStream
        .runOn(spark, Tables.documents(spark, sfDir), nSplits)
        .collect().map(_.toSeq).toSeq
    assert(streamed(3) == batch && batch.nonEmpty)
    assert(streamed(2) == batch)
  }

  test("q142 streaming DSIR training equals the batch q141 selection row for row") {
    // both models are additive bucket counts and the totals derive from
    // the counts, so the per-batch partial fold must rebuild the exact
    // batch λ table; equality with q141 proves the count handoff, the
    // totals derivation, and the threshold election end to end
    val batch = Registry.byName("q141_dsir_select").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    def streamed(nSplits: Int): Seq[Seq[Any]] =
      graft.streaming.DsirStream
        .runOn(spark, Tables.documents(spark, sfDir), nSplits,
          dim = 256, k = 50)
        .collect().map(_.toSeq).toSeq
    assert(streamed(3) == batch && batch.nonEmpty)
    assert(streamed(2) == batch)
  }

  test("q146 streaming mixture sampling equals the batch q144 row for row") {
    // the apportionment's only corpus statistic is the per-language
    // count — purely additive — so the folded per-batch partials must
    // rebuild the exact batch counts; equality with q144 proves the
    // count handoff, the isqrt/largest-remainder arithmetic, and the
    // smallest-hash election over the arrived corpus end to end
    val batch = Registry.byName("q144_temperature_mix").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    def streamed(nSplits: Int): Seq[Seq[Any]] =
      graft.streaming.MixtureStream
        .runOn(spark, Tables.documents(spark, sfDir), nSplits)
        .collect().map(_.toSeq).toSeq
    assert(streamed(3) == batch && batch.nonEmpty)
    assert(streamed(2) == batch)
  }
}
