package graft

import graft.queries.{PackIn, Registry, TrainingOps}
import org.apache.spark.sql.functions._

/** Targeted evidence for the §2.14 training-data operators beyond the
  * DuckDB oracle rows: greedy-packing invariants and partition
  * invariance (q87), seeded-IVF candidate containment + measured recall
  * (q86), BM25 idf dominance (q88), repetition-flag consistency (q89),
  * anonymization properties (q90), split determinism and balance (q91),
  * and chunk-coverage reconstruction (q92).
  */
class TrainingOpsSpec extends SparkSpec {
  import queries.{PackOut}

  // ---- q87 sequence packing ----------------------------------------------

  test("q87: packGreedy respects capacity, bins are contiguous and tight") {
    val cap = 128L
    val rows = Registry.byName("q87_seq_pack").run(spark, sfDir)
      .collect()
      .map(r => PackOut(r.getLong(0), r.getString(1), r.getLong(2),
                        r.getLong(3), r.getLong(4)))
    assert(rows.length == 500)
    rows.groupBy(_.lang).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_.doc_id)
      // bins start at 0, advance by at most 1, and fills stay in cap
      // (an oversized doc may exceed cap only when alone in its bin)
      var bin = 0L; var fill = 0L
      sorted.foreach { r =>
        assert(r.seq_id == bin || r.seq_id == bin + 1)
        if (r.seq_id == bin + 1) {
          // greedy tightness: the doc genuinely did not fit
          assert(fill + r.n_tok > cap)
          bin += 1; fill = r.n_tok
        } else fill += r.n_tok
        assert(r.seq_fill == fill)
        assert(fill <= cap || r.seq_fill == r.n_tok)
      }
    }
  }

  test("q87: packing is invariant to input partitioning") {
    val cap = 64L
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
    import spark.implicits._
    def pack(parts: Int) =
      base.repartition(parts, col("lang"))
        .sortWithinPartitions(col("lang"), col("doc_id"))
        .as[PackIn]
        .mapPartitions(it => TrainingOps.packGreedy(cap, it))
        .collect().sortBy(r => (r.lang, r.doc_id)).toSeq
    assert(pack(1) == pack(7))
  }

  // ---- q86 seeded IVF ANN ------------------------------------------------

  test("q86: one bucket per query; approximation bounded by exact rank <= 30") {
    val ivf = Registry.byName("q86_ivf_seeded_ann").run(spark, sfDir).collect()
    assert(ivf.length == 30) // 10 queries x top-3
    // one bucket per query (nprobe=1)
    ivf.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("bucket")).distinct.length == 1)
    }
    // exact ranking of all 499 candidates per query (q40's brute-force
    // shape). 8 untrained seeds give modest recall@3 (q42's trained
    // quantizer owns the >=80% floor); the bound a BROKEN bucket join
    // would violate is rank containment: every returned neighbor sits
    // in the exact top 30 of 499 (94th percentile), mean rank <= 15.
    import graft.functions.VectorFunctions.{dotProduct, squaredNorm}
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", squaredNorm(col("v")))
    val q = e.where(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val rank = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos_r",
        round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ranks = ivf.map(r =>
      rank((r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))))
    assert(ranks.max <= 30, s"worst exact rank ${ranks.max}")
    assert(ranks.sum.toDouble / ranks.length <= 15.0,
      s"mean exact rank ${ranks.sum.toDouble / ranks.length}")
  }

  // ---- q88 BM25 ----------------------------------------------------------

  test("q88: rare-term docs outrank common-term-only docs (idf dominance)") {
    val rows = Registry.byName("q88_bm25_rank").run(spark, sfDir).collect()
    assert(rows.length == 15)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.forall(_ > 0))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), "descending scores")
    // every doc in the top 15 matched the rare term: with df(dup)=25 of
    // 500 docs its ladder idf is 5 vs 1 for 'spark', so a single 'dup'
    // occurrence (>= 5 * 2.2*1/(1+...) ~ 3.9) beats any spark-only doc
    // (score < 1 * 2.2 capped). Verify against the raw text.
    val dupDocs = Tables.documents(spark, sfDir)
      .where(col("text").rlike("(^| )dup( |$)"))
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val top = rows.map(_.getAs[Long]("doc_id"))
    assert(top.forall(dupDocs.contains), "top-15 all contain the rare term")
  }

  // ---- q89 duplicate n-grams ---------------------------------------------

  test("q89: flags recompute from fractions and both outcomes occur") {
    val rows = Registry.byName("q89_dup_ngrams").run(spark, sfDir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val dupFrac = r.getAs[Double]("dup_frac")
      val topFrac = r.getAs[Double]("top_frac")
      assert(r.getAs[Long]("rep2_ok") == (if (dupFrac <= 0.10) 1L else 0L))
      assert(r.getAs[Long]("top2_ok") == (if (topFrac <= 0.08) 1L else 0L))
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_grams"))
      assert(r.getAs[Long]("top_n") >= 1L)
    }
    assert(rows.map(_.getAs[Long]("rep2_ok")).distinct.length == 2)
    assert(rows.map(_.getAs[Long]("top2_ok")).distinct.length == 2)
  }

  // ---- q90 PII anonymization ---------------------------------------------

  test("q90: pseudonyms are unique, raw names absent, suppression matches k") {
    val rows = Registry.byName("q90_pii_kanon").run(spark, sfDir).collect()
    val n = Tables.customer(spark, sfDir).count()
    assert(rows.length == n)
    val pseudos = rows.map(_.getAs[String]("pseudo"))
    assert(pseudos.distinct.length == pseudos.length, "collision-free on fixture")
    assert(pseudos.forall(p => p.startsWith("c-") && !p.contains("Customer")))
    // group sizes are consistent: every member of a class reports the
    // same grp_n, classes partition the table, suppress == (grp_n < 20)
    val byClass = rows.groupBy(r =>
      (r.getAs[String]("c_mktsegment"), r.getAs[Long]("bal_bucket")))
    assert(byClass.values.map(_.length).sum == n)
    byClass.values.foreach { cls =>
      val ns = cls.map(_.getAs[Long]("grp_n")).distinct
      assert(ns.toSeq == Seq(cls.length.toLong))
      cls.foreach(r => assert(
        r.getAs[Long]("suppress") == (if (cls.length < 20) 1L else 0L)))
    }
  }

  // ---- q91 split assignment ----------------------------------------------

  test("q91: split is deterministic, partitions the corpus, roughly 80/10/10") {
    val a = Registry.byName("q91_split_assign").run(spark, sfDir).collect()
    val b = Registry.byName("q91_split_assign").run(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "replay-deterministic")
    val total = a.map(_.getAs[Long]("n")).sum
    assert(total == 500)
    val trainPct = a.filter(_.getAs[String]("split") == "train")
      .map(_.getAs[Long]("n")).sum * 100.0 / total
    assert(trainPct > 70 && trainPct < 90, s"train share $trainPct")
    // per-lang percentages sum to ~100
    a.groupBy(_.getAs[String]("lang")).values.foreach { g =>
      val s = g.map(_.getAs[Double]("pct")).sum
      assert(math.abs(s - 100.0) < 0.1, s"pct sum $s")
    }
  }

  // ---- q92 chunk windows -------------------------------------------------

  test("q92: windows tile every doc with stride 24 and hash-match the text") {
    import graft.functions.PolyHash.polyHash
    val chunks = Registry.byName("q92_chunk_windows").run(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    // chunk-count formula and coverage: last window reaches the end,
    // every window start is < n_tok, consecutive windows overlap by 8
    val perDoc = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), max(col("chunk_ix")).as("last_ix"),
           sum(col("n_ctoks")).as("sum_toks"))
      .join(docs, "doc_id").collect()
    perDoc.foreach { r =>
      val n = r.getAs[Int]("n_tok").toLong
      val nw = 1L + math.ceil(math.max(n - 32, 0) / 24.0).toLong
      assert(r.getAs[Long]("nw") == nw)
      assert(r.getAs[Long]("last_ix") == nw - 1)
      // full coverage: starts at 0,24,..., last window ends at n
      val lastStart = (nw - 1) * 24
      assert(lastStart < n && lastStart + 32 >= n)
    }
    // content check: the first chunk of each doc is the polyhash of its
    // first 32 tokens
    val firstExpected = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"),
        polyHash(concat_ws(" ",
          slice(split(col("text"), " "), 1, 32))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chunks.where(col("chunk_ix") === 0)
      .select(col("doc_id").cast("long"), col("chunk_hash"))
      .collect()
      .foreach(r => assert(firstExpected(r.getLong(0)) == r.getLong(1)))
  }

  // ---- q93 source mixing -------------------------------------------------

  test("q93: smallest source kept whole, others downsampled toward it") {
    val rows = Registry.byName("q93_source_mix").run(spark, sfDir).collect()
    val nSources = Tables.documents(spark, sfDir)
      .select(col("source")).distinct().count()
    assert(rows.length == nSources)
    val target = rows.map(_.getAs[Long]("target_n")).distinct
    assert(target.length == 1)
    val minSource = rows.map(_.getAs[Long]("n_source")).min
    assert(target.head == minSource)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_source")
      val kept = r.getAs[Long]("n_kept")
      assert(kept <= n)
      // rate=1 sources are kept whole; others can't keep more than source
      if (n == minSource) assert(kept == n, s"smallest source kept $kept/$n")
      assert(r.getAs[Double]("rate") <= 1.0 && r.getAs[Double]("rate") > 0.0)
    }
    // the mix is pulled toward uniform: every source's kept count is
    // within hash noise of the target (binomial sd ~ sqrt(target))
    val tol = 4 * math.sqrt(target.head.toDouble) // ~4 sigma
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("n_kept") - target.head) <= tol,
        s"${r.getAs[String]("source")}: ${r.getAs[Long]("n_kept")} vs ${target.head}")
    }
  }

  // ---- q94 seeded PQ -----------------------------------------------------

  test("q94: ADC ranking is deterministic and far better than random") {
    val out = Registry.byName("q94_pq_seeded_ann").run(spark, sfDir).collect()
    assert(out.length == 30) // 10 queries x top-3
    out.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val adcs = rows.map(_.getAs[Double]("adc"))
      assert(adcs.sorted.sameElements(adcs), "ascending ADC per query")
      assert(adcs.forall(_ >= 0.0))
    }
    // exact L2 rank of each returned neighbor: 16 untrained seed
    // codewords quantize coarsely (q73's trained PQ owns the recall
    // floor), but a BROKEN ADC join would rank randomly (expected mean
    // rank ~250 of 499). Seeded-PQ measures ~127; assert well below
    // random.
    import org.apache.spark.sql.expressions.Window
    def sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.where(col("vec_id") >= 16 && col("vec_id") < 26)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val rank = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("d", round(sq(col("v"), col("qv")), 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))))
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ranks = out.map(r => rank((r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))))
    val mean = ranks.sum.toDouble / ranks.length
    assert(mean <= 180.0, s"mean exact rank $mean (random ~250)")
  }

  test("q94 mechanism: every seed vector encodes to its own codeword") {
    // reconstruct the per-subspace assignment exactly as q94 does and
    // check the identity property d(seed, itself)=0 forces code==c_id
    def sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x), 4)
    import org.apache.spark.sql.expressions.Window
    val sub = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), explode(sequence(lit(0L), lit(3L))).as("j"), col("v"))
      .withColumn("sv", slice(col("v"), (col("j") * 16 + 1).cast("int"), lit(16)))
      .select(col("vec_id"), col("j"), col("sv"))
    val cw = sub.where(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("j").as("cj"), col("sv").as("cv"))
    val codes = sub.where(col("vec_id") < 16)
      .join(broadcast(cw), col("j") === col("cj"))
      .withColumn("d2", sq(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("j"))
          .orderBy(col("d2"), col("c_id"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("c_id").as("code"))
      .collect()
    assert(codes.length == 16 * 4)
    codes.foreach(r =>
      assert(r.getAs[Long]("code") == r.getAs[Long]("vec_id"),
        s"seed ${r.getAs[Long]("vec_id")} subspace ${r.getAs[Long]("j")}"))
  }

  // ---- q95 streaming quality gate ----------------------------------------

  test("q95: streaming gate is stateless and equals the batch twin") {
    import graft.streaming.EventStreams
    val path = s"$sfDir/documents.parquet"
    val stream = EventStreams.readParquetStream(
      spark, path, spark.read.parquet(path).schema)
    val q = TrainingOps.rowQuality(stream).writeStream
      .outputMode("append").format("memory").queryName("t_q95").start()
    try q.processAllAvailable() finally q.stop()
    // stateless: the micro-batch ran without any state store operator
    assert(q.lastProgress != null && q.lastProgress.stateOperators.isEmpty)
    val streamed = spark.table("t_q95").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val batch = TrainingOps.rowQuality(Tables.documents(spark, sfDir))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the gate carries signal: both pass and fail occur
    assert(spark.table("t_q95").select(col("quality_pass"))
      .distinct().count() == 2)
  }

  // ---- q99 BPE merge learning --------------------------------------------

  test("q99: applyMerge is non-overlapping left-to-right") {
    import graft.ops.BpeTrain.applyMerge
    // the classic overlap case: "aaa" with pair (a,a) yields 1 merge
    assert(applyMerge("a", "a", Seq("a", "a", "a")) == Seq("aa", "a"))
    assert(applyMerge("a", "a", Seq("a", "a", "a", "a")) == Seq("aa", "aa"))
    assert(applyMerge("a", "b", Seq("a", "b", "a", "b")) == Seq("ab", "ab"))
    assert(applyMerge("x", "y", Seq("a", "b")) == Seq("a", "b"))
    assert(applyMerge("a", "b", Seq("a")) == Seq("a"))
  }

  test("q99: learnMerges hand-checked rounds, overlap audit, tie-break") {
    import graft.ops.BpeTrain
    import spark.implicits._
    // corpus: "aaa"×2, "ab"×1. Round 1: (a,a) appears 2×/word-instance
    // → n=4, but the non-overlap rule merges only once per "aaa", so
    // corpus syms go 8 → 6 (NOT 8-4): the audit column catches a
    // replace-all implementation. Round 2: ("aa","a") n=2 → 4 syms.
    val words = Seq("aaa", "aaa", "ab").toDF("w")
    val m = BpeTrain.learnMerges(spark, words, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
                 r.getLong(4)))
    assert(m.toSeq == Seq((1L, "a", "a", 4L, 6L), (2L, "aa", "a", 2L, 4L)))
    // equal counts break ties pair-ascending: (a,b) beats (b,a)
    val tie = Seq("ab", "ba").toDF("w")
    val t = BpeTrain.learnMerges(spark, tie, k = 1).collect().head
    assert((t.getString(1), t.getString(2), t.getLong(3)) == ("a", "b", 1L))
  }

  test("q99/q159: driver-fold training equals the distributed rounds") {
    // r16 optimization pin: under DriverTrainCap learnMerges folds on
    // the driver from one type-table collect; every column of every
    // round must equal the distributed recurrence — including non-ASCII
    // words, whose tie-break order is UTF8-binary, not UTF-16
    import graft.ops.BpeTrain
    import spark.implicits._
    val words = (Seq.fill(3)("banana") ++ Seq.fill(2)("bandana") ++
      Seq("añejo", "añada", "ab", "ba", "日本語", "日本")).toDF("w")
    val fast = BpeTrain.learnMerges(spark, words, k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
                 r.getLong(4))).toSeq
    val dist = BpeTrain.learnMergesDistributed(spark, words, k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
                 r.getLong(4))).toSeq
    assert(fast == dist)
    // the q159 curve fold equals the distributed rung computation
    val fastCurve = BpeTrain.curveFast(spark, words, k = 5, rungs = Seq(0, 2, 5))
      .get.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val distCurve = Seq(0, 2, 5).map { r =>
      val merges = dist.take(r).map(m => (m._2, m._3))
      val types = BpeTrain.wordTypes(spark, words, merges).collect()
        .map(row => (row.getLong(1), row.getSeq[String](2)))
      val pieces = types.map { case (f, s) => f * s.length }.sum
      val vocab = types.flatMap(_._2).distinct.length.toLong
      (r.toLong, pieces, vocab)
    }
    val p0 = distCurve.find(_._1 == 0L).get._2
    assert(fastCurve == distCurve.map { case (r, p, v) =>
      (r, p, v, (1000L * p) / p0) })
    // empty corpus: the fold declines (the distributed rungs produce
    // NULL-valued aggregate rows, not zeros) — r16 degenerate-sweep fix
    val none = Seq.empty[String].toDF("w")
    assert(BpeTrain.curveFast(spark, none, k = 5, rungs = Seq(0, 2)).isEmpty)
  }

  // ---- q102 BPE encoding -------------------------------------------------

  test("q102: encode applies merges in rank order; totals equal q99's audit") {
    import graft.ops.BpeTrain
    import spark.implicits._
    // merges learned from ("aaa"×2, "ab") are (a,a) then (aa,a) —
    // encoding maps aaa→[aaa], ab→[a,b]
    val m = Seq(("a", "a"), ("aa", "a"))
    val doc = Seq((7L, "aaa aaa ab")).toDF("doc_id", "text")
    val r = BpeTrain.encode(spark, doc, m).collect().head
    val ph = graft.functions.TextHash.polyHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("aaa aaa a b"), 31)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 3L, 4L, ph)))
    // cross-query invariant on the fixture: encoding the SAME corpus
    // the merges were learned from must produce exactly the piece
    // count the trainer's corpus_syms_after audit reported
    val audit = Registry.byName("q99_bpe_merges").run(spark, sfDir)
      .orderBy(desc("round")).select(col("corpus_syms_after"))
      .limit(1).collect().head.getLong(0)
    val total = Registry.byName("q102_bpe_encode").run(spark, sfDir)
      .agg(sum(col("n_pieces"))).collect().head.getLong(0)
    assert(total == audit)
  }

  // ---- q100 span dedup ---------------------------------------------------

  test("q100: planted cross-doc span removed, first occurrence kept, overlap unions") {
    import graft.ops.SpanDedup
    import spark.implicits._
    def ph(s: String): Long =
      graft.functions.TextHash.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 31)
    val d0 = (0 until 20).map(i => s"t$i").mkString(" ")
    // d1 embeds d0's tokens t5..t12 — exactly one shared 8-gram
    val d1 = "x0 x1 x2 " + (5 to 12).map(i => s"t$i").mkString(" ") + " y0 y1"
    // d2 is one token repeated 10× — grams at 0,1,2 all collide; the
    // covered union of dup starts 1,2 is positions 1..9, keeping one "a"
    val d2 = (1 to 10).map(_ => "a").mkString(" ")
    val docs = Seq((0L, d0), (1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = SpanDedup.dedupSpans(docs, w = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(out(0) == ((0L, 20L, 0L, 0L, ph(d0))))
    assert(out(1) == ((1L, 13L, 1L, 8L, ph("x0 x1 x2 y0 y1"))))
    assert(out(2) == ((2L, 10L, 2L, 9L, ph("a"))))
  }

  test("q100: keptText matches kept_hash; re-pass on this corpus finds nothing") {
    import graft.functions.PolyHash.polyHash
    import graft.ops.SpanDedup
    val docs = Tables.documents(spark, sfDir)
    val first = SpanDedup.dedupSpans(docs, w = 8)
    assert(first.agg(sum(col("n_removed"))).collect().head.getLong(0) > 0)
    val kept = SpanDedup.keptText(docs, w = 8)
    // the reconstructed corpus hashes exactly to the audited kept_hash
    val cmp = kept.select(col("doc_id"), polyHash(col("text")).as("h"))
      .join(first.select(col("doc_id"), col("kept_hash")), Seq("doc_id"))
      .where(col("h") =!= col("kept_hash")).count()
    assert(cmp == 0L)
    // removal excises whole w-blocks, so new dup grams can only form at
    // excision seams — on this corpus a second pass finds none (checked
    // empirically; the fixture is deterministic, so this is stable)
    val again = SpanDedup.dedupSpans(kept, w = 8)
    assert(again.agg(sum(col("n_removed"))).collect().head.getLong(0) == 0L)
  }

  // ---- q101 incremental span dedup ---------------------------------------

  test("q101: later batch is trimmed against the earlier batch's gram store") {
    import graft.streaming.{MicroBatchFold, SpanDedupStream}
    import spark.implicits._
    def ph(s: String): Long =
      graft.functions.TextHash.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 31)
    val d0 = (0 until 20).map(i => s"s$i").mkString(" ")
    // d1's only duplicate source lives in d0 — a DIFFERENT micro-batch
    val d1 = "z0 z1 " + (4 to 11).map(i => s"s$i").mkString(" ") + " z2"
    val docs = Seq((0L, d0), (1L, d1)).toDF("doc_id", "text")
    val workDir = java.nio.file.Files.createTempDirectory("q101_spec").toString
    MicroBatchFold.stageSplits(spark, docs, s"$workDir/input", 2)
    def parquets(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    def batchDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).sorted
    assert(parquets(s"$workDir/input") == 2)
    val out = SpanDedupStream.run(spark, s"$workDir/input", workDir, w = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    // one batchId-keyed output partial per micro-batch: the two docs
    // really were processed in separate batches, so d1's trim proves
    // the persistent store carried d0's packs across batches
    assert(batchDirs(s"$workDir/out") == Seq("batch=0", "batch=1"))
    assert(out.toSeq == Seq(
      (0L, 20L, 0L, 0L, ph(d0)),
      (1L, 11L, 1L, 8L, ph("z0 z1 z2"))))
    // the store ends holding exactly the corpus' distinct packs:
    // d0's 13 all-distinct grams + d1's 3 z-containing ones
    assert(spark.read.parquet(s"$workDir/gram_store").distinct().count() == 16)
    // exactly-once replay: re-running against the same checkpoint finds
    // no new files, so neither the output nor the store moves
    val again = SpanDedupStream.run(spark, s"$workDir/input", workDir, w = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(again.toSeq == out.toSeq)
    assert(batchDirs(s"$workDir/out") == Seq("batch=0", "batch=1"))
    assert(spark.read.parquet(s"$workDir/gram_store").distinct().count() == 16)
    // the store really is hive-bucketed on pack: every pack row sits in
    // the directory its pack hashes to
    val misplaced = spark.read.parquet(s"$workDir/gram_store")
      .where(pmod(col("pack"), lit(16L)).cast("int") =!= col("bucket"))
      .count()
    assert(misplaced == 0L)
  }

  // ---- q104 incremental corpus prep --------------------------------------

  test("q104: earlier batch's prefix store drops a later near-dup; partials fold") {
    import graft.streaming.{CorpusPrepStream, MicroBatchFold}
    import spark.implicits._
    // all three docs pass the gate (32 words, mean len ~3.8, stopwords)
    val pfxA = "the quick brown fox and lion of the wood ran far into dark deep cold cave"
    val pfxC = "a small green bird and crow of a tall tree sat low upon thin long twig"
    def tail(tag: String) = (1 to 16).map(i => f"$tag$i%02d").mkString(" ")
    val a = s"$pfxA ${tail("aa")}"
    val b = s"$pfxA ${tail("bb")}" // same 16-token prefix, different tail
    val c = s"$pfxC ${tail("cc")}"
    val docs = Seq((0L, "en", a), (2L, "en", b), (3L, "de", c))
      .toDF("doc_id", "lang", "text")
    // every doc genuinely passes the quality gate
    assert(TrainingOps.withRowQuality(docs)
      .agg(sum(col("quality_pass"))).collect().head.getLong(0) == 3L)
    // splits: {0} then {2, 3} — b's only dup source sits in batch 1
    val workDir = java.nio.file.Files.createTempDirectory("q104_spec").toString
    MicroBatchFold.stageSplits(spark, docs, s"$workDir/input", 2)
    val streamed = CorpusPrepStream.run(spark, s"$workDir/input", workDir)
      .collect().map(_.toSeq)
    // b is gone purely through the cross-batch prefix store
    assert(streamed.map(_(2).asInstanceOf[Long]).sum == 2L)
    // and the folded partials equal the batch composition over {a, c}
    val expected = TrainingOps.chunkSplitStats(
        Seq((0L, "en", a), (3L, "de", c)).toDF("doc_id", "lang", "text"))
      .orderBy(col("split"), col("lang")).collect().map(_.toSeq)
    assert(streamed.toSeq == expected.toSeq)
  }

  // ---- q105 unigram-LM perplexity gate -----------------------------------

  test("q105: integer bit costs match floor(log2), gate splits the corpus") {
    val out = Registry.byName("q105_unigram_ppl_gate").run(spark, sfDir)
      .collect()
    assert(out.length == 500)
    // both outcomes occur — the gate carries signal
    assert(out.count(_.getLong(3) == 1L) > 0 && out.count(_.getLong(3) == 0L) > 0)
    // recompute one doc's score from scratch on the driver
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val allToks = docs.values.flatMap(_.split(" ").filter(_.nonEmpty)).toSeq
    val n = allToks.size.toLong
    val freq = allToks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    def bits(t: String): Long = {
      val r = n / freq(t)
      (40 to 1 by -1).find(p => r >= (1L << p)).map(_.toLong).getOrElse(0L)
    }
    val d0 = docs(0L).split(" ").filter(_.nonEmpty)
    val row0 = out.find(_.getLong(0) == 0L).get
    assert(row0.getLong(1) == d0.length.toLong)
    assert(row0.getLong(2) == d0.map(bits).sum)
    // the trained LM rides a broadcast join — the corpus never shuffles
    // for scoring, only the vocab-count and per-doc aggregates do
    val p = Registry.byName("q105_unigram_ppl_gate").run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  // ---- physical-plan shape -----------------------------------------------

  private def planOf(name: String): String =
    Registry.byName(name).run(spark, sfDir).queryExecution.executedPlan.toString

  test("plans: q100 prunes the documents scan and keeps keyed exchanges only") {
    val qe = Registry.byName("q100_span_dedup").run(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    // gram election + per-doc starts + reconstruction join: every
    // exchange is hash-keyed (plus the final presentation sort)
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size <= 3, p.take(1200))
    // the election must partial-aggregate map-side (skew safety: a hot
    // gram collapses to one row per task before the exchange)
    assert(p.contains("partial_min"), p.take(1200))
    assert(!p.toLowerCase.contains("window"), p.take(1200))
    // the scan reads only the two referenced columns — lang/source/
    // n_chars must not reach a 100 TB documents scan
    val scans = qe.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("doc_id") && scans.contains("text"))
    assert(!scans.contains("n_chars") && !scans.contains("source"),
      scans.take(600))
  }

  test("plans: q86 broadcasts index build and probe, no cartesian product") {
    val p = planOf("q86_ivf_seeded_ann")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastExchange".r.findAllMatchIn(p).size >= 2, p.take(800))
  }

  test("plans: scans prune to the referenced columns only") {
    // q90 touches 3 of customer's 5 columns; q92 touches 2 of documents'
    // 5 — the parquet ReadSchema must not include the others, or a
    // 100 TB scan pays for bytes the query never reads
    val scans90 = Registry.byName("q90_pii_kanon").run(spark, sfDir)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans90.contains("c_name") && scans90.contains("c_acctbal"))
    assert(!scans90.contains("c_nationkey"), scans90.take(600))
    val scans92 = Registry.byName("q92_chunk_windows").run(spark, sfDir)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans92.contains("text"))
    assert(!scans92.contains("n_chars") && !scans92.contains("source"),
      scans92.take(600))
  }

  test("plans: q87 shuffles once on the group key; q92 generates shuffle-free") {
    // q87: ONE hash exchange (the repartition on lang) feeds the sorted
    // stateful pass; the only other exchange is the final presentation sort
    val p87 = planOf("q87_seq_pack")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p87).size == 1,
      p87.take(1000))
    // q92: chunk explode + hash are per-row generate — zero hash
    // exchanges; the single range exchange is the final ORDER BY
    val p92 = planOf("q92_chunk_windows")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p92).size == 0,
      p92.take(1000))
    assert("Exchange rangepartitioning".r.findAllMatchIn(p92).size == 1,
      p92.take(1000))
  }

  // ---- round-4 advisory regressions ---------------------------------------

  test("q99: learnMerges terminates early when no pairs remain") {
    import graft.ops.BpeTrain
    import spark.implicits._
    // single-character word types: round 1 has no adjacent pairs at all
    val singles = Seq("a", "b", "a", "c").toDF("w")
    assert(BpeTrain.learnMerges(spark, singles, k = 3).count() == 0L)
    // k beyond the learnable horizon: "ab" exhausts after one merge
    // (every word is then a single symbol) — returns the 1 learned merge
    val tiny = Seq("ab", "ab").toDF("w")
    val m = BpeTrain.learnMerges(spark, tiny, k = 5).collect()
    assert(m.length == 1)
    assert((m.head.getString(1), m.head.getString(2)) == (("a", "b")))
  }

  test("q95: empty and whitespace-only docs gate to 0 without error") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one two")).toDF("doc_id", "text")
    val out = TrainingOps.withRowQuality(docs)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("quality_pass"))
      .orderBy(col("doc_id")).collect()
    assert(out(0).getLong(1) == 0L && out(0).isNullAt(2) &&
      out(0).getLong(3) == 0L)
    assert(out(1).getLong(1) == 0L && out(1).isNullAt(2) &&
      out(1).getLong(3) == 0L)
    assert(out(2).getLong(1) == 2L && !out(2).isNullAt(2))
  }

  test("q100: spans at doc edges and adjacent intervals reconstruct exactly") {
    import graft.ops.SpanDedup
    import spark.implicits._
    def ph(s: String): Long =
      graft.functions.TextHash.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 31)
    val w = 4
    val a = (0 until 8).map(i => s"a$i").mkString(" ")   // owns a0..a7
    // b starts with a0..a3 (dup span at POSITION 0: first gap is empty)
    // and ends with a4..a7 (dup span flush against the end), with the
    // two covered intervals exactly adjacent — they merge into one
    val b = (0 until 8).map(i => s"a$i").mkString(" ")
    // c: dup span strictly interior, surrounded by unique tokens
    val c = "u0 u1 " + (2 to 5).map(i => s"a$i").mkString(" ") + " u2 u3"
    val docs = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val out = SpanDedup.dedupSpans(docs, w).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(out(0) == ((0L, 8L, 0L, 0L, ph(a))))
    // b: every 4-gram start (0..4) is a dup; covered = 0..7, kept empty
    assert(out(1) == ((1L, 8L, 5L, 8L, ph(""))))
    // c: one dup start at 2; covered 2..5; kept drops the middle block
    assert(out(2) == ((2L, 8L, 1L, 4L, ph("u0 u1 u2 u3"))))
  }

  test("appendDeduped raises on an unreadable EXISTING store (no silent dup)") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("t_corrupt_store").toString
    // an existing store directory whose data is unreadable as parquet
    val f = new java.io.File(store, "part-00000.parquet")
    java.nio.file.Files.write(f.toPath, "not parquet".getBytes)
    val batch = Seq((1L, 1L)).toDF("k", "ord")
    intercept[Exception] {
      graft.pipeline.Load.appendDeduped(spark, batch, store, Seq("k"), "ord")
    }
    // and the failed call appended nothing
    assert(new java.io.File(store).listFiles().length == 1)
  }

  test("q143: RRF fusion sums both sides on overlap and tie-breaks by doc_id") {
    import spark.implicits._
    // doc 2 appears in both rankings: its fused score must be the exact
    // integer sum 100000 div 61 + 100000 div 62 and must beat both
    // single-side rank-1 docs
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "lex_rank")
    val sem = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "sem_rank")
    val out = TrainingOps.rrfFuse(lex, sem, n = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((2L, 2L, 1L, 100000L / 61 + 100000L / 62)))
    // docs 1 and 3 carry identical single-side scores (both rank-gap
    // patterns collapse to 100000 div 61 vs div 62) — doc_id breaks
    assert(out(1) == ((1L, 1L, 0L, 100000L / 61)))
    assert(out(2) == ((3L, 0L, 2L, 100000L / 62)))
    // registered query invariants: 10 rows, ranks in [0, 20], rrf
    // equals the formula from its own rank columns
    val reg = Registry.byName("q143_hybrid_rrf").run(spark, sfDir).collect()
    assert(reg.length == 10)
    reg.foreach { r =>
      val (l, s2, rrf) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(l >= 0 && l <= 20 && s2 >= 0 && s2 <= 20 && (l > 0 || s2 > 0))
      val want = (if (l > 0) 100000L / (60 + l) else 0L) +
        (if (s2 > 0) 100000L / (60 + s2) else 0L)
      assert(rrf == want, s"doc ${r.getLong(0)}: rrf $rrf != $want")
    }
  }

  test("q148: per-language fertility >= 1 piece/word; sums reconcile with q102") {
    val out = Registry.byName("q148_tokenizer_fertility").run(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"${r.getString(0)}: pieces < words")
      assert(r.getLong(3) >= 1000L, s"${r.getString(0)}: fertility < 1000")
      assert(r.getLong(3) ==
        1000L * r.getLong(2) / r.getLong(1), "permille arithmetic")
    }
    // language sums must reconcile with q102's per-doc encode totals
    val q102 = Registry.byName("q102_bpe_encode").run(spark, sfDir)
      .agg(sum(col("n_words")), sum(col("n_pieces"))).collect()(0)
    assert(out.map(_.getLong(1)).sum == q102.getLong(0))
    assert(out.map(_.getLong(2)).sum == q102.getLong(1))
  }

  test("q159: curve endpoints reconcile with raw chars and q99's round audit") {
    val out = Registry.byName("q159_bpe_curve").run(spark, sfDir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 3L, 6L))
    val byRung = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // rung 0 = per-character symbols: piece mass is the raw char count
    // of the corpus word stream, permille exactly 1000
    val chars = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .agg(sum(length(col("w")))).collect()(0).getLong(0)
    assert(byRung(0L)._1 == chars && byRung(0L)._3 == 1000L)
    // rung 6 = q99's committed round audit: corpus_syms_after of round 6
    val audit = Registry.byName("q99_bpe_merges").run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(byRung(6L)._1 == audit(6L))
    assert(byRung(3L)._1 == audit(3L))
    // merging only shrinks piece mass; each round adds at most one live
    // symbol (and can retire inputs)
    assert(byRung(0L)._1 >= byRung(3L)._1 && byRung(3L)._1 >= byRung(6L)._1)
    assert(byRung(3L)._2 <= byRung(0L)._2 + 3 && byRung(6L)._2 <= byRung(0L)._2 + 6)
    // permille recompute
    for (r <- Seq(3L, 6L))
      assert(byRung(r)._3 == 1000L * byRung(r)._1 / byRung(0L)._1)
  }
}
