package graft

import graft.ops.Multimodal
import graft.queries.Registry
import org.apache.spark.sql.functions._

/** Dedup family, similarity search, and multimodal plumbing semantics. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("MinHash+LSH finds the same high-similarity pairs as exact Jaccard") {
    val exact = Registry.byName("q34_docs_jaccard_pairs").run(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.queries.TextOps.minhashLshXx(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are verified with exact Jaccard, so lsh ⊆ exact;
    // at jac >= 0.8 with 32 hashes / 8 bands recall should be total here.
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
  }

  test("portable MinHash (q70) finds the same pairs as exact Jaccard") {
    val exact = Registry.byName("q34_docs_jaccard_pairs").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val port = Registry.byName("q70_docs_minhash_portable").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(port.subsetOf(exact)) // exact rescore: no false positives
    assert(port == exact, s"missed: ${exact -- port}")
  }

  test("q153: source matrix accounts for every q70 pair, canonically ordered") {
    val pairs = Registry.byName("q70_docs_minhash_portable").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mat = Registry.byName("q153_cross_source_dups").run(spark, sfDir).collect()
    // total pair mass is conserved — nothing dropped or double-counted
    assert(mat.map(_.getLong(2)).sum == pairs.length.toLong)
    // triangle canonicalization and bound sanity on every cell
    for (r <- mat) {
      assert(r.getString(0) <= r.getString(1))
      assert(r.getDouble(3) >= 0.8 && r.getDouble(3) <= r.getDouble(4) &&
        r.getDouble(4) <= 1.0)
    }
    // recompute one cell directly from the pair set + the source map
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cells = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }
    val gotCells = mat.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(gotCells.keySet == cells.keySet)
    for ((k, ps) <- cells) {
      val jacs = ps.map(_._3)
      assert(gotCells(k) == ((ps.length.toLong, jacs.min, jacs.max)), s"cell $k")
    }
  }

  test("q155: yield histogram equals a driver-side union-find recompute") {
    val pairs = Registry.byName("q70_docs_minhash_portable").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ntok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find over the pair set, min-id representative
    val rep = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = rep.getOrElse(x, x)
      if (p == x) x else { val r = find(p); rep(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); rep(math.max(ra, rb)) = lo }
    }
    val clusters = ntok.keys.groupBy(find).map { case (_, ds) =>
      val sorted = ds.toSeq.sorted
      (sorted.size.toLong, sorted.map(ntok).sum, sorted.tail.map(ntok).sum)
    }.toSeq
    val tt = ntok.values.sum
    def bucket(sz: Long) = if (sz == 1) "1" else if (sz <= 4) "2-4" else "5+"
    val want = clusters.groupBy(c => bucket(c._1)).map { case (bk, cs) =>
      bk -> (cs.size.toLong, cs.map(_._1).sum, cs.map(_._1 - 1).sum,
        cs.map(_._3).sum, 1000L * cs.map(_._3).sum / tt)
    }
    val got = Registry.byName("q155_dedup_yield").run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == want)
    // both regimes on the fixture: singletons and at least one dup bucket
    assert(got.contains("1") && got.keySet.exists(_ != "1"))
  }

  test("q163: heap-aggregated kNN probe equals the rank-window formulation") {
    import graft.functions.VectorFunctions.{dotProduct, squaredNorm}
    val got = Registry.byName("q163_knn_label_accuracy").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the window twin: identical c4 arithmetic, row_number instead of
    // the bounded heap — certifies the heap path end to end
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
      .withColumn("n2", squaredNorm(col("v")))
    val q = e.where(col("vec_id") < 64)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("label").as("qlabel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("c4").desc, col("vec_id"))
    val want = e.crossJoin(q).where(col("vec_id") =!= col("qid"))
      .withColumn("c4",
        round(round(dotProduct(col("v"), col("qv")) /
          sqrt(col("n2") * col("qn2")), 4) * 10000, 0).cast("long"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .groupBy(col("qid"), col("qlabel"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("qid"), col("qlabel"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
      .select(col("qid"), col("qlabel"), col("m.l").as("pred"))
      .groupBy(col("qlabel"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("pred") === col("qlabel")).cast("long")).as("n_correct"))
      .withColumn("permille_correct", expr("(1000 * n_correct) DIV n_queries"))
      .select(col("qlabel"), col("n_queries"), col("n_correct"),
        col("permille_correct"))
      .orderBy(col("qlabel")).collect().map(_.toSeq).toSeq
    assert(got == want)
    // all 64 probes accounted for, and the probe does better than the
    // 1-in-10 random baseline on the clustered fixture
    assert(got.map(_(1).asInstanceOf[Long]).sum == 64L)
    val correct = got.map(_(2).asInstanceOf[Long]).sum
    assert(correct * 10 > 64, s"kNN no better than chance: $correct/64")
  }

  test("SimHash flags the closest near-duplicates within its threshold") {
    val exact = Registry.byName("q34_docs_jaccard_pairs").run(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = graft.queries.TextOps.simhashXx(spark, sfDir).collect()
    val simPairs = sim.map(r => (r.getLong(0), r.getLong(1))).toSet
    // every returned pair respects the hamming threshold
    assert(sim.forall(_.getInt(2) <= 3))
    // the tightest planted near-dups (hamming <= 3 on this corpus) are
    // found, e.g. docs 12/360 differ in a single simhash bit
    assert(simPairs.contains((12L, 360L)), s"got: $simPairs")
    assert(simPairs.intersect(exact).nonEmpty)
  }

  test("portable SimHash (q71) keeps threshold semantics and finds planted dups") {
    val out = Registry.byName("q71_docs_simhash_portable").run(spark, sfDir).collect()
    assert(out.forall(_.getLong(2) <= 3))
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the corpus's tightest planted near-dup pair (see the q36 test)
    assert(pairs.contains((12L, 360L)), s"got ${pairs.size} pairs")
  }

  test("cosine top-k: identical vectors rank first with cos 1.0") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dup = e.where(col("vec_id") === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("v"))
    val all = e.unionByName(dup)
    val q = all.where(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val top = all.crossJoin(broadcast(q))
      .where(col("vec_id") =!= 0)
      .withColumn("dot", expr("aggregate(zip_with(v, qv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
      .withColumn("n2a", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
      .withColumn("n2b", expr("aggregate(qv, 0D, (acc, x) -> acc + x * x)"))
      .withColumn("cos", col("dot") / sqrt(col("n2a") * col("n2b")))
      .orderBy(col("cos").desc)
      .select("vec_id", "cos").collect()
    assert(top(0).getLong(0) == 1000000L)
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-9)
  }

  test("IVF ANN recall: >= 80% of probed top-3 are true top-5 neighbors") {
    // Quantified recall against the exact q40 ranking: with nprobe=1 and
    // 8 trained centroids on this corpus, 28/30 returned neighbors are in
    // the brute-force top-5 (the 2 misses are out-of-bucket true
    // neighbors — the IVF trade-off). The floor is 24/30 so the signal
    // is real but not seed-brittle.
    val brute = Registry.byName("q40_embed_topk").run(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivf = Registry.byName("q42_embed_ivf_ann").run(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(ivf.keySet == (0L until 10L).toSet) // every query answered
    assert(ivf.values.forall(_.size == 3))     // exactly top-3 each
    val hits = ivf.map { case (q, ids) => (ids & brute(q)).size }.sum
    val total = ivf.values.map(_.size).sum
    assert(hits >= (total * 0.8).toInt, s"IVF recall $hits/$total below 80%")
  }

  test("IVF nprobe ladder: probing more buckets never loses recall") {
    // The recall/cost knob of every IVF index: nprobe=2 scores strictly
    // more candidates than nprobe=1, so against the exact ranking its
    // recall must be >= — and any out-of-bucket misses at nprobe=1 that
    // sit in the second-nearest bucket are recovered.
    val brute = Registry.byName("q40_embed_topk").run(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(nprobe: Int): Int =
      graft.queries.VectorOps.ivfTopK(spark, sfDir, nprobe)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => (rs.map(_.getLong(1)).toSet & brute(q)).size }.sum
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"nprobe=2 recall $r2 below nprobe=1 $r1")
    assert(r2 >= 24) // at least the 80% floor holds with more probes
  }

  test("PQ ANN recall: >= 60% of ADC top-3 are true top-5 neighbors") {
    // 4x16 Lloyd-trained codebooks + asymmetric-distance scoring +
    // exact rescore of the top-25 candidates: measured 24/30 at
    // sf0.001 (random top-3 would hit ~3%); floor pinned with headroom
    // against codebook seed sensitivity.
    val brute = Registry.byName("q40_embed_topk").run(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val pq = Registry.byName("q73_embed_pq_ann").run(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(pq.keySet == (0L until 10L).toSet)
    assert(pq.values.forall(_.size == 3))
    val hits = pq.map { case (q, ids) => (ids & brute(q)).size }.sum
    assert(hits >= 18, s"PQ recall $hits/30 below 60%")
  }

  test("cap-pruned cosine dedup equals the brute-force self-join") {
    // CosineDedup's candidate pruning is complete by the spherical
    // triangle inequality; this checks end-to-end equality (ids AND
    // rounded cosines) against the all-pairs join it replaced.
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_r", round(
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
          / sqrt(col("a.n2") * col("b.n2")), 4))
      .where(col("cos_r") >= 0.45)
      .select(col("a.vec_id"), col("b.vec_id"), col("cos_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = graft.ops.CosineDedup.pairsAbove(e, 0.45, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == brute, s"missing=${brute -- pruned} extra=${pruned -- brute}")
    assert(brute.nonEmpty) // the assertion above is not vacuous
  }

  test("cap pruning drops far-apart clusters without losing pairs") {
    // Three tight clusters around near-orthogonal axes: intra-cluster
    // cosines ~0.99, inter-cluster ~0. At threshold 0.9 the bucket-pair
    // bound must prune cross-cluster bucket pairs (candidates < all
    // pairs) while the result still equals brute force exactly.
    val dim = 64
    def mk(id: Long, axis: Int): (Long, Seq[Double]) = {
      val v = Array.tabulate(dim)(k =>
        (if (k == axis) 10d else 0d) + 0.05 * math.sin(1d + id * dim + k))
      (id, v.toSeq)
    }
    val rows = (0L until 20L).map(mk(_, 0)) ++
      (20L until 40L).map(mk(_, 21)) ++ (40L until 60L).map(mk(_, 42))
    val e = rows.toDF("vec_id", "v")
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))

    val planes = graft.ops.CosineDedup.signPlanes(dim, 3, 7L)
    val stats = graft.ops.CosineDedup.bucketStats(e, planes)
    val survivors = graft.ops.CosineDedup.survivingBucketPairs(stats, 0.9)
    val allBucketPairs = stats.length * (stats.length + 1) / 2
    assert(survivors.size < allBucketPairs,
      s"no pruning: ${survivors.size} of $allBucketPairs bucket pairs survive")

    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_r", round(
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
          / sqrt(col("a.n2") * col("b.n2")), 4))
      .where(col("cos_r") >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"), col("cos_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = graft.ops.CosineDedup.pairsAbove(e, 0.9, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == brute, s"missing=${brute -- pruned} extra=${pruned -- brute}")
    assert(brute.size >= 3 * (20 * 19 / 2)) // every intra-cluster pair qualifies
  }

  test("pairsAbove refuses corpus-scale input and names the approximate routes") {
    // the exact path is quadratic by design; the guard makes running it
    // on an unbounded corpus an explicit decision, not an accident
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    val ex = intercept[IllegalArgumentException] {
      graft.ops.CosineDedup.pairsAbove(e, 0.45, dim = 64, maxRows = 10L)
    }
    assert(ex.getMessage.contains("q106") && ex.getMessage.contains("q129"))
    // an explicit override admits the same input
    assert(graft.ops.CosineDedup
      .pairsAbove(e, 0.45, dim = 64, maxRows = 1000L).count() > 0)
  }

  test("pairsAboveAuto: exact below the guard, cluster-scoped subset above it") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(graft.ops.CosineDedup.pairsAbove(e, 0.45, dim = 64))
    // at-or-below maxRows: auto IS the exact operator
    assert(pairSet(graft.ops.CosineDedup.pairsAboveAuto(e, 0.45, dim = 64))
      == exact)
    // force the routed path on the same corpus: instead of refusing
    // (the r8 behavior) it must RUN and return a subset of the exact
    // pairs with identical rounded cosines — the cluster prefilter only
    // loses border pairs, never invents or rescores
    val routed = pairSet(graft.ops.CosineDedup
      .pairsAboveAuto(e, 0.45, dim = 64, maxRows = 100L))
    assert(routed.nonEmpty && routed.subsetOf(exact),
      s"extra=${(routed -- exact).take(5)}")
  }

  test("zero-norm vectors survive BOTH pair paths: no crash, no pairs, others untouched") {
    // round-11 advice (medium): before the RoundBase NaN guard, one
    // zero-norm embedding (0/0 cosine = NaN) crashed every query
    // through the centroid kernel with NumberFormatException.
    // CentroidKernelSpec pins the kernel; this pins the OPERATORS:
    // a zero vector as a plain corpus row AND as a seeded centroid
    // (ids < k are the quantizer's candidate centroids) must leave the
    // exact path and the routed path running, emit NO pair touching a
    // zero vector (NaN never clears the threshold), and leave the
    // non-zero vectors' pair set exactly as it is without them.
    import spark.implicits._
    val dim = 4
    def unit(i: Int): Array[Double] = {
      val a = Array.fill(dim)(0.1 * ((i % 3) + 1))
      a(i % dim) = 1.0
      a
    }
    val zeroIds = Set(3L, 15L) // 3 lands in the centroid range (< k=8)
    val rows = (0L until 20L).map(i =>
      (i, if (zeroIds(i)) Array.fill(dim)(0.0) else unit(i.toInt)))
    val e = rows.toDF("vec_id", "v")
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(graft.ops.CosineDedup.pairsAbove(e, 0.45, dim = dim))
    val routed = pairSet(graft.ops.CosineDedup
      .pairsAboveAuto(e, 0.45, dim = dim, maxRows = 5L)) // forces the route
    assert(exact.nonEmpty)
    assert(!exact.exists(p => zeroIds(p._1) || zeroIds(p._2)))
    assert(!routed.exists(p => zeroIds(p._1) || zeroIds(p._2)))
    assert(routed.subsetOf(exact))
    // and without the zero vectors the non-zero pair set is identical —
    // a zero row influences nothing but its own (absent) pairs
    val eNz = rows.filterNot(r => zeroIds(r._1)).toDF("vec_id", "v")
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    assert(pairSet(graft.ops.CosineDedup.pairsAbove(eNz, 0.45, dim = dim))
      == exact)
  }

  test("pairsWithinBuckets equals the row-pair self-join on every bucketing") {
    // the blocked kernel path q106's witness join rides (round 11) vs
    // the straightforward within-bucket self-join it replaced — same
    // pair set, same cos_r, under both a single-assign and a synthetic
    // multi-assign bucketing (where the helper may emit duplicates and
    // the caller dedups)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    val single = graft.queries.SelectionOps.q106Assign(e)
    val multi = single.unionByName(
      single.withColumn("bucket", pmod(col("vec_id"), lit(3L))))
    for (assigned <- Seq(single, multi)) {
      val a = assigned.select(col("bucket"), col("vec_id").as("a_id"),
        col("v").as("av"), col("n2").as("an2"))
      val reference = assigned.join(a, Seq("bucket"))
        .where(col("a_id") < col("vec_id"))
        .withColumn("cos_r", round(graft.functions.VectorFunctions
          .dotProduct(col("v"), col("av")) /
          sqrt(col("n2") * col("an2")), 4))
        .where(col("cos_r") >= 0.45)
        .select(col("a_id").as("vec_a"), col("vec_id").as("vec_b"),
          col("cos_r"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val kernel = graft.ops.CosineDedup
        .pairsWithinBuckets(assigned, dim = 64, threshold = 0.45)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(kernel == reference,
        s"extra=${(kernel -- reference).take(3)} missing=${(reference -- kernel).take(3)}")
      assert(reference.nonEmpty)
    }
  }

  test("pairsAboveAuto: measured recall on the planted-cluster fixture") {
    // three tight clusters interleaved over the id space so the seeded
    // centroids (first adaptiveK = 8 ids) span all three — the corpus
    // shape the SemDeDup route is for. Recall is deterministic here
    // (seeded quantizer, fixed fixture): every missed pair straddles a
    // cell border within one planted cluster.
    val dim = 64
    def mk(id: Long): (Long, Seq[Double]) = {
      val axis = Seq(0, 21, 42)((id % 3).toInt)
      val v = Array.tabulate(dim)(k =>
        (if (k == axis) 10d else 0d) + 0.05 * math.sin(1d + id * dim + k))
      (id, v.toSeq)
    }
    val e = (0L until 60L).map(mk).toDF("vec_id", "v")
      .withColumn("n2", expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(graft.ops.CosineDedup.pairsAbove(e, 0.9, dim = dim))
    val routed = pairSet(graft.ops.CosineDedup
      .pairsAboveAuto(e, 0.9, dim = dim, maxRows = 10L))
    assert(routed.subsetOf(exact))
    val recall = routed.size.toDouble / exact.size
    info(f"planted-cluster recall: ${routed.size}/${exact.size} = $recall%.3f")
    // top-2 fine-cell multi-assignment (round-10 fix; single-assignment
    // measured 0.381 here) must recover most of the planted
    // intra-cluster mass — pairs survive unless NEITHER endpoint ranks
    // the shared cell in its top-2
    assert(recall >= 0.7, f"recall $recall%.3f")
  }

  test("large-star/small-star CC: correct clusters in logarithmic rounds") {
    // A 32-node path (diameter 31) plus a triangle and an isolated edge:
    // label propagation needs ~31 rounds; star rounds collapse it in
    // O(log n). Every node must label to its component minimum.
    val path = (0L until 31L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val edges = (path ++ extra).toDF("src", "dst")
    val (labels, rounds) =
      graft.ops.ConnectedComponents.clustersWithRounds(edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 32L - 1L).forall(n => got(n) == 0L), got.toSeq.sorted.take(5))
    assert((100L to 102L).forall(n => got(n) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size == 32 + 3 + 2)
    assert(rounds <= 7, s"expected O(log n) rounds, took $rounds")
  }

  test("CC driver fast path equals the distributed star rounds on random graphs") {
    val rng = new scala.util.Random(77)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 30
      val edges = (1 to n).map(_ =>
        (rng.nextInt(60).toLong, rng.nextInt(60).toLong)) :+
        ((990L, 990L)) // self-loop must drop on both paths
      val df = edges.toDF("src", "dst")
      val fast = graft.ops.ConnectedComponents.clusters(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val dist = graft.ops.ConnectedComponents.clustersWithRounds(df)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(fast == dist, s"trial $trial diverged")
      // and the stream-reliable rounds (parquet-pinned instead of
      // localCheckpoint) agree through the distributed path too
      val scratch = java.nio.file.Files
        .createTempDirectory(s"cc_scratch_$trial").toString
      val reliable = graft.ops.ConnectedComponents
        .clustersWithRounds(df, scratchDir = Some(scratch))._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(reliable == dist)
    }
  }

  test("multimodal feature extraction is deterministic and null-safe") {
    val df = Seq((1L, "hello world"), (2L, "")).toDF("id", "txt")
    val media = Multimodal.asMedia(df, "id", "txt", "text/plain")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(f1.map(_.toSeq).toSeq == f2.map(_.toSeq).toSeq)
    assert(f1(0).getLong(1) == 11L) // "hello world" bytes
    assert(f1(1).getLong(1) == 0L)
    assert(f1(1).getAs[Seq[Double]](2).forall(_ == 0.0))
  }

  test("frame sampling reconstructs the payload and stride-resize is bounded") {
    val text = ("abcdefgh" * 20).take(150) // 150 bytes -> 3 frames of 64/64/22
    val media = Multimodal.asMedia(
      Seq((7L, text)).toDF("id", "txt"), "id", "txt", "text/plain")

    // everyNth = 1: concatenating the frames in index order is the payload
    val all = Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 1)
      .orderBy("frame_idx").collect()
    assert(all.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    assert(all.flatMap(_.getAs[Array[Byte]](2)).map(_.toChar).mkString == text)

    // everyNth = 2 keeps original indices 0 and 2
    val sampled = Multimodal.sampleFrames(media, 64, 2).orderBy("frame_idx").collect()
    assert(sampled.map(_.getLong(1)).toSeq == Seq(0L, 2L))

    // resize: above-target payloads shrink to exactly target, small ones
    // pass through, and metadata tracks the stored size
    val resized = Multimodal.resize(media, 32).collect()(0)
    assert(resized.getAs[Array[Byte]](1).length == 32)
    assert(resized.getStruct(2).getLong(1) == 32L)
    val untouched = Multimodal.resize(media, 4096).collect()(0)
    assert(untouched.getAs[Array[Byte]](1).length == 150)
  }

  test("PPM codec: round-trip identity, spec whitespace/comments, malformed rejection") {
    // round-trip: encode → decode returns the exact raster
    val rgb = Array.tabulate(2 * 3 * 3)(i => (i * 7 % 256).toByte)
    val img = Multimodal.decodePpm(Multimodal.encodePpm(3, 2, rgb))
    assert(img.w == 3 && img.h == 2)
    assert(img.rgb.toSeq == rgb.toSeq)

    // spec-compliant header variations: comments and mixed whitespace
    val raster = Array.tabulate(3)(i => (i + 1).toByte) // 1x1 pixel
    val weird = ("P6 # binary ppm\n# a comment line\n  1\t1 # dims\n255\n")
      .getBytes("US-ASCII") ++ raster
    val wimg = Multimodal.decodePpm(weird)
    assert(wimg.w == 1 && wimg.h == 1 && wimg.rgb.toSeq == raster.toSeq)

    // malformed payloads are rejected, not silently misread
    def rejects(p: Array[Byte]) =
      assertThrows[IllegalArgumentException](Multimodal.decodePpm(p))
    rejects("P5\n1 1\n255\n".getBytes("US-ASCII") ++ raster) // wrong magic
    rejects("P6\n1 1\n65535\n".getBytes("US-ASCII") ++ raster) // deep maxval
    rejects("P6\n2 2\n255\n".getBytes("US-ASCII") ++ raster) // truncated
    rejects(Array[Byte]()) // empty
  }

  test("PPM nearest-neighbor resize picks the mathematically right source pixels") {
    // 4x2 image with distinct per-pixel values; downsample to 2x1:
    // out(x,0) = in(2x, 0) — columns 0 and 2 of row 0
    val rgb = Array.tabulate(4 * 2 * 3)(_.toByte)
    val small = Multimodal.nnResize(Multimodal.RgbImage(4, 2, rgb), 2, 1)
    assert(small.w == 2 && small.h == 1)
    def px(x: Int, y: Int) = rgb.slice((y * 4 + x) * 3, (y * 4 + x) * 3 + 3).toSeq
    assert(small.rgb.slice(0, 3).toSeq == px(0, 0))
    assert(small.rgb.slice(3, 6).toSeq == px(2, 0))
    // upscale is also well-defined: 1x1 -> 2x2 replicates the pixel
    val up = Multimodal.nnResize(Multimodal.RgbImage(1, 1, Array[Byte](9, 8, 7)), 2, 2)
    assert(up.rgb.toSeq == Seq[Byte](9, 8, 7, 9, 8, 7, 9, 8, 7, 9, 8, 7))
  }

  test("subword greedy tokenizer: longest match wins, fallback counts, reconstruction") {
    import graft.ops.Subword
    val vocab = Set("ab", "abc", "bc", "a")
    def tok(w: String): (String, Int, Int) = {
      val sb = new StringBuilder
      val (p, f) = Subword.tokenizeWord(vocab, 3, w, sb)
      (sb.toString, p, f)
    }
    // longest match at the cursor beats shorter prefixes ("abc" over "ab"/"a")
    assert(tok("abcbc") == (("abc bc", 2, 0)))
    assert(tok("abab") == (("ab ab", 2, 0)))
    // unmatched chars fall back one codepoint at a time and are counted
    assert(tok("axq") == (("a x q", 3, 2)))
    assert(tok("zz") == (("z z", 2, 2)))
    // pieces always reconstruct the word exactly (no char lost or doubled)
    Seq("abcabczzzbc", "zzzz", "a", "bca", "cab", "abcabcabc").foreach { w =>
      val sb = new StringBuilder
      Subword.tokenizeWord(vocab, 3, w, sb)
      assert(sb.toString.replace(" ", "") == w, s"reconstruction of $w")
    }
  }

  test("subword vocab learning: frequency top-k with deterministic tie-breaks") {
    import graft.ops.Subword
    import spark.implicits._
    // words: aa(2), bb(2), cc(1); 2-grams: aa(2), bb(2), cc(1).
    // topWords=2 keeps {aa,bb}; topGrams=1 must break the aa/bb tie by
    // token text -> aa. Union dedups.
    val words = Seq("aa", "aa", "bb", "bb", "cc").toDF("w")
    val v = Subword.learnVocab(words, topWords = 2, topGrams = 1).toSeq
    assert(v == Seq("aa", "bb"))
    val v2 = Subword.learnVocab(words, topWords = 1, topGrams = 1).toSeq
    assert(v2 == Seq("aa"))
  }

  test("salted aggregation equals direct aggregation on a skewed key") {
    // 90% of lineitem rows forced onto one hot key
    val skewed = Tables.lineitem(spark, sfDir)
      .withColumn("k", when(col("l_orderkey") % 10 < 9, lit("HOT"))
        .otherwise(col("l_orderkey").cast("string")))
    val direct = skewed.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = graft.ops.Skew.saltedCountSum(skewed, "k", "l_quantity")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // quantities are integer-valued so the two-phase sum is exact
    assert(salted == direct)
  }

  test("bounded-heap top-k aggregate equals the window row_number plan") {
    val window = Registry.byName("q20_topn_per_group").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val heap = Registry.byName("q65_topk_heap").run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(heap == window)
  }

  test("cluster-aware split leaks zero near-dup pairs; the doc-hash split leaks") {
    // q139's guarantee on data, plus the contrast that motivates it:
    // the SAME 80/10/10 hash keyed on doc_id (q91's split) puts
    // near-duplicate pairs on both sides of the train/eval fence
    val out = Registry.byName("q139_cluster_split").run(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Long]("leaked_pairs") == 0L))
    val m = graft.functions.TextHash.Mod
    val naive = Tables.documents(spark, sfDir).select(col("doc_id"))
      .withColumn("h", (lit(982451653L) * col("doc_id") + lit(12345L)) % m % 100)
      .withColumn("split", when(col("h") < 80, "train")
        .when(col("h") < 90, "val").otherwise("test"))
    val pairs = Registry.byName("q34_docs_jaccard_pairs").run(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val naiveLeaked = pairs
      .join(naive.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(naive.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .where(col("sa") =!= col("sb")).count()
    assert(naiveLeaked > 0, "fixture should make the doc-hash split leak")
  }

  test("binary quantization: packed popcount equals semantic sign disagreement") {
    // q135's scan kernel: two 32-bit halves of sign bits, hamming =
    // popcount(xor). The invariant under test is that the PACKED integer
    // path computes exactly the semantic definition (count of dims whose
    // signs disagree) for every pair — the oracle independently replays
    // only the semantic side.
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("v"))
    def half(off: Int) = expr(
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        s"acc + IF(element_at(v, i + $off + 1) >= 0, shiftleft(1L, i), 0L))")
    val codes = e.select(col("vec_id"), col("v"),
      half(0).as("lo"), half(32).as("hi"))
    val pairs = codes.as("a").join(codes.as("b"),
      col("a.vec_id") < col("b.vec_id"))
    val mismatches = pairs.select(
        (bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
         bit_count(col("a.hi").bitwiseXOR(col("b.hi")))).cast("long").as("packed"),
        expr("aggregate(sequence(0, 63), 0L, (acc, i) -> " +
          "acc + IF((element_at(a.v, i + 1) >= 0) != (element_at(b.v, i + 1) >= 0), 1L, 0L))")
          .as("semantic"))
      .where(col("packed") =!= col("semantic")).count()
    assert(mismatches == 0)
    // self-distance through the packed path is identically zero
    val selfNonZero = codes.select(
        (bit_count(col("lo").bitwiseXOR(col("lo"))) +
         bit_count(col("hi").bitwiseXOR(col("hi")))).as("h"))
      .where(col("h") =!= 0).count()
    assert(selfNonZero == 0)
  }

  test("bloom probe brackets the exact semi-join; q66 output is exact") {
    val urgent = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT")
    val urgentCusts = urgent.select("o_custkey").distinct().count()
    val total = Tables.customer(spark, sfDir).count()
    val bloom = urgent.stat.bloomFilter("o_custkey", 2000, 0.01)
    val probed = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long")).collect().map(_.getLong(0))
      .count(bloom.mightContain)
    assert(probed >= urgentCusts) // no false negatives
    assert(probed <= total)
    // 1% fpp: the candidate set should be close to the true count
    assert(probed <= urgentCusts + math.max(10, total / 50))
    // and the registered query's output removes the false positives
    val exact = Registry.byName("q66_bloom_prune").run(spark, sfDir)
      .collect()(0).getLong(0)
    assert(exact === urgentCusts)
  }

  test("every registered query runs at sf0.001") {
    Registry.all.foreach { q =>
      val n = q.run(spark, sfDir).count()
      assert(n >= 0, s"${q.name} failed")
    }
  }
}
