package graft.queries

import graft.Tables
import graft.functions.VectorFunctions.{dotProduct, squaredNorm}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 data-selection operators: the curation stages that decide
  * WHICH documents/vectors survive into a training corpus, extending
  * the §2.14 surface — cluster-scoped semantic dedup (the approximate
  * embedding-dedup path whose candidate cost is sum-of-cluster-sizes
  * squared, not corpus squared) and a conditional-model perplexity gate
  * (the bigram step past q105's unigram filter). Both keep the
  * oracle-parity rules: rounded cosines with index tie-breaks, integer
  * bit costs via the shared log2 ladder.
  *
  * Round 9 closes the DSIR exclusion recorded here since round 4. The
  * old note was right that a LANG-defined target is untestable on this
  * fixture (all five langs draw from one shared 31-token vocabulary
  * with near-identical mixes — measured mean per-token log-ratio
  * ±0.002, pure noise), but DSIR's actual use case is a CONTENT-defined
  * target: "select raw docs that resemble this small seed sample". The
  * fixture has exactly one content-skewed subpopulation — the planted
  * near-dup family, marked by the rare token "dup" (26 occurrences in
  * 25 of 500 docs vs 854-964 for every other token) — so target =
  * docs containing "dup" produces a real, oracle-replayable contrast
  * and the selection is meaningful, not noise. q141 below.
  */
/** One MMR pick: selection order, the picked vector, its query
  * relevance, and the round's winning score (rank 1's score is its
  * relevance — the first pick has no redundancy term).
  */
final case class MmrPick(sel_rank: Long, vec_id: Long, rel: Double,
                         score: Double)

/** Prefix-sum rows for q121 (top-level for by-name encoder resolution). */
final case class PsIn(doc_id: Long, n_tok: Long)
final case class PsOut(doc_id: Long, n_tok: Long, cum_tok: Long, shard: Long)

object SelectionOps {

  /** q86's oracle-able seeded coarse quantizer, shared by q106 and its
    * spec: assign every vector to the argmax-rounded-cosine seed
    * (first 8 corpus vectors), index tie-break. Input needs
    * (vec_id, v, n2); output adds `bucket`.
    */
  private[graft] def assignSeeded(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    assignWith(e, seedCentroids(e))

  /** The seed rows (first 8 corpus vectors) in centroid layout. */
  private[graft] def seedCentroids(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    e.where(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))

  /** Assign against an explicit centroid frame — the form a streaming
    * ingest uses, where the centroids were pinned by an earlier batch
    * and later batches no longer contain them.
    */
  private[graft] def assignWith(e: org.apache.spark.sql.DataFrame,
                                cent: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    e.crossJoin(broadcast(cent))
      .withColumn("cos_c",
        round(dotProduct(col("v"), col("cv")) / sqrt(col("n2") * col("cn2")), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("c_id"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("c_id").as("bucket"))

  /** q106's adaptive centroid count: k = max(8, N div 2500) pins the
    * average cell near 2500 members so the within-cell pair cost
    * Σc_i² ≈ 2500·N stays linear in the corpus.
    */
  private[graft] def adaptiveK(n: Long): Long = math.max(8L, n / 2500L)

  /** Oracle CTE chain replaying [[assignTwoLevel]] with adaptive k —
    * `WITH e, kk, cent, sup, casg, vsup, asgr, asg, asg2`; `asg` =
    * (vec_id, v, bucket) single-assign (q106's drop join), `asg2` =
    * the top-2 fine-cell multi-assignment (q140's routed pair join —
    * see [[assignTwoLevelTop2]]). CTEs are lazy, so each query pays
    * only for the branch it reads.
    */
  private[graft] val twoLevelAsgCtes: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |kk AS (SELECT GREATEST(8, count(*) // 2500) AS k,
      |              GREATEST(1, CAST(floor(sqrt(GREATEST(8, count(*) // 2500))) AS BIGINT)) AS k1
      |       FROM e),
      |cent AS (SELECT vec_id AS c_id, v AS cv FROM e
      |         WHERE vec_id < (SELECT k FROM kk)),
      |sup AS (SELECT c_id AS s_id, cv AS sv FROM cent
      |        WHERE c_id < (SELECT k1 FROM kk)),
      |casg AS (SELECT c_id, cv,
      |                CASE WHEN c_id < (SELECT k1 FROM kk) THEN c_id
      |                     ELSE s_id END AS scell
      |         FROM (SELECT c.c_id, c.cv, s.s_id,
      |                      row_number() OVER (PARTITION BY c.c_id
      |                        ORDER BY round(list_cosine_similarity(c.cv, s.sv), 4) DESC, s.s_id) AS rn
      |               FROM cent c, sup s)
      |         WHERE rn = 1),
      |vsup AS (SELECT vec_id, v, s_id AS scell FROM (
      |           SELECT e.vec_id, e.v, s.s_id,
      |                  row_number() OVER (PARTITION BY e.vec_id
      |                    ORDER BY round(list_cosine_similarity(e.v, s.sv), 4) DESC, s.s_id) AS rn
      |           FROM e, sup s)
      |         WHERE rn <= 2),
      |asgr AS (SELECT w.vec_id, w.v, c.c_id,
      |                row_number() OVER (PARTITION BY w.vec_id
      |                  ORDER BY round(list_cosine_similarity(w.v, c.cv), 4) DESC, c.c_id) AS rn
      |         FROM vsup w JOIN casg c ON w.scell = c.scell),
      |asg AS (SELECT vec_id, v, c_id AS bucket FROM asgr WHERE rn = 1),
      |asg2 AS (SELECT vec_id, v, c_id AS bucket FROM asgr WHERE rn <= 2)""".stripMargin

  /** Super-cell count for the two-level quantizer: ⌊√k⌋ (≥1). IEEE sqrt
    * is correctly rounded, so perfect squares floor identically in the
    * JVM and DuckDB.
    */
  private[graft] def superK(k: Long): Long =
    math.max(1L, math.sqrt(k.toDouble).toLong)

  /** Two-level seeded coarse quantizer (round-7 verdict #1): with
    * k ∝ N centroids, the FLAT argmax costs N·k = N²/2500 cosines —
    * linear pair cost bought by a quadratic assignment term (fine
    * through ~sf100, dominant at 1000×). The hierarchy caps it:
    *
    *  1. k1 = ⌊√k⌋ super-centroids = the first k1 corpus vectors;
    *  2. each of the k centroids (first k corpus vectors) assigns to
    *     its argmax super-cell — except centroids 0..k1-1, which ARE
    *     the super-centroids and self-assign, guaranteeing every
    *     super-cell is non-empty (no vector can reach a cell with
    *     zero candidate centroids);
    *  3. each vector scores the k1 super-centroids once (N·k1
    *     cosines), keeps its TOP-2 super-cells, and argmax-es only
    *     those cells' member centroids (N·2k/k1 expected) — N·3√k
    *     total, vs N·k flat.
    *
    * Every argmax is the same rounded-cosine (cos DESC, id ASC) total
    * order as the flat form, so the whole hierarchy remains a
    * deterministic function of the data that DuckDB replays verbatim.
    * The price is quantization quality, not correctness: a vector is
    * routed through two super-cells, so it can land on a different
    * (but deterministic) centroid than the flat argmax would pick —
    * the classic IVF coarse/fine trade (Jégou et al., PQ/IVFADC). The
    * 2-probe routing is what keeps the fine cells BALANCED under a
    * seeded (untrained) quantizer — see top2Of for the measured
    * single-probe skew and why it matters (the within-cell pair join
    * is quadratic per cell).
    * Physical shape: the k1 super-centroids and the k1 per-cell member
    * arrays both broadcast; each level is a per-row fold over its
    * array (bestOf), so assignment adds NO exchange at all — the only
    * shuffles left in q106 are the bucket-keyed pair join and the
    * final anti-join.
    */
  /** Scan-side deterministic argmax: the best (rounded-cosine, id)
    * centroid from `cents` (array<struct<id,cv,cn2>>) for a row's
    * (v, n2). One interpreted fold over a broadcast array per row —
    * the cosine itself stays in the codegen'd DotProduct kernel — in
    * place of the exploded crossJoin + vec_id window the first
    * two-level cut used. The window form was asymptotically right but
    * physically wrong: each level shuffled and SORTED N·√k rows that
    * each carry a 64-double vector (measured 47–61 s at sf10 vs
    * 13–24 s for the flat assignment it replaced — the exchange
    * dominated the cosines it saved). The fold keeps assignment
    * entirely inside the scan: zero exchange, zero sort, and the
    * argmax order ((cos DESC, id ASC), 4-dp rounded) is identical, so
    * the oracle CTEs replay it unchanged.
    */
  private def bestOf(cents: org.apache.spark.sql.Column,
                     v: org.apache.spark.sql.Column,
                     n2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // slot 1 of the codegen'd top-2 kernel IS the argmax under the
    // same (rounded-cosine DESC, id ASC) total order — see
    // functions.CentroidTop2 (round-10 verdict #1: the
    // functions.aggregate fold this replaces ran an interpreted
    // closure + struct allocation per ELEMENT, ~40 s of the q140
    // sf100 leg; the kernel is one static call around a primitive
    // loop per ROW, same bits out — CentroidKernelSpec pins equality
    // against the fold form over the fixture corpus)
    val t = graft.functions.VectorFunctions.centroidTop2(cents, v, n2)
    struct(t.getField("c1").as("cos"), t.getField("i1").as("id"))
  }

  /** Top-2 variant of [[bestOf]]: the two best (rounded-cosine, id)
    * centroids in one fold. A SEEDED (untrained) coarse quantizer has
    * ragged Voronoi regions, so routing through only the single
    * nearest super-cell visibly skews the fine cells — measured at
    * sf10: max cell 12,480 and Σc² 941M via top-1 routing vs 3,048 /
    * 503M for the flat argmax. Probing the top-2 super-cells recovers
    * most of the balance (6,710 / 606M measured) for one extra
    * broadcast-join + fold per row — the assignment-side analogue of
    * IVF multi-probe search.
    */
  private def top2Of(cents: org.apache.spark.sql.Column,
                     v: org.apache.spark.sql.Column,
                     n2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // the codegen'd kernel (functions.CentroidTop2) — one primitive
    // loop per row in place of the interpreted per-element fold; the
    // (rounded-cosine DESC, id ASC) slot order and the slot-1-demotes-
    // to-slot-2 shift are bit-identical (CentroidKernelSpec)
    graft.functions.VectorFunctions.centroidTop2(cents, v, n2)

  /** Shared routing prefix of [[assignTwoLevel]]/[[assignTwoLevelTop2]]:
    * each vector with the member-centroid arrays of its top-2
    * super-cells — (vec_id, v, n2, m1, m2), m2 nullable.
    */
  private def candidateCells(e: org.apache.spark.sql.DataFrame,
                             k: Long): org.apache.spark.sql.DataFrame = {
    val k1 = superK(k)
    val cent = e.where(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
    // the k1 super-centroids as ONE broadcast array row (argmax is
    // order-independent — total order on (cos, id) — so collect_list's
    // nondeterministic ordering is immaterial)
    val supArr = cent.where(col("c_id") < k1)
      .agg(collect_list(struct(col("c_id").as("id"), col("cv"), col("cn2")))
        .as("sups"))
    val casg = cent.crossJoin(broadcast(supArr))
      .select(col("c_id"), col("cv"), col("cn2"),
        when(col("c_id") < k1, col("c_id"))
          .otherwise(bestOf(col("sups"), col("cv"), col("cn2")).getField("id"))
          .as("scell"))
    // per-super-cell member-centroid arrays: k rows folded to k1 —
    // broadcast alongside the supers (both bounded by k·(dim+2)
    // doubles, the index's own size). Every cell owns at least its
    // self-assigned super-centroid, so the probe joins below are total.
    val cellArr = casg.groupBy(col("scell"))
      .agg(collect_list(struct(col("c_id").as("id"), col("cv"), col("cn2")))
        .as("members"))
    e.crossJoin(broadcast(supArr))
      .withColumn("t2", top2Of(col("sups"), col("v"), col("n2")))
      .select(col("vec_id"), col("v"), col("n2"),
        col("t2.i1").as("s1"), col("t2.i2").as("s2"))
      .join(broadcast(cellArr.select(col("scell").as("s1"),
        col("members").as("m1"))), Seq("s1"))
      // LEFT probe for the second cell: with fewer than 2 super-cells
      // (k1=1, or a corpus missing the low seed ids) top2Of leaves
      // i2=Long.MaxValue which matches no cell — an inner join here
      // would silently drop every vector; instead the consumers degrade
      // to single-probe, matching the replaced window form's behavior
      .join(broadcast(cellArr.select(col("scell").as("s2"),
        col("members").as("m2"))), Seq("s2"), "left")
      .select(col("vec_id"), col("v"), col("n2"), col("m1"), col("m2"))
  }

  private[graft] def assignTwoLevel(e: org.apache.spark.sql.DataFrame,
                                    k: Long): org.apache.spark.sql.DataFrame =
    // argmax each probed cell's members in-row, keep the overall
    // winner — cells are disjoint, so the two folds cover the
    // candidate union exactly once and (cos DESC, id ASC) resolves it
    candidateCells(e, k)
      .withColumn("b1", bestOf(col("m1"), col("v"), col("n2")))
      .withColumn("b2",
        when(col("m2").isNotNull, bestOf(col("m2"), col("v"), col("n2")))
          .otherwise(col("b1")))
      .select(col("vec_id"), col("v"), col("n2"),
        when(col("b1.cos") > col("b2.cos") ||
            (col("b1.cos") === col("b2.cos") &&
              col("b1.id") < col("b2.id")),
          col("b1.id")).otherwise(col("b2.id")).as("bucket"))

  /** Top-2 FINE-cell multi-assignment (q140's routed-recall lever,
    * round-9 verdict #3): up to two rows per vector — its two best
    * (rounded-cosine, id) centroids over the probed cells' candidate
    * union. A near-dup pair split by a single-assign cell border is
    * recovered whenever EITHER endpoint's second-best cell is the
    * other's cell — the same border-healing multi-probe gives IVF
    * search, applied to the assignment side. Doubles the per-cell
    * population, so the within-cell pair kernel pays ~4× (still linear,
    * ~n·5000 vs exact n²/2); consumers must dedup pairs co-located in
    * both shared cells. The selection order is the oracle's `asg2` CTE
    * (rn <= 2 over the same candidate join) — deterministic both sides.
    */
  private[graft] def assignTwoLevelTop2(e: org.apache.spark.sql.DataFrame,
                                        k: Long): org.apache.spark.sql.DataFrame =
    candidateCells(e, k)
      .withColumn("cand",
        when(col("m2").isNotNull, concat(col("m1"), col("m2")))
          .otherwise(col("m1")))
      .withColumn("tf", top2Of(col("cand"), col("v"), col("n2")))
      // i2 stays Long.MaxValue when the candidate pool has one centroid
      .select(col("vec_id"), col("v"), col("n2"),
        explode(filter(array(col("tf.i1"), col("tf.i2")),
          x => x =!= lit(Long.MaxValue))).as("bucket"))

  /** q106's full assignment: adaptive k over the two-level quantizer
    * (shared with SelectionOpsSpec's witness check).
    */
  private[graft] def q106Assign(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    assignTwoLevel(e, adaptiveK(e.count()))

  /** Exact k-smallest-by-hash selection PER GROUP without a per-group
    * corpus rank window (q144/q145's selection core). A window
    * partitioned by group sorts each group's FULL membership through
    * one task — at 100 TB a group is a language (corpus/5 rows), so
    * that shape is a straggler by construction. This is the classic
    * distributed order-statistic instead:
    *
    *  1. bucket every row by `h DIV bw` (nb near-uniform hash ranges —
    *     h is an affine map of a unique id mod a prime, so buckets are
    *     balanced) and count per (grp, bucket): a map-side-combined
    *     aggregate yielding ≤ grp·nb tiny rows;
    *  2. a prefix sum over that TINY frame (window over counts, not
    *     rows) finds, per group, which buckets are wholly inside the
    *     target and the single PARTIAL bucket straddling it;
    *  3. whole buckets pass with a semi-join flag; only the partial
    *     bucket's ~n_grp/nb rows see a rank window, partitioned by
    *     (grp, bucket) — bounded work regardless of group skew.
    *
    * The result is exactly the target_n smallest-h rows of each group
    * (h injective within a group ⇒ total order, no ties), identical to
    * the rank-window form the DuckDB oracles use. `rows` must carry
    * (grp, id, h); `targets` (grp, target_n). The bucket-meta join is
    * left to AQE: tiny at test SFs (broadcast), still fine shuffled —
    * keys are (grp, bucket), finer than any group skew.
    */
  /** Pin a tiny multi-consumer frame. Batch callers (scratch = None) use
    * localCheckpoint — cheapest, executor-local, fine when the caller
    * can simply re-run the query. Stream callers pass a scratch dir and
    * get a parquet round-trip instead: a localCheckpoint block lives
    * only on its executor AND truncates lineage, so one executor kill
    * mid-fold is unrecoverable and fails the whole streaming query
    * (measured: q146 died with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in the
    * r16 kill-injection BEFORE run — the same failure class
    * [[graft.ops.ConnectedComponents.clustersReliable]] closes for
    * q134/q158). A lineage-keeping persist() is NOT an alternative: the
    * r16 post-swap twins measured 2–6× executor CPU on q141/q142/q145/
    * q146 because the multi-consumer cache was recomputed per consumer.
    */
  private def pinTiny(df: org.apache.spark.sql.DataFrame,
                      scratch: Option[String], tag: String)
      : org.apache.spark.sql.DataFrame = scratch match {
    case Some(dir) =>
      val p = s"$dir/$tag"
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      df.sparkSession.read.parquet(p)
    case None => df.localCheckpoint()
  }

  private[graft] def exactKPerGroup(rows: org.apache.spark.sql.DataFrame,
                                    targets: org.apache.spark.sql.DataFrame,
                                    nb: Long = 1024L,
                                    scratch: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    val bw = graft.functions.TextHash.Mod / nb + 1L
    val withB = rows.withColumn("gb", expr(s"h DIV ${bw}L"))
    val bcounts = withB.groupBy(col("grp"), col("gb"))
      .agg(count(lit(1)).as("c"))
    // meta is TINY (≤ groups·nb rows) but derives from a corpus
    // aggregate; it feeds both union branches below, so pin it once
    // instead of re-running the bucket-count scan per consumer
    // (localCheckpoint for batch, parquet scratch on stream paths —
    // see pinTiny)
    val meta = pinTiny(bcounts
      .withColumn("cum_before", coalesce(
        sum(col("c")).over(Window.partitionBy(col("grp")).orderBy(col("gb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(targets, Seq("grp"))
      .where(col("cum_before") < col("target_n"))
      .select(col("grp"), col("gb"),
        (col("cum_before") + col("c") <= col("target_n")).as("keep_all"),
        (col("target_n") - col("cum_before")).as("k_in")),
      scratch, "ekpg_meta")
    val joined = withB.join(meta, Seq("grp", "gb"))
    val full = joined.where(col("keep_all")).select(col("grp"), col("id"), col("h"))
    val partial = joined.where(!col("keep_all"))
      // id tiebreak: h collides only across residue classes of the
      // prime (see selHash) — the tiebreak keeps selection
      // deterministic above 1e9 ids without changing any result below
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp"), col("gb"))
          .orderBy(col("h"), col("id"))))
      .where(col("rn") <= col("k_in"))
      .select(col("grp"), col("id"), col("h"))
    full.unionByName(partial)
  }

  /** Ranked variant of [[exactKPerGroup]] (q162): every selected row
    * WITH its exact 1-based rank in the group's h-order. Producing an
    * ORDER costs more than producing the SET — every surviving
    * bucket's rows see a row_number, not just the one partial bucket —
    * but the windows stay partitioned by (grp, bucket), so the largest
    * sorted partition is ~n_g/nb regardless of group skew (a per-group
    * rank window would sort n_g rows in one task). rnk = the bucket's
    * prefix count + the within-bucket rank, exact because h is
    * injective within a group.
    */
  private[graft] def exactKRanked(rows: org.apache.spark.sql.DataFrame,
                                  targets: org.apache.spark.sql.DataFrame,
                                  nb: Long = 1024L)
      : org.apache.spark.sql.DataFrame = {
    val bw = graft.functions.TextHash.Mod / nb + 1L
    val withB = rows.withColumn("gb", expr(s"h DIV ${bw}L"))
    val bcounts = withB.groupBy(col("grp"), col("gb"))
      .agg(count(lit(1)).as("c"))
    val meta = bcounts
      .withColumn("cum_before", coalesce(
        sum(col("c")).over(Window.partitionBy(col("grp")).orderBy(col("gb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(targets, Seq("grp"))
      .where(col("cum_before") < col("target_n"))
      .select(col("grp"), col("gb"), col("cum_before"),
        (col("cum_before") + col("c") <= col("target_n")).as("keep_all"),
        (col("target_n") - col("cum_before")).as("k_in"))
      .localCheckpoint()
    withB.join(meta, Seq("grp", "gb"))
      // id tiebreak mirrors exactKPerGroup's (see selHash)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp"), col("gb"))
          .orderBy(col("h"), col("id"))))
      .where(col("keep_all") || col("rn") <= col("k_in"))
      .select(col("grp"), col("id"), col("h"),
        (col("cum_before") + col("rn")).as("rnk"))
  }

  /** 64-bit-safe affine selection hash h = (A·(id mod P) + B) mod P,
    * P = 1,000,000,007. Reducing the id mod P BEFORE the multiply keeps
    * the product ≤ A·(P−1) ≈ 9.8e17 < 2^63, so h is the true
    * mathematical value over the whole int64 id domain — the naive
    * `A*id + B` form overflows (negative h, broken DIV bucketing) for
    * id ≳ 9.4e9, inside the multi-billion-row domain the scale notes
    * claim. Values are identical to the naive form for id < P, so every
    * oracle is unchanged. Injectivity (the no-ties premise of
    * [[exactKPerGroup]]/[[exactKRanked]]) holds only per residue class:
    * ids differing by a multiple of P collide, which is why those
    * helpers tiebreak their rank windows on id — selection stays
    * deterministic (not merely total-ordered by luck) above 1e9 ids.
    */
  private[graft] def selHash(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (lit(982451653L) * (id % lit(1000000007L)) + lit(12345L)) %
      lit(1000000007L)

  /** q144's document spine: (doc_id, lang, h) with the affine
    * selection hash (injective mod the prime ⇒ a total per-language
    * order with no ties below 1e9 docs; id tiebreaks cover the rest —
    * see [[selHash]]).
    */
  private[graft] def mixDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .withColumn("h", selHash(col("doc_id")))

  /** q144's α=0.5 temperature apportionment over per-language counts
    * (lang, n_lang) — shared with the q146 stream twin, whose folded
    * per-batch partials equal these counts exactly (counts are
    * additive). Weight w = isqrt(n) (floor(sqrt) + integer correction,
    * identical in both engines below 2^50); budget N DIV 2 split by
    * largest remainder with a lang tie-break; targets capped at group
    * size. All arithmetic on the ≤|langs|-row frame.
    */
  private[graft] def mixtureTargets(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = counts
      .withColumn("s0", floor(sqrt(col("n_lang").cast("double"))).cast("long"))
      .withColumn("w",
        when((col("s0") + 1) * (col("s0") + 1) <= col("n_lang"), col("s0") + 1)
          .when(col("s0") * col("s0") > col("n_lang"), col("s0") - 1)
          .otherwise(col("s0")))
      .drop("s0")
    val tot = w.agg(sum(col("n_lang")).as("n_total"),
                    sum(col("w")).as("w_total"))
    w.crossJoin(broadcast(tot))
      .withColumn("k_budget", expr("n_total DIV 2"))
      .withColumn("qnum", col("k_budget") * col("w"))
      .withColumn("base", expr("qnum DIV w_total"))
      .withColumn("rem", expr("qnum % w_total"))
      // unpartitioned window AUDIT: both windows run over the per-
      // language weight table — one row per distinct lang (single
      // digits here, at most vocabulary-of-languages anywhere), never
      // corpus rows
      .withColumn("base_sum", sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
      .withColumn("target_n", least(
        col("base") +
          when(col("rk") <= col("k_budget") - col("base_sum"), 1L)
            .otherwise(0L),
        col("n_lang")))
  }

  /** q144's election + summary: the target_n smallest-hash docs per
    * language via [[exactKPerGroup]], summarized as one row per
    * language pinning the selected SET (count + id/hash sums).
    */
  private[graft] def mixtureResult(docs: org.apache.spark.sql.DataFrame,
                                   ap: org.apache.spark.sql.DataFrame,
                                   scratch: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    // ap is ≤|langs| rows but derives from a corpus count aggregate and
    // feeds two consumers (the election targets + the output spine) —
    // pin the tiny frame so the corpus agg runs once (localCheckpoint
    // for batch, parquet scratch on the q146 stream path — see pinTiny)
    val apC = pinTiny(ap, scratch, "mix_ap")
    val sel = exactKPerGroup(
      docs.select(col("lang").as("grp"), col("doc_id").as("id"), col("h")),
      apC.select(col("lang").as("grp"), col("target_n")),
      scratch = scratch)
    val kept = sel.groupBy(col("grp")).agg(
      count(lit(1)).as("n_kept"),
      sum(col("id")).as("sel_sum_id"),
      sum(col("h")).as("sel_sum_h"))
    apC.join(kept, apC("lang") === kept("grp"), "left")
      .na.fill(0L, Seq("n_kept", "sel_sum_id", "sel_sum_h"))
      .select(col("lang"), col("n_lang"), col("w"), col("target_n"),
              col("n_kept"), col("sel_sum_id"), col("sel_sum_h"))
      .orderBy(col("lang"))
  }

  /** q149's profile over any (text) frame — factored so the spec can
    * drive planted 2-4× and 5+× repeats through every bucket branch
    * (the driver fixture has exact repeats only from sf0.1 up).
    */
  private[graft] def repetitionProfile(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = docs
      .withColumn("n_tok",
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .groupBy(col("text"))
      .agg(count(lit(1)).as("m"), first(col("n_tok")).as("n_tok"))
      .withColumn("bucket",
        when(col("m") === 1, "1")
          .when(col("m") <= 4, "2-4").otherwise("5+"))
    val tot = g.agg(sum(col("m") * col("n_tok")).as("tot_tokens"))
    g.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_texts"),
           sum(col("m")).as("n_docs"),
           sum(col("m") * col("n_tok")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("permille_tokens",
        expr("(1000 * n_tokens) DIV tot_tokens"))
      .select(col("bucket"), col("n_texts"), col("n_docs"),
              col("n_tokens"), col("permille_tokens"))
      .orderBy(col("bucket"))
  }

  /** q152's per-label purity report over any assignment: contingency
    * (bucket, label) counts, per-bucket majority by the deterministic
    * (count DESC, label ASC) argmax — min(struct(-cnt, label)), the
    * q12/q137 associative-argmax pattern, so no window — then per-label
    * totals with labels that win no cluster kept at zero. Factored so
    * the spec can drive a planted tie through the argmax.
    */
  private[graft] def clusterPurity(asg: org.apache.spark.sql.DataFrame,
                                   lab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cont = asg.join(lab, Seq("vec_id"))
      .groupBy(col("bucket"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val winners = cont.groupBy(col("bucket"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("w"))
      .select(col("bucket"), col("w.l").as("label"), (-col("w.nc")).as("wcnt"))
    val byLabel = winners.groupBy(col("label"))
      .agg(count(lit(1)).as("n_clusters_won"), sum(col("wcnt")).as("n_majority"))
    lab.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(byLabel, Seq("label"), "left")
      .na.fill(0L, Seq("n_clusters_won", "n_majority"))
      .withColumn("permille_captured", expr("(1000 * n_majority) DIV n_vecs"))
      .select(col("label"), col("n_vecs"), col("n_clusters_won"),
        col("n_majority"), col("permille_captured"))
      .orderBy(col("label"))
  }

  /** The q105-family unigram-ladder-LM document scoring shared by
    * q150 (rank split) and q151 (threshold sweep): one tokenize pass,
    * a broadcast LM (vocab-bounded), and a per-doc aggregate to
    * (doc_id, n_tok, sum_bits, cb) with integer mean centibits
    * cb = (100·Σbits) DIV n_tok. Oracle twin: [[lmScoredCtes]].
    */
  private[graft] def lmScored(docsDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docsDf
      .select(col("doc_id"),
        explode_outer(split(col("text"), " ")).as("tok"))
      .where(col("tok").isNotNull && col("tok") =!= "")
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val nTot = toks.agg(count(lit(1)).as("nt"))
    val r = expr("nt div freq")
    val lm = freqs.crossJoin(broadcast(nTot))
      .withColumn("bits", TextOps.log2Ladder.foldLeft(lit(0L)) {
        case (acc, p) => when(r >= (1L << p), lit(p.toLong)).otherwise(acc)
      })
      .select(col("tok"), col("bits"))
    toks.join(broadcast(lm), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("bits")).as("sum_bits"))
      .withColumn("cb", expr("(100 * sum_bits) DIV n_tok"))
  }

  /** q150's rank-split over a scored frame (doc_id, n_tok, sum_bits,
    * cb): exact equal-count terciles by (cb, doc_id) order. The per-cb
    * count frame is bounded by the score domain (cb ≤ 100·62), so the
    * boundary election is a driver fold over ≤6201 rows — the
    * documented bounded-collect pattern — and only the boundary
    * scores' rows are rank-windowed.
    */
  private[graft] def pplTerciles(scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tercileAssign(scored)
      .groupBy(col("tercile"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("n_toks"),
           sum(col("sum_bits")).as("sum_bits"),
           min(col("cb")).as("min_cb"),
           max(col("cb")).as("max_cb"))
      .orderBy(col("tercile"))

  /** Per-row tercile classification for a scored frame — q150's split
    * before its aggregate, factored so q156 can cross the bucket with
    * other per-doc signals. Same order statistic: per-cb counts
    * (score-domain-bounded, ≤6201 rows) elect the two boundaries in a
    * bounded driver fold; only the ≤2 boundary scores' rows see a rank
    * window; every other row classifies scan-side from broadcast
    * literals.
    */
  private[graft] def tercileAssign(scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sc = scored.localCheckpoint()
    val counts = sc.groupBy(col("cb")).agg(count(lit(1)).as("c"))
      .orderBy(col("cb")).collect()
    val n = counts.map(_.getLong(1)).sum
    // boundary k: the k-th ranked row sits at the first cb whose
    // cumulative count reaches k; kin = rank within that cb's rows
    def boundary(k: Long): (Long, Long) =
      if (k <= 0) (Long.MinValue, 0L)
      else {
        var cum = 0L
        var res = (Long.MaxValue, 0L)
        var found = false
        for (r <- counts if !found) {
          val cb = r.getLong(0); val c = r.getLong(1)
          if (cum < k && k <= cum + c) { res = (cb, k - cum); found = true }
          cum += c
        }
        res
      }
    val (sb1, kin1) = boundary(n / 3)
    val (sb2, kin2) = boundary(2 * n / 3)
    val bnd = sc.where(col("cb") === sb1 || col("cb") === sb2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cb")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("rn"))
    val below1 = when(col("cb") < sb1, true)
      .when(col("cb") === sb1, col("rn") <= kin1).otherwise(false)
    val below2 = when(col("cb") < sb2, true)
      .when(col("cb") === sb2, col("rn") <= kin2).otherwise(false)
    sc.join(bnd, Seq("doc_id"), "left")
      .withColumn("tercile",
        lit(2L) - below2.cast("long") - below1.cast("long"))
      .drop("rn")
  }

  /** The q105/q150/q151 unigram-ladder-LM scoring CTEs: every doc's
    * token count, summed ladder bits, and integer mean centibits
    * `cb = (100·Σbits) DIV n_tok` — the shared prefix of every oracle
    * that replays [[lmScored]].
    */
  private[graft] def lmScoredCtes: String =
    s"""WITH w AS (SELECT doc_id,
       |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |       FROM documents),
       |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY tok),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM w),
       |b AS (SELECT tok, CAST(CASE ${TextOps.log2Ladder.reverse.map(p =>
              s"WHEN nt // freq >= ${1L << p} THEN $p").mkString(" ")}
       |        ELSE 0 END AS BIGINT) AS bits FROM f, n),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |        CAST(sum(bits) AS BIGINT) AS sum_bits
       |      FROM w JOIN b USING (tok) GROUP BY doc_id),
       |sc AS (SELECT doc_id, n_tok, sum_bits,
       |         (100 * sum_bits) // n_tok AS cb FROM s)""".stripMargin

  /** q150's oracle: DuckDB re-trains the ladder LM (q105's CTEs),
    * re-scores in centibits, and replays the rank split as one
    * row_number over (cb, doc_id) — the replay form of the engine's
    * bounded-count order statistic.
    */
  private[graft] def tercilesSql: String =
    s"""$lmScoredCtes,
       |r AS (SELECT *, row_number() OVER (ORDER BY cb, doc_id) AS rk,
       |        count(*) OVER () AS nn FROM sc)
       |SELECT CAST(CASE WHEN rk <= nn // 3 THEN 0
       |            WHEN rk <= (2 * nn) // 3 THEN 1 ELSE 2 END AS BIGINT)
       |         AS tercile,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_toks,
       |       CAST(sum(sum_bits) AS BIGINT) AS sum_bits,
       |       CAST(min(cb) AS BIGINT) AS min_cb,
       |       CAST(max(cb) AS BIGINT) AS max_cb
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** q107's tokenized form: (doc_id, toks) with empty tokens dropped. */
  private[graft] def tokedDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      filter(split(col("text"), " "), t => t =!= "").as("toks"))

  /** One (doc_id, prev, tok) row per adjacent token pair. */
  private[graft] def docBigrams(toked: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toked
      .select(col("doc_id"), posexplode_outer(
        when(size(col("toks")) >= 2, zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("prev"), y.as("tok"))))
          .otherwise(array().cast("array<struct<prev:string,tok:string>>")))
        .as(Seq("pos", "p")))
      .where(col("p").isNotNull)
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.tok").as("tok"))

  /** The LM from a (prev, tok, c2) bigram-count table: conditional bit
    * costs via the shared ladder. c1 (context count) is DERIVED as the
    * sum of c2 over the row's prev — which is what makes the counts the
    * complete streaming state: partial per-batch counts fold with plain
    * sums and the LM rebuilds from the fold (q122).
    */
  private[graft] def bigramBits(c2f: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val c1 = c2f.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val r = expr("c1 div c2")
    c2f.join(c1, Seq("prev"))
      .withColumn("bits", TextOps.log2Ladder.foldLeft(lit(0L)) {
        case (acc, p) => when(r >= (1L << p), lit(p.toLong)).otherwise(acc)
      })
      .select(col("prev"), col("tok"), col("bits"))
  }

  /** Score every doc under the LM and gate; q107's output tail. */
  private[graft] def scoreWithLm(toked: org.apache.spark.sql.DataFrame,
                                 bg: org.apache.spark.sql.DataFrame,
                                 lm: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val scored = bg.join(broadcast(lm), Seq("prev", "tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_big"), sum(col("bits")).as("sum_bits2"))
    toked.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("sum_bits2"), lit(0L)).as("sum_bits2"))
      .withColumn("ppl2_pass",
        (col("sum_bits2") * 100 <= col("n_big") * 432).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** The q107 operator body, exposed for hand-checked spec inputs:
    * bigram-LM training + integer-surprisal scoring over any
    * (doc_id, text) frame.
    */
  private[graft] def bigramGate(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toked = tokedDocs(docs)
    val bg = docBigrams(toked)
    val c2 = bg.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
    scoreWithLm(toked, bg, bigramBits(c2))
  }

  val defs: Seq[Q] = Seq(

    // ---- Cluster-scoped semantic dedup (SemDeDup family) -----------------
    // q43b/q43c prune EXACT cosine pairs with a complete spherical-cap
    // candidate bound — the verification path. This is the scale path
    // from the SemDeDup line of work: coarse-cluster the embeddings,
    // then drop any vector whose rounded cosine to a LOWER-ID vector in
    // the SAME cluster reaches the threshold (keep-lowest-id, q43c's
    // convention; direct similarity, not transitive closure — each drop
    // names a kept-or-dropped earlier witness). Candidates are
    // within-cluster only, so the pair cost is sum(c_i^2) over cluster
    // sizes instead of n^2 — with bounded cluster sizes (k grows with
    // n), that is linear-ish in the corpus; the price is recall at
    // cluster borders: on this fixture the exact q43b finds 14 pairs at
    // the same threshold, the cluster-scoped pass sees the 7 that fall
    // inside one cell (OpsSpec asserts the containment).
    //
    // The quantizer is q86's oracle-able seeded construction (first-k
    // corpus vectors as centroids, rounded-cosine argmax with index
    // tie-breaks) with the centroid count ADAPTIVE to the corpus:
    // k = max(8, N div 2500), computed identically by both engines.
    // Fixed k makes the within-cell pair cost quadratic per decade of
    // corpus growth (measured 7.1× per 10× at fixed k=8); k ∝ N pins
    // the average cell near 2500 so Σc_i² ≈ 2500·N — linear by
    // construction. With k ∝ N, a FLAT argmax assignment would itself
    // cost N·k = N²/2500 cosines (the round-7 verdict's scale-killer:
    // 1.6e15 cosines at 2B vectors), so assignment is the TWO-LEVEL
    // seeded quantizer (assignTwoLevel): ⌊√k⌋ super-cells route each
    // vector to its top-2 cells, then argmax only those cells' member
    // centroids — N·3√k work, same deterministic construction, replayed by
    // the oracle's CTE chain. Physical shape: two broadcast arrays
    // (k1 super-centroids, k1 member-centroid lists) folded per row
    // scan-side — assignment shuffles nothing; the only exchanges are
    // the bucket-keyed self-join and the anti-join flag.
    Q(
      "q106_semantic_dedup",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
        val n = e.count()
        val k = adaptiveK(n)
        // materialize the assignment once: it feeds three consumers
        // (both pair-join sides + the output spine), and without the
        // checkpoint each would re-scan and re-assign the corpus —
        // the q111 bucket store is the durable form of the same idea
        val assigned = assignTwoLevel(e, k).localCheckpoint()
        // A drop is any vector with a lower-id ≥0.45 witness in its
        // cell. Two physically-identical-result regimes (OpsSpec pins
        // kernel ≡ row-join on the fixture; both engines' answers and
        // the oracle are unchanged either way):
        //  - corpus scale: the BLOCKED exact kernel (round 11) — the
        //    row-pair self-join streamed Σc² joined rows, each carrying
        //    two 64-double vectors, through the expression evaluator;
        //    the kernel scores the same pairs (bit-identical
        //    left-to-right dot + round-4) in block-sized primitive
        //    loops. Measured: sf10 26.8 → 10.5 s, sf100 155.1 → 29.6 s.
        //  - small corpora: the plain row-pair join — the kernel's
        //    block build (counts join + collect_list + block-pair
        //    join) is fixed overhead that outweighs its per-pair win
        //    below ~100K vectors (measured +0.7-1.2 s at sf0.1's 20K).
        val drops =
          if (n >= 100000L)
            graft.ops.CosineDedup
              .pairsWithinBuckets(assigned, dim = 64, threshold = 0.45)
              .select(col("vec_b").as("vec_id")).distinct()
          else {
            val a = assigned.select(col("bucket"), col("vec_id").as("a_id"),
              col("v").as("av"), col("n2").as("an2"))
            assigned.join(a, Seq("bucket"))
              .where(col("a_id") < col("vec_id"))
              .where(round(dotProduct(col("v"), col("av")) /
                sqrt(col("n2") * col("an2")), 4) >= 0.45)
              .select(col("vec_id")).distinct()
          }
        assigned
          .join(drops.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
            when(col("dropped").isNull, 1L).otherwise(0L).as("keep"))
          .orderBy(col("vec_id"))
      },
      Some(s"""$twoLevelAsgCtes,
             |drops AS (SELECT DISTINCT b.vec_id
             |          FROM asg a JOIN asg b
             |            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             |          WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45)
             |SELECT asg.vec_id, CAST(bucket AS BIGINT) AS bucket,
             |       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM asg LEFT JOIN drops d ON asg.vec_id = d.vec_id
             |ORDER BY asg.vec_id""".stripMargin)),

    // ---- Any-scale exact-pair auto-route under oracle (round-9 W27) ------
    // The routed branch of CosineDedup.pairsAboveAuto pinned to the
    // DuckDB gate: maxRows=100 forces the cluster route on every
    // fixture, so the hash-compared answer IS the over-guard behavior —
    // TOP-2 fine-cell multi-assignment (the `asg2` branch of the q106
    // CTE chain; round-10 recall fix, 0.381 → measured ≥0.7 on the
    // planted-cluster fixture) followed by the exact blocked kernel
    // WITHIN each cell, pair-deduped across the two shared cells.
    // Results are a determinate subset of q43b's exact pair set (pairs
    // neither endpoint ranks in its top-2 cells are missed — the
    // documented SemDeDup trade); identical cos_r on every emitted pair
    // because it is the same kernel. Scale shape: the only exchanges
    // are the bucket-keyed block groupBy, the block-pair join, and the
    // pair dedup — kernel work ~n·5000 (k ∝ n pins mean cell near
    // 2500, ×4 for doubled cell population) vs the exact path's n²/2.
    Q(
      "q140_pairs_auto_routed",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
        graft.ops.CosineDedup
          .pairsAboveAuto(e, threshold = 0.45, dim = 64, maxRows = 100L)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(s"""$twoLevelAsgCtes
             |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |       round(list_cosine_similarity(a.v, b.v), 4) AS cos_r
             |FROM asg2 a JOIN asg2 b
             |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45
             |ORDER BY vec_a, vec_b""".stripMargin)),

    // ---- DSIR importance selection (target-vs-raw hashed-n-gram LM) ------
    // Data Selection via Importance Resampling (Xie et al. 2023): given
    // a small TARGET sample inside a large raw corpus, score every raw
    // document by how target-like its token distribution is —
    // sum over tokens of log p_target(bucket) / p_raw(bucket) under two
    // hashed-unigram bag models — and keep the top k. The curation
    // stage that bootstraps a domain corpus from a seed sample.
    //
    // Integer-exact variant (the q105/q107 ladder rules): tokens hash
    // to 256 buckets via the portable polynomial; a bucket's weight is
    // the floor-log2 DIFFERENCE of the cross-multiplied smoothed counts
    // ladder((tc+1)(rt+dim)) - ladder((rc+1)(tt+dim)) ~ log2(p_t/p_r)
    // (add-one smoothing keeps unseen-in-target buckets finite), and a
    // doc is scored by its per-token MEAN weight in centibits
    // (cb = (100*(score + 64*n_tok)) div n_tok, offset so the truncating
    // div is floor on both engines) — the raw importance-weight sum
    // drifts with doc length, so top-k by sum degenerates to shortest-
    // docs-first (measured; the doc comment on dsirSelect records both
    // design forks). Every output is a BIGINT — both engines replay it
    // bit for bit. Target here is CONTENT-defined (docs containing the
    // rare token "dup", the planted near-dup family): the one fixture
    // subpopulation with a genuinely skewed distribution, so selection
    // carries real signal — 18 of 25 dup docs in the top-50 vs a 6.7%
    // base rate, 10.7x enrichment (the old §2.15 exclusion note
    // documents why a LANG-defined target cannot discriminate here).
    //
    // Scale shape: ONE token pass feeds both models (target ⊆ raw, so
    // raw + target bucket counts come from the same map-side-combined
    // aggregate — 256 rows); the λ table broadcasts to a second narrow
    // scoring pass; selection is the O(k)-state TopKBy threshold (kth
    // largest packed (score, doc_id) key, 1 row, broadcast) + a
    // map-side flag — NO global rank window, no corpus sort. The
    // oracle's row_number() formulation is the replay path; key order
    // equals (score DESC, doc_id ASC) because doc_id < 2^32 packs into
    // the low word.
    Q(
      "q141_dsir_select",
      (s, d) => dsirSelect(
        Tables.documents(s, d),
        isTarget = array_contains(split(col("text"), " "), "dup"),
        dim = 256, k = 50),
      Some(dsirSql(dim = 256, k = 50))),

    // ---- DSIR model training over a document STREAM ----------------------
    // q141's continuous-ingestion twin (the q109/q122/q138 additive-
    // statistics pattern): each micro-batch appends one 256-row partial
    // bucket-count file; counts are additive and the totals derive from
    // the counts, so the folded store equals the batch statistics and
    // the rebuilt λ + selection over the arrived corpus is bit-identical
    // to q141 — both share one oracle, which therefore checks the
    // cross-batch count handoff AND the totals derivation end to end.
    // (no session-wide shuffle-partition clamp here, unlike the store
    // streams: the per-batch partials already run under the harness's
    // narrow shuffles inside foreachBatch, and the final scoring pass is
    // corpus-wide — clamping it to 8 partitions cost 7x at sf10,
    // measured 120s -> see PLANS round-9 close-out)
    Q(
      "q142_dsir_stream",
      (s, d) => graft.streaming.DsirStream.runOn(
        s, Tables.documents(s, d), nSplits = 2, dim = 256, k = 50),
      Some(dsirSql(dim = 256, k = 50))),

    // ---- Conditional-model quality gate (bigram-LM perplexity) -----------
    // The next rung past q105's unigram filter: score every document
    // under a bigram model trained on the corpus — token cost is the
    // CONDITIONAL surprisal floor(log2(c(prev) div c(prev,tok))) via the
    // shared integer log2 ladder, where c(prev) counts prev as a context
    // (non-final occurrences) so the ratio is an exact conditional
    // frequency. Unigram filtering scores the vocabulary mix; the bigram
    // gate scores local coherence — repeated boilerplate transitions
    // cost ~0 bits while rare transitions are expensive, which is the
    // signal CCNet-style wiki-LM filters actually use. Gate: mean bits
    // per bigram <= 4.32 as the integer cross-multiplication
    // sum_bits2*100 <= n_big*432 (the fixture corpus's mean — both
    // outcomes occur).
    //
    // Scale shape: the LM state is the bigram-TYPE table (Zipf-squared
    // bounded, far sublinear in the corpus). Training is one bigram
    // aggregate + one context aggregate; scoring joins the corpus
    // bigrams against the LM on the (prev, tok) pair — broadcast here,
    // and at 100 TB a shuffled hash join keyed on the two strings (or
    // their 8-byte pack), NOT a window: each side shuffles once on the
    // same key. Docs with fewer than 2 tokens carry no evidence and
    // gate to pass (n_big = 0, sum_bits2 = 0).
    Q(
      "q107_bigram_ppl_gate",
      (s, d) => bigramGate(Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))),
      Some(bigramSql)),

    // ---- MMR diverse selection (relevance with a redundancy penalty) -----
    // Maximal marginal relevance (Carbonell & Goldstein 1998): pick k
    // exemplars that are relevant to a query vector AND mutually
    // diverse — round r's pick maximizes 0.7*rel - 0.3*max_sim_to_
    // selected (first pick: pure relevance). The selection stage behind
    // diverse few-shot exemplars and dedup-aware RAG reranking.
    //
    // Iterative by nature, so the shape is the q99/q60 driver-step
    // pattern: k tiny rounds, each one distributed argmax over the
    // candidates plus a broadcast of the single picked vector to update
    // every candidate's running max-similarity (localCheckpoint'd so
    // round r doesn't replay rounds 1..r-1). The REGISTERED form is the
    // production composition: candidates are first bounded to the
    // query's seeded-IVF cell reranked to the top N=100 by relevance
    // (mmrCandidates — one TakeOrderedAndProject over one cell), and
    // the k rounds then scan at most N rows each, never the corpus —
    // 2k full-table scans of a 100 TB embedding table was the
    // unregistrable shape. The corpus-wide form survives in
    // SelectionOpsSpec on fixture-sized inputs. All scores are
    // rounded-cosine arithmetic with vec_id tie-breaks; the oracle
    // replays the same cell-top-N candidate rule, then every round
    // with generated CTEs (argmax + running-max update, the q99
    // pattern).
    Q(
      "q110_mmr_select",
      (s, d) => mmrSelect(s,
        mmrCandidates(
          Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
            .withColumn("n2", squaredNorm(col("v")))
            .where(col("n2") > 0d), // withNorm semantics: no cosine, no row
          n = 100),
        k = 10),
      Some(mmrSql(10, 100))),

    // ---- Streaming ANN index maintenance (q86's ingestion twin) ----------
    // Vectors arrive as files; the first batch pins the seeded coarse
    // quantizer, every batch assigns its vectors against the persisted
    // centroids and appends to the bucket store — the index grows
    // incrementally, no rebuild. Assignment is a pure per-vector
    // function of the pinned centroids, so the accumulated store equals
    // the batch-built index and the q86 probe over it reproduces the
    // batch output row for row: q111 shares q86's oracle end to end.
    Q(
      "q111_ivf_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.IvfStream.runOn(
          s, Tables.embeddings(s, d), nSplits = 2)
      },
      Some(TrainingOps.ivfSeededSql)),

    // ---- ANN recall report (index quality as a first-class query) --------
    // The measurement loop every production ANN deployment runs: for
    // each query vector, how much of the EXACT top-k does the
    // bucket-scoped probe recover? Exact side: brute-force rounded
    // cosine over the corpus (the verification path — at 100 TB this
    // side runs on a sampled query panel, not every query). Approx
    // side: q86's seeded-IVF probe. Output is integer recall per query
    // (n_common*100 div 3), so the report is hash-stable and the
    // oracle replays both rankings and their intersection. On this
    // isotropic fixture the single-probe recall is LOW (10/30 exact
    // neighbors recovered at sf0.001) — precisely the honest signal
    // the report exists to surface: nprobe=1 over 8 random-seeded
    // cells loses cross-cell neighbors, and the T20 multi-probe
    // ladder (VectorOps.ivfTopK) is the recovery lever.
    Q(
      "q112_ann_recall_report",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
        val probes = e.where(col("vec_id") >= 8 && col("vec_id") < 18)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("n2").as("qn2"))
        val exact = e.crossJoin(broadcast(probes))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("cos_r",
            round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos_r").desc, col("vec_id"))))
          .where(col("rn") <= 3)
          .select(col("q_id"), col("vec_id").as("n_id"))
        val approx = Registry.byName("q86_ivf_seeded_ann").run(s, d)
          .select(col("q_id"), col("n_id"))
        val common = exact.join(approx, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
        probes.select(col("q_id"))
          .join(common, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_common"), lit(0L)).as("n_common"))
          .withColumn("recall_pct", expr("(n_common * 100) div 3"))
          .orderBy(col("q_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
             |asg AS (SELECT vec_id, v, c_id AS bucket FROM (
             |          SELECT e.vec_id, e.v, c.c_id,
             |                 row_number() OVER (PARTITION BY e.vec_id
             |                   ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn
             |          FROM e, cent c)
             |        WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, v AS qv, bucket
             |      FROM asg WHERE vec_id >= 8 AND vec_id < 18),
             |appr AS (SELECT q_id, n_id FROM (
             |           SELECT q.q_id, a.vec_id AS n_id,
             |                  row_number() OVER (PARTITION BY q.q_id
             |                    ORDER BY round(list_cosine_similarity(a.v, q.qv), 4) DESC, a.vec_id) AS rn
             |           FROM q JOIN asg a ON a.bucket = q.bucket
             |           WHERE a.vec_id <> q.q_id)
             |         WHERE rn <= 3),
             |ex AS (SELECT q_id, n_id FROM (
             |         SELECT q.q_id, e.vec_id AS n_id,
             |                row_number() OVER (PARTITION BY q.q_id
             |                  ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC, e.vec_id) AS rn
             |         FROM q, e
             |         WHERE e.vec_id <> q.q_id)
             |       WHERE rn <= 3),
             |c AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_common
             |      FROM ex JOIN appr ON ex.q_id = appr.q_id AND ex.n_id = appr.n_id
             |      GROUP BY ex.q_id)
             |SELECT q.q_id, coalesce(c.n_common, 0) AS n_common,
             |       coalesce(c.n_common, 0) * 100 // 3 AS recall_pct
             |FROM q LEFT JOIN c ON q.q_id = c.q_id
             |ORDER BY q.q_id""".stripMargin)),

    // ---- Multi-probe recall report (the q112 recovery lever) -------------
    // Same report at nprobe=2: each query searches its TWO nearest
    // cells instead of one. Per-query recall is monotone in nprobe by
    // construction (the probed set only grows), and on this fixture the
    // recovery is material — the oracle-checked output that justifies
    // the multi-probe ladder as the knob you turn before giving up
    // bucket pruning. Probe cost doubles; still cells, never corpus.
    Q(
      "q113_ann_recall_nprobe2",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
        val assigned = assignSeeded(e)
        val cent = seedCentroids(e)
        val probes = e.where(col("vec_id") >= 8 && col("vec_id") < 18)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("n2").as("qn2"))
        // each query's two nearest cells (same rounded-cosine ranking
        // as assignment, kept to rn <= 2)
        val probed = probes.crossJoin(broadcast(cent))
          .withColumn("cos_c",
            round(dotProduct(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")), 4))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cos_c").desc, col("c_id"))))
          .where(col("rn") <= 2)
          .select(col("q_id"), col("qv"), col("qn2"), col("c_id").as("bucket"))
        val approx = assigned.join(broadcast(probed), Seq("bucket"))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("cos_r",
            round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
          .where(col("rn") <= 3)
          .select(col("q_id"), col("vec_id").as("n_id"))
        val exact = e.crossJoin(broadcast(probes))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("cos_r",
            round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos_r").desc, col("vec_id"))))
          .where(col("rn") <= 3)
          .select(col("q_id"), col("vec_id").as("n_id"))
        val common = exact.join(approx, Seq("q_id", "n_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
        probes.select(col("q_id"))
          .join(common, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_common"), lit(0L)).as("n_common"))
          .withColumn("recall_pct", expr("(n_common * 100) div 3"))
          .orderBy(col("q_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
             |asg AS (SELECT vec_id, v, c_id AS bucket FROM (
             |          SELECT e.vec_id, e.v, c.c_id,
             |                 row_number() OVER (PARTITION BY e.vec_id
             |                   ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn
             |          FROM e, cent c)
             |        WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, v AS qv
             |      FROM e WHERE vec_id >= 8 AND vec_id < 18),
             |pb AS (SELECT q_id, qv, c_id AS bucket FROM (
             |         SELECT q.q_id, q.qv, c.c_id,
             |                row_number() OVER (PARTITION BY q.q_id
             |                  ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.c_id) AS rn
             |         FROM q, cent c)
             |       WHERE rn <= 2),
             |appr AS (SELECT q_id, n_id FROM (
             |           SELECT p.q_id, a.vec_id AS n_id,
             |                  row_number() OVER (PARTITION BY p.q_id
             |                    ORDER BY round(list_cosine_similarity(a.v, p.qv), 4) DESC, a.vec_id) AS rn
             |           FROM pb p JOIN asg a ON a.bucket = p.bucket
             |           WHERE a.vec_id <> p.q_id)
             |         WHERE rn <= 3),
             |ex AS (SELECT q_id, n_id FROM (
             |         SELECT q.q_id, e.vec_id AS n_id,
             |                row_number() OVER (PARTITION BY q.q_id
             |                  ORDER BY round(list_cosine_similarity(e.v, q.qv), 4) DESC, e.vec_id) AS rn
             |         FROM q, e
             |         WHERE e.vec_id <> q.q_id)
             |       WHERE rn <= 3),
             |c AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_common
             |      FROM ex JOIN appr ON ex.q_id = appr.q_id AND ex.n_id = appr.n_id
             |      GROUP BY ex.q_id)
             |SELECT q.q_id, coalesce(c.n_common, 0) AS n_common,
             |       coalesce(c.n_common, 0) * 100 // 3 AS recall_pct
             |FROM q LEFT JOIN c ON q.q_id = c.q_id
             |ORDER BY q.q_id""".stripMargin)),

    // ---- Per-dimension embedding moments (one bounded aggregate) ---------
    // Mean and std per embedding dimension — the normalization /
    // whitening statistics a feature pipeline computes before training.
    // Scale shape: ONE vec_sum aggregate pass (graft.functions.VecSum,
    // the dense-vector sibling of KMV/CMS bounded mergeable state) —
    // each task ships 2 x 64 doubles (entrywise sums + sums of
    // squares), where the naive posexplode + groupBy(dim) shape
    // shuffles 64x the corpus row count. The 64-row moment table then
    // unpacks with one posexplode over the single result row.
    Q(
      "q114_embed_dim_stats",
      (s, d) => {
        import graft.functions.VectorAgg.vecSum
        val dim = 64
        val e = Tables.embeddings(s, d)
          .select(col("embedding").cast("array<double>").as("v"))
        e.agg(
            vecSum(col("v"), dim).as("s1"),
            vecSum(transform(col("v"), x => x * x), dim).as("s2"),
            count(lit(1)).as("n"))
          .select(col("n"), posexplode(zip_with(col("s1"), col("s2"),
            (a, b) => struct(a.as("s1"), b.as("s2")))).as(Seq("dim", "p")))
          .select(col("dim").cast("long").as("dim"),
            round(col("p.s1") / col("n"), 4).as("mean"),
            // greatest(.,0) guards the numerically-tiny-negative
            // variance a constant dimension would produce (sqrt of a
            // negative is NaN, and NaN never hash-matches)
            round(sqrt(greatest(col("p.s2") / col("n") -
              pow(col("p.s1") / col("n"), 2), lit(0.0d))), 4).as("std"))
          .orderBy(col("dim"))
      },
      Some("""WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
             |x AS (SELECT CAST(u.i - 1 AS BIGINT) AS dim, v[u.i] AS x
             |      FROM v, unnest(range(1, 65)) AS u(i))
             |SELECT dim, round(sum(x) / count(*), 4) AS mean,
             |       round(sqrt(greatest(sum(x*x) / count(*)
             |             - power(sum(x) / count(*), 2), 0)), 4) AS std
             |FROM x GROUP BY dim ORDER BY dim""".stripMargin)),

    // ---- Contrastive pair mining (positives + hard negatives) ------------
    // The data-prep stage behind contrastive embedding training: for
    // each query vector, its most similar SAME-label neighbor (the
    // positive) and its most similar DIFFERENT-label neighbor (the
    // hard negative — the pair that actually moves the loss, vs a
    // random negative that is already far). Candidates come from the
    // query's IVF cell (the q86 probe), so mining cost stays
    // cluster-scoped; one window ranks both roles at once, partitioned
    // on (query, same-label?). Left joins keep queries whose cell
    // lacks one role (schema-stable; both roles exist on the fixture).
    Q(
      "q115_hard_negatives",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
            col("label").cast("long").as("label"))
          .withColumn("n2", squaredNorm(col("v")))
        val assigned = assignSeeded(e.select(col("vec_id"), col("v"), col("n2")))
          .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
        val probes = assigned.where(col("vec_id") >= 8 && col("vec_id") < 18)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("n2").as("qn2"), col("label").as("q_label"), col("bucket"))
        val ranked = assigned.join(broadcast(probes), Seq("bucket"))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("cos_r",
            round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
          .withColumn("is_pos", (col("label") === col("q_label")).cast("int"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"), col("is_pos"))
              .orderBy(col("cos_r").desc, col("vec_id"))))
          .where(col("rn") === 1)
        probes.select(col("q_id"), col("q_label"))
          .join(ranked.where(col("is_pos") === 1)
            .select(col("q_id"), col("vec_id").as("pos_id"),
              col("cos_r").as("pos_cos")), Seq("q_id"), "left")
          .join(ranked.where(col("is_pos") === 0)
            .select(col("q_id"), col("vec_id").as("neg_id"),
              col("cos_r").as("neg_cos")), Seq("q_id"), "left")
          .orderBy(col("q_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             |              CAST(label AS BIGINT) AS label FROM embeddings),
             |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
             |asg AS (SELECT vec_id, v, label, c_id AS bucket FROM (
             |          SELECT e.vec_id, e.v, e.label, c.c_id,
             |                 row_number() OVER (PARTITION BY e.vec_id
             |                   ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn
             |          FROM e, cent c)
             |        WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label, bucket
             |      FROM asg WHERE vec_id >= 8 AND vec_id < 18),
             |r AS (SELECT q.q_id, a.vec_id, a.label = q.q_label AS is_pos,
             |             round(list_cosine_similarity(a.v, q.qv), 4) AS cos_r,
             |             row_number() OVER (
             |               PARTITION BY q.q_id, a.label = q.q_label
             |               ORDER BY round(list_cosine_similarity(a.v, q.qv), 4) DESC, a.vec_id) AS rn
             |      FROM q JOIN asg a ON a.bucket = q.bucket
             |      WHERE a.vec_id <> q.q_id),
             |p AS (SELECT q_id, vec_id AS pos_id, cos_r AS pos_cos
             |      FROM r WHERE is_pos AND rn = 1),
             |n AS (SELECT q_id, vec_id AS neg_id, cos_r AS neg_cos
             |      FROM r WHERE NOT is_pos AND rn = 1)
             |SELECT q.q_id, q.q_label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
             |FROM q LEFT JOIN p ON q.q_id = p.q_id
             |       LEFT JOIN n ON q.q_id = n.q_id
             |ORDER BY q.q_id""".stripMargin)),

    // ---- Exact-proportion stratified split (q91's deterministic twin) ----
    // q91's hash split gives STATISTICAL 80/10/10 with zero shuffle —
    // the default at 100 TB. When a small stratum must hit its
    // proportions exactly (per-lang eval sets, low-resource langs), the
    // exact form ranks each stratum and cuts at floor(0.8n)/floor(0.9n):
    // one shuffle + sort per stratum (a window, honestly priced), which
    // is affordable precisely because strata needing exactness are
    // small. Output is per-(lang, split) accounting; the per-doc
    // assignment is the same frame before the rollup.
    Q(
      "q116_stratified_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val ranked = docs
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
          .join(broadcast(n), Seq("lang"))
          .withColumn("split",
            when(col("rk") <= expr("(n * 8) div 10"), "train")
              .when(col("rk") <= expr("(n * 9) div 10"), "val")
              .otherwise("test"))
        ranked.groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("lang"), col("split"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk,
             |         count(*) OVER (PARTITION BY lang) AS n
             |       FROM documents),
             |a AS (SELECT doc_id, lang,
             |        CASE WHEN rk <= (n * 8) // 10 THEN 'train'
             |             WHEN rk <= (n * 9) // 10 THEN 'val'
             |             ELSE 'test' END AS split
             |      FROM d)
             |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
             |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
             |FROM a GROUP BY lang, split
             |ORDER BY lang, split""".stripMargin)),

    // ---- Z-score embedding normalization (applies the q114 moments) ------
    // The whitening step a feature pipeline runs before training or
    // indexing: every dimension recentred and rescaled by the corpus
    // moments. The 64-pair moment table broadcasts (computed by the
    // same one-pass vec_sum aggregate as q114) and the normalization
    // itself is a narrow zip_with map — no second shuffle. Output pins
    // every normalized vector with a rounded component-sum checksum
    // plus its min/max component, so the oracle certifies the whole
    // transformed matrix without hashing 64 floats per row.
    Q(
      "q117_embed_zscore",
      (s, d) => {
        import graft.functions.VectorAgg.vecSum
        val dim = 64
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val stats = e.agg(
            vecSum(col("v"), dim).as("s1"),
            vecSum(transform(col("v"), x => x * x), dim).as("s2"),
            count(lit(1)).as("n"))
          .select(
            transform(col("s1"), x => x / col("n")).as("mu"),
            // variance clamped at 0 (tiny negatives from float
            // cancellation on a constant dim would NaN the sqrt)
            zip_with(col("s1"), col("s2"),
              (a, b) => sqrt(greatest(b / col("n") - pow(a / col("n"), 2),
                lit(0.0d)))).as("sd"))
        e.crossJoin(broadcast(stats))
          // a zero-variance dimension carries no information: its
          // z-score is defined as 0 (also dodges ANSI divide-by-zero)
          .withColumn("z", zip_with(
            zip_with(col("v"), col("mu"), (x, m) => x - m), col("sd"),
            (c, sdv) => when(sdv > 0, c / sdv).otherwise(lit(0.0d))))
          .select(col("vec_id"),
            round(aggregate(col("z"), lit(0.0d), (acc, x) => acc + x), 4)
              .as("z_sum"),
            round(array_min(col("z")), 4).as("z_min"),
            round(array_max(col("z")), 4).as("z_max"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |x AS (SELECT vec_id, u.i AS i, v[u.i] AS x
             |      FROM v, unnest(range(1, 65)) AS u(i)),
             |m AS (SELECT i, sum(x) / count(*) AS mu,
             |        sqrt(greatest(sum(x*x) / count(*)
             |          - power(sum(x) / count(*), 2), 0)) AS sd
             |      FROM x GROUP BY i),
             |z AS (SELECT x.vec_id,
             |        CASE WHEN m.sd > 0 THEN (x.x - m.mu) / m.sd
             |             ELSE 0.0 END AS z
             |      FROM x JOIN m ON x.i = m.i)
             |SELECT vec_id, round(sum(z), 4) AS z_sum,
             |       round(min(z), 4) AS z_min, round(max(z), 4) AS z_max
             |FROM z GROUP BY vec_id
             |ORDER BY vec_id""".stripMargin)),

    // ---- Per-label scatter report (embedding-quality monitoring) ---------
    // The separation diagnostics an embedding pipeline tracks across
    // retrains: per label, member count, the label centroid's norm, and
    // the members' mean cosine to their OWN centroid vs to the GLOBAL
    // centroid — within-class cohesion against corpus-wide pull (the
    // Fisher-scatter intuition as auditable output). Centroids come
    // from vec_sum UNDER groupBy (each task ships 64 doubles per label
    // — the q85-vs-q74 pattern for dense vectors), broadcast back, and
    // the scoring pass is narrow.
    Q(
      "q118_label_scatter",
      (s, d) => {
        import graft.functions.VectorAgg.vecSum
        val dim = 64
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
            col("label").cast("long").as("label"))
          .withColumn("n2", squaredNorm(col("v")))
        val byLabel = e.groupBy(col("label"))
          .agg(vecSum(col("v"), dim).as("s"), count(lit(1)).as("n"))
          .select(col("label"), col("n"),
            transform(col("s"), x => x / col("n")).as("c"))
          .withColumn("cn2", squaredNorm(col("c")))
        val glob = e.agg(vecSum(col("v"), dim).as("gs"), count(lit(1)).as("gn"))
          .select(transform(col("gs"), x => x / col("gn")).as("g"))
          .withColumn("gn2", squaredNorm(col("g")))
        e.join(broadcast(byLabel), Seq("label"))
          .crossJoin(broadcast(glob))
          .withColumn("cos_own",
            round(dotProduct(col("v"), col("c")) / sqrt(col("n2") * col("cn2")), 4))
          .withColumn("cos_glob",
            round(dotProduct(col("v"), col("g")) / sqrt(col("n2") * col("gn2")), 4))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(first(sqrt(col("cn2"))), 4).as("centroid_norm"),
            round(avg(col("cos_own")), 4).as("mean_cos_own"),
            round(avg(col("cos_glob")), 4).as("mean_cos_glob"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             |              CAST(label AS BIGINT) AS label FROM embeddings),
             |x AS (SELECT vec_id, label, u.i AS i, v[u.i] AS x
             |      FROM e, unnest(range(1, 65)) AS u(i)),
             |lc AS (SELECT label, i, sum(x) / count(*) AS mu FROM x GROUP BY label, i),
             |lcv AS (SELECT label, array_agg(mu ORDER BY i) AS c FROM lc GROUP BY label),
             |gc AS (SELECT i, sum(x) / count(*) AS mu FROM x GROUP BY i),
             |gcv AS (SELECT array_agg(mu ORDER BY i) AS g FROM gc),
             |sc AS (SELECT e.label,
             |         round(list_cosine_similarity(e.v, l.c), 4) AS cos_own,
             |         round(list_cosine_similarity(e.v, (SELECT g FROM gcv)), 4) AS cos_glob,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(l.c, y -> y * y)), (a, b) -> a + b)) AS cnorm
             |       FROM e JOIN lcv l USING (label))
             |SELECT label, CAST(count(*) AS BIGINT) AS n,
             |       round(any_value(cnorm), 4) AS centroid_norm,
             |       round(avg(cos_own), 4) AS mean_cos_own,
             |       round(avg(cos_glob), 4) AS mean_cos_glob
             |FROM sc GROUP BY label
             |ORDER BY label""".stripMargin)),

    // ---- Feature-hash text embedding (hashing trick, integer-exact) ------
    // The text-to-vector bridge when no learned encoder exists
    // (Weinberger et al. 2009): every token adds sign(h2) * 1 at
    // dimension h1 mod 64, so a document folds to a fixed 64-int
    // vector of signed hashed term frequencies. Both hashes are the
    // portable polynomial, and every vector entry is an INTEGER — the
    // whole embedding, nnz, L1 norm, and index-weighted checksum are
    // exact in both engines with zero float drift.
    //
    // Scale shape: feature hashing is embarrassingly row-local — one
    // narrow pass, NO shuffle at all (the oracle's groupBy formulation
    // is the replay path). The vector is built by the codegen'd
    // FeatureHashVec kernel (ShinglePacks family): one walk over the
    // string, O(1) per token — the pure-column fold twin (kept in the
    // spec as ground truth) pays an O(64) array copy per token.
    Q(
      "q119_feature_hash_embed",
      (s, d) => {
        val dim = 64
        Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("doc_id"),
            graft.functions.ShingleKernel
              .featureHashVec(col("text"), dim).as("v"))
          .select(col("doc_id"),
            size(filter(col("v"), x => x =!= 0)).cast("long").as("nnz"),
            aggregate(col("v"), lit(0L), (a, x) => a + abs(x)).as("l1"),
            aggregate(zip_with(col("v"),
              sequence(lit(1L), lit(dim.toLong)), (x, w) => x * w),
              lit(0L), (a, x) => a + x).as("checksum"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id,
             |         unnest(list_filter(string_split(text, ' '),
             |                x -> x <> '')) AS tok
             |       FROM documents),
             |hx AS (SELECT doc_id,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(range(1, len(tok)+1),
             |             j -> CAST(unicode(tok[j]) AS BIGINT))),
             |           (acc,x) -> (acc*31+x)%1000000007) % 64 AS dim,
             |         (list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(range(1, len(tok)+1),
             |             j -> CAST(unicode(tok[j]) AS BIGINT))),
             |           (acc,x) -> (acc*131+x)%1000000007) % 2) * 2 - 1 AS sign
             |       FROM w),
             |vec AS (SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS x
             |        FROM hx GROUP BY doc_id, dim),
             |o AS (SELECT doc_id,
             |        CAST(count(*) FILTER (x <> 0) AS BIGINT) AS nnz,
             |        CAST(sum(abs(x)) AS BIGINT) AS l1,
             |        CAST(sum(x * (dim + 1)) AS BIGINT) AS checksum
             |      FROM vec GROUP BY doc_id)
             |SELECT doc_id, nnz, l1, checksum FROM o
             |ORDER BY doc_id""".stripMargin)),

    // ---- Token-budget sharding via distributed prefix sum ----------------
    // Trainers shard by TOKEN budget, not row count (a shard feeds a
    // data-loader worker for a fixed step budget) — which needs the
    // global running token total in doc_id order. A global window would
    // sort the corpus through one task; the scale shape is the classic
    // TWO-PHASE PREFIX SUM: range-partition on doc_id (contiguous
    // ranges per partition, pinned by localCheckpoint), pass 1 collects
    // each partition's token subtotal (one tiny row per partition),
    // the driver scan-folds them into per-partition offsets, and pass 2
    // streams each partition once adding its broadcast offset. Doc d's
    // shard is (cum_tok(d) - 1) div budget — every shard holds a
    // contiguous run of docs whose token sum is the budget (the doc
    // straddling a boundary lands in the shard its last token closes).
    Q(
      "q121_token_budget_shards",
      (s, d) => tokenBudgetShards(s,
        Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("doc_id"),
            size(filter(split(col("text"), " "), t => t =!= ""))
              .cast("long").as("n_tok")),
        budget = 2000L, nParts = 8),
      Some("""WITH d AS (SELECT doc_id,
             |         CAST(len(list_filter(string_split(text, ' '),
             |              x -> x <> '')) AS BIGINT) AS n_tok
             |       FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |        CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tok
             |      FROM d)
             |SELECT doc_id, n_tok, cum_tok,
             |       CAST(CASE WHEN cum_tok = 0 THEN 0
             |                 ELSE (cum_tok - 1) // 2000 END AS BIGINT) AS shard
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- Bigram-LM training over a document stream (q107's twin) ---------
    // The MODEL-training half made incremental: every micro-batch
    // appends its partial (prev, tok, n) counts, the fold equals the
    // batch corpus counts exactly (counts are additive), the context
    // totals derive from the folded table, and the rebuilt LM scores
    // the arrived corpus — identical to batch q107, shared oracle.
    // Keyed-state sibling of q109's fixed matrix: state is the
    // Zipf²-bounded bigram-TYPE table, appended as tiny partials, vs
    // per-key streaming state that would checkpoint the bigram
    // universe every batch.
    Q(
      "q122_bigram_lm_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.BigramLmStream.runOn(
          s, Tables.documents(s, d), nSplits = 2)
      },
      Some(bigramSql)),

    // ---- Temperature-based mixture sampling (mT5/XLM-R α-sampling) -------
    // Multilingual pretraining corpora are head-heavy; sampling
    // languages proportionally starves the tail, uniformly overfits
    // it. The standard fix (mT5, XLM-R) samples language l with
    // probability ∝ p_l^α, α≈0.5 — here integer-exact: weight
    // w_l = isqrt(n_l) (⌊√·⌋ via floor(sqrt)+correction, identical in
    // both engines for n < 2^50), budget K = N DIV 2 apportioned by
    // LARGEST REMAINDER (base = K·w DIV ΣW, the Σbase..K shortfall goes
    // to the largest K·w MOD ΣW, lang tie-break) — exact counts, not
    // q93's rate-threshold binomial draw: this is the EXACT-COUNT rung
    // of the mixture surface (a trainer asks for "exactly 43 French
    // docs", not "each French doc with p=0.67"). Selection is the
    // target_n smallest-affine-hash docs per language via
    // exactKPerGroup — deterministic, partition-invariant, and never a
    // per-language corpus sort. Output pins the selected SET per
    // language (count + id/hash sums), not just its size.
    Q(
      "q144_temperature_mix",
      (s, d) => {
        val docs = mixDocs(Tables.documents(s, d))
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        mixtureResult(docs, mixtureTargets(counts))
      },
      Some(mixtureSql)),

    // ---- Temperature mixture over a document stream (q144's twin) --------
    // The q109/q122/q138/q142 additive-statistics pattern: per-language
    // counts are the ONLY corpus statistic the apportionment needs and
    // they are purely additive, so each micro-batch appends a
    // ≤|langs|-row partial and the folded store equals the batch counts
    // exactly — weights, targets, and the smallest-hash election over
    // the arrived corpus are bit-identical to q144 (shared oracle).
    Q(
      "q146_mixture_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.MixtureStream.runOn(
          s, Tables.documents(s, d), nSplits = 2)
      },
      Some(mixtureSql)),

    // ---- Nested ablation rungs (scaling-law data subsets) ----------------
    // Scaling-law experiments train on 1% / 10% / 100% of the corpus
    // and need the subsets NESTED (each rung a strict superset of the
    // last) and deterministic, or the data mix becomes a confound
    // between rungs. Membership is h < P·pct with ONE affine doc hash,
    // so nesting holds by construction — no sampling state, no seed
    // files, any executor can answer "is this doc in the 10% rung" from
    // the row alone. Per rung the report carries the budget numbers an
    // ablation needs: docs, exact-unique docs (how dup rate grows with
    // scale — the effective-dataset-size question), whitespace tokens,
    // and the planted dup-family count. ONE corpus scan: conditional
    // aggregates per rung (map-side combined; the three count-distincts
    // share one Expand over a narrow (h, text) projection), then a
    // 3-row stack of the single result row.
    Q(
      "q147_ablation_rungs",
      (s, d) => {
        val t1 = 1000000007L / 100
        val t10 = 1000000007L / 10
        val docs = Tables.documents(s, d)
          .withColumn("h", selHash(col("doc_id")))
          .withColumn("n_tok",
            size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
          .withColumn("dupfam",
            array_contains(split(col("text"), " "), "dup"))
        def rung(t: Long, tag: String) = Seq(
          sum(when(col("h") < t, 1L).otherwise(0L)).as(s"d_$tag"),
          countDistinct(when(col("h") < t, col("text"))).as(s"u_$tag"),
          sum(when(col("h") < t, col("n_tok")).otherwise(0L)).as(s"t_$tag"),
          sum(when(col("h") < t && col("dupfam"), 1L).otherwise(0L))
            .as(s"f_$tag"))
        val aggs = rung(t1, "1") ++ rung(t10, "10") ++
          rung(1000000007L, "100")
        docs.agg(aggs.head, aggs.tail: _*)
          .selectExpr("""stack(3,
            1L, d_1, u_1, t_1, f_1,
            10L, d_10, u_10, t_10, f_10,
            100L, d_100, u_100, t_100, f_100)
            as (pct, n_docs, n_uniq_docs, n_tokens, n_dup_family)""")
          .orderBy(col("pct"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text,
             |         (982451653 * doc_id + 12345) % 1000000007 AS h,
             |         len(list_filter(string_split(text, ' '),
             |             x -> x <> '')) AS n_tok,
             |         list_contains(string_split(text, ' '), 'dup') AS dupfam
             |       FROM documents),
             |a AS (SELECT
             |  CAST(sum(CASE WHEN h < ${1000000007L / 100} THEN 1 ELSE 0 END) AS BIGINT) AS d_1,
             |  CAST(count(DISTINCT CASE WHEN h < ${1000000007L / 100} THEN text END) AS BIGINT) AS u_1,
             |  CAST(sum(CASE WHEN h < ${1000000007L / 100} THEN n_tok ELSE 0 END) AS BIGINT) AS t_1,
             |  CAST(sum(CASE WHEN h < ${1000000007L / 100} AND dupfam THEN 1 ELSE 0 END) AS BIGINT) AS f_1,
             |  CAST(sum(CASE WHEN h < ${1000000007L / 10} THEN 1 ELSE 0 END) AS BIGINT) AS d_10,
             |  CAST(count(DISTINCT CASE WHEN h < ${1000000007L / 10} THEN text END) AS BIGINT) AS u_10,
             |  CAST(sum(CASE WHEN h < ${1000000007L / 10} THEN n_tok ELSE 0 END) AS BIGINT) AS t_10,
             |  CAST(sum(CASE WHEN h < ${1000000007L / 10} AND dupfam THEN 1 ELSE 0 END) AS BIGINT) AS f_10,
             |  CAST(count(*) AS BIGINT) AS d_100,
             |  CAST(count(DISTINCT text) AS BIGINT) AS u_100,
             |  CAST(sum(n_tok) AS BIGINT) AS t_100,
             |  CAST(sum(CASE WHEN dupfam THEN 1 ELSE 0 END) AS BIGINT) AS f_100
             |FROM d)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS pct, d_1 AS n_docs,
             |         u_1 AS n_uniq_docs, t_1 AS n_tokens,
             |         f_1 AS n_dup_family FROM a
             |  UNION ALL
             |  SELECT 10, d_10, u_10, t_10, f_10 FROM a
             |  UNION ALL
             |  SELECT 100, d_100, u_100, t_100, f_100 FROM a)
             |ORDER BY pct""".stripMargin)),

    // ---- Repetition profile (data-constrained scaling accounting) --------
    // "How much of the corpus is repeats?" broken down the way the
    // repeat-data scaling analyses need it (Muennighoff et al. 2023:
    // value decays with epoch count — so budget decisions need token
    // mass BY multiplicity, not just a dup count): group exact texts,
    // bucket by copy count (1 / 2-4 / 5+), and report per bucket the
    // distinct texts, doc copies, token mass, and its integer permille
    // of the corpus. One exact-dedup-shaped shuffle (groupBy text —
    // at 100 TB the group key is the text hash + length, same shape as
    // q15/q30) followed by a 3-row aggregate. The planted near-dup
    // family is NEAR-dup (salted tokens), so it lands in multiplicity
    // 1 here — exact repeats are the separate, cheaper axis this
    // report isolates.
    Q(
      "q149_repetition_profile",
      (s, d) => repetitionProfile(Tables.documents(s, d)),
      Some("""WITH g AS (
             |  SELECT text, CAST(count(*) AS BIGINT) AS m,
             |         CAST(len(list_filter(string_split(text, ' '),
             |              x -> x <> '')) AS BIGINT) AS n_tok
             |  FROM documents GROUP BY text),
             |b AS (SELECT CASE WHEN m = 1 THEN '1'
             |             WHEN m <= 4 THEN '2-4' ELSE '5+' END AS bucket,
             |        m, n_tok FROM g),
             |t AS (SELECT CAST(sum(m * n_tok) AS BIGINT) AS tot_tokens FROM b)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n_texts,
             |       CAST(sum(m) AS BIGINT) AS n_docs,
             |       CAST(sum(m * n_tok) AS BIGINT) AS n_tokens,
             |       (1000 * CAST(sum(m * n_tok) AS BIGINT)) // tot_tokens
             |         AS permille_tokens
             |FROM b, t GROUP BY bucket, tot_tokens ORDER BY bucket""".stripMargin)),

    // ---- Perplexity terciles (CCNet head/middle/tail bucketing) ----------
    // CCNet's signature move: score every doc under the corpus LM, then
    // split the corpus into equal-count head/middle/tail by perplexity
    // RANK (not a fixed threshold — q105's gate is the threshold form),
    // and keep/weight buckets differently downstream. Integer-exact
    // here: per-doc mean centibits cb = (100·Σbits) DIV n_tok under
    // q105's unigram ladder LM, ranked by (cb, doc_id); boundaries at
    // N DIV 3 and 2N DIV 3. The split is an exact corpus ORDER
    // STATISTIC computed without a global sort: per-cb counts (the
    // score domain is ladder-bounded — cb ≤ 6200, so the count frame is
    // TINY), a driver fold over that bounded frame elects each
    // boundary's (score, within-score rank) — the q99/q110 bounded
    // driver-step pattern — and only the ≤2 boundary scores' rows see a
    // rank window (partitioned by cb, sized corpus/|score spread|,
    // documented); every other row classifies scan-side by cb alone.
    Q(
      "q150_ppl_terciles",
      (s, d) => pplTerciles(lmScored(Tables.documents(s, d))),
      Some(tercilesSql)),

    // ---- Quality-gate operating curve in ONE corpus scan (q151) ----------
    // Choosing a perplexity-filter operating point (CCNet/Gopher-style)
    // needs kept-docs/kept-tokens at MANY candidate thresholds — and at
    // 100 TB you cannot afford one corpus pass per candidate. The whole
    // sweep costs exactly one q105-shaped scan here: score docs under
    // the shared unigram ladder LM, bucket the integer centibit score
    // at step 5 (the ladder bounds cb ≤ 6200, so the per-bucket count
    // frame is ≤ 1240 rows), and a prefix-sum window over that TINY frame
    // turns the histogram into the full cumulative operating curve —
    // every threshold's exact doc/token retention, plus its permille of
    // the corpus. The orderBy-only window sees ≤ 1240 rows by
    // construction (score-domain-bounded, same argument as q150's
    // boundary election), never corpus rows.
    Q(
      "q151_gate_sweep",
      (s, d) => {
        val g = lmScored(Tables.documents(s, d))
          .withColumn("tb", expr("cb DIV 5"))
          .groupBy(col("tb"))
          .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("ntk"))
        val tot = g.agg(sum(col("nd")).as("td"), sum(col("ntk")).as("tt"))
        val w = Window.orderBy(col("tb"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.crossJoin(broadcast(tot))
          .withColumn("n_docs_kept", sum(col("nd")).over(w))
          .withColumn("n_toks_kept", sum(col("ntk")).over(w))
          .select(((col("tb") + 1) * 5).as("threshold_cb"),
            col("n_docs_kept"), col("n_toks_kept"),
            expr("(1000 * n_docs_kept) DIV td").as("permille_docs"),
            expr("(1000 * n_toks_kept) DIV tt").as("permille_toks"))
          .orderBy(col("threshold_cb"))
      },
      Some(s"""$lmScoredCtes,
             |g AS (SELECT cb // 5 AS tb, CAST(count(*) AS BIGINT) AS nd,
             |        CAST(sum(n_tok) AS BIGINT) AS ntk FROM sc GROUP BY 1),
             |t AS (SELECT CAST(sum(nd) AS BIGINT) AS td,
             |        CAST(sum(ntk) AS BIGINT) AS tt FROM g)
             |SELECT (tb + 1) * 5 AS threshold_cb,
             |       CAST(sum(nd) OVER w AS BIGINT) AS n_docs_kept,
             |       CAST(sum(ntk) OVER w AS BIGINT) AS n_toks_kept,
             |       (1000 * CAST(sum(nd) OVER w AS BIGINT)) // td AS permille_docs,
             |       (1000 * CAST(sum(ntk) OVER w AS BIGINT)) // tt AS permille_toks
             |FROM g, t
             |WINDOW w AS (ORDER BY tb ROWS UNBOUNDED PRECEDING)
             |ORDER BY threshold_cb""".stripMargin)),

    // ---- Cluster↔label agreement: purity of the semantic index (q152) ----
    // The q106/q145 machinery is only as good as its clusters, and the
    // embeddings table carries ground-truth labels — so evaluate the
    // two-level quantizer's cells against them (the standard external
    // clustering metric: purity = Σ_cells max-label mass / N, reported
    // per label). Per-cell majority is a deterministic argmax
    // (count DESC, label ASC — min(struct(-cnt, label)), the q12/q137
    // pattern), so DuckDB replays it as a rank window. Physical shape:
    // assignment is the zero-exchange broadcast fold (assignTwoLevel);
    // the contingency shuffles ≤ k·|labels| combined rows; everything
    // after is tiny-frame arithmetic. Output: one row per label with
    // its vector mass, clusters won, captured-majority mass, and
    // captured permille.
    Q(
      "q152_cluster_purity",
      (s, d) => {
        val eRaw = Tables.embeddings(s, d)
        val e = eRaw
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
        val asg = q106Assign(e).select(col("vec_id"), col("bucket"))
        val lab = eRaw.select(col("vec_id"), col("label").cast("long").as("label"))
        clusterPurity(asg, lab)
      },
      Some(s"""$twoLevelAsgCtes,
             |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
             |cont AS (SELECT a.bucket, l.label, CAST(count(*) AS BIGINT) AS cnt
             |         FROM asg a JOIN lab l USING (vec_id) GROUP BY 1, 2),
             |win AS (SELECT bucket, label, cnt FROM (
             |          SELECT bucket, label, cnt,
             |                 row_number() OVER (PARTITION BY bucket
             |                   ORDER BY cnt DESC, label) AS rn FROM cont)
             |        WHERE rn = 1),
             |byl AS (SELECT label, CAST(count(*) AS BIGINT) AS n_clusters_won,
             |               CAST(sum(cnt) AS BIGINT) AS n_majority FROM win GROUP BY 1),
             |tot AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
             |        FROM lab GROUP BY 1)
             |SELECT tot.label, n_vecs,
             |       CAST(coalesce(n_clusters_won, 0) AS BIGINT) AS n_clusters_won,
             |       CAST(coalesce(n_majority, 0) AS BIGINT) AS n_majority,
             |       (1000 * CAST(coalesce(n_majority, 0) AS BIGINT)) // n_vecs
             |         AS permille_captured
             |FROM tot LEFT JOIN byl ON tot.label = byl.label
             |ORDER BY tot.label""".stripMargin)),

    // ---- Epoch/repeat budgeting per language (q154) -----------------------
    // Data-constrained scaling (Muennighoff et al. 2023): when the
    // token budget exceeds what a slice can supply, the slice REPEATS —
    // and budgets must be planned in epochs-per-slice, not one corpus
    // dup count. Uniform per-language target (the multilingual
    // up-sampling case where tail languages repeat hardest):
    // budget B = 4·corpus tokens, target = B DIV n_langs, epochs =
    // ⌈target / n_lang⌉ capped at 4, served = min(target, 4·n_lang),
    // shortfall = the unservable remainder. All integer and exact in
    // both engines. One corpus scan (token counts per lang, map-side
    // combined) then ≤|langs|-row arithmetic; the fixture engages every
    // branch (en: epochs 2, no shortfall; tail langs: cap + shortfall).
    Q(
      "q154_epoch_budget",
      (s, d) => {
        val tokCounts = Tables.documents(s, d)
          .select(col("lang"),
            size(filter(split(col("text"), " "), t => t =!= ""))
              .cast("long").as("n_tok"))
          .groupBy(col("lang")).agg(sum(col("n_tok")).as("n_toks"))
        val tot = tokCounts.agg(sum(col("n_toks")).as("tot"),
          count(lit(1)).as("nl"))
        tokCounts.crossJoin(broadcast(tot))
          .withColumn("target_toks", expr("(4 * tot) DIV nl"))
          .withColumn("epochs",
            least(expr("(target_toks + n_toks - 1) DIV n_toks"), lit(4L)))
          .withColumn("n_served", least(col("target_toks"), expr("4 * n_toks")))
          .withColumn("shortfall", col("target_toks") - col("n_served"))
          .select(col("lang"), col("n_toks"), col("target_toks"),
            col("epochs"), col("n_served"), col("shortfall"))
          .orderBy(col("lang"))
      },
      Some("""WITH tk AS (SELECT lang,
             |          CAST(len(list_filter(string_split(text, ' '),
             |               x -> x <> '')) AS BIGINT) AS n_tok
             |        FROM documents),
             |g AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_toks
             |      FROM tk GROUP BY 1),
             |t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tot,
             |        CAST(count(*) AS BIGINT) AS nl FROM g)
             |SELECT lang, n_toks,
             |       (4 * tot) // nl AS target_toks,
             |       LEAST((((4 * tot) // nl) + n_toks - 1) // n_toks,
             |             CAST(4 AS BIGINT)) AS epochs,
             |       LEAST((4 * tot) // nl, 4 * n_toks) AS n_served,
             |       ((4 * tot) // nl) - LEAST((4 * tot) // nl, 4 * n_toks)
             |         AS shortfall
             |FROM g, t ORDER BY lang""".stripMargin)),

    // ---- Quality×duplication audit (q156) ---------------------------------
    // WHAT the perplexity filter would actually remove: the q150
    // tercile crossed with near-dup involvement (any q70 pair
    // membership). If the tail tercile is mostly duplicated mass, a
    // dedup pass subsumes the filter; if it is unique content, the
    // filter is making a real editorial call — the Gopher/RefinedWeb
    // curation-order question, answered on data. Per (tercile,
    // involved) cell: docs, token mass, corpus token permille. One
    // LM-scoring scan + the LSH pair mine + a ≤6-row aggregate; the
    // tercile is per-row from tercileAssign's bounded boundary
    // election (no global sort).
    Q(
      "q156_filter_dedup_audit",
      (s, d) => {
        val dd = Tables.documents(s, d)
        val terc = tercileAssign(lmScored(dd))
        val dup = TextOps.portableMinhashPairs(dd)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
          .withColumn("isd", lit(1L))
        val tot = terc.agg(sum(col("n_tok")).as("tt"))
        terc.join(dup, Seq("doc_id"), "left")
          .withColumn("is_dup", coalesce(col("isd"), lit(0L)))
          .groupBy(col("tercile"), col("is_dup"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"))
          .crossJoin(broadcast(tot))
          .withColumn("permille_toks", expr("(1000 * n_toks) DIV tt"))
          .select(col("tercile"), col("is_dup"), col("n_docs"),
            col("n_toks"), col("permille_toks"))
          .orderBy(col("tercile"), col("is_dup"))
      },
      // MATERIALIZED on the two multi-referenced chain heads (pairs:
      // dup reads it twice; sc: r and tt) — without the hints DuckDB
      // inlines each reference and the combined minhash+LM evaluation
      // exhausted temp storage at the sf10 rung (the q60/q134 finding,
      // here on a non-recursive composition)
      Some(TextOps.minhashPairsCte
          .replaceFirst("pairs AS \\(", "pairs AS MATERIALIZED (") + ",\n" +
        lmScoredCtes.replaceFirst("WITH ", "")
          .replaceFirst("sc AS \\(", "sc AS MATERIALIZED (") + ",\n" +
        s"""r AS (SELECT *, row_number() OVER (ORDER BY cb, doc_id) AS rk,
           |        count(*) OVER () AS nn FROM sc),
           |tt AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM sc),
           |dup AS (SELECT DISTINCT doc_id FROM (
           |          SELECT da AS doc_id FROM pairs
           |          UNION ALL SELECT db FROM pairs)),
           |x AS (SELECT CAST(CASE WHEN rk <= nn // 3 THEN 0
           |             WHEN rk <= (2 * nn) // 3 THEN 1 ELSE 2 END AS BIGINT)
           |          AS tercile,
           |        CAST(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
           |          AS is_dup,
           |        n_tok
           |      FROM r LEFT JOIN dup d ON r.doc_id = d.doc_id)
           |SELECT tercile, is_dup, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_tok) AS BIGINT) AS n_toks,
           |       (1000 * CAST(sum(n_tok) AS BIGINT)) // t AS permille_toks
           |FROM x, tt GROUP BY 1, 2, t ORDER BY 1, 2""".stripMargin)),

    // ---- PMI collocations (q157) ------------------------------------------
    // Phrase discovery for tokenizer/vocab construction: the top-20
    // adjacent-token pairs by pointwise mutual information — the
    // collocation statistic (Church & Hanks 1990) that seeds
    // multi-word vocab entries next to q99's character-level BPE.
    // Integer-exact PMI: ratio ≈ p(xy)/(p(x)p(y)) as the two-step
    // floored cross-multiplication ((n_xy·NU) DIV n_x)·NU DIV
    // (n_y·NB) — written identically in both engines, so the floors
    // agree exactly; bits via the shared log2 ladder; n_xy ≥ 5 kills
    // the hapax noise floor. Overflow bound: the largest intermediate
    // is ((n_xy·NU) DIV n_x)·NU ≤ NU² (n_xy ≤ n_x), exact in int64
    // while NU < ~3e9 tokens; beyond that, rescale both counts by a
    // common power of two before the ladder (the bits change by the
    // same bounded amount on both sides of the ratio). Physical shape:
    // one bigram-count shuffle (map-side combined), two broadcast
    // vocab joins, TakeOrdered top-20 under a total (bits, n_xy, prev,
    // tok) order — no corpus window, nothing collects.
    Q(
      "q157_collocations",
      (s, d) => {
        val toked = tokedDocs(Tables.documents(s, d))
        val uni = toked.select(explode(col("toks")).as("w"))
        val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val nuF = uni.agg(count(lit(1)).as("nu"))
        val bg = docBigrams(toked)
        val bc = bg.groupBy(col("prev"), col("tok"))
          .agg(count(lit(1)).as("n_xy"))
          .where(col("n_xy") >= 5)
        val nbF = bg.agg(count(lit(1)).as("nb"))
        bc
          .join(broadcast(uc.select(col("w").as("prev"), col("c").as("n_x"))),
            Seq("prev"))
          .join(broadcast(uc.select(col("w").as("tok"), col("c").as("n_y"))),
            Seq("tok"))
          .crossJoin(broadcast(nuF)).crossJoin(broadcast(nbF))
          .withColumn("ratio",
            expr("((n_xy * nu) DIV n_x) * nu DIV (n_y * nb)"))
          .withColumn("pmi_bits", TextOps.log2Ladder.foldLeft(lit(0L)) {
            case (acc, p) =>
              when(col("ratio") >= (1L << p), lit(p.toLong)).otherwise(acc)
          })
          .select(col("prev"), col("tok"), col("n_xy"), col("n_x"),
            col("n_y"), col("pmi_bits"))
          .orderBy(col("pmi_bits").desc, col("n_xy").desc, col("prev"),
            col("tok"))
          .limit(20)
      },
      Some(s"""WITH td AS (SELECT doc_id,
             |          list_filter(string_split(text, ' '), x -> x <> '') AS t
             |        FROM documents),
             |u AS (SELECT unnest(t) AS w FROM td),
             |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
             |nuv AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u),
             |bg AS (SELECT t[i] AS prev, t[i+1] AS tok FROM (
             |         SELECT t, unnest(range(1, len(t))) AS i FROM td)),
             |bc AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS n_xy
             |       FROM bg GROUP BY 1, 2),
             |nbv AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg),
             |x AS (SELECT prev, tok, n_xy, cx.c AS n_x, cy.c AS n_y,
             |        ((n_xy * nu) // cx.c) * nu // (cy.c * nb) AS ratio
             |      FROM bc JOIN uc cx ON bc.prev = cx.w
             |      JOIN uc cy ON bc.tok = cy.w, nuv, nbv
             |      WHERE n_xy >= 5)
             |SELECT prev, tok, n_xy, n_x, n_y,
             |       CAST(CASE ${TextOps.log2Ladder.reverse.map(p =>
                      s"WHEN ratio >= ${1L << p} THEN $p").mkString(" ")}
             |        ELSE 0 END AS BIGINT) AS pmi_bits
             |FROM x
             |ORDER BY pmi_bits DESC, n_xy DESC, prev, tok
             |LIMIT 20""".stripMargin)),

    // ---- Filter-ensemble agreement (q160) ---------------------------------
    // Production pipelines run SEVERAL quality filters (Dolma/RefinedWeb
    // stack rule gates and model gates); whether to chain them is an
    // agreement question: if two gates reject the same mass, the second
    // buys nothing. The 2×2 contingency of the rule gate (q95's Gopher
    // shape: length/word-length/stopword, shared withRowQuality) × the
    // model gate (q105's LM threshold, shared lmScored) with doc count,
    // token mass, and doc permille per cell — off-diagonal mass is
    // exactly what the second filter adds. One LM scan + one rule scan
    // + a ≤4-row aggregate; the join keys are doc_id (AQE broadcasts
    // the tiny side at test SFs; co-partitioned at scale).
    Q(
      "q160_gate_agreement",
      (s, d) => {
        val dd = Tables.documents(s, d)
        val rule = TrainingOps.withRowQuality(dd)
          .select(col("doc_id"), col("quality_pass"))
        val lm = lmScored(dd)
          .withColumn("ppl_pass",
            (col("sum_bits") * 100 <= col("n_tok") * 404).cast("long"))
          .select(col("doc_id"), col("n_tok"), col("ppl_pass"))
        val cells = rule.join(lm, Seq("doc_id"))
        val tot = cells.agg(count(lit(1)).as("td"))
        cells.groupBy(col("quality_pass"), col("ppl_pass"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"))
          .crossJoin(broadcast(tot))
          .withColumn("permille_docs", expr("(1000 * n_docs) DIV td"))
          .select(col("quality_pass"), col("ppl_pass"), col("n_docs"),
            col("n_toks"), col("permille_docs"))
          .orderBy(col("quality_pass"), col("ppl_pass"))
      },
      Some(s"""$lmScoredCtes,
             |t AS (SELECT doc_id,
             |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |      FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(toks) AS BIGINT) AS n_words,
             |        CASE WHEN len(toks) > 0 THEN
             |          round(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |            list_transform(toks, x -> CAST(len(x) AS BIGINT))),
             |            (a, x) -> a + x) / len(toks), 4) END AS mean_word_len,
             |        CAST(len(list_intersect(list_distinct(toks),
             |            ['the', 'a', 'of', 'and', 'to', 'in'])) AS BIGINT)
             |          AS n_stop_distinct
             |      FROM t),
             |rq AS (SELECT doc_id,
             |         CAST(CASE WHEN n_words >= 30 AND mean_word_len >= 3
             |                    AND mean_word_len <= 5 AND n_stop_distinct >= 2
             |                   THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
             |       FROM m),
             |lmp AS (SELECT doc_id, n_tok,
             |          CAST(CASE WHEN sum_bits * 100 <= n_tok * 404
             |                    THEN 1 ELSE 0 END AS BIGINT) AS ppl_pass
             |        FROM sc),
             |cells AS (SELECT rq.quality_pass, lmp.ppl_pass, lmp.n_tok
             |          FROM rq JOIN lmp USING (doc_id)),
             |td AS (SELECT CAST(count(*) AS BIGINT) AS td FROM cells)
             |SELECT quality_pass, ppl_pass, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS n_toks,
             |       (1000 * CAST(count(*) AS BIGINT)) // td AS permille_docs
             |FROM cells, td GROUP BY 1, 2, td ORDER BY 1, 2""".stripMargin)),

    // ---- Per-source quality drift (q161) ----------------------------------
    // Feed health monitoring: mean LM centibits per source and its
    // signed drift from the corpus mean — the number a 100 TB ingest
    // watches per feed (a source whose drift jumps went spammy or
    // off-domain; CCNet runs exactly this per-crawl-segment). Integer
    // means: cb_mean = (100·Σbits) DIV Σtok per source, drift vs the
    // identical corpus-level quotient. One LM-scoring scan + a
    // |sources|-row aggregate over the broadcast corpus totals.
    Q(
      "q161_source_drift",
      (s, d) => {
        val dd = Tables.documents(s, d)
        val sc = lmScored(dd)
          .join(dd.select(col("doc_id"), col("source")), Seq("doc_id"))
        val tot = sc.agg(sum(col("sum_bits")).as("tb"),
          sum(col("n_tok")).as("tt"))
        sc.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"),
            sum(col("sum_bits")).as("sb"))
          .crossJoin(broadcast(tot))
          .withColumn("cb_mean", expr("(100 * sb) DIV n_toks"))
          .withColumn("drift_cb",
            col("cb_mean") - expr("(100 * tb) DIV tt"))
          .select(col("source"), col("n_docs"), col("n_toks"),
            col("cb_mean"), col("drift_cb"))
          .orderBy(col("source"))
      },
      Some(s"""$lmScoredCtes,
             |src AS (SELECT sc.doc_id, sc.n_tok, sc.sum_bits, d.source
             |        FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
             |tot AS (SELECT CAST(sum(sum_bits) AS BIGINT) AS tb,
             |          CAST(sum(n_tok) AS BIGINT) AS tt FROM src)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS n_toks,
             |       (100 * CAST(sum(sum_bits) AS BIGINT)) // CAST(sum(n_tok) AS BIGINT)
             |         AS cb_mean,
             |       (100 * CAST(sum(sum_bits) AS BIGINT)) // CAST(sum(n_tok) AS BIGINT)
             |         - (100 * tb) // tt AS drift_cb
             |FROM src, tot GROUP BY source, tb, tt ORDER BY source""".stripMargin)),

    // ---- Mixture-balanced shard manifest (q162) ---------------------------
    // The WRITE side of q144: distribute the temperature-sampled
    // selection round-robin BY RANK into 8 shards, so every shard
    // carries the same language mixture (a trainer reading any shard
    // subset sees the designed proportions — the interleaved-shard
    // property training-data writers need). Rank within each
    // language's selected set comes from exactKRanked: bucket prefix
    // counts + within-bucket row_numbers, partitions ~n_g/1024
    // regardless of language skew — an ORDER at set price, never a
    // per-language corpus sort. Output pins the shard×lang matrix
    // (count + id sum), which the spec proves balanced to ±1 per
    // language.
    Q(
      "q162_mixture_shards",
      (s, d) => {
        val dd = mixDocs(Tables.documents(s, d))
        val counts = dd.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        val tg = mixtureTargets(counts)
        val sel = exactKRanked(
          dd.select(col("lang").as("grp"), col("doc_id").as("id"), col("h")),
          tg.select(col("lang").as("grp"), col("target_n")))
        sel.withColumn("shard", (col("rnk") - 1) % 8)
          .groupBy(col("shard"), col("grp"))
          .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("sum_id"))
          .select(col("shard"), col("grp").as("lang"), col("n_docs"),
            col("sum_id"))
          .orderBy(col("shard"), col("lang"))
      },
      Some(s"""$mixtureCtes
             |SELECT (r.rn - 1) % 8 AS shard, r.lang,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(r.doc_id) AS BIGINT) AS sum_id
             |FROM r JOIN tg ON r.lang = tg.lang
             |WHERE r.rn <= tg.target_n
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // ---- Vocabulary growth across data rungs (q164) -----------------------
    // Heaps'-law data on q147's nested 1%/10%/100% subsets: token mass,
    // distinct token types, hapax count, and the TTR / hapax-rate
    // permilles per rung — how fast vocabulary grows with corpus size
    // is the empirical input to vocab sizing (with q159's
    // compression-vs-vocab curve) and to new-data value estimates (a
    // flattening type curve means new data repeats known vocabulary).
    // Same affine-hash nested membership as q147 (supersets by
    // construction, membership from the row alone), but measured at
    // TOKEN granularity: one exploded scan into per-type conditional
    // counts (ONE token-keyed shuffle, map-side combined), then a
    // 1-row aggregate over the vocab-sized count table and a 3-row
    // stack. DISTINCT-per-rung comes free from the per-type counts —
    // no multi-rung count-distinct Expand over corpus rows.
    Q(
      "q164_vocab_growth",
      (s, d) => {
        val t1 = 1000000007L / 100
        val t10 = 1000000007L / 10
        val toks = Tables.documents(s, d)
          .withColumn("h", selHash(col("doc_id")))
          .select(col("h"),
            explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
        val tc = toks.groupBy(col("tok")).agg(
          sum(when(col("h") < t1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("h") < t10, 1L).otherwise(0L)).as("c10"),
          count(lit(1)).as("c100"))
        def rungAggs(c: String, tag: String) = Seq(
          sum(col(c)).as(s"t_$tag"),
          count(when(col(c) > 0, 1)).as(s"v_$tag"),
          count(when(col(c) === 1, 1)).as(s"h_$tag"))
        val aggs = rungAggs("c1", "1") ++ rungAggs("c10", "10") ++
          rungAggs("c100", "100")
        tc.agg(aggs.head, aggs.tail: _*)
          .selectExpr("""stack(3,
            1L, t_1, v_1, h_1,
            10L, t_10, v_10, h_10,
            100L, t_100, v_100, h_100)
            as (pct, n_tokens, n_types, n_hapax)""")
          .withColumn("ttr_permille", expr("(1000 * n_types) DIV n_tokens"))
          .withColumn("hapax_permille", expr("(1000 * n_hapax) DIV n_types"))
          .orderBy(col("pct"))
      },
      Some(s"""WITH d AS (SELECT (982451653 * doc_id + 12345) % 1000000007 AS h,
             |         text FROM documents),
             |w AS (SELECT h, unnest(list_filter(string_split(text, ' '),
             |         x -> x <> '')) AS tok FROM d),
             |tc AS (SELECT tok,
             |         CAST(sum(CASE WHEN h < ${1000000007L / 100} THEN 1
             |                  ELSE 0 END) AS BIGINT) AS c1,
             |         CAST(sum(CASE WHEN h < ${1000000007L / 10} THEN 1
             |                  ELSE 0 END) AS BIGINT) AS c10,
             |         CAST(count(*) AS BIGINT) AS c100
             |       FROM w GROUP BY tok),
             |a AS (SELECT
             |  CAST(sum(c1) AS BIGINT) AS t_1,
             |  CAST(count(CASE WHEN c1 > 0 THEN 1 END) AS BIGINT) AS v_1,
             |  CAST(count(CASE WHEN c1 = 1 THEN 1 END) AS BIGINT) AS h_1,
             |  CAST(sum(c10) AS BIGINT) AS t_10,
             |  CAST(count(CASE WHEN c10 > 0 THEN 1 END) AS BIGINT) AS v_10,
             |  CAST(count(CASE WHEN c10 = 1 THEN 1 END) AS BIGINT) AS h_10,
             |  CAST(sum(c100) AS BIGINT) AS t_100,
             |  CAST(count(*) AS BIGINT) AS v_100,
             |  CAST(count(CASE WHEN c100 = 1 THEN 1 END) AS BIGINT) AS h_100
             |  FROM tc)
             |SELECT pct, n_tokens, n_types, n_hapax,
             |       (1000 * n_types) // n_tokens AS ttr_permille,
             |       (1000 * n_hapax) // n_types AS hapax_permille
             |FROM (
             |  SELECT CAST(1 AS BIGINT) AS pct, t_1 AS n_tokens,
             |         v_1 AS n_types, h_1 AS n_hapax FROM a
             |  UNION ALL
             |  SELECT 10, t_10, v_10, h_10 FROM a
             |  UNION ALL
             |  SELECT 100, t_100, v_100, h_100 FROM a)
             |ORDER BY pct""".stripMargin)),

    // ---- Cluster-balanced downsampling (SemDeDup/DataComp curation) ------
    // Embedding-cluster the corpus, then CAP each cluster's membership
    // — the diversity-balancing stage the SemDeDup/DataComp pipelines
    // run after dedup: big clusters are near-redundant topic masses,
    // so capping them re-weights the corpus toward coverage without
    // touching small clusters. Assignment is q106's adaptive-k
    // two-level seeded quantizer (same oracle CTE chain); the cap is
    // HALF THE MEAN cell size (N DIV k DIV 2, data-derived in both
    // engines) so above-average cells genuinely downsample; member
    // election per cluster is the target_n smallest-affine-hash
    // vectors via exactKPerGroup (no per-cluster rank window — cluster
    // sizes are exactly the skewed quantity being fixed). Output pins
    // per-cluster membership (count + id sum) under the cap.
    Q(
      "q145_cluster_balance",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
        val n = e.count()
        val k = adaptiveK(n)
        val cap = math.max(1L, n / k / 2)
        val members = assignTwoLevel(e, k)
          .withColumn("h", selHash(col("vec_id")))
          .select(col("bucket").cast("long").as("grp"),
                  col("vec_id").as("id"), col("h"))
          .localCheckpoint()
        val sizes = members.groupBy(col("grp"))
          .agg(count(lit(1)).as("n_members"))
        val targets = sizes
          .withColumn("target_n", least(col("n_members"), lit(cap)))
        val sel = exactKPerGroup(members,
          targets.select(col("grp"), col("target_n")))
        val kept = sel.groupBy(col("grp")).agg(
          count(lit(1)).as("n_kept"), sum(col("id")).as("sel_sum_id"))
        targets.join(kept, Seq("grp"), "left")
          .na.fill(0L, Seq("n_kept", "sel_sum_id"))
          .select(col("grp").as("bucket"), col("n_members"), col("target_n"),
                  col("n_kept"), col("sel_sum_id"))
          .orderBy(col("bucket"))
      },
      Some(s"""$twoLevelAsgCtes,
             |m AS (SELECT CAST(bucket AS BIGINT) AS grp, vec_id,
             |        (982451653 * vec_id + 12345) % 1000000007 AS h
             |      FROM asg),
             |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_members
             |       FROM m GROUP BY grp),
             |cp AS (SELECT GREATEST(1,
             |         ((SELECT count(*) FROM e) // (SELECT k FROM kk)) // 2)
             |         AS cap),
             |tg AS (SELECT grp, n_members,
             |         LEAST(n_members, cap) AS target_n FROM sz, cp),
             |r AS (SELECT m.*,
             |        row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
             |      FROM m),
             |sel AS (SELECT r.grp, CAST(count(*) AS BIGINT) AS n_kept,
             |          CAST(sum(r.vec_id) AS BIGINT) AS sel_sum_id
             |        FROM r JOIN tg ON r.grp = tg.grp
             |        WHERE r.rn <= tg.target_n GROUP BY r.grp)
             |SELECT tg.grp AS bucket, tg.n_members, tg.target_n,
             |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
             |       CAST(coalesce(sel_sum_id, 0) AS BIGINT) AS sel_sum_id
             |FROM tg LEFT JOIN sel ON tg.grp = sel.grp
             |ORDER BY bucket""".stripMargin))
  )

  /** q144's oracle, shared with its streaming twin q146: DuckDB
    * replays the isqrt weights, largest-remainder apportionment,
    * per-language smallest-hash election (as a rank window — the
    * replay path for exactKPerGroup's distributed order statistic),
    * and the selected-set sums. Valid for q146 because per-language
    * counts are additive — the folded per-batch partials equal the
    * batch corpus counts exactly.
    */
  /** The q144 oracle's CTE prefix — spine, counts, isqrt weights,
    * largest-remainder targets, and the per-language rank window —
    * shared by q144/q146 (set sums) and q162 (shard assignment off the
    * same ranks).
    */
  private[graft] def mixtureCtes: String =
    """WITH d AS (SELECT doc_id, lang,
      |         (982451653 * doc_id + 12345) % 1000000007 AS h
      |       FROM documents),
      |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
      |      FROM d GROUP BY lang),
      |w AS (SELECT lang, n_lang,
      |        CASE WHEN (s0+1)*(s0+1) <= n_lang THEN s0+1
      |             WHEN s0*s0 > n_lang THEN s0-1 ELSE s0 END AS w
      |      FROM (SELECT lang, n_lang,
      |              CAST(floor(sqrt(n_lang::DOUBLE)) AS BIGINT) AS s0
      |            FROM c)),
      |t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
      |             CAST(sum(w) AS BIGINT) AS w_total FROM w),
      |a AS (SELECT lang, n_lang, w, n_total // 2 AS k_budget,
      |             (n_total // 2) * w AS qnum, w_total FROM w, t),
      |b AS (SELECT *, qnum // w_total AS base, qnum % w_total AS rem
      |      FROM a),
      |ap AS (SELECT *, sum(base) OVER () AS base_sum,
      |              row_number() OVER (ORDER BY rem DESC, lang) AS rk
      |       FROM b),
      |tg AS (SELECT lang, n_lang, w,
      |         LEAST(base + CASE WHEN rk <= k_budget - base_sum
      |                           THEN 1 ELSE 0 END,
      |               n_lang) AS target_n
      |       FROM ap),
      |r AS (SELECT d.lang, d.doc_id, d.h,
      |        row_number() OVER (PARTITION BY d.lang ORDER BY d.h) AS rn
      |      FROM d)""".stripMargin

  private[graft] def mixtureSql: String =
    s"""$mixtureCtes,
      |sel AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_kept,
      |          CAST(sum(r.doc_id) AS BIGINT) AS sel_sum_id,
      |          CAST(sum(r.h) AS BIGINT) AS sel_sum_h
      |        FROM r JOIN tg ON r.lang = tg.lang
      |        WHERE r.rn <= tg.target_n GROUP BY r.lang)
      |SELECT tg.lang, tg.n_lang, tg.w, tg.target_n,
      |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(coalesce(sel_sum_id, 0) AS BIGINT) AS sel_sum_id,
      |       CAST(coalesce(sel_sum_h, 0) AS BIGINT) AS sel_sum_h
      |FROM tg LEFT JOIN sel ON tg.lang = sel.lang
      |ORDER BY tg.lang""".stripMargin

  /** q107's oracle, shared with its streaming twin q122: DuckDB
    * re-trains the bigram LM and re-scores every document. Valid for
    * q122 because bigram counts are additive — the folded per-batch
    * partials equal the batch corpus counts exactly.
    */
  private[graft] def bigramSql: String =
    s"""WITH t AS (SELECT doc_id,
       |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |       FROM documents),
       |bg AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS tok
       |       FROM t, unnest(range(1, len(toks))) AS u(i)
       |       WHERE len(toks) >= 2),
       |c2 AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c2
       |       FROM bg GROUP BY prev, tok),
       |c1 AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1
       |       FROM bg GROUP BY prev),
       |b AS (SELECT c2.prev, c2.tok,
       |        CAST(CASE ${TextOps.log2Ladder.reverse.map(p =>
                  s"WHEN c1 // c2 >= ${1L << p} THEN $p").mkString(" ")}
       |          ELSE 0 END AS BIGINT) AS bits
       |      FROM c2 JOIN c1 USING (prev)),
       |sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_big,
       |         CAST(sum(b.bits) AS BIGINT) AS sum_bits2
       |       FROM bg JOIN b ON bg.prev = b.prev AND bg.tok = b.tok
       |       GROUP BY bg.doc_id)
       |SELECT t.doc_id, coalesce(sc.n_big, 0) AS n_big,
       |       coalesce(sc.sum_bits2, 0) AS sum_bits2,
       |       CAST(CASE WHEN coalesce(sc.sum_bits2, 0) * 100
       |                      <= coalesce(sc.n_big, 0) * 432
       |                 THEN 1 ELSE 0 END AS BIGINT) AS ppl2_pass
       |FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** The q121 operator body, exposed for spec inputs: two-phase
    * distributed prefix sum over (doc_id, n_tok) rows. The output is a
    * pure function of the doc_id ORDER — partition count only changes
    * where the phase boundary falls, never the sums (spec-asserted).
    */
  private[graft] def tokenBudgetShards(s: org.apache.spark.sql.SparkSession,
                                       docFrame: org.apache.spark.sql.DataFrame,
                                       budget: Long,
                                       nParts: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = docFrame.as[PsIn]
    // pin the range partitioning: both passes MUST see identical
    // partition boundaries (range sampling is not deterministic
    // across separate jobs)
    val parts = docs.repartitionByRange(nParts, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .localCheckpoint()
    // pass 1: per-partition subtotals (one 16-byte row each)
    val totals = parts.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var sum = 0L
      it.foreach { r => sum += r.n_tok }
      Iterator.single((pid, sum))
    }.collect().sortBy(_._1)
    // driver scan-fold: offset of partition i = sum of subtotals
    // before it (the partition list is tiny — one row per task)
    val offsets = totals.map(_._1)
      .zip(totals.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val offB = s.sparkContext.broadcast(offsets)
    // pass 2: one streaming pass per partition with its offset
    parts.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var run = offB.value.getOrElse(pid, 0L)
      it.map { r =>
        run += r.n_tok
        PsOut(r.doc_id, r.n_tok, run,
          if (run == 0L) 0L else (run - 1) / budget)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** The registered q110 candidate frame: the query's IVF cell under
    * the seeded quantizer (q86's assignment), reranked by rounded
    * query relevance with vec_id tie-break and cut to the top `n` via
    * TakeOrderedAndProject — so [[mmrSelect]]'s per-pick scans touch at
    * most n rows, never the corpus. Returns the query row (vec_id 0)
    * plus the bounded candidates as (vec_id, v, n2).
    */
  private[graft] def mmrCandidates(e: org.apache.spark.sql.DataFrame,
                                   n: Int): org.apache.spark.sql.DataFrame = {
    val asg = assignSeeded(e)
    val q = asg.where(col("vec_id") === 0)
      .select(col("bucket").as("q_bucket"), col("v").as("qv"),
        col("n2").as("qn2"))
    val topn = asg.join(broadcast(q), col("bucket") === col("q_bucket"))
      .where(col("vec_id") >= 1)
      .withColumn("rel0",
        round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
      .orderBy(desc("rel0"), col("vec_id")).limit(n)
      .select(col("vec_id"), col("v"), col("n2"))
    e.where(col("vec_id") === 0)
      .select(col("vec_id"), col("v"), col("n2"))
      .unionByName(topn)
  }

  /** [[graft.ops.DriverFold]] cap: each row carries a whole vector (the
    * registered q110 frame is bounded to the cell top-100 anyway), while
    * each greedy round costs ~4 scheduling round-trips. The fold replays
    * the identical arithmetic: VectorOps2.dot in array order, Catalyst's
    * exact 4-dp HALF_UP rounding (VectorOps2.round4), java.lang.Double
    * total order for the (score DESC, vec_id ASC) argmax, and greatest()
    * via the same comparison.
    */
  private val MmrDriverCap = 1 << 12

  /** The q110 operator body, exposed for spec inputs: MMR over an
    * embedding frame (vec_id, v, n2) — query = vec_id 0, candidates =
    * the rest. Terminates early when k exceeds the candidate pool
    * (same rule as BPE's merge learning).
    */
  private[graft] def mmrSelect(s: org.apache.spark.sql.SparkSession,
                               frame: org.apache.spark.sql.DataFrame,
                               k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    graft.ops.DriverFold.rows(frame.select(col("vec_id"), col("v"), col("n2")),
        MmrDriverCap, LongType, ArrayType(DoubleType), DoubleType)
      .flatMap(mmrSelectDriver(s, _, k))
      .getOrElse(mmrSelectDistributed(s, frame, k))
  }

  private def mmrSelectDriver(s: org.apache.spark.sql.SparkSession,
                              rows: Array[org.apache.spark.sql.Row],
                              k: Int): Option[org.apache.spark.sql.DataFrame] = {
    val qRows = rows.filter(_.getLong(0) == 0L)
    // the fold's exactness argument assumes one query row (the
    // distributed crossJoin would MULTIPLY candidates under several);
    // zero query rows yield zero picks in both paths, but keep the
    // single code path that is spec-pinned
    if (qRows.length != 1) return None
    import graft.functions.VectorOps2.round4
    def vec(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Double](1).toArray
    def dot(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val qv = vec(qRows.head); val qn2 = qRows.head.getDouble(2)
    final class Cand(val id: Long, val v: Array[Double], val n2: Double,
                     val rel: Double) {
      var ms: Double = 0.0
      var hasMs: Boolean = false
    }
    var cand = rows.filter(_.getLong(0) >= 1L).map { r =>
      val v = vec(r); val n2 = r.getDouble(2)
      new Cand(r.getLong(0), v, n2, round4(dot(v, qv) / math.sqrt(n2 * qn2)))
    }
    val picks = Seq.newBuilder[MmrPick]
    var r = 1
    while (r <= k && cand.nonEmpty) {
      var best: Cand = null; var bestScore = 0.0
      cand.foreach { c =>
        val score = if (r == 1) c.rel else round4(0.7 * c.rel - 0.3 * c.ms)
        val cmp = if (best == null) 1
          else {
            val d = java.lang.Double.compare(score, bestScore)
            if (d != 0) d else java.lang.Long.compare(best.id, c.id)
          }
        if (cmp > 0) { best = c; bestScore = score }
      }
      picks += MmrPick(r.toLong, best.id, best.rel, bestScore)
      val pv = best.v; val pn2 = best.n2
      cand = cand.filter(_.id != best.id)
      cand.foreach { c =>
        val sim = round4(dot(c.v, pv) / math.sqrt(c.n2 * pn2))
        val base = if (c.hasMs) c.ms else -1.0
        c.ms = if (java.lang.Double.compare(sim, base) > 0) sim else base
        c.hasMs = true
      }
      r += 1
    }
    Some(s.createDataFrame(picks.result()).orderBy(col("sel_rank")))
  }

  /** The distributed k-round loop (the pre-fold mmrSelect body) — the
    * path above [[MmrDriverCap]] and the fast==distributed reference.
    */
  private[graft] def mmrSelectDistributed(
      s: org.apache.spark.sql.SparkSession,
      frame: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    // pin the input once: each round's picked-vector lookup re-reads
    // this frame, and when the caller passes a composed pipeline
    // (mmrCandidates' assignment + top-N) an un-pinned plan would
    // re-execute that whole pipeline k times
    val e = frame.localCheckpoint()
    val qv = e.where(col("vec_id") === 0)
      .select(col("v").as("qv"), col("n2").as("qn2"))
    var cand = e.where(col("vec_id") >= 1).crossJoin(broadcast(qv))
      .withColumn("rel",
        round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
      .select(col("vec_id"), col("v"), col("n2"), col("rel"))
      .withColumn("ms", lit(null).cast("double"))
      .localCheckpoint()
    val picks = Seq.newBuilder[MmrPick]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val scoreCol =
        if (r == 1) col("rel")
        else round(lit(0.7) * col("rel") - lit(0.3) * col("ms"), 4)
      val top = cand.withColumn("score", scoreCol)
        .orderBy(desc("score"), col("vec_id")).limit(1)
        .select(col("vec_id"), col("rel"), col("score")).collect()
      if (top.isEmpty) {
        // k exceeded the candidate pool: return the picks made so far
        exhausted = true
      } else {
        val best = top.head
        picks += MmrPick(r.toLong, best.getLong(0), best.getDouble(1),
          best.getDouble(2))
        val pv = e.where(col("vec_id") === best.getLong(0))
          .select(col("v").as("pv"), col("n2").as("pn2"))
        cand = cand.where(col("vec_id") =!= best.getLong(0))
          .crossJoin(broadcast(pv))
          .withColumn("ms", greatest(coalesce(col("ms"), lit(-1.0d)),
            round(dotProduct(col("v"), col("pv")) /
              sqrt(col("n2") * col("pn2")), 4)))
          .select(col("vec_id"), col("v"), col("n2"), col("rel"), col("ms"))
          .localCheckpoint()
        r += 1
      }
    }
    s.createDataFrame(picks.result()).orderBy(col("sel_rank"))
  }

  /** DSIR importance selection (q141; see the registry entry for the
    * full contract). `docs` needs (doc_id, text); `isTarget` is any
    * boolean Column over docs' columns defining the seed sample.
    * Output: (doc_id, n_tok, score, selected) for every doc with at
    * least one token, ordered by doc_id, with exactly min(k, docs)
    * rows flagged selected = 1 (top score, doc_id tie-break).
    */
  private[graft] def dsirSelect(docs: org.apache.spark.sql.DataFrame,
                                isTarget: org.apache.spark.sql.Column,
                                dim: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val toks = dsirToks(docs, isTarget, dim)
    // one pass trains BOTH models: the target sample is a subset of the
    // raw corpus, so its bucket counts are a filtered sum of the same rows
    val counts = toks.groupBy(col("b")).agg(
      count(lit(1)).as("rc"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("tc"))
    dsirScore(toks, counts, dim, k)
  }

  /** Bucketed token stream for the DSIR models: (doc_id, tgt, b) per
    * token, b the portable-polynomial hash bucket.
    */
  private[graft] def dsirToks(docs: org.apache.spark.sql.DataFrame,
                              isTarget: org.apache.spark.sql.Column,
                              dim: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.PolyHash.polyHash
    docs
      // evaluate the target predicate in its OWN projection, below the
      // explode: in one select with the generator, non-generator
      // expressions land ABOVE the Generate and run per TOKEN — for an
      // array_contains(split(text)) predicate that re-split every doc
      // once per token (measured 57s/batch vs 3s at sf10)
      .select(col("doc_id").cast("long").as("doc_id"),
        isTarget.as("tgt"), col("text"))
      .select(col("doc_id"), col("tgt"),
        explode_outer(split(col("text"), " ")).as("tok"))
      .where(col("tok").isNotNull && col("tok") =!= "")
      .select(col("doc_id"), col("tgt"),
        pmod(polyHash(col("tok")), lit(dim.toLong)).as("b"))
  }

  /** Score + select from already-folded bucket counts (b, rc, tc) —
    * the half q142's stream shares with the batch q141: the counts are
    * pure additive statistics, so a per-batch partial fold feeds this
    * unchanged. Model totals derive from the counts themselves
    * (rt = Σrc, tt = Σtc — one 256-row aggregate, not a corpus pass).
    */
  private[graft] def dsirScore(toks: org.apache.spark.sql.DataFrame,
                               counts: org.apache.spark.sql.DataFrame,
                               dim: Int, k: Int,
                               scratch: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKBy.topKBy
    // scored feeds two consumers (the threshold aggregate + the final
    // flag projection); without the pin each re-runs the token scan,
    // the count aggregate, and the scoring join — 4 corpus passes
    // instead of 2 for one small row per doc (the q106 rule).
    // localCheckpoint for batch q141, parquet scratch for q142's
    // stream twin — see pinTiny
    val scored = pinTiny(dsirScored(toks, counts, dim), scratch,
      "dsir_scored")
    // O(k) selection state: the kth-largest key via the bounded-heap
    // aggregate, broadcast back as a threshold — never a global rank
    // window over the corpus. Fewer than k docs → min key → all selected.
    val thr = scored.agg(topKBy(col("key"), col("key"), k).as("keys"))
      .select(array_min(col("keys")).as("thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tok"), col("score"), col("cb"),
        (col("key") >= col("thr")).cast("long").as("selected"))
      .orderBy(col("doc_id"))
  }

  /** The pre-checkpoint scoring pipeline (exposed so the plan spec can
    * assert the broadcast λ join that the checkpoint hides from the
    * registered query's executed plan).
    */
  private[graft] def dsirScored(toks: org.apache.spark.sql.DataFrame,
                                counts: org.apache.spark.sql.DataFrame,
                                dim: Int)
      : org.apache.spark.sql.DataFrame = {
    def ladderBits(ratio: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      TextOps.log2Ladder.foldLeft(lit(0L)) { case (acc, p) =>
        when(ratio >= (1L << p), lit(p.toLong)).otherwise(acc)
      }
    val totals = counts.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
    // per-bucket weight ~ log2(p_target(b) / p_raw(b)), as the floor-log2
    // DIFFERENCE of two cross-multiplied products (one floor per side on
    // comparable magnitudes — a per-side ladder of the two RATIOS instead
    // carries a systematic ~-1-bit/token bias because the smoothing
    // constants shift the two fractional parts differently, which made
    // raw-sum scores length-dominated when first measured). Products stay
    // < 2^63 while each side's (count+1)*(total+dim) does — ~2^45 at
    // sf10; past ~3e9 tokens scale the counts down together first.
    val lam = counts.crossJoin(totals)
      .withColumn("bits_t", ladderBits(expr(s"(tc + 1) * (rt + $dim)")))
      .withColumn("bits_r", ladderBits(expr(s"(rc + 1) * (tt + $dim)")))
      .select(col("b"), (col("bits_t") - col("bits_r")).as("lam"))
    toks.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lam")).as("score"))
      // select on the per-token MEAN in centibits, not the raw sum: the
      // unnormalized importance weight drifts with doc length (all-raw
      // docs score ~ -c*n_tok), so top-k by sum just selects short docs.
      // +64 offsets the numerator non-negative (|lam| <= 62 < 64), where
      // Spark's truncating `div` and DuckDB's flooring `//` agree.
      .withColumn("cb",
        expr("(100 * (score + 64 * n_tok)) div n_tok"))
      // packed selection key: orders as (cb DESC, doc_id ASC) as long
      // as doc_id < 2^32 (5e5 at sf10)
      .withColumn("key",
        col("cb") * 4294967296L + (lit(4294967295L) - col("doc_id")))
  }

  /** q141's oracle: replay bucket hashing, both smoothed ladder costs,
    * the per-doc weight sum, and the top-k election (row_number is the
    * replay form of the engine's O(k) threshold — same total order).
    */
  private def dsirSql(dim: Int, k: Int): String = {
    val ladderT = TextOps.log2Ladder.reverse.map(p =>
      s"WHEN (tc + 1) * (rt + $dim) >= ${1L << p} THEN $p").mkString(" ")
    val ladderR = TextOps.log2Ladder.reverse.map(p =>
      s"WHEN (rc + 1) * (tt + $dim) >= ${1L << p} THEN $p").mkString(" ")
    s"""WITH w AS (SELECT doc_id,
       |         list_contains(string_split(text, ' '), 'dup') AS tgt,
       |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |       FROM documents),
       |hb AS (SELECT doc_id, tgt,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, len(tok)+1),
       |             j -> CAST(unicode(tok[j]) AS BIGINT))),
       |           (acc,x) -> (acc*31+x)%1000000007) % $dim AS b
       |       FROM w),
       |c AS (SELECT b, CAST(count(*) AS BIGINT) AS rc,
       |        CAST(count(*) FILTER (tgt) AS BIGINT) AS tc
       |      FROM hb GROUP BY b),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS rt,
       |        CAST(count(*) FILTER (tgt) AS BIGINT) AS tt FROM hb),
       |lam AS (SELECT b,
       |          CAST(CASE $ladderT ELSE 0 END AS BIGINT)
       |        - CAST(CASE $ladderR ELSE 0 END AS BIGINT) AS lam
       |        FROM c, n),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |        CAST(sum(lam) AS BIGINT) AS score
       |      FROM hb JOIN lam USING (b) GROUP BY doc_id),
       |m AS (SELECT doc_id, n_tok, score,
       |        CAST((100 * (score + 64 * n_tok)) // n_tok AS BIGINT) AS cb
       |      FROM s)
       |SELECT doc_id, n_tok, score, cb,
       |  CAST(CASE WHEN row_number() OVER (ORDER BY cb DESC, doc_id) <= $k
       |       THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** q110's oracle, generated per round like q99's: p<r> is round r's
    * argmax, m<r> the candidates' running max-similarity after it. The
    * candidate CTE replays the registered bounding rule — assign every
    * vector to its seeded-IVF cell (q86's asg), keep the query's cell,
    * rerank by relevance, cut to the top n.
    */
  private def mmrSql(k: Int, n: Int): String = {
    // Every m<r> is referenced twice (by p<r+1> and m<r+1>): without
    // MATERIALIZED DuckDB inlines the chain and re-evaluation grows
    // exponentially in k — instant at sf0.01, hours at sf1.
    def round(r: Int): String =
      s"""p$r AS MATERIALIZED (SELECT vec_id, v, rel, round(0.7*rel - 0.3*ms, 4) AS score
         |        FROM m${r - 1} ORDER BY score DESC, vec_id LIMIT 1),
         |m$r AS MATERIALIZED (SELECT m.vec_id, m.v, m.rel,
         |          greatest(m.ms, round(list_cosine_similarity(m.v, p.v), 4)) AS ms
         |        FROM m${r - 1} m, p$r p WHERE m.vec_id <> p.vec_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |asg AS MATERIALIZED (SELECT vec_id, v, c_id AS bucket FROM (
       |          SELECT e.vec_id, e.v, c.c_id,
       |                 row_number() OVER (PARTITION BY e.vec_id
       |                   ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn
       |          FROM e, cent c)
       |        WHERE rn = 1),
       |qrow AS (SELECT bucket, v AS qv FROM asg WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, v, rel FROM (
       |           SELECT a.vec_id, a.v,
       |                  round(list_cosine_similarity(a.v, q.qv), 4) AS rel
       |           FROM asg a, qrow q
       |           WHERE a.bucket = q.bucket AND a.vec_id >= 1
       |           ORDER BY rel DESC, a.vec_id LIMIT $n)),
       |p1 AS MATERIALIZED (SELECT vec_id, v, rel, rel AS score
       |       FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |m1 AS MATERIALIZED (SELECT c.vec_id, c.v, c.rel,
       |         round(list_cosine_similarity(c.v, p.v), 4) AS ms
       |       FROM cand c, p1 p WHERE c.vec_id <> p.vec_id),
       |${(2 to k).map(round).mkString(",\n")}
       |SELECT * FROM (
       |${(1 to k).map(r =>
            s"SELECT CAST($r AS BIGINT) AS sel_rank, vec_id, rel, score FROM p$r")
            .mkString(" UNION ALL ")}
       |) ORDER BY sel_rank""".stripMargin
  }
}
