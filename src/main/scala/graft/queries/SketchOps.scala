package graft.queries

import graft.Tables
import graft.functions.CmsSketch
import org.apache.spark.sql.functions._

/** Sketch / sampling operators for corpus-scale statistics (SURVEY.md
  * §2.11 extension surface): distinct-count sketches, heavy hitters and
  * weighted samples that stay exact-or-deterministic so the DuckDB
  * oracle can replay them, while shipping only O(k) state per task —
  * the shapes that survive a 100 TB scan.
  */
object SketchOps {

  private val P = graft.functions.TextHash.Mod

  /** Portable integer hash used by the sketches: affine transform mod
    * 1e9+7. Uniform enough on dense key spaces and replayable in any
    * SQL engine (BIGINT multiply-add-mod).
    */
  private val HashA = 982451653L
  private val HashB = 12345L

  /** Further transforms of the same family (the CMS row-hash ladder
    * 982451653 + 7919·j) for the HLL pack's mixing chain.
    */
  private val HashA2 = 982459572L
  private val HashB2 = 67890L
  private val HashA3 = 982467491L
  private val HashB3 = 24680L
  private val HashA4 = 982475410L
  private val HashB4 = 13579L

  /** q124's oracle: replay the registers (idx = pack mod m, rank via a
    * floor(log2) CASE ladder), fold empty registers in with a LEFT
    * JOIN against range(m), and divide the same two exact numbers the
    * engine divides for the raw estimate.
    */
  private def hllSql(m: Int): String = {
    val wBits = graft.functions.HllSketch.wBits(m) // 52 for m = 256
    val ladder = (wBits - 1 to 1 by -1)
      .map(k => s"WHEN w >= ${1L << k} THEN $k").mkString(" ")
    val num = graft.functions.HllSketch.estNumerator(m)
    s"""WITH keys AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS key FROM lineitem),
       |s1 AS (SELECT ($HashA::BIGINT * key + $HashB) % $P AS h1 FROM keys),
       |s2 AS (SELECT xor(h1, h1 >> 17) AS x1 FROM s1),
       |s3 AS (SELECT ($HashA2::BIGINT * x1 + $HashB2) % $P AS h2 FROM s2),
       |s4 AS (SELECT xor(h2, h2 >> 13) AS x2 FROM s3),
       |s5 AS (SELECT ($HashA3::BIGINT * x2 + $HashB3) % $P AS h3,
       |              ($HashA4::BIGINT * x2 + $HashB4) % $P AS h4 FROM s4),
       |pk AS (SELECT h3 * ${1L << 30} + xor(h4, h3 >> 11) AS pack FROM s5),
       |rw AS (SELECT pack % $m AS idx, pack // $m AS w FROM pk),
       |rho AS (SELECT idx, CASE WHEN w = 0 THEN ${wBits + 1}
       |                         ELSE $wBits - (CASE $ladder ELSE 0 END) END AS rh
       |        FROM rw),
       |regs0 AS (SELECT idx, max(rh) AS mr FROM rho GROUP BY idx),
       |allr AS (SELECT unnest(range($m)) AS idx),
       |regs AS (SELECT a.idx, coalesce(r.mr, 0) AS mr
       |         FROM allr a LEFT JOIN regs0 r USING (idx)),
       |agg AS (SELECT CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |               CAST(sum(1::BIGINT << CAST(${wBits + 1} - mr AS INTEGER)) AS BIGINT) AS s_scaled
       |        FROM regs),
       |ex AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact FROM lineitem)
       |SELECT n_exact, n_zero, s_scaled,
       |       round($num / s_scaled, 4) AS est_hll,
       |       round(abs(round($num / s_scaled, 4) - n_exact) / n_exact * 100, 2) AS err_pct
       |FROM ex, agg""".stripMargin
  }

  /** The portable HLL pack of a long key: a multiply–xorshift chain in
    * the mod-P domain. A single affine transform equidistributes but
    * keeps a LATTICE structure (dense sequential keys land on an
    * arithmetic progression, which spreads registers too evenly and
    * biases the estimator — measured n_zero 56 vs the ~117 a uniform
    * hash gives at n=200, m=256); interleaving XOR-shifts between the
    * modular multiplies breaks the lattice while every step stays
    * portable — %, XOR, and >> exist identically in both engines and
    * nothing can overflow (operands stay under 2^30 before each
    * multiply). The final XOR decouples the two packed halves, which
    * are otherwise affine images of the same mixed value.
    */
  private[graft] def hllPack(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h1 = (lit(HashA) * key + lit(HashB)) % P
    val x1 = h1.bitwiseXOR(shiftright(h1, 17))
    val h2 = (lit(HashA2) * x1 + lit(HashB2)) % P
    val x2 = h2.bitwiseXOR(shiftright(h2, 13))
    val h3 = (lit(HashA3) * x2 + lit(HashB3)) % P
    val h4 = (lit(HashA4) * x2 + lit(HashB4)) % P
    h3 * lit(1L << 30) + h4.bitwiseXOR(shiftright(h3, 11))
  }

  /** Digest of an `(regs, n_exact)` frame: empty-register count, exact
    * scaled harmonic sum, raw estimate, error — shared by q124 and the
    * streaming twin (whose folded store produces the same frame).
    */
  private[graft] def hllDigest(agg: org.apache.spark.sql.DataFrame,
                               m: Int): org.apache.spark.sql.DataFrame = {
    val wB = graft.functions.HllSketch.wBits(m)
    agg
      .withColumn("n_zero", size(filter(col("regs"), r => r === 0L)).cast("long"))
      .withColumn("s_scaled", expr(
        s"aggregate(regs, 0L, (acc, r) -> acc + shiftleft(1L, cast(${wB + 1} - r as int)))"))
      .withColumn("est_hll",
        round(lit(graft.functions.HllSketch.estNumerator(m)) / col("s_scaled"), 4))
      .withColumn("err_pct",
        round(abs(col("est_hll") - col("n_exact")) / col("n_exact") * 100, 2))
      .select(col("n_exact"), col("n_zero"), col("s_scaled"),
        col("est_hll"), col("err_pct"))
  }

  val defs: Seq[Q] = Seq(

    // ---- KMV distinct-count sketch (fully oracle-checked) ----------------
    // q28 estimates distincts with Spark's HLL (engine-internal register
    // layout -> rows-only check). The KMV sketch is the oracle-checkable
    // sibling: the k minima of a portable hash are a deterministic
    // function of the key SET, so DuckDB replays the whole estimate with
    // ORDER BY hash LIMIT k. The custom TypedImperativeAggregate
    // (graft.functions.KMVMins) partial-aggregates map-side: each task
    // ships <= k longs, one row total crosses the final exchange.
    Q(
      "q74_kmv_distinct",
      (s, d) => {
        import graft.functions.KMVSketch.kmvMins
        val k = 256
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey").cast("long").as("key"))
          .withColumn("h", (lit(HashA) * col("key") + lit(HashB)) % P)
        val agg = li.agg(
          kmvMins(col("h"), k).as("mins"),
          countDistinct(col("key")).as("n_exact"))
        val est = when(size(col("mins")) < k,
            size(col("mins")).cast("double"))
          .otherwise(round(lit((k - 1).toDouble * P) /
            element_at(col("mins"), k), 4))
        agg
          .withColumn("n_min", size(col("mins")).cast("long"))
          .withColumn("kth_hash", element_at(col("mins"), size(col("mins"))))
          .withColumn("est_kmv", est)
          .withColumn("err_pct",
            round(abs(col("est_kmv") - col("n_exact")) / col("n_exact") * 100, 2))
          .select(col("n_exact"), col("n_min"), col("kth_hash"),
                  col("est_kmv"), col("err_pct"))
      },
      Some(s"""WITH h AS (SELECT DISTINCT ($HashA::BIGINT * l_partkey + $HashB) % $P AS h
             |           FROM lineitem),
             |mins AS (SELECT h FROM h ORDER BY h LIMIT 256),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_min, max(h) AS kth_hash FROM mins),
             |ex AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact FROM lineitem)
             |SELECT n_exact, n_min, kth_hash,
             |       CASE WHEN n_min < 256 THEN CAST(n_min AS DOUBLE)
             |            ELSE round(255 * ${P}.0 / kth_hash, 4) END AS est_kmv,
             |       round(abs(CASE WHEN n_min < 256 THEN CAST(n_min AS DOUBLE)
             |                      ELSE round(255 * ${P}.0 / kth_hash, 4) END
             |                 - n_exact) / n_exact * 100, 2) AS err_pct
             |FROM m, ex""".stripMargin)),

    // ---- Portable HyperLogLog (fully oracle-checked; round 5) ------------
    // The register sketch itself, made replayable: where the retired q28
    // used Spark's engine-internal approx_count_distinct (no external
    // oracle can see its register layout), this HLL routes a portable
    // dual affine hash into m=256 registers and takes integer
    // leading-zero ranks — every register value, the empty-register
    // count, the exact integer Σ2^(wBits+1−M_j), and the raw estimate
    // (one double division of two exact numbers) are identical in
    // DuckDB. Mergeable bounded state like KMV/CMS: m longs per task,
    // entrywise-MAX merge, registered as `hll_registers` on the SQL
    // surface. The engine-internal form survives as a SketchSpec
    // cross-check (built-in vs portable vs exact), the W5 pattern.
    Q(
      "q124_hll_distinct",
      (s, d) => {
        val m = 256
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey").cast("long").as("key"))
          .withColumn("pack", hllPack(col("key")))
        hllDigest(
          li.agg(
            graft.functions.HllSketch.hllRegisters(col("pack"), m).as("regs"),
            countDistinct(col("key")).as("n_exact")),
          m)
      },
      Some(hllSql(256))),

    // ---- HLL over a key STREAM (q124's continuous-ingestion twin) --------
    // One appended m-register partial per micro-batch; registers are
    // entrywise-MAX-mergeable so the fold equals the batch-built sketch
    // BIT FOR BIT (streaming adds zero approximation) and q125 shares
    // q124's full oracle — completing the streaming story for all three
    // sketch families (KMV q123 windowed state, CMS q109 additive fold,
    // HLL max fold).
    Q(
      "q125_hll_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.HllStream.runOn(
          s,
          Tables.lineitem(s, d)
            .select(col("l_orderkey").cast("long").as("doc_id"),
                    col("l_partkey").cast("long").as("key")),
          nSplits = 2)
      },
      Some(hllSql(256))),

    // ---- KMV per group (cardinality estimation under groupBy) ------------
    // The shape the sketch exists for at 100 TB: per-key distinct counts
    // without a double shuffle — one hash aggregate where every group's
    // buffer partial-merges map-side and ships <= k longs. The oracle
    // replays each group's minima with a windowed rank.
    Q(
      "q85_kmv_by_group",
      (s, d) => {
        import graft.functions.KMVSketch.kmvMins
        val k = 64
        val o = Tables.orders(s, d)
          .select(col("o_orderpriority").as("grp"),
                  col("o_custkey").cast("long").as("key"))
          .withColumn("h", (lit(HashA) * col("key") + lit(HashB)) % P)
        val agg = o.groupBy(col("grp")).agg(
          kmvMins(col("h"), k).as("mins"),
          countDistinct(col("key")).as("n_exact"))
        val est = when(size(col("mins")) < k,
            size(col("mins")).cast("double"))
          .otherwise(round(lit((k - 1).toDouble * P) /
            element_at(col("mins"), k), 4))
        agg
          .withColumn("n_min", size(col("mins")).cast("long"))
          .withColumn("kth_hash", element_at(col("mins"), size(col("mins"))))
          .withColumn("est_kmv", est)
          .select(col("grp"), col("n_exact"), col("n_min"),
                  col("kth_hash"), col("est_kmv"))
          .orderBy(col("grp"))
      },
      Some(s"""WITH h AS (SELECT DISTINCT o_orderpriority AS grp,
             |             ($HashA::BIGINT * o_custkey + $HashB) % $P AS h
             |           FROM orders),
             |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
             |      FROM h),
             |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_min, max(h) AS kth_hash
             |      FROM r WHERE rn <= 64 GROUP BY grp),
             |ex AS (SELECT o_orderpriority AS grp,
             |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
             |       FROM orders GROUP BY grp)
             |SELECT m.grp, n_exact, n_min, kth_hash,
             |       CASE WHEN n_min < 64 THEN CAST(n_min AS DOUBLE)
             |            ELSE round(63 * ${P}.0 / kth_hash, 4) END AS est_kmv
             |FROM m JOIN ex ON m.grp = ex.grp
             |ORDER BY m.grp""".stripMargin)),

    // ---- Two-pass EXACT heavy hitters (Misra-Gries + rescore) ------------
    // Pass 1: a per-partition Misra-Gries summary (graft.ops.MisraGries)
    // ships <= k tokens per partition and is guaranteed to contain every
    // global token with count > n/(k+1). Pass 2 exact-counts ONLY the
    // candidates (broadcast semi-join prunes the shuffle to candidate
    // rows) and applies the threshold as an integer comparison — so the
    // output is exactly the true heavy-hitter set, never the approximate
    // MG counts, and the oracle is a plain GROUP BY ... HAVING. k=30 sits
    // just under the fixture's 31-token vocabulary, so the MG decrement
    // path really runs.
    Q(
      "q75_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val k = 30
        val toks = Tables.documents(s, d)
          .select(explode_outer(split(col("text"), " ")).as("tok"))
          .where(col("tok").isNotNull && col("tok") =!= "")
        val candidates = toks.as[String]
          .mapPartitions(it => graft.ops.MisraGries.candidates(k, it))
          .toDF("tok").distinct()
        val counts = toks.join(broadcast(candidates), Seq("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
        val total = toks.agg(count(lit(1)).as("total"))
        counts.crossJoin(total)
          .where(col("n_tok") * (k + 1) > col("total"))
          .select(col("tok"), col("n_tok"),
                  round(col("n_tok") * 100.0 / col("total"), 3).as("pct"))
          .orderBy(desc("n_tok"), col("tok"))
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
             |              FROM documents WHERE text IS NOT NULL),
             |t AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
             |      FROM toks WHERE tok <> '' GROUP BY tok),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS total
             |        FROM toks WHERE tok <> '')
             |SELECT tok, n_tok, round(n_tok * 100.0 / total, 3) AS pct
             |FROM t, tot
             |WHERE n_tok * 31 > total
             |ORDER BY n_tok DESC, tok""".stripMargin)),

    // ---- Deterministic weighted sample (priority sampling) ---------------
    // Priority sampling (Duffield, Lund & Thorup 2007): each row gets
    // priority w / u with u uniform on (0, 1]; the k largest priorities
    // form a weighted-without-replacement sample. u comes from the
    // portable affine hash of the key, so the "random" sample is a
    // deterministic function of the data — replayable, partition-
    // invariant, and DuckDB-checkable (the hash, the division and the
    // rounding are all IEEE-exact in both engines). The top-k plan is
    // TakeOrderedAndProject: no global sort, each partition ships k rows.
    // (The affine hash is fine for keys < ~2^33 before the multiply
    // overflows; a 100 TB keyspace would swap in a 128-bit mix mod P.)
    Q(
      "q76_weighted_sample",
      (s, d) => {
        val kTop = 20
        Tables.orders(s, d)
          .select(col("o_orderkey").cast("long").as("o_orderkey"),
                  col("o_totalprice"))
          .withColumn("h", (lit(HashA) * col("o_orderkey") + lit(HashB)) % P)
          .withColumn("u", (col("h") + 1) / lit((P + 1).toDouble))
          .withColumn("prio", round(col("o_totalprice") / col("u"), 4))
          .orderBy(desc("prio"), col("o_orderkey"))
          .limit(kTop)
          .select(col("o_orderkey"), col("o_totalprice"), col("prio"))
      },
      Some(s"""SELECT o_orderkey, o_totalprice, prio FROM (
             |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice,
             |         round(o_totalprice /
             |           ((($HashA::BIGINT * o_orderkey + $HashB) % $P + 1)
             |             / ${P + 1}.0), 4) AS prio
             |  FROM orders)
             |ORDER BY prio DESC, o_orderkey
             |LIMIT 20""".stripMargin)),

    // ---- Gopher/Dolma-style document quality filters ---------------------
    // Per-doc quality metrics a pretraining pipeline gates on (Gopher
    // rules, Rae et al. 2021 §A1.1): word count, mean word length,
    // most-frequent-token dominance (repetition), stopword presence.
    // One explode + two codegen'd hash aggregates — no windows, no HOFs;
    // flag comparisons use the ROUNDED metric so both engines gate on
    // the identical value. Thresholds chosen to split the fixture so
    // every flag has both outcomes (nothing is vacuously true).
    Q(
      "q77_doc_quality_filters",
      (s, d) => {
        val stops = Seq("the", "a", "of", "and", "to", "in")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
                  explode_outer(split(col("text"), " ")).as("tok"))
          .where(col("tok").isNotNull && col("tok") =!= "")
        val perTok = toks.groupBy(col("doc_id"), col("lang"), col("tok"))
          .agg(count(lit(1)).as("n"))
        val perDoc = perTok.groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("n")).as("n_words"),
               round(sum(col("n") * length(col("tok"))) / sum(col("n")), 4)
                 .as("mean_word_len"),
               max(col("n")).as("top_n"),
               sum(when(col("tok").isin(stops: _*), col("n")).otherwise(0L))
                 .as("n_stop"),
               countDistinct(when(col("tok").isin(stops: _*), col("tok")))
                 .as("n_stop_distinct"))
        perDoc
          .withColumn("frac_top", round(col("top_n") / col("n_words"), 4))
          .withColumn("stop_ratio", round(col("n_stop") / col("n_words"), 4))
          .withColumn("wc_ok", (col("n_words") >= 30).cast("long"))
          .withColumn("mwl_ok",
            (col("mean_word_len") >= 3 && col("mean_word_len") <= 5).cast("long"))
          .withColumn("rep_ok", (col("frac_top") <= 0.15).cast("long"))
          .withColumn("stop_ok", (col("n_stop_distinct") >= 2).cast("long"))
          .withColumn("quality_pass",
            (col("wc_ok") + col("mwl_ok") + col("rep_ok") + col("stop_ok") === 4L)
              .cast("long"))
          .select(col("doc_id"), col("lang"), col("n_words"),
                  col("mean_word_len"), col("frac_top"), col("stop_ratio"),
                  col("n_stop_distinct"), col("wc_ok"), col("mwl_ok"),
                  col("rep_ok"), col("stop_ok"), col("quality_pass"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
             |              FROM documents),
             |pt AS (SELECT doc_id, lang, tok, count(*) AS n
             |       FROM toks WHERE tok <> '' GROUP BY doc_id, lang, tok),
             |pd AS (SELECT doc_id, lang,
             |         CAST(sum(n) AS BIGINT) AS n_words,
             |         round(sum(n * len(tok)) / sum(n), 4) AS mean_word_len,
             |         CAST(max(n) AS BIGINT) AS top_n,
             |         CAST(sum(CASE WHEN tok IN ('the','a','of','and','to','in')
             |                       THEN n ELSE 0 END) AS BIGINT) AS n_stop,
             |         CAST(count(DISTINCT CASE WHEN tok IN ('the','a','of','and','to','in')
             |                             THEN tok END) AS BIGINT) AS n_stop_distinct
             |       FROM pt GROUP BY doc_id, lang),
             |m AS (SELECT *,
             |        round(top_n * 1.0 / n_words, 4) AS frac_top,
             |        round(n_stop * 1.0 / n_words, 4) AS stop_ratio,
             |        CASE WHEN n_words >= 30 THEN 1 ELSE 0 END AS wc_ok,
             |        CASE WHEN mean_word_len BETWEEN 3 AND 5 THEN 1 ELSE 0 END AS mwl_ok,
             |        CASE WHEN round(top_n * 1.0 / n_words, 4) <= 0.15 THEN 1 ELSE 0 END AS rep_ok,
             |        CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END AS stop_ok
             |      FROM pd)
             |SELECT doc_id, lang, n_words, mean_word_len, frac_top, stop_ratio,
             |       n_stop_distinct,
             |       CAST(wc_ok AS BIGINT) AS wc_ok, CAST(mwl_ok AS BIGINT) AS mwl_ok,
             |       CAST(rep_ok AS BIGINT) AS rep_ok, CAST(stop_ok AS BIGINT) AS stop_ok,
             |       CAST(CASE WHEN wc_ok + mwl_ok + rep_ok + stop_ok = 4
             |                 THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
             |FROM m
             |ORDER BY doc_id""".stripMargin)),

    // ---- C4-style cross-document span dedup ------------------------------
    // C4 (Raffel et al. 2020 §2.2) removes any three-sentence span that
    // occurs more than once in the corpus. This corpus has no sentence
    // marks, so the span unit is a non-overlapping 5-token chunk: hash
    // every chunk (portable polyhash), count DISTINCT docs per chunk
    // value globally, and score each document by how much of it is
    // cross-document boilerplate. Chunks are hashed to longs before the
    // global count, so the wide shuffle moves 8-byte keys, and the
    // doc-level rollup is a second small aggregate — two exchanges
    // total, both on hashed keys.
    Q(
      "q78_span_dedup",
      (s, d) => {
        import graft.functions.PolyHash.polyHash
        val cs = 5
        val chunks = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("nc", ceil(size(col("toks")) / lit(cs.toDouble)).cast("long"))
          .select(col("doc_id"),
                  explode_outer(sequence(lit(0L), col("nc") - 1)).as("ci"),
                  col("toks"))
          .where(col("ci").isNotNull)
          .select(col("doc_id"), col("ci"),
                  polyHash(concat_ws(" ",
                    slice(col("toks"), (col("ci") * cs + 1).cast("int"), lit(cs))))
                    .as("ch"))
        val global = chunks.groupBy(col("ch"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        val scored = chunks.join(global, Seq("ch"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
               sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
        scored
          .withColumn("dup_ratio",
            round(col("n_dup_chunks") / col("n_chunks"), 4))
          .withColumn("keep", (col("dup_ratio") <= 0.5).cast("long"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
                  col("dup_ratio"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (SELECT doc_id,
             |        unnest(generate_series(0, CAST(ceil(len(toks) / 5.0) AS BIGINT) - 1)) AS ci,
             |        toks
             |      FROM t),
             |ch AS (SELECT doc_id, ci,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(range(1, len(array_to_string(list_slice(toks, ci*5+1, ci*5+5), ' ')) + 1),
             |             j -> CAST(unicode(array_to_string(list_slice(toks, ci*5+1, ci*5+5), ' ')[j]) AS BIGINT))),
             |           (acc, x) -> (acc * 31 + x) % 1000000007) AS ch
             |       FROM c),
             |g AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM ch GROUP BY ch),
             |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
             |       FROM ch JOIN g USING (ch) GROUP BY doc_id)
             |SELECT doc_id, n_chunks, n_dup_chunks,
             |       round(n_dup_chunks * 1.0 / n_chunks, 4) AS dup_ratio,
             |       CAST(CASE WHEN round(n_dup_chunks * 1.0 / n_chunks, 4) <= 0.5
             |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM sc
             |ORDER BY doc_id""".stripMargin)),

    // ---- Benchmark decontamination (cross-table n-gram overlap) ----------
    // Before training, every eval/benchmark document must be checked for
    // n-gram overlap against the training corpus (GPT-3 appendix C /
    // PaLM-style decontamination). Eval set here: every 50th doc; train:
    // the rest. Overlap runs on the per-row shingle kernels
    // (graft.functions.ShingleKernel — same primitive as q70): the train
    // side dedups each shingle pack to one row (8-byte keys) and the
    // semi-join-then-rollup counts, per eval doc, how many of its
    // shingles leak from the train set. At 100 TB the train-distinct
    // frame is the only wide exchange and it carries longs.
    Q(
      "q81_decontamination",
      (s, d) => {
        import graft.functions.ShingleKernel.shinglePacks
        val base = Tables.documents(s, d)
          .where(size(split(col("text"), " ")) >= 3)
          .select(col("doc_id"),
                  explode_outer(shinglePacks(col("text"))).as("pack"))
          .where(col("pack").isNotNull)
        val eval_ = base.where(col("doc_id") % 50 === 0)
        val train = base.where(col("doc_id") % 50 =!= 0)
          .select(col("pack")).distinct()
        val leaked = eval_.join(train, Seq("pack"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked"))
        eval_.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
          .join(leaked, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_leaked"))
          .withColumn("overlap", round(col("n_leaked") / col("n_shingles"), 4))
          .withColumn("contaminated", (col("overlap") >= 0.8).cast("long"))
          .select(col("doc_id"), col("n_shingles"), col("n_leaked"),
                  col("overlap"), col("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(range(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
             |       FROM toks WHERE len(t) >= 3),
             |ev AS (SELECT * FROM sh WHERE doc_id % 50 = 0),
             |tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 <> 0),
             |lk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked
             |       FROM ev WHERE sh IN (SELECT sh FROM tr) GROUP BY doc_id),
             |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
             |        FROM ev GROUP BY doc_id)
             |SELECT tot.doc_id, n_shingles,
             |       CAST(coalesce(n_leaked, 0) AS BIGINT) AS n_leaked,
             |       round(coalesce(n_leaked, 0) * 1.0 / n_shingles, 4) AS overlap,
             |       CAST(CASE WHEN round(coalesce(n_leaked, 0) * 1.0 / n_shingles, 4) >= 0.8
             |                 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
             |FROM tot LEFT JOIN lk ON tot.doc_id = lk.doc_id
             |ORDER BY tot.doc_id""".stripMargin)),

    // ---- Data-quality audit (expectation checks before load) -------------
    // The validation gate every production pipeline runs before
    // publishing a batch (deequ-style): null counts, domain cardinality,
    // value ranges, and referential integrity — computed in ONE scan +
    // one aggregate (metrics unpivoted via stack), plus one anti-join
    // for the FK orphan check. All metrics are counts or exact data
    // values (no float aggregation), so the audit is engine-exact.
    Q(
      "q84_data_quality_audit",
      (s, d) => {
        val o = Tables.orders(s, d)
        val agg = o.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("custkey_nulls"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("date_nulls"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("price_nulls"),
          countDistinct(col("o_orderpriority")).as("priority_card"),
          min(col("o_totalprice")).as("price_min"),
          max(col("o_totalprice")).as("price_max"),
          sum(when(col("o_totalprice") < 1 || col("o_totalprice") > 600000,
            1L).otherwise(0L)).as("price_oor"),
          min(datediff(col("o_orderdate"), lit("1970-01-01")))
            .as("date_min_epoch_day"),
          max(datediff(col("o_orderdate"), lit("1970-01-01")))
            .as("date_max_epoch_day"))
        val metrics = agg.select(expr(
          """stack(10,
            |  'orders.n_rows',                     CAST(n_rows AS DOUBLE),
            |  'orders.o_custkey.n_null',           CAST(custkey_nulls AS DOUBLE),
            |  'orders.o_orderdate.n_null',         CAST(date_nulls AS DOUBLE),
            |  'orders.o_totalprice.n_null',        CAST(price_nulls AS DOUBLE),
            |  'orders.o_orderpriority.n_distinct', CAST(priority_card AS DOUBLE),
            |  'orders.o_totalprice.min',           price_min,
            |  'orders.o_totalprice.max',           price_max,
            |  'orders.o_totalprice.out_of_range',  CAST(price_oor AS DOUBLE),
            |  'orders.o_orderdate.min_epoch_day',  CAST(date_min_epoch_day AS DOUBLE),
            |  'orders.o_orderdate.max_epoch_day',  CAST(date_max_epoch_day AS DOUBLE)
            |) AS (cname, value)""".stripMargin))
        val orphans = o
          .join(Tables.customer(s, d),
                col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).cast("double").as("value"))
          .select(lit("orders.fk_custkey_orphans").as("cname"), col("value"))
        metrics.union(orphans).orderBy(col("cname"))
      },
      Some("""SELECT cname, value FROM (
             |  SELECT 'orders.n_rows' AS cname, CAST(count(*) AS DOUBLE) AS value FROM orders
             |  UNION ALL SELECT 'orders.o_custkey.n_null', CAST(count(*) FILTER (o_custkey IS NULL) AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_orderdate.n_null', CAST(count(*) FILTER (o_orderdate IS NULL) AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_totalprice.n_null', CAST(count(*) FILTER (o_totalprice IS NULL) AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_orderpriority.n_distinct', CAST(count(DISTINCT o_orderpriority) AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_totalprice.min', min(o_totalprice) FROM orders
             |  UNION ALL SELECT 'orders.o_totalprice.max', max(o_totalprice) FROM orders
             |  UNION ALL SELECT 'orders.o_totalprice.out_of_range',
             |    CAST(count(*) FILTER (o_totalprice < 1 OR o_totalprice > 600000) AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_orderdate.min_epoch_day',
             |    CAST(min(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_orderdate.max_epoch_day',
             |    CAST(max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.fk_custkey_orphans',
             |    CAST(count(*) AS DOUBLE) FROM orders
             |    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             |ORDER BY cname""".stripMargin)),

    // ---- Portable sample quantiles (fully oracle-checked; round 5) -------
    // Exact per-group percentiles (q26) are a full sort per group —
    // the one aggregate that cannot partial-aggregate at 100 TB. The
    // retired q103 answered with Spark's engine-internal
    // approx_percentile (Greenwald-Khanna summary, no external oracle
    // can see its state); this replacement gets the same bounded-state
    // shape from a DETERMINISTIC uniform sample that any engine
    // replays: hash each row's unique key (l_orderkey*8+l_linenumber)
    // through a portable dual-residue transform — affine maps of the
    // key mod two distinct primes P1, P2, packed as r1*2^30 + r2. The
    // affine maps are bijections on each residue ring and CRT makes
    // the residue PAIR unique for keys below P1*P2 ≈ 1.07e18, so the
    // pack is injective at any achievable scale (a single mod-P hash
    // wraps at ~sf20, where h ties would let the engine's topKBy and
    // the oracle's row_number keep different cents rows); the
    // "smallest k hashes" sample therefore has no ties and no RNG —
    // then keep the bottom-64 per group with the mergeable
    // TopKBy heap (k longs per task, map-side partial, ≤k rows per
    // group cross the wire vs q26 shipping the whole group). Quantiles
    // are type-1 (lower empirical) index selections over the sorted
    // sample, rank error O(n·√(ln k / k)) w.h.p.; prices ride as exact
    // cents so sorting and selection are integer-exact in both
    // engines. q26 remains the exact twin; the engine-internal GK form
    // survives as a SketchSpec cross-check (the q28/W5 pattern).
    Q(
      "q126_sample_quantiles",
      (s, d) => {
        import graft.functions.TopKBy.topKBy
        val P1 = 1000000007L; val A1 = 1103515245L; val B1 = 12345L
        val P2 = 1073741789L; val A2 = 69069L; val B2 = 54321L
        val k = 64
        val key = col("l_orderkey") * 8 + col("l_linenumber")
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
            (((lit(A1) * (key % P1) + B1) % P1) * lit(1L << 30)
              + ((lit(A2) * (key % P2) + B2) % P2)).as("h"))
        val agg = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
               topKBy(col("cents"), -col("h"), k).as("samp"))
          .withColumn("sc", array_sort(col("samp")))
          .withColumn("n_samp", size(col("sc")).cast("bigint"))
        def at(p: Double) =
          element_at(col("sc"), ceil(lit(p) * col("n_samp")).cast("int")) / 100.0
        agg.select(col("l_returnflag"), col("n_rows"), col("n_samp"),
            at(0.50).as("p50"), at(0.95).as("p95"), at(0.99).as("p99"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH t AS (
             |  SELECT l_returnflag,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |         ((1103515245 * ((l_orderkey * 8 + l_linenumber) % 1000000007)
             |           + 12345) % 1000000007) * 1073741824
             |         + ((69069 * ((l_orderkey * 8 + l_linenumber) % 1073741789)
             |           + 54321) % 1073741789) AS h
             |  FROM lineitem),
             |g AS (
             |  SELECT l_returnflag, cents,
             |         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
             |         count(*) OVER (PARTITION BY l_returnflag) AS n_rows
             |  FROM t),
             |a AS (
             |  SELECT l_returnflag, max(n_rows) AS n_rows,
             |         count(*) AS n_samp, list_sort(list(cents)) AS sc
             |  FROM g WHERE rn <= 64 GROUP BY l_returnflag)
             |SELECT l_returnflag, n_rows, n_samp,
             |       sc[CAST(ceil(0.5 * n_samp) AS BIGINT)] / 100.0 AS p50,
             |       sc[CAST(ceil(0.95 * n_samp) AS BIGINT)] / 100.0 AS p95,
             |       sc[CAST(ceil(0.99 * n_samp) AS BIGINT)] / 100.0 AS p99
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    // ---- Count-min sketch frequency estimation (fully oracle-checked) ----
    // The bounded-state frequency twin of q74's KMV: a d=4 x w=16
    // counter matrix built by one mergeable TypedImperativeAggregate
    // (graft.functions.CmsCounters) — each task ships exactly d*w longs
    // no matter the input size, vs q75's Misra-Gries which needs a
    // second exact-recount pass for true counts. Point estimates read
    // the MIN over a token's d cells: never an underestimate, over by
    // at most the colliding mass (w=16 is deliberately small so the
    // fixture EXERCISES collisions — at 100 TB w is thousands and the
    // matrix still fits in one task buffer). Row hashes are affine
    // transforms of the portable polynomial token hash, so DuckDB
    // replays the entire matrix cell for cell.
    Q(
      "q108_cms_counts",
      (s, d) => {
        import graft.functions.PolyHash.polyHash
        val dR = 4; val w = 16
        val toks = Tables.documents(s, d)
          .select(explode_outer(split(col("text"), " ")).as("tok"))
          .where(col("tok").isNotNull && col("tok") =!= "")
          .withColumn("h", polyHash(col("tok")))
        val sketch = toks.agg(CmsSketch.cmsCounters(col("h"), dR, w).as("cms"))
        val exact = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("n_exact"))
          .withColumn("h", polyHash(col("tok")))
        val est = (0 until dR).map { j =>
          element_at(col("cms"),
            (lit(j * w) + (lit(CmsSketch.rowA(j)) * col("h") +
              lit(CmsSketch.RowB)) % CmsSketch.P % w + 1).cast("int"))
        }.reduce(least(_, _))
        exact.crossJoin(broadcast(sketch))
          .withColumn("est", est)
          .select(col("tok"), col("n_exact"), col("est"),
            (col("est") - col("n_exact")).as("overcount"))
          .orderBy(col("tok"))
      },
      Some(cmsSql)),

    // ---- CMS over a document stream (q108's continuous-ingestion twin) ---
    // Counter matrices are entrywise-additive, so the streaming state is
    // ONE appended partial matrix per micro-batch (d*w longs — bounded,
    // vs the unbounded per-key state of a streaming groupBy(token)) and
    // the accumulated sketch equals the batch-built matrix BIT FOR BIT:
    // streaming adds no approximation on top of the sketch's own. q109
    // therefore shares q108's oracle end to end — the same per-token
    // point estimates from state that arrived file by file.
    Q(
      "q109_cms_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.CmsStream.runOn(
          s, Tables.documents(s, d), nSplits = 2)
      },
      Some(cmsSql)),

    // ---- KMV set-operation estimation (pre-join cardinality) -------------
    // The planning question sketches exist to answer at 100 TB: how big
    // is the overlap of two key sets, WITHOUT joining them? Each side
    // folds to its k smallest portable hashes (the q74 aggregate, one
    // bounded pass per side); the union's k minima are then a uniform
    // sample of A∪B, so |A∪B| comes from the kth minimum and |A∩B| from
    // the fraction of those minima present in BOTH sketches (the
    // standard KMV set-operation estimator). Everything after the two
    // sketch passes is array arithmetic on 2x256 longs on the driver
    // side of the plan — the exact intersection join here is the
    // verification path only. Estimate lands within ~6% of truth on
    // the fixture; the oracle replays sketches, union, and the
    // intersection fraction bit for bit.
    Q(
      "q120_kmv_join_card",
      (s, d) => {
        import graft.functions.KMVSketch.kmvMins
        val k = 256
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").cast("long").as("key"),
            col("o_orderpriority"), col("o_totalprice"))
        val predA = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        val predB = col("o_totalprice") > 150000
        def sketch(pred: org.apache.spark.sql.Column, name: String) =
          o.where(pred)
            .select(((lit(HashA) * col("key") + lit(HashB)) % P).as("h"))
            .agg(kmvMins(col("h"), k).as(name))
        val ex = o.where(predA && predB)
          .agg(countDistinct(col("key")).as("n_inter_exact"))
        val est = lit((k - 1).toDouble * P)
        sketch(predA, "ma").crossJoin(sketch(predB, "mb")).crossJoin(ex)
          .withColumn("mu_all", array_sort(array_union(col("ma"), col("mb"))))
          .withColumn("mu", slice(col("mu_all"), lit(1),
            least(size(col("mu_all")), lit(k))))
          .withColumn("n_u", size(col("mu")).cast("long"))
          .withColumn("kth_hash", element_at(col("mu"), size(col("mu"))))
          .withColumn("n_both", size(array_intersect(
            array_intersect(col("mu"), col("ma")), col("mb"))).cast("long"))
          .withColumn("est_union", when(col("n_u") < k,
              col("n_u").cast("double"))
            .otherwise(round(est / col("kth_hash"), 4)))
          .withColumn("est_inter", round(
            (col("n_both") * lit(1.0) / col("n_u")) *
              when(col("n_u") < k, col("n_u").cast("double"))
                .otherwise(est / col("kth_hash")), 4))
          .withColumn("err_pct", round(abs(col("est_inter") -
            col("n_inter_exact")) / col("n_inter_exact") * 100, 2))
          .select(col("n_u"), col("kth_hash"), col("n_both"),
            col("est_union"), col("est_inter"), col("n_inter_exact"),
            col("err_pct"))
      },
      Some(s"""WITH ha AS (SELECT DISTINCT ($HashA::BIGINT * o_orderkey + $HashB) % $P AS h
             |            FROM orders
             |            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
             |hb AS (SELECT DISTINCT ($HashA::BIGINT * o_orderkey + $HashB) % $P AS h
             |       FROM orders WHERE o_totalprice > 150000),
             |ma AS (SELECT h FROM ha ORDER BY h LIMIT 256),
             |mb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
             |mu AS (SELECT h FROM (SELECT h FROM ma UNION SELECT h FROM mb)
             |       ORDER BY h LIMIT 256),
             |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM mu) AS n_u,
             |              (SELECT max(h) FROM mu) AS kth_hash,
             |              (SELECT CAST(count(*) AS BIGINT) FROM mu
             |               WHERE h IN (SELECT h FROM ma)
             |                 AND h IN (SELECT h FROM mb)) AS n_both),
             |ex AS (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_inter_exact
             |       FROM orders
             |       WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |         AND o_totalprice > 150000)
             |SELECT n_u, kth_hash, n_both,
             |  CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
             |       ELSE round(255 * ${P}.0 / kth_hash, 4) END AS est_union,
             |  round((n_both * 1.0 / n_u) *
             |    CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
             |         ELSE 255 * ${P}.0 / kth_hash END, 4) AS est_inter,
             |  n_inter_exact,
             |  round(abs(round((n_both * 1.0 / n_u) *
             |    CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
             |         ELSE 255 * ${P}.0 / kth_hash END, 4) - n_inter_exact)
             |    / n_inter_exact * 100, 2) AS err_pct
             |FROM st, ex""".stripMargin))
  )

  /** q108/q109 shared oracle: rebuild the counter matrix cell for cell
    * (GROUP BY per row over the portable token hashes), then replay
    * every point query as the min over the token's d cells.
    */
  private def cmsSql: String =
    s"""WITH w0 AS (SELECT unnest(list_filter(string_split(text, ' '),
       |                          x -> x <> '')) AS tok
       |            FROM documents),
       |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
       |       FROM w0 GROUP BY tok),
       |th AS (SELECT tok, n_exact,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, len(tok)+1),
       |             j -> CAST(unicode(tok[j]) AS BIGINT))),
       |           (acc,x) -> (acc*31+x)%${CmsSketch.P}) AS h
       |       FROM tf),
       |grid AS (SELECT u.j,
       |           (((${CmsSketch.RowA} + u.j*${CmsSketch.RowStep}) * h
       |             + ${CmsSketch.RowB}) % ${CmsSketch.P}) % 16 AS cell,
       |           CAST(sum(n_exact) AS BIGINT) AS cnt
       |         FROM th, unnest([0,1,2,3]) AS u(j) GROUP BY 1, 2),
       |probe AS (SELECT t.tok, t.n_exact, u.j,
       |            (((${CmsSketch.RowA} + u.j*${CmsSketch.RowStep}) * t.h
       |              + ${CmsSketch.RowB}) % ${CmsSketch.P}) % 16 AS cell
       |          FROM th t, unnest([0,1,2,3]) AS u(j)),
       |e AS (SELECT p.tok, any_value(p.n_exact) AS n_exact,
       |        min(g.cnt) AS est
       |      FROM probe p JOIN grid g ON g.j = p.j AND g.cell = p.cell
       |      GROUP BY p.tok)
       |SELECT tok, n_exact, est, est - n_exact AS overcount
       |FROM e ORDER BY tok""".stripMargin
}
