package graft.queries

import graft.Tables
import graft.functions.PolyHash.polyHash
import graft.functions.VectorFunctions.{dotProduct, squaredNorm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators (SURVEY.md §2.14): the pipeline
  * stages between a cleaned corpus and a training run — retrieval
  * scoring, sequence packing, repetition gating, PII anonymization,
  * split assignment, and context chunking. Every query keeps the
  * oracle-parity rules (integer or rounded outputs, total tie-break
  * orders, portable hashes) so the DuckDB gate replays it exactly.
  */
/** Input row of the q87 packing pass (named fields so `.as[PackIn]`
  * resolves by column name).
  */
final case class PackIn(doc_id: Long, lang: String, n_tok: Long)

/** One packed document: `seq_id` is the training-sequence (bin) index
  * within the lang, `seq_fill` the bin's running token count after this
  * doc.
  */
final case class PackOut(doc_id: Long, lang: String, n_tok: Long,
                         seq_id: Long, seq_fill: Long)

object TrainingOps {

  private val P = graft.functions.TextHash.Mod
  private val HashA = 982451653L
  private val HashB = 12345L

  /** Okapi BM25 (k1=1.2, b=0.75) over the document corpus for a fixed
    * term set — the full scored frame (doc_id, n_terms, dl, score),
    * shared by q88 (top-15 report) and q143 (lexical side of the RRF
    * fusion). The idf uses the integer log2 ladder (1 + floor(log2(
    * N div df))), so the only floats are per-row IEEE arithmetic on
    * identical values in both engines; round(.,4) pins the hash.
    * Plan: one explode + two hash aggregates + a broadcast of the tiny
    * idf frame — no windows over the corpus.
    */
  private def bm25Scored(s: SparkSession, d: String,
                         terms: Seq[String]): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("tok"))
      .where(col("tok").isNotNull && col("tok") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
                       sum(col("dl")).as("sum_dl"))
    val tf = toks.where(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val r = expr("n_docs div df")
    val idf = dfc.crossJoin(stats)
      .withColumn("w",
        lit(1L) + TextOps.log2Ladder.foldLeft(lit(0L)) {
          case (acc, p) => when(r >= (1L << p), lit(p.toLong)).otherwise(acc)
        })
      .select(col("tok"), col("w"), col("sum_dl"), col("n_docs"))
    val scored = tf.join(broadcast(idf), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("score_t",
        col("w") * (col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
           max(col("dl")).as("dl"),
           round(sum(col("score_t")), 4).as("score"))
  }

  /** Reciprocal Rank Fusion of two bounded rankings: each side
    * contributes the scaled integer 100000 div (60 + rank); a doc
    * absent from a side keeps rank 0 and contributes nothing. Returns
    * the fused top-n by (rrf DESC, doc_id). Inputs are (doc_id,
    * lex_rank) / (doc_id, sem_rank) with ranks >= 1.
    */
  private[graft] def rrfFuse(lex: DataFrame, sem: DataFrame,
                             n: Int): DataFrame =
    lex.join(sem, Seq("doc_id"), "outer")
      .na.fill(0L, Seq("lex_rank", "sem_rank"))
      .withColumn("rrf",
        when(col("lex_rank") > 0, expr("100000 div (60 + lex_rank)"))
          .otherwise(0L)
        + when(col("sem_rank") > 0, expr("100000 div (60 + sem_rank)"))
          .otherwise(0L))
      .orderBy(desc("rrf"), col("doc_id")).limit(n)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf").cast("long").as("rrf"))

  /** The bm25Scored chain in DuckDB form, ending at CTE `bm`
    * (doc_id, n_terms, dl, score) — shared by q88's and q143's oracles
    * so the replay can't drift from one copy to the other; takes the
    * same term list bm25Scored does for the same reason.
    */
  private def bm25Ctes(terms: Seq[String]): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |              FROM documents),
       |tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM tk WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
       |       GROUP BY doc_id, tok),
       |dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |idf AS (SELECT tok, 1 + (CASE $ladderSql ELSE 0 END) AS w,
       |          sum_dl, n_docs
       |        FROM dfc, st),
       |sc AS (SELECT tf.doc_id, dl.dl,
       |         idf.w * (tf.tf * 2.2 /
       |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
       |             (CAST(idf.sum_dl AS DOUBLE) / idf.n_docs)))) AS score_t
       |       FROM tf JOIN idf ON tf.tok = idf.tok
       |                JOIN dl ON tf.doc_id = dl.doc_id),
       |bm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |       CAST(max(dl) AS BIGINT) AS dl,
       |       round(sum(score_t), 4) AS score
       |       FROM sc GROUP BY doc_id)""".stripMargin

  /** q88's idf ladder in DuckDB form, generated from the same
    * TextOps.log2Ladder the Spark side folds over (q79's pattern) — the
    * two engines can't drift on a hand-transcribed threshold.
    */
  private def ladderSql: String =
    TextOps.log2Ladder.reverse
      .map(p => s"WHEN n_docs // df >= ${1L << p} THEN $p").mkString(" ")

  /** Per-row document quality metrics (the stateless subset of q77's
    * Gopher gates: word count, mean word length, distinct-stopword
    * presence) as pure column expressions over the token ARRAY of each
    * row — no explode, no aggregation, no state. Because every metric
    * is row-local, the identical frame runs over `readStream` (q95) and
    * a batch scan (spec twin), and the DuckDB oracle replays it with
    * list functions.
    */
  private[graft] def rowQuality(df: DataFrame): DataFrame =
    withRowQuality(df).select(col("doc_id"), col("n_words"),
      col("mean_word_len"), col("n_stop_distinct"), col("quality_pass"))

  /** The same gate but PRESERVING the input columns — the composable form
    * q98 chains ahead of dedup/chunk/split.
    */
  private[graft] def withRowQuality(df: DataFrame): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in")
    df.withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("sum_len",
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)))
      // empty/whitespace-only doc: mean is NULL (guarded — ANSI mode
      // would otherwise raise on 0/0), and quality_pass stays 0 below
      // because n_words >= 30 is already false
      .withColumn("mean_word_len",
        when(col("n_words") > 0, round(col("sum_len") / col("n_words"), 4)))
      .withColumn("n_stop_distinct",
        size(array_intersect(array_distinct(col("toks")),
          array(stops.map(lit): _*))).cast("long"))
      .withColumn("quality_pass",
        (col("n_words") >= 30 && col("mean_word_len") >= 3 &&
          col("mean_word_len") <= 5 && col("n_stop_distinct") >= 2).cast("long"))
      .drop("toks", "sum_len")
  }

  /** Greedy sequential packing state machine shared by q87 and its spec:
    * runs over one partition's rows, already sorted by (lang, doc_id);
    * resets the bin counter at every lang boundary. Oversized docs
    * (n_tok > cap) occupy a bin alone.
    */
  private[graft] def packGreedy(cap: Long, it: Iterator[PackIn])
      : Iterator[PackOut] = {
    var curLang: String = null
    var bin = 0L
    var fill = 0L
    it.map { r =>
      if (r.lang != curLang) { curLang = r.lang; bin = 0L; fill = 0L }
      if (fill > 0L && fill + r.n_tok > cap) { bin += 1L; fill = r.n_tok }
      else fill += r.n_tok
      PackOut(r.doc_id, r.lang, r.n_tok, bin, fill)
    }
  }

  /** q98/q104 shared tail: 32/24 sliding-window chunking, hash split,
    * per-(split, lang) stats. Distributive over doc sets with disjoint
    * doc_ids (n_docs counts each doc's chunks once), so summing these
    * partials across stream batches equals the global aggregate.
    */
  private[graft] def chunkSplitStats(deduped: DataFrame): DataFrame = {
    val cs = 32; val stride = 24
    val chunks = deduped.withColumn("toks", split(col("text"), " "))
      .withColumn("nw",
        (ceil(greatest(size(col("toks")) - cs, lit(0)) / lit(stride.toDouble))
          + 1).cast("long"))
      .select(col("doc_id"), col("lang"), col("toks"),
              explode(sequence(lit(0L), col("nw") - 1)).as("chunk_ix"))
      .withColumn("n_ctoks",
        size(slice(col("toks"), (col("chunk_ix") * stride + 1).cast("int"),
          lit(cs))).cast("long"))
    chunks
      .withColumn("h", (lit(HashA) * col("doc_id") + lit(HashB)) % P % 100)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_chunks"),
           sum(col("n_ctoks")).as("sum_ctoks"))
  }

  /** The corpus-prep oracle shared by q98 (batch) and q104 (streaming):
    * gate → prefix-dedup keep-lowest-doc_id → chunk → split → stats.
    */
  private[graft] def corpusPrepSql: String = corpusPrepSqlFrom("", "documents")

  /** [[corpusPrepSql]] with the document source swapped: `prefixCtes`
    * (zero or more `name AS (...),` clauses) is injected after WITH and
    * `src` replaces the documents scan — how q175 replays the same
    * chain over HTML-extracted text.
    */
  private[graft] def corpusPrepSqlFrom(prefixCtes: String, src: String): String =
    s"""WITH ${prefixCtes}d AS (SELECT doc_id, lang, text,
       |         list_filter(string_split(text, ' '), x -> x <> '') AS ftoks
       |       FROM $src),
       |m AS (SELECT doc_id, lang, text,
       |        CAST(len(ftoks) AS BIGINT) AS n_words,
       |        CASE WHEN len(ftoks) > 0 THEN
       |          round(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(ftoks, x -> CAST(len(x) AS BIGINT))),
       |            (a, x) -> a + x) / len(ftoks), 4) END AS mwl,
       |        CAST(len(list_intersect(list_distinct(ftoks),
       |            ['the', 'a', 'of', 'and', 'to', 'in'])) AS BIGINT) AS nsd
       |      FROM d),
       |g AS (SELECT doc_id, lang, text,
       |        array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ') AS pfx
       |      FROM m
       |      WHERE n_words >= 30 AND mwl >= 3 AND mwl <= 5 AND nsd >= 2),
       |dd AS (SELECT doc_id, lang, text FROM (
       |         SELECT doc_id, lang, text,
       |           row_number() OVER (PARTITION BY pfx ORDER BY doc_id) AS rn
       |         FROM g) WHERE rn = 1),
       |t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM dd),
       |w2 AS (SELECT doc_id, lang, toks,
       |         1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS BIGINT) AS nw
       |       FROM t),
       |c AS (SELECT doc_id, lang, unnest(range(0, nw)) AS chunk_ix, toks FROM w2),
       |ch AS (SELECT doc_id, lang, chunk_ix,
       |         CAST(len(list_slice(toks, chunk_ix * 24 + 1,
       |                             chunk_ix * 24 + 32)) AS BIGINT) AS n_ctoks
       |       FROM c),
       |sp AS (SELECT doc_id, lang, n_ctoks,
       |         CASE WHEN ($HashA::BIGINT * doc_id + $HashB) % $P % 100 < 80 THEN 'train'
       |              WHEN ($HashA::BIGINT * doc_id + $HashB) % $P % 100 < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM ch)
       |SELECT split, lang,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(n_ctoks) AS BIGINT) AS sum_ctoks
       |FROM sp GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin

  /** q99's oracle, generated per round like `ladderSql`: each BPE round
    * is a pair-count aggregate, a 1-row argmax, a recursive merge walk
    * (the same left-to-right non-overlap rule as BpeTrain.applyMerge),
    * and a post-merge corpus-size audit.
    */
  private def bpeOracleSql(k: Int): String =
    s"""WITH RECURSIVE
       |${bpeRoundsCtes(k)}
       |${(1 to k).map(r =>
            s"SELECT CAST($r AS BIGINT) AS round, a, b, n AS pair_n, after AS corpus_syms_after FROM stat$r")
            .mkString("SELECT * FROM (", " UNION ALL ", ")")} ORDER BY round""".stripMargin

  /** Shared CTE chain for q99/q102: word-frequency table, per-char
    * start state, and k BPE rounds ending in the merged word-type
    * table `s<k>` plus per-round `stat<r>` audit rows.
    */
  private def bpeRoundsCtes(k: Int): String = {
    def round(r: Int): String =
      s"""p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(freq) AS BIGINT) AS n
         |        FROM s${r - 1}, unnest(range(1, len(syms))) AS u(i)
         |        GROUP BY syms[i], syms[i+1]),
         |best$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         |walk$r AS (
         |  SELECT word, freq, syms, b.a AS ma, b.b AS mb, CAST(1 AS BIGINT) AS i,
         |         CAST([] AS VARCHAR[]) AS acc
         |  FROM s${r - 1}, best$r b
         |  UNION ALL
         |  SELECT word, freq, syms, ma, mb,
         |    CASE WHEN i + 1 <= len(syms) AND syms[i] = ma AND syms[i+1] = mb
         |         THEN i + 2 ELSE i + 1 END,
         |    list_append(acc, CASE WHEN i + 1 <= len(syms) AND syms[i] = ma
         |                           AND syms[i+1] = mb
         |                          THEN ma || mb ELSE syms[i] END)
         |  FROM walk$r WHERE i <= len(syms)),
         |s$r AS (SELECT word, freq, acc AS syms FROM walk$r WHERE i = len(syms) + 1),
         |stat$r AS (SELECT b.a, b.b, b.n,
         |             (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM s$r) AS after
         |           FROM best$r b)""".stripMargin
    val rounds = (1 to k).map(round).mkString(",\n")
    s"""w0 AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |       FROM documents),
       |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0 GROUP BY word),
       |s0 AS (SELECT word, freq,
       |         list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
       |       FROM wf),
       |$rounds""".stripMargin
  }

  /** q86's oracle, shared with its streaming twin q111: DuckDB replays
    * the seeded index build (assignment) and the bucket probe row for
    * row. Valid for q111 because the incremental store accumulates the
    * SAME assignment function applied batch by batch.
    */
  private[graft] val ivfSeededSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |asg AS (SELECT vec_id, v, c_id AS bucket FROM (
      |          SELECT e.vec_id, e.v, c.c_id,
      |                 row_number() OVER (PARTITION BY e.vec_id
      |                   ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn
      |          FROM e, cent c)
      |        WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, bucket
      |      FROM asg WHERE vec_id >= 8 AND vec_id < 18),
      |sc AS (SELECT q.q_id, q.bucket, a.vec_id AS n_id,
      |              round(list_cosine_similarity(a.v, q.qv), 4) AS cos_r,
      |              row_number() OVER (PARTITION BY q.q_id
      |                ORDER BY round(list_cosine_similarity(a.v, q.qv), 4) DESC, a.vec_id) AS rn
      |       FROM q JOIN asg a ON a.bucket = q.bucket
      |       WHERE a.vec_id <> q.q_id)
      |SELECT q_id, CAST(bucket AS BIGINT) AS bucket, n_id, cos_r
      |FROM sc WHERE rn <= 3
      |ORDER BY q_id, cos_r DESC, n_id""".stripMargin

  val defs: Seq[Q] = Seq(

    // ---- Seeded IVF ANN, fully oracle-checked ----------------------------
    // The zero-training variant of q42's IVF: the coarse quantizer is
    // pinned to data-sampled seeds (the first 8 corpus vectors), and
    // BOTH the assignment and the probe rank on ROUNDED cosine with
    // index tie-breaks, so the whole index build + probe is a
    // deterministic function of the data that DuckDB replays row for
    // row. Since round 6 q42's Lloyd-trained form is ALSO full-oracle
    // (integer-mean centroid updates + the same rounded ranking —
    // VectorOps.ivfLloydSql); this seeded twin remains as the
    // training-free baseline. Same physical shape as q42: one
    // broadcast of 8 centroids, one bucket shuffle, per-bucket top-k.
    Q(
      "q86_ivf_seeded_ann",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
          .where(col("n2") > 0d) // withNorm semantics: no cosine, no row
        val cent = e.where(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
        val assigned = e.crossJoin(broadcast(cent))
          .withColumn("cos_c",
            round(dotProduct(col("v"), col("cv")) / sqrt(col("n2") * col("cn2")), 4))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("c_id"))))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("n2"), col("c_id").as("bucket"))
        val q = assigned.where(col("vec_id") >= 8 && col("vec_id") < 18)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
                  col("n2").as("qn2"), col("bucket"))
        assigned.join(broadcast(q), Seq("bucket"))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("cos_r",
            round(dotProduct(col("v"), col("qv")) / sqrt(col("n2") * col("qn2")), 4))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
          .where(col("rn") <= 3)
          .select(col("q_id"), col("bucket").cast("long").as("bucket"),
                  col("vec_id").as("n_id"), col("cos_r"))
          .orderBy(col("q_id"), col("cos_r").desc, col("n_id"))
      },
      Some(ivfSeededSql)),

    // ---- Greedy sequence packing (pretraining batch assembly) ------------
    // Packs documents into <=128-token training sequences, greedy
    // first-fit in doc_id order within each lang — the standard
    // "concatenate docs up to the context length" step before
    // tokenized-example serialization. The packing is inherently
    // sequential PER GROUP, so the distributed shape is: shuffle once on
    // the group key, sort within partitions, then a single stateful pass
    // per partition (a lang never spans partitions; at 100 TB the group
    // key becomes (lang, shard) so each task packs a bounded shard).
    // The oracle replays the same state machine with a recursive CTE.
    Q(
      "q87_seq_pack",
      (s, d) => {
        import s.implicits._
        val cap = 128L
        val docs = Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
                  size(split(col("text"), " ")).cast("long").as("n_tok"))
        docs.repartition(col("lang"))
          .sortWithinPartitions(col("lang"), col("doc_id"))
          .as[PackIn]
          .mapPartitions(it => packGreedy(cap, it))
          .toDF()
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id, lang,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |       FROM documents),
             |t AS (SELECT lang, doc_id, n_tok,
             |        row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |      FROM d),
             |r AS (
             |  SELECT lang, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS seq_id,
             |         n_tok AS seq_fill
             |  FROM t WHERE rn = 1
             |  UNION ALL
             |  SELECT t.lang, t.doc_id, t.n_tok, t.rn,
             |         CASE WHEN r.seq_fill + t.n_tok > 128 THEN r.seq_id + 1
             |              ELSE r.seq_id END,
             |         CASE WHEN r.seq_fill + t.n_tok > 128 THEN t.n_tok
             |              ELSE r.seq_fill + t.n_tok END
             |  FROM r JOIN t ON t.lang = r.lang AND t.rn = r.rn + 1)
             |SELECT doc_id, lang, n_tok, seq_id, seq_fill
             |FROM r
             |ORDER BY lang, doc_id""".stripMargin)),

    // ---- BM25 retrieval scoring ------------------------------------------
    // Okapi BM25 (k1=1.2, b=0.75) for a two-term query over the corpus —
    // the retrieval scorer behind RAG data selection. The idf uses the
    // q79 integer log2 ladder (1 + floor(log2(N div df))) instead of ln,
    // so the only floats are per-row IEEE arithmetic on identical values
    // in both engines; the two per-term scores sum commutatively and the
    // final round(.,4) pins the hash. Plan: one explode + two hash
    // aggregates + a broadcast of 2 df rows — no windows over the corpus.
    Q(
      "q88_bm25_rank",
      (s, d) => {
        bm25Scored(s, d, Seq("dup", "spark"))
          .orderBy(desc("score"), col("doc_id"))
          .limit(15)
          .select(col("doc_id"), col("n_terms"), col("dl"), col("score"))
      },
      Some(s"""WITH ${bm25Ctes(Seq("dup", "spark"))}
             |SELECT doc_id, n_terms, dl, score
             |FROM bm
             |ORDER BY score DESC, doc_id
             |LIMIT 15""".stripMargin)),

    // ---- Hybrid retrieval: reciprocal rank fusion (lexical + semantic) ---
    // The standard production hybrid: the SAME corpus ranked two ways —
    // BM25 over the text (q88's scorer, shared bm25Scored) and cosine
    // over the embeddings (q40's convention: query = vec 0, which is
    // the same entity as doc 0) — fused with Reciprocal Rank Fusion
    // (Cormack et al. 2009): each side contributes 1/(60+rank) for its
    // top-20, here as the scaled integer 100000 div (60+rank) so fused
    // scores are BIGINTs and both engines replay the election exactly.
    // A doc missing from a side contributes 0 (rank recorded as 0).
    //
    // Scale shape: each side is an existing bounded retrieval — a
    // corpus scan into TakeOrderedAndProject(k=20); the rank windows
    // and the outer-join fusion then run over 20-row frames (bounded,
    // never the corpus), and the output is the fused top-10.
    Q(
      "q143_hybrid_rrf",
      (s, d) => {
        val k = 20
        val wL = Window.orderBy(desc("score"), col("doc_id"))
        val lex = bm25Scored(s, d, Seq("dup", "spark"))
          .orderBy(desc("score"), col("doc_id")).limit(k)
          .withColumn("lex_rank", row_number().over(wL).cast("long"))
          .select(col("doc_id").cast("long").as("doc_id"), col("lex_rank"))
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
          .where(col("n2") > 0d) // withNorm semantics: no cosine, no row
        val q0 = e.where(col("vec_id") === 0)
          .select(col("v").as("qv"), col("n2").as("qn2"))
        val wS = Window.orderBy(desc("cos_r"), col("vec_id"))
        val sem = e.crossJoin(broadcast(q0))
          .where(col("vec_id") =!= 0)
          .withColumn("cos_r",
            round(dotProduct(col("v"), col("qv")) /
              sqrt(col("n2") * col("qn2")), 4))
          .orderBy(desc("cos_r"), col("vec_id")).limit(k)
          .withColumn("sem_rank", row_number().over(wS).cast("long"))
          .select(col("vec_id").cast("long").as("doc_id"), col("sem_rank"))
        rrfFuse(lex, sem, n = 10)
      },
      Some(s"""WITH ${bm25Ctes(Seq("dup", "spark"))},
             |lexr AS (SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
             |           SELECT doc_id, row_number() OVER
             |             (ORDER BY score DESC, doc_id) AS rn FROM bm)
             |         WHERE rn <= 20),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |semr AS (SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
             |           SELECT e.vec_id AS doc_id, row_number() OVER
             |             (ORDER BY round(list_cosine_similarity(e.v, q.qv), 4)
             |                DESC, e.vec_id) AS rn
             |           FROM e, qv q WHERE e.vec_id <> 0)
             |         WHERE rn <= 20),
             |f AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             |        CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
             |        CAST(coalesce(s.sem_rank, 0) AS BIGINT) AS sem_rank,
             |        CAST(coalesce(100000 // (60 + l.lex_rank), 0)
             |           + coalesce(100000 // (60 + s.sem_rank), 0) AS BIGINT) AS rrf
             |      FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id)
             |SELECT doc_id, lex_rank, sem_rank, rrf FROM f
             |ORDER BY rrf DESC, doc_id
             |LIMIT 10""".stripMargin)),

    // ---- Duplicate-n-gram repetition signals (Gopher §A1.1 completion) ---
    // q77 gates on top-TOKEN dominance; Gopher's remaining repetition
    // rules gate on n-grams: the fraction of 2-gram occurrences that are
    // duplicated within the doc, and the share of the single most
    // frequent 2-gram. Thresholds (0.10 / 0.08) split the fixture so
    // both flags carry signal. One explode + two hash aggregates.
    Q(
      "q89_dup_ngrams",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .where(size(col("toks")) >= 2)
          .select(col("doc_id"),
            explode(expr("transform(sequence(0, size(toks) - 2)," +
              " i -> concat_ws(' ', slice(toks, i + 1, 2)))")).as("g"))
        val perGram = grams.groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("n"))
        perGram.groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_grams"),
               sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_dup"),
               max(col("n")).as("top_n"))
          .withColumn("dup_frac", round(col("n_dup") / col("n_grams"), 4))
          .withColumn("top_frac", round(col("top_n") / col("n_grams"), 4))
          .withColumn("rep2_ok", (col("dup_frac") <= 0.10).cast("long"))
          .withColumn("top2_ok", (col("top_frac") <= 0.08).cast("long"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"), col("top_n"),
                  col("dup_frac"), col("top_frac"), col("rep2_ok"), col("top2_ok"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |           WHERE len(string_split(text, ' ')) >= 2),
             |g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
             |      FROM t, unnest(range(1, len(t))) AS u(i)),
             |pg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS n
             |       FROM g GROUP BY doc_id, g),
             |pd AS (SELECT doc_id,
             |         CAST(sum(n) AS BIGINT) AS n_grams,
             |         CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_dup,
             |         CAST(max(n) AS BIGINT) AS top_n
             |       FROM pg GROUP BY doc_id)
             |SELECT doc_id, n_grams, n_dup, top_n,
             |       round(n_dup * 1.0 / n_grams, 4) AS dup_frac,
             |       round(top_n * 1.0 / n_grams, 4) AS top_frac,
             |       CAST(CASE WHEN round(n_dup * 1.0 / n_grams, 4) <= 0.10
             |                 THEN 1 ELSE 0 END AS BIGINT) AS rep2_ok,
             |       CAST(CASE WHEN round(top_n * 1.0 / n_grams, 4) <= 0.08
             |                 THEN 1 ELSE 0 END AS BIGINT) AS top2_ok
             |FROM pd
             |ORDER BY doc_id""".stripMargin)),

    // ---- PII anonymization + k-anonymity audit ---------------------------
    // Before a table leaves the trust boundary as training data: the
    // direct identifier is pseudonymized (portable hash — deterministic,
    // join-preserving, irreversible without the dictionary), the numeric
    // quasi-identifier is generalized to $1000 buckets, and each
    // (segment, bucket) equivalence class is audited against k=20 —
    // classes smaller than k are flagged for suppression (k-anonymity,
    // Sweeney 2002). One scan + one window count, no extra shuffle
    // beyond the class key.
    Q(
      "q90_pii_kanon",
      (s, d) => {
        val c = Tables.customer(s, d)
          .withColumn("pseudo",
            concat(lit("c-"), polyHash(col("c_name")).cast("string")))
          .withColumn("bal_bucket",
            (floor(col("c_acctbal") / 1000) * 1000).cast("long"))
        c.withColumn("grp_n", count(lit(1)).over(
            Window.partitionBy(col("c_mktsegment"), col("bal_bucket"))))
          .withColumn("suppress", (col("grp_n") < 20).cast("long"))
          .select(col("pseudo"), col("c_mktsegment"), col("bal_bucket"),
                  col("grp_n"), col("suppress"))
          .orderBy(col("pseudo"))
      },
      Some("""WITH c AS (SELECT 'c-' || CAST(
             |           list_reduce(list_prepend(CAST(0 AS BIGINT),
             |             list_transform(range(1, len(c_name) + 1),
             |               j -> CAST(unicode(c_name[j]) AS BIGINT))),
             |             (acc, x) -> (acc * 31 + x) % 1000000007) AS VARCHAR) AS pseudo,
             |         c_mktsegment,
             |         CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS bal_bucket
             |       FROM customer)
             |SELECT pseudo, c_mktsegment, bal_bucket,
             |       CAST(count(*) OVER (PARTITION BY c_mktsegment, bal_bucket) AS BIGINT) AS grp_n,
             |       CAST(CASE WHEN count(*) OVER (PARTITION BY c_mktsegment, bal_bucket) < 20
             |                 THEN 1 ELSE 0 END AS BIGINT) AS suppress
             |FROM c
             |ORDER BY pseudo""".stripMargin)),

    // ---- Deterministic train/val/test split ------------------------------
    // Split assignment by portable hash of the stable key (80/10/10) —
    // reproducible across runs and engines, no RNG state, and membership
    // is decidable per row without a global pass (the property that
    // matters when the corpus is 100 TB: the split is a map-side column,
    // not a shuffle). Output audits the per-lang distribution.
    Q(
      "q91_split_assign",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("h",
            (lit(HashA) * col("doc_id") + lit(HashB)) % P % 100)
          .withColumn("split",
            when(col("h") < 80, "train").when(col("h") < 90, "val")
              .otherwise("test"))
        docs.groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n"))
          .withColumn("pct", round(col("n") * 100.0 /
            sum(col("n")).over(Window.partitionBy(col("lang"))), 2))
          .orderBy(col("lang"), col("split"))
      },
      Some(s"""WITH d AS (SELECT lang,
             |         CASE WHEN ($HashA::BIGINT * doc_id + $HashB) % $P % 100 < 80 THEN 'train'
             |              WHEN ($HashA::BIGINT * doc_id + $HashB) % $P % 100 < 90 THEN 'val'
             |              ELSE 'test' END AS split
             |       FROM documents),
             |g AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n
             |      FROM d GROUP BY lang, split)
             |SELECT lang, split, n,
             |       round(n * 100.0 / sum(n) OVER (PARTITION BY lang), 2) AS pct
             |FROM g
             |ORDER BY lang, split""".stripMargin)),

    // ---- Sliding-window context chunking (RAG / long-doc splitting) ------
    // Splits every document into 32-token windows with stride 24 (8-token
    // overlap) — the chunking step of retrieval indexing and of
    // long-document pretraining. Chunk count, boundaries and the chunk
    // content hash are all exact-integer functions of the text, and the
    // explode is generated per row (no shuffle at all until a downstream
    // consumer groups). Window math: 1 + ceil(max(n-32,0)/24) windows,
    // last window right-aligned-short.
    Q(
      "q92_chunk_windows",
      (s, d) => {
        val (cs, stride) = (32, 24)
        Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("nw",
            (ceil(greatest(size(col("toks")) - cs, lit(0)) / lit(stride.toDouble))
              + 1).cast("long"))
          .select(col("doc_id"), col("toks"),
                  explode(sequence(lit(0L), col("nw") - 1)).as("chunk_ix"))
          .withColumn("ctoks",
            slice(col("toks"), (col("chunk_ix") * stride + 1).cast("int"), lit(cs)))
          .select(col("doc_id"), col("chunk_ix"),
                  size(col("ctoks")).cast("long").as("n_ctoks"),
                  polyHash(concat_ws(" ", col("ctoks"))).as("chunk_hash"))
          .orderBy(col("doc_id"), col("chunk_ix"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |w AS (SELECT doc_id, toks,
             |        1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS BIGINT) AS nw
             |      FROM t),
             |c AS (SELECT doc_id, unnest(range(0, nw)) AS chunk_ix, toks FROM w),
             |ch AS (SELECT doc_id, chunk_ix,
             |         array_to_string(list_slice(toks, chunk_ix * 24 + 1,
             |                                    chunk_ix * 24 + 32), ' ') AS ctext,
             |         CAST(len(list_slice(toks, chunk_ix * 24 + 1,
             |                             chunk_ix * 24 + 32)) AS BIGINT) AS n_ctoks
             |       FROM c)
             |SELECT doc_id, chunk_ix, n_ctoks,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(range(1, len(ctext) + 1),
             |           j -> CAST(unicode(ctext[j]) AS BIGINT))),
             |         (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_hash
             |FROM ch
             |ORDER BY doc_id, chunk_ix""".stripMargin)),

    // ---- Source-mixture rebalancing (pretraining data mixing) ------------
    // Rebalances a multi-source corpus to a target mixture — here
    // balance-down-to-the-smallest-source, the degenerate uniform case
    // of Pile/DoReMi-style mixture weighting. Unlike q55b (FIXED
    // per-stratum rates), the rates are COMPUTED from the observed
    // source counts, so the dataflow is the production one: one count
    // aggregate, a broadcast of per-source hash thresholds back onto
    // the corpus, one filtered recount. Sampling is the portable affine
    // hash against floor(rate*P) — deterministic, replayable,
    // engine-exact; a row's membership never depends on partitioning.
    Q(
      "q93_source_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("h", (lit(HashA) * col("doc_id") + lit(HashB)) % P)
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_source"))
        val tgt = counts.agg(min(col("n_source")).as("target_n"))
        val rates = counts.crossJoin(tgt)
          .withColumn("rate", col("target_n").cast("double") / col("n_source"))
          .withColumn("thresh",
            floor(col("rate") * lit(P.toDouble)).cast("long"))
        val kept = docs
          .join(broadcast(rates.select(col("source"), col("thresh"))), Seq("source"))
          .where(col("h") < col("thresh"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("source"), "left")
          .na.fill(0L, Seq("n_kept"))
          .withColumn("share_pct", round(col("n_kept") * 100.0 /
            sum(col("n_kept")).over(Window.partitionBy()), 2))
          .select(col("source"), col("n_source"), col("target_n"),
                  round(col("rate"), 6).as("rate"), col("n_kept"),
                  col("share_pct"))
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source, doc_id,
             |         ($HashA::BIGINT * doc_id + $HashB) % $P AS h
             |       FROM documents),
             |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
             |      FROM d GROUP BY source),
             |t AS (SELECT min(n_source) AS target_n FROM c),
             |r AS (SELECT source, n_source, target_n,
             |        CAST(target_n AS DOUBLE) / n_source AS rate,
             |        CAST(floor(CAST(target_n AS DOUBLE) / n_source * $P.0) AS BIGINT) AS thresh
             |      FROM c, t),
             |k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
             |      FROM d JOIN r ON d.source = r.source
             |      WHERE d.h < r.thresh GROUP BY d.source)
             |SELECT r.source, n_source, target_n,
             |       round(rate, 6) AS rate,
             |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
             |       round(coalesce(n_kept, 0) * 100.0 /
             |             sum(coalesce(n_kept, 0)) OVER (), 2) AS share_pct
             |FROM r LEFT JOIN k ON r.source = k.source
             |ORDER BY r.source""".stripMargin)),

    // ---- Seeded product-quantized ANN, fully oracle-checked --------------
    // q73's PQ trains Lloyd codebooks (recall-spec'd; the unrounded
    // argmin is FP-order sensitive, so no oracle). This twin pins each
    // of the 4 sub-space codebooks to data-sampled seeds (the first 16
    // vectors' sub-vectors) and makes every step a deterministic
    // function of the data: sub-distances are an index-order fold of
    // squared diffs (bit-identical in both engines), assignment and
    // ranking use ROUNDED distances with index tie-breaks, and the ADC
    // score sums the 4 rounded table entries in a FIXED association
    // (((d0+d1)+d2)+d3). Same physical shape as production PQ: encode
    // once (codes are 4 small ints per vector), score queries against a
    // 16-entry lookup table per sub-space, never against raw vectors.
    Q(
      "q94_pq_seeded_ann",
      (s, d) => {
        val nSub = 4; val subDim = 16; val nCw = 16
        def sqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x), 4)
        val sub = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"), explode(sequence(lit(0L), lit(nSub - 1L))).as("j"),
                  col("v"))
          .withColumn("sv", slice(col("v"), (col("j") * subDim + 1).cast("int"),
                                  lit(subDim)))
          .select(col("vec_id"), col("j"), col("sv"))
        val cw = sub.where(col("vec_id") < nCw)
          .select(col("vec_id").as("c_id"), col("j").as("cj"), col("sv").as("cv"))
        val codes = sub.join(broadcast(cw), col("j") === col("cj"))
          .withColumn("d2", sqDist(col("sv"), col("cv")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id"), col("j"))
              .orderBy(col("d2"), col("c_id"))))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("j"), col("c_id").as("code"))
        val q = sub.where(col("vec_id") >= nCw && col("vec_id") < nCw + 10)
          .select(col("vec_id").as("q_id"), col("j").as("qj"), col("sv").as("qv"))
        val dtab = q.join(broadcast(cw), col("qj") === col("cj"))
          .select(col("q_id"), col("qj"), col("c_id"),
                  sqDist(col("qv"), col("cv")).as("dj"))
        val scored = codes.join(broadcast(dtab),
            col("j") === col("qj") && col("code") === col("c_id"))
          .where(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(max(when(col("j") === 0, col("dj"))).as("d0"),
               max(when(col("j") === 1, col("dj"))).as("d1"),
               max(when(col("j") === 2, col("dj"))).as("d2"),
               max(when(col("j") === 3, col("dj"))).as("d3"))
          .withColumn("adc",
            round(col("d0") + col("d1") + col("d2") + col("d3"), 4))
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))))
          .where(col("rn") <= 3)
          .select(col("q_id"), col("vec_id").as("n_id"), col("adc"))
          .orderBy(col("q_id"), col("adc"), col("n_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |sub0 AS (SELECT vec_id, unnest([0,1,2,3]) AS j, v FROM e),
             |sub AS (SELECT vec_id, j,
             |          list_slice(v, j*16 + 1, j*16 + 16) AS sv
             |        FROM sub0),
             |cw AS (SELECT vec_id AS c_id, j AS cj, sv AS cv FROM sub WHERE vec_id < 16),
             |codes AS (SELECT vec_id, j, c_id AS code FROM (
             |            SELECT sub.vec_id, sub.j, cw.c_id,
             |              row_number() OVER (PARTITION BY sub.vec_id, sub.j
             |                ORDER BY round(list_reduce(list_prepend(0.0,
             |                    list_transform(range(1, 17),
             |                      i -> (sub.sv[i] - cw.cv[i]) * (sub.sv[i] - cw.cv[i]))),
             |                    (acc, x) -> acc + x), 4), cw.c_id) AS rn
             |            FROM sub JOIN cw ON sub.j = cw.cj)
             |          WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, j AS qj, sv AS qv
             |      FROM sub WHERE vec_id >= 16 AND vec_id < 26),
             |dtab AS (SELECT q_id, qj, c_id,
             |           round(list_reduce(list_prepend(0.0,
             |               list_transform(range(1, 17),
             |                 i -> (q.qv[i] - cw.cv[i]) * (q.qv[i] - cw.cv[i]))),
             |               (acc, x) -> acc + x), 4) AS dj
             |         FROM q JOIN cw ON q.qj = cw.cj),
             |sc AS (SELECT dtab.q_id, codes.vec_id,
             |         max(CASE WHEN codes.j = 0 THEN dj END) AS d0,
             |         max(CASE WHEN codes.j = 1 THEN dj END) AS d1,
             |         max(CASE WHEN codes.j = 2 THEN dj END) AS d2,
             |         max(CASE WHEN codes.j = 3 THEN dj END) AS d3
             |       FROM codes JOIN dtab ON codes.j = dtab.qj AND codes.code = dtab.c_id
             |       WHERE codes.vec_id <> dtab.q_id
             |       GROUP BY dtab.q_id, codes.vec_id),
             |r AS (SELECT q_id, vec_id AS n_id,
             |        round(d0 + d1 + d2 + d3, 4) AS adc,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY round(d0 + d1 + d2 + d3, 4), vec_id) AS rn
             |      FROM sc)
             |SELECT q_id, n_id, adc FROM r WHERE rn <= 3
             |ORDER BY q_id, adc, n_id""".stripMargin)),

    // ---- Streaming quality gate (continuous corpus ingestion) ------------
    // The q77 gate recast for ingestion time: documents arrive as a
    // file-source stream and every row is gated by stateless per-row
    // metrics (rowQuality) — no shuffle, no state store, no watermark,
    // so the streaming micro-batch plan is the same narrow map as the
    // batch plan and scales with input rate alone. Because the metrics
    // are row-local and deterministic, the STREAMING result hash-matches
    // a plain batch SQL oracle — the strongest correctness statement a
    // streaming operator can carry.
    Q(
      "q95_stream_quality_gate",
      (s, d) => {
        val path = s"$d/documents.parquet"
        val stream = graft.streaming.EventStreams.readParquetStream(
          s, path, s.read.parquet(path).schema)
        graft.streaming.EventStreams
          .runToMemory(s, rowQuality(stream), "q95_stream_quality")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |       FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(toks) AS BIGINT) AS n_words,
             |        CASE WHEN len(toks) > 0 THEN
             |          round(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |            list_transform(toks, x -> CAST(len(x) AS BIGINT))),
             |            (a, x) -> a + x) / len(toks), 4) END AS mean_word_len,
             |        CAST(len(list_intersect(list_distinct(toks),
             |            ['the', 'a', 'of', 'and', 'to', 'in'])) AS BIGINT)
             |          AS n_stop_distinct
             |      FROM t)
             |SELECT doc_id, n_words, mean_word_len, n_stop_distinct,
             |       CAST(CASE WHEN n_words >= 30 AND mean_word_len >= 3
             |                  AND mean_word_len <= 5 AND n_stop_distinct >= 2
             |                 THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
             |FROM m
             |ORDER BY doc_id""".stripMargin)),

    // ---- Greedy subword tokenization (real tokenizer inference) ----------
    // q31/q68 count whitespace/regex tokens; this is the real thing: a
    // WordPiece-style greedy longest-match tokenizer whose vocab is
    // LEARNED from the corpus (top-8 words + top-12 character 2-grams —
    // small enough on the fixture that most words genuinely split into
    // subword pieces and single-char fallbacks). Vocab learning is two
    // top-k aggregates; tokenization is a shuffle-free broadcast-vocab
    // mapPartitions pass with a per-partition word memo (ops.Subword).
    // tok_hash pins the entire piece sequence of every document, so the
    // oracle — same top-k vocab, per-position longest-match via
    // join+row_number, greedy walk via recursive CTE over the distinct
    // words, re-joined to occurrences — certifies every piece boundary.
    Q(
      "q97_subword_tokenize",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        graft.ops.Subword.tokenize(s, docs, topWords = 8, topGrams = 12)
          .withColumn("chars_per_tok",
            round(col("n_chars").cast("double") / col("n_tokens"), 4))
          .select(col("doc_id"), col("n_words"), col("n_chars"),
                  col("n_tokens"), col("n_fallback"), col("chars_per_tok"),
                  col("tok_hash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id,
             |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |      FROM documents),
             |w AS (SELECT doc_id, i AS pos, toks[i] AS word
             |      FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
             |wf AS (SELECT word, count(*) AS n FROM w GROUP BY word),
             |topw AS (SELECT word AS piece FROM (
             |           SELECT word, row_number() OVER (ORDER BY n DESC, word) AS rn
             |           FROM wf) WHERE rn <= 8),
             |g AS (SELECT substr(word, CAST(i AS INT), 2) AS piece
             |      FROM w, unnest(range(1, len(word))) AS u(i)
             |      WHERE len(word) >= 2),
             |gf AS (SELECT piece, count(*) AS n FROM g GROUP BY piece),
             |topg AS (SELECT piece FROM (
             |           SELECT piece, row_number() OVER (ORDER BY n DESC, piece) AS rn
             |           FROM gf) WHERE rn <= 12),
             |vocab AS (SELECT piece FROM topw UNION SELECT piece FROM topg),
             |dw AS (SELECT DISTINCT word FROM w),
             |p0 AS (SELECT word, i AS pos
             |       FROM dw, unnest(range(1, len(word) + 1)) AS u(i)),
             |cand AS (SELECT p.word, p.pos, v.piece
             |         FROM p0 p JOIN vocab v
             |           ON substr(p.word, CAST(p.pos AS INT), CAST(len(v.piece) AS INT)) = v.piece),
             |best AS (SELECT word, pos, piece FROM (
             |           SELECT word, pos, piece,
             |             row_number() OVER (PARTITION BY word, pos
             |               ORDER BY len(piece) DESC, piece) AS rn
             |           FROM cand) WHERE rn = 1),
             |step AS (SELECT p.word, p.pos,
             |           coalesce(b.piece, substr(p.word, CAST(p.pos AS INT), 1)) AS piece,
             |           CASE WHEN b.piece IS NULL THEN 1 ELSE 0 END AS fb
             |         FROM p0 p LEFT JOIN best b
             |           ON b.word = p.word AND b.pos = p.pos),
             |r AS (SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n_pieces,
             |             CAST(0 AS BIGINT) AS n_fb, '' AS pieces
             |      FROM dw
             |      UNION ALL
             |      SELECT r.word, r.pos + len(s.piece), r.n_pieces + 1, r.n_fb + s.fb,
             |             CASE WHEN r.pieces = '' THEN s.piece
             |                  ELSE r.pieces || ' ' || s.piece END
             |      FROM r JOIN step s ON s.word = r.word AND s.pos = r.pos
             |      WHERE r.pos <= len(r.word)),
             |tok AS (SELECT word, n_pieces, n_fb, pieces
             |        FROM r WHERE pos = len(word) + 1),
             |dt AS (SELECT w.doc_id,
             |         CAST(count(*) AS BIGINT) AS n_words,
             |         CAST(sum(len(w.word)) AS BIGINT) AS n_chars,
             |         CAST(sum(tk.n_pieces) AS BIGINT) AS n_tokens,
             |         CAST(sum(tk.n_fb) AS BIGINT) AS n_fallback,
             |         string_agg(tk.pieces, ' ' ORDER BY w.pos) AS doc_pieces
             |       FROM w JOIN tok tk ON tk.word = w.word
             |       GROUP BY w.doc_id)
             |SELECT doc_id, n_words, n_chars, n_tokens, n_fallback,
             |       round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_tok,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(range(1, len(doc_pieces) + 1),
             |           j -> CAST(unicode(doc_pieces[j]) AS BIGINT))),
             |         (acc, x) -> (acc * 31 + x) % 1000000007) AS tok_hash
             |FROM dt
             |ORDER BY doc_id""".stripMargin)),

    // ---- End-to-end corpus-prep composition ------------------------------
    // The point of building operators is that they CHAIN: this is the
    // canonical pretraining-corpus pipeline — quality gate (the exact
    // withRowQuality frame q95 streams) → near-dup removal keyed on the
    // 16-token prefix (the planted near-dups share prefixes; exact-text
    // dedup is vacuous on this fixture) → 32/24 sliding-window chunking
    // (q92) → hash split assignment (q91) → per-(split, lang) corpus
    // stats. Every stage keeps its scale shape: the gate and chunker are
    // narrow, dedup is the pipeline's one data shuffle (on the prefix
    // key; at 100 TB the key is its hash), split is a map-side column,
    // and the final aggregate runs on already-chunk-local rows. On
    // sf0.01: 500 docs → 293 gated → 281 deduped.
    Q(
      "q98_corpus_prep_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
                  col("text"))
        val gated = withRowQuality(docs).where(col("quality_pass") === 1)
          .select(col("doc_id"), col("lang"), col("text"))
        val deduped = gated
          .withColumn("pfx", concat_ws(" ", slice(split(col("text"), " "), 1, 16)))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("pfx")).orderBy(col("doc_id"))))
          .where(col("rn") === 1)
          .select(col("doc_id"), col("lang"), col("text"))
        chunkSplitStats(deduped).orderBy(col("split"), col("lang"))
      },
      Some(corpusPrepSql)),

    // ---- BPE merge learning (tokenizer TRAINING) -------------------------

    // q97 is tokenizer inference over a frequency-derived vocab; this is
    // the training half: 6 rounds of byte-pair-encoding merge learning
    // (count adjacent symbol pairs over the frequency-weighted word-TYPE
    // table, take the argmax with a count-desc/pair-asc tie-break, merge
    // non-overlapping occurrences left to right). Per round the engine
    // runs one pair-count shuffle + a 1-row argmax collect + a narrow
    // checkpointed merge map — the standard distributed BPE shape, where
    // the state is the Zipf-bounded word-type table, never the corpus.
    // corpus_syms_after certifies the application rule itself: for
    // overlapping runs it is NOT before - pair_n, so a naive
    // replace-all implementation breaks the hash. The oracle replays
    // all 6 rounds with generated per-round CTEs (recursive walks).
    Q(
      "q99_bpe_merges",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode_outer(split(col("text"), " ")).as("w"))
          .where(col("w").isNotNull && col("w") =!= "")
        graft.ops.BpeTrain.learnMerges(s, words, k = 6)
      },
      Some(bpeOracleSql(6))),

    // ---- Exact duplicated-span removal (substring-level dedup) -----------
    // The third granularity of the dedup family: doc-level (q30),
    // span-level (here, 8-token windows, keep the globally-first
    // occurrence), within-doc repetition fractions (q89). kept_hash
    // pins the reconstructed post-removal text of every document, so
    // the oracle checks the removal itself, not just the counts.
    Q(
      "q100_span_dedup",
      (s, d) => graft.ops.SpanDedup.dedupSpans(Tables.documents(s, d), w = 8),
      Some(spanDedupSql(8))),

    // ---- Incremental span dedup over a document STREAM -------------------
    // q100's continuous-ingestion twin: the corpus arrives as 3 files
    // (one micro-batch each), every batch dedups against a persistent
    // gram-pack store plus its own earlier docs, and the store grows by
    // each batch's first-seen packs. Arrival order is staged to match
    // doc_id order, so the accumulated output is row-for-row the batch
    // operator's — q101 therefore shares q100's full DuckDB oracle,
    // which checks cross-batch dedup state end to end.
    Q(
      "q101_span_dedup_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.SpanDedupStream.runOn(
          s, Tables.documents(s, d), w = 8, nSplits = 2)
      },
      Some(spanDedupSql(8))),

    // ---- Incremental corpus-prep composition over a document STREAM ------
    // q98's continuous-ingestion twin (the q101 pattern applied to the
    // whole composition): per micro-batch, the stateless quality gate,
    // a prefix-dedup against a persistent seen-prefix store, chunking
    // and hash split run once, appending per-(split, lang) PARTIAL
    // stats; the registered result folds the partials with plain sums.
    // Arrival order staged to doc_id order makes first-arrival dedup
    // equal keep-lowest-doc_id, so q104 shares q98's full oracle —
    // which therefore checks the store handoff AND the partial-fold.
    Q(
      "q104_corpus_prep_stream",
      Q.atWidth8 { (s, d) =>
        graft.streaming.CorpusPrepStream.runOn(
          s, Tables.documents(s, d), nSplits = 2)
      },
      Some(corpusPrepSql)),

    // ---- BPE encoding with the learned merges (tokenizer INFERENCE) ------
    // Closes the q99 loop: learn the 6 merges, then encode every
    // document by applying them in rank order per word. The merge list
    // is 6 tiny rows in the task closure; encoding is one narrow
    // memoized mapPartitions pass. pieces_hash pins every piece
    // boundary of every document in word order, and the oracle
    // re-learns the same merges (shared CTE chain with q99) and
    // re-encodes via the word-type table join.
    Q(
      "q102_bpe_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val words = docs
          .select(explode_outer(split(col("text"), " ")).as("w"))
          .where(col("w").isNotNull && col("w") =!= "")
        val merges = graft.ops.BpeTrain.learnMerges(s, words, k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.BpeTrain.encode(s, docs, merges)
      },
      Some(bpeEncodeSql(6))),

    // ---- Per-language tokenizer fertility (multilingual tokenizer QA) ----
    // Fertility = subword pieces per word, THE standard per-language
    // tokenizer-quality metric (a tokenizer trained on a head-heavy mix
    // over-segments tail languages — high fertility = more compute per
    // sentence and shorter effective context for that language; the
    // mT5/NLLB reports track exactly this number). Reuses the q99/q102
    // machinery end to end: learn the 6 BPE merges on the corpus,
    // encode every document (narrow memoized mapPartitions, merge list
    // in the task closure), then ONE per-language aggregate of piece
    // and word counts — fertility as the integer permille
    // (1000·Σpieces) DIV Σwords, engine-exact both sides. Scale shape:
    // the q102 encode pass plus a languages-sized aggregate; nothing
    // new moves.
    Q(
      "q148_tokenizer_fertility",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val words = docs
          .select(explode_outer(split(col("text"), " ")).as("w"))
          .where(col("w").isNotNull && col("w") =!= "")
        val merges = graft.ops.BpeTrain.learnMerges(s, words, k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.BpeTrain.encode(s, docs, merges)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(sum(col("n_words")).as("n_words"),
               sum(col("n_pieces")).as("n_pieces"))
          // a language whose docs are ALL empty has n_words=0 here but
          // no row at all in the oracle (its word-level joins drop
          // empty docs) — filter so both engines agree by construction
          .where(col("n_words") > 0)
          .withColumn("fert_permille",
            expr("(1000 * n_pieces) DIV n_words"))
          .orderBy(col("lang"))
      },
      Some(fertilitySql(6))),

    // ---- Tokenizer vocab-size/compression curve (q159) --------------------
    // The tokenizer-design twin of q151's filter curve and q147's data
    // rungs: corpus piece count and live symbol-vocabulary size at
    // nested merge-budget rungs (0 / 3 / 6 of the q99-learned merges) —
    // the compression-vs-vocab trade every BPE vocab-size decision
    // reads off. Rungs REPLAY a known merge list over the word-TYPE
    // table (BpeTrain.wordTypes: one narrow map per rung, type table
    // Zipf-bounded — the corpus enters only through freq), so the
    // curve costs O(rungs·types), never rungs corpus passes. Vocab is
    // counted live (a merge ADDS its pair symbol but can RETIRE inputs
    // whose occurrences all merge away), which is why the curve needs
    // the actual symbol tables, not round stats.
    Q(
      "q159_bpe_curve",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode_outer(split(col("text"), " ")).as("w"))
          .where(col("w").isNotNull && col("w") =!= "")
        // driver fold under the type-table cap (r16 optimization): the
        // whole curve — training plus all three rung replays — from one
        // bounded collect, vs ~59 scheduling round-trips for ~0.5 s of
        // executor CPU. Above the cap the distributed rungs run
        // unchanged (TrainingOpsSpec pins row equality).
        graft.ops.BpeTrain.curveFast(s, words, k = 6, rungs = Seq(0, 3, 6))
          .getOrElse(graft.ops.BpeTrain.curveDistributed(s, words, k = 6,
            rungs = Seq(0, 3, 6)))
      },
      Some(bpeCurveSql(6))),

    // ---- Model-based quality gate (unigram-LM "perplexity" filter) -------
    // The CCNet/LLaMA-pipeline filter family: score each document under
    // a language model TRAINED ON THE CORPUS and gate on the score.
    // The LM is a unigram model and the score integer bits — token cost
    // = floor(log2(N div freq)) via the shared log2 ladder (never libm
    // log, q88's rule) — so the whole operator is integer-exact and
    // fully oracle-checked, unlike a float NLL. Scale shape is CCNet's:
    // one vocab-count shuffle trains the LM, the LM broadcasts to the
    // scoring pass, one per-doc aggregate. Gate: mean bits <= 4.04
    // as the integer cross-multiplication sum_bits*100 <= n_tok*404.
    Q(
      "q105_unigram_ppl_gate",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("tok"))
          .where(col("tok").isNotNull && col("tok") =!= "")
        val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        val nTot = toks.agg(count(lit(1)).as("nt"))
        val r = expr("nt div freq")
        val lm = freqs.crossJoin(nTot)
          .withColumn("bits", TextOps.log2Ladder.foldLeft(lit(0L)) {
            case (acc, p) => when(r >= (1L << p), lit(p.toLong)).otherwise(acc)
          })
          .select(col("tok"), col("bits"))
        toks.join(broadcast(lm), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("bits")).as("sum_bits"))
          .withColumn("ppl_pass",
            (col("sum_bits") * 100 <= col("n_tok") * 404).cast("long"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id,
             |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |       FROM documents),
             |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY tok),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM w),
             |b AS (SELECT tok, CAST(CASE ${TextOps.log2Ladder.reverse.map(p =>
                      s"WHEN nt // freq >= ${1L << p} THEN $p").mkString(" ")}
             |        ELSE 0 END AS BIGINT) AS bits FROM f, n),
             |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |        CAST(sum(bits) AS BIGINT) AS sum_bits
             |      FROM w JOIN b USING (tok) GROUP BY doc_id)
             |SELECT doc_id, n_tok, sum_bits,
             |  CAST(CASE WHEN sum_bits * 100 <= n_tok * 404 THEN 1 ELSE 0 END
             |       AS BIGINT) AS ppl_pass
             |FROM s ORDER BY doc_id""".stripMargin))
  )

  /** q159's oracle: the shared round CTEs replay training to s<k>;
    * each rung reads piece mass and live distinct-symbol count off its
    * s<r> table. MATERIALIZED on the rung tables — each is referenced
    * by the training chain AND twice by the rung row, and DuckDB's
    * per-reference inlining would re-run the recursive walks (the
    * q60/q134/q156 finding).
    */
  private def bpeCurveSql(k: Int): String = {
    def rung(r: Int): String =
      s"(SELECT CAST($r AS BIGINT) AS rung, " +
        s"(SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM s$r) AS corpus_pieces, " +
        s"(SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM " +
        s"(SELECT unnest(syms) AS sym FROM s$r)) AS vocab_syms)"
    val ctes = Seq(0, k / 2, k).foldLeft(bpeRoundsCtes(k)) {
      case (acc, r) => acc.replaceFirst(s"s$r AS \\(", s"s$r AS MATERIALIZED (")
    }
    s"""WITH RECURSIVE
       |$ctes,
       |rungs AS (${Seq(0, k / 2, k).map(rung).mkString(" UNION ALL ")}),
       |base AS (SELECT corpus_pieces AS p0 FROM rungs WHERE rung = 0)
       |SELECT rung, corpus_pieces, vocab_syms,
       |       (1000 * corpus_pieces) // p0 AS compress_permille
       |FROM rungs, base ORDER BY rung""".stripMargin
  }

  /** q102's oracle: the q99 round CTEs build the merged word-type
    * table `s6`; every doc then re-encodes as an ordered join of its
    * words against that table.
    */
  private def bpeEncodeSql(k: Int): String = {
    def ph(s: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(1, len($s)+1), j -> CAST(unicode($s[j]) AS BIGINT))),
         |  (acc,x) -> (acc*31+x)%1000000007)""".stripMargin
    s"""WITH RECURSIVE
       |${bpeRoundsCtes(k)},
       |docw AS (
       |  SELECT doc_id, i, words[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split(text, ' '), x -> x <> '') AS words
       |        FROM documents) w1,
       |       unnest(range(1, len(words) + 1)) AS u(i)),
       |enc AS (SELECT d.doc_id, d.i, s.syms
       |        FROM docw d JOIN s$k s ON d.word = s.word),
       |per AS (SELECT doc_id,
       |          CAST(count(*) AS BIGINT) AS n_words,
       |          CAST(sum(len(syms)) AS BIGINT) AS n_pieces,
       |          string_agg(array_to_string(syms, ' '), ' ' ORDER BY i) AS stream
       |        FROM enc GROUP BY doc_id)
       |SELECT doc_id, n_words, n_pieces, ${ph("stream")} AS pieces_hash
       |FROM per ORDER BY doc_id""".stripMargin
  }

  /** q148's oracle: the q99/q102 shared round CTEs re-learn the merges
    * and re-encode every word type; per-language word/piece sums and
    * the integer-permille fertility replay exactly.
    */
  private def fertilitySql(k: Int): String =
    s"""WITH RECURSIVE
       |${bpeRoundsCtes(k)},
       |docw AS (
       |  SELECT doc_id, words[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split(text, ' '), x -> x <> '') AS words
       |        FROM documents) w1,
       |       unnest(range(1, len(words) + 1)) AS u(i)),
       |enc AS (SELECT d.doc_id, s.syms
       |        FROM docw d JOIN s$k s ON d.word = s.word),
       |per AS (SELECT e.doc_id, d2.lang,
       |          CAST(count(*) AS BIGINT) AS n_words,
       |          CAST(sum(len(syms)) AS BIGINT) AS n_pieces
       |        FROM enc e JOIN documents d2 ON e.doc_id = d2.doc_id
       |        GROUP BY e.doc_id, d2.lang)
       |SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_words,
       |       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |       (1000 * CAST(sum(n_pieces) AS BIGINT)) //
       |         CAST(sum(n_words) AS BIGINT) AS fert_permille
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** q100's oracle: replay gram hashing (dual-base polynomial), the
    * first-occurrence election, the covered-position union, and the
    * reconstruction hash — entirely in DuckDB list ops.
    */
  private def spanDedupSql(w: Int): String = {
    def ph(s: String, base: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(1, len($s)+1), j -> CAST(unicode($s[j]) AS BIGINT))),
         |  (acc,x) -> (acc*$base+x)%1000000007)""".stripMargin
    s"""WITH tok0 AS (
       |  SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS toks
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+${w - 1}], ' ') AS gram
       |  FROM tok0, unnest(range(1, len(toks) - $w + 2)) AS u(i)
       |  WHERE len(toks) >= $w),
       |g AS (
       |  SELECT doc_id, pos, ${ph("gram", 31)} AS h1, ${ph("gram", 131)} AS h2
       |  FROM g0),
       |r AS (SELECT doc_id, pos,
       |        row_number() OVER (PARTITION BY h1, h2 ORDER BY doc_id, pos) AS rn
       |      FROM g),
       |d AS (SELECT doc_id, list_sort(list(pos)) AS starts
       |      FROM r WHERE rn > 1 GROUP BY doc_id),
       |cov AS (SELECT doc_id, starts,
       |          list_sort(list_distinct(flatten(
       |            list_transform(starts, s -> range(s, s+$w))))) AS covered
       |        FROM d),
       |keep AS (
       |  SELECT t.doc_id,
       |         CAST(len(t.toks) AS BIGINT) AS n_tok,
       |         CAST(coalesce(len(c.starts), 0) AS BIGINT) AS n_dup_spans,
       |         CAST(coalesce(len(c.covered), 0) AS BIGINT) AS n_removed,
       |         CASE WHEN c.doc_id IS NULL THEN t.toks
       |              ELSE list_filter(t.toks, (t2, i) -> NOT list_contains(c.covered, i - 1))
       |         END AS kept
       |  FROM tok0 t LEFT JOIN cov c ON t.doc_id = c.doc_id)
       |SELECT doc_id, n_tok, n_dup_spans, n_removed,
       |  ${ph("array_to_string(kept,' ')", 31)} AS kept_hash
       |FROM keep ORDER BY doc_id""".stripMargin
  }
}
