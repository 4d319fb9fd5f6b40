package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** One word type during BPE training: corpus frequency + current symbol
  * sequence (top-level case class for by-name encoder resolution).
  */
final case class WordSyms(word: String, freq: Long, syms: Seq[String])

/** One learned merge: the round's winning adjacent pair, its
  * frequency-weighted corpus count, and the corpus symbol count after
  * applying the merge (which certifies the non-overlapping application,
  * since overlapping occurrences like "aaa" merge fewer times than the
  * pair count suggests).
  */
final case class BpeMerge(round: Long, a: String, b: String, pair_n: Long,
                          corpus_syms_after: Long)

/** One q159 curve rung (top-level for by-name encoder resolution). */
final case class BpeCurveRow(rung: Long, corpus_pieces: Long,
                             vocab_syms: Long, compress_permille: Long)

/** Encoder input/output rows (top-level for by-name encoder resolution). */
final case class BpeEncIn(doc_id: Long, text: String)
final case class BpeEncOut(doc_id: Long, n_words: Long, n_pieces: Long,
                           pieces_hash: Long)

/** Byte-pair-encoding merge LEARNING (Sennrich et al. 2016) — the
  * tokenizer-training half that q97's greedy inference consumes.
  * Start from per-character symbols over the distinct-word table
  * (weighted by corpus frequency — BPE's standard word-type
  * optimization: the corpus enters only through `freq`), then per
  * round: count adjacent symbol pairs, pick the most frequent
  * (count DESC, pair ASC — deterministic), and merge its
  * non-overlapping left-to-right occurrences in every word.
  *
  * Distributed shape per round: one pair-count aggregate (the only
  * shuffle; input is one row per word TYPE, Zipf-bounded, not per
  * token), a 1-row argmax collect (the iterative driver step, exactly
  * like q60's convergence check), and a narrow merge map over the word
  * table, localCheckpoint'd so round k's plan does not re-execute
  * rounds 1..k-1. At 100 TB the word-type table is the only state and
  * it SHRINKS relative to the corpus as scale grows.
  */
object BpeTrain {

  /** Merge non-overlapping (a,b) occurrences left to right — the
    * standard BPE application rule: after "aaa" with pair (a,a) the
    * result is ["aa","a"], not ["aa","aa"].
    */
  private[graft] def applyMerge(a: String, b: String,
                                syms: Seq[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** [[DriverFold]] cap: (word, freq) rows, a few MB, where
    * every merge round costs three jobs (pair-count argmax collect,
    * checkpointed merge map, corpus-syms aggregate) — ~50% of the
    * q99/q102/q148/q159 sf0.1 bench rows.
    */
  private[graft] val DriverTrainCap = 1 << 17

  /** Spark's default UTF8_BINARY string order (unsigned UTF-8 bytes) —
    * the driver fold's pair tie-break must match the distributed
    * `orderBy(desc(n), a, b)` exactly. Java's String.compareTo orders
    * by UTF-16 code unit, which differs for supplementary-plane code
    * points, so compare encoded bytes.
    */
  private def utf8Lt(x: String, y: String): Boolean =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** One code-point per symbol — the driver-side twin of the
    * distributed seed `transform(sequence(1, length(w)), i ->
    * substring(w, i, 1))` (Spark's substring/length index by code
    * point) and of [[encode]]'s `codePoints()` split.
    */
  private def splitCodePoints(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  /** The frequency-weighted word-TYPE table when it fits
    * [[DriverTrainCap]]; None otherwise (the caller runs the
    * distributed rounds).
    */
  private def collectTypes(words: DataFrame): Option[Array[(Long, Seq[String])]] =
    DriverFold.rows(words.groupBy(col("w")).agg(count(lit(1)).as("freq")),
        DriverTrainCap, StringType, LongType)
      // contract check: the fold treats an empty word as zero symbols,
      // but the distributed seed `sequence(1, length(w))` on an empty
      // word yields [1,0] → two empty-string symbols and a phantom
      // ("","") pair — run the distributed rounds rather than diverge
      .filterNot(_.exists(_.getString(0).isEmpty))
      .map(_.map(r => (r.getLong(1), splitCodePoints(r.getString(0)))))

  /** The in-memory merge recurrence — bit-identical to the distributed
    * loop: same pair counts (freq-weighted, per adjacent position),
    * same argmax order (count DESC, pair ASC under UTF8-binary), same
    * [[applyMerge]], same corpus_syms_after certificate.
    */
  private def trainLocal(tys0: Array[(Long, Seq[String])], k: Int)
      : Vector[BpeMerge] = {
    var tys = tys0
    val merges = Vector.newBuilder[BpeMerge]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val cnt = new java.util.HashMap[(String, String), Long]()
      tys.foreach { case (f, syms) =>
        var i = 0
        while (i + 1 < syms.length) {
          cnt.merge((syms(i), syms(i + 1)), f, java.lang.Long.sum _)
          i += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        var bA: String = null; var bB: String = null; var bN = Long.MinValue
        cnt.forEach { (p, n) =>
          val better = n > bN || (n == bN &&
            (utf8Lt(p._1, bA) || (p._1 == bA && utf8Lt(p._2, bB))))
          if (better) { bA = p._1; bB = p._2; bN = n }
        }
        tys = tys.map { case (f, syms) => (f, applyMerge(bA, bB, syms)) }
        var after = 0L
        tys.foreach { case (f, syms) => after += f * syms.length }
        merges += BpeMerge(r.toLong, bA, bB, bN, after)
        r += 1
      }
    }
    merges.result()
  }

  /** Learn `k` merges from a one-column DataFrame of word occurrences
    * (`w`, non-empty; a null word contributes nothing). Returns the
    * merge table ordered by round. A type table under
    * [[DriverTrainCap]] trains entirely on the driver.
    */
  def learnMerges(s: SparkSession, words: DataFrame, k: Int): DataFrame = {
    val ws = words.where(col("w").isNotNull)
    collectTypes(ws) match {
      case Some(tys) =>
        s.createDataFrame(trainLocal(tys, k)).orderBy(col("round"))
      case None => learnMergesDistributed(s, words, k)
    }
  }

  /** The distributed merge rounds (the pre-fold learnMerges body) —
    * the scale path above [[DriverTrainCap]], and the equality
    * reference for BpeTrainSpec's fast==distributed pin.
    */
  private[graft] def learnMergesDistributed(s: SparkSession, words: DataFrame,
                                            k: Int): DataFrame = {
    import s.implicits._
    var syms = words.where(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w").as("word"), col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"))
      .as[WordSyms]
      .localCheckpoint()
    val merges = Seq.newBuilder[BpeMerge]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val pairs = syms.toDF()
        .select(col("freq"), explode_outer(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .where(col("p").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(1).collect()
      if (pairs.isEmpty) {
        // no adjacent pairs left (every word is a single symbol, or the
        // corpus started as single-character words): standard BPE
        // termination — return the merges learned so far
        exhausted = true
      } else {
        val best = pairs.head
        val (a, b, n) = (best.getString(0), best.getString(1), best.getLong(2))
        syms = syms.map(ws => ws.copy(syms = applyMerge(a, b, ws.syms)))
          .localCheckpoint()
        val after = syms.toDF()
          .agg(sum(col("freq") * size(col("syms")))).collect().head.getLong(0)
        merges += BpeMerge(r.toLong, a, b, n, after)
        r += 1
      }
    }
    s.createDataFrame(merges.result()).orderBy(col("round"))
  }

  /** q159's whole curve from the same bounded type collect: train the
    * k merges locally, then for each rung r replay merges.take(r) over
    * every word type (the [[wordTypes]] foldLeft, same [[applyMerge]])
    * and read corpus piece mass + live symbol vocabulary off the
    * folded table. None above [[DriverTrainCap]] — the caller keeps
    * the distributed rung path. Mirrors the distributed composition
    * exactly, including the rung-0 crossJoin semantics (no rung-0 row
    * ⇒ empty result) and the positive-long floor DIV.
    */
  def curveFast(s: SparkSession, words: DataFrame, k: Int,
                rungs: Seq[Int]): Option[DataFrame] =
    collectTypes(words).filter(_.nonEmpty).map { tys =>
      // empty corpus falls back (the filter above): the distributed
      // rungs aggregate over ZERO type rows, which yields NULL-valued
      // corpus_pieces/compress rows — a shape a Long-typed local row
      // cannot reproduce, and a naive 0/0 here threw / by zero (caught
      // by the r16 degenerate sweep's `empty` scenario)
      val merges = trainLocal(tys, k).map(m => (m.a, m.b))
      val folded = rungs.map { r =>
        val prefix = merges.take(r)
        var pieces = 0L
        val vocab = new java.util.HashSet[String]()
        tys.foreach { case (f, syms0) =>
          val syms = prefix.foldLeft(syms0) {
            case (acc, (a, b)) => applyMerge(a, b, acc)
          }
          pieces += f * syms.length
          syms.foreach(vocab.add)
        }
        (r.toLong, pieces, vocab.size.toLong)
      }
      val rows = folded.find(_._1 == 0L) match {
        case Some((_, p0, _)) => folded.map { case (r, p, v) =>
          BpeCurveRow(r, p, v, (1000L * p) / p0) }
        case None => Seq.empty[BpeCurveRow]
      }
      s.createDataFrame(rows).orderBy(col("rung"))
    }

  /** q159's curve the distributed way — the path above
    * [[DriverTrainCap]] and [[curveFast]]'s reference: learn the merges,
    * then read each rung's corpus piece mass and live symbol vocabulary
    * off [[wordTypes]].
    */
  private[graft] def curveDistributed(s: SparkSession, words: DataFrame,
                                      k: Int, rungs: Seq[Int]): DataFrame = {
    val merges = learnMerges(s, words, k)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    def rungRow(r: Int): DataFrame = {
      // two consumers (piece mass + live vocab) of one type table
      val types = wordTypes(s, words, merges.take(r)).localCheckpoint()
      val pieces = types
        .agg(sum(col("freq") * size(col("syms"))).as("corpus_pieces"))
      val vocab = types.select(explode(col("syms")).as("sym")).distinct()
        .agg(count(lit(1)).as("vocab_syms"))
      pieces.crossJoin(vocab).withColumn("rung", lit(r.toLong))
    }
    val rows = rungs.map(rungRow).reduce(_ unionByName _).localCheckpoint()
    val base = rows.where(col("rung") === 0)
      .select(col("corpus_pieces").as("p0"))
    rows.crossJoin(broadcast(base))
      .withColumn("compress_permille", expr("(1000 * corpus_pieces) DIV p0"))
      .select(col("rung"), col("corpus_pieces"), col("vocab_syms"),
        col("compress_permille"))
      .orderBy(col("rung"))
  }

  /** The word-TYPE table after applying a learned merge-list prefix —
    * (word, freq, syms), the `s<r>` state of training replayed from a
    * known merge list in one narrow map (no per-round checkpoints: the
    * fold is O(merges·len) per word type and the type table is
    * Zipf-bounded). Powers q159's vocab-size/compression curve, where
    * each rung reads the corpus-piece and distinct-symbol counts off
    * this table. A null word contributes nothing, as in training.
    */
  def wordTypes(s: SparkSession, words: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    words.where(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w").as("word"), col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"))
      .as[WordSyms]
      .map(ws => ws.copy(syms = merges.foldLeft(ws.syms) {
        case (acc, (a, b)) => applyMerge(a, b, acc)
      }))
      .toDF()
  }

  /** Encode every document with a learned merge list (applied in rank
    * order per word — standard BPE inference). Row-local work: the
    * merge table rides along as a tiny task closure and each partition
    * memoizes word → pieces (the same Zipf argument that makes
    * training's word-TYPE table small makes the memo hit rate high).
    * Output pins the full encoding: piece count and the polynomial
    * hash of the space-joined piece stream in word order.
    */
  def encode(s: SparkSession, docs: DataFrame,
             merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[BpeEncIn]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Seq[String]]()
        def pieces(word: String): Seq[String] = {
          val hit = memo.get(word)
          if (hit != null) hit
          else {
            var syms: Seq[String] =
              word.codePoints().toArray.toSeq
                .map(cp => new String(Character.toChars(cp)))
            merges.foreach { case (a, b) => syms = applyMerge(a, b, syms) }
            memo.put(word, syms)
            syms
          }
        }
        it.map { row =>
          val words = row.text.split(" ", -1).filter(_.nonEmpty)
          val enc = words.map(pieces)
          val stream = enc.iterator.map(_.mkString(" ")).mkString(" ")
          BpeEncOut(row.doc_id, words.length.toLong,
            enc.iterator.map(_.length.toLong).sum,
            graft.functions.TextHash.polyHash(
              org.apache.spark.unsafe.types.UTF8String.fromString(stream), 31))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }
}
