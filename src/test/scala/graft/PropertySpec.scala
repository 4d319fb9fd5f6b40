package graft

import graft.pipeline.{Clean, CleanOracles, Schema, Transform}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants from the SURVEY.md §5.2 test plan:
  * cleaning idempotence, dedup-key uniqueness, salary-range invariant,
  * skill-flattening output form, union schema stability.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private val messyString: Gen[String] = for {
    words <- Gen.listOfN(4, Gen.oneOf(
      "senior", "engineer", "(remote)", "data", "ANALYST", "iii", "#42",
      "a/b", "", "  spaced  ", "temp", "Müller", "[nyc]", "-", "sql|etl"))
  } yield words.mkString(" ")

  private def cleanOne(in: String): String =
    Seq(in).toDF("v").select(Clean.cleanJobTitle(col("v")).as("o"))
      .collect()(0).getString(0)

  test("title cleaning is idempotent: clean(clean(x)) == clean(x)") {
    forAllSeeded(messyString) { s =>
      val once = cleanOne(s)
      assert(cleanOne(once) == once, s"input: '$s' once: '$once'")
    }
  }

  test("flattened skill lists are lowercase, trimmed, with no empty tokens") {
    val gen = Gen.listOf(Gen.oneOf(" Python ", "SQL", "", "  ", "aws,", "ML "))
      .map(_.mkString(","))
    forAllSeeded(gen) { s =>
      val out = Seq(s).toDF("v").select(Clean.flattenSkills(col("v")).as("o"))
        .collect()(0).getString(0)
      val toks = out.split(", ").filter(_.nonEmpty)
      assert(toks.forall(t => t == t.toLowerCase && t == t.trim && t.nonEmpty),
        s"in='$s' out='$out'")
    }
  }

  /** Samples `n` values of `gen` (seeds 1..n) plus `edges`, evaluates
    * `fast` and `oracle` over them in one frame, and returns the inputs
    * where the two differ (null-safe).
    */
  private def mismatches(gen: Gen[(String, String)], edges: Seq[(String, String)], n: Int)(
      fast: (Column, Column) => Column, oracle: (Column, Column) => Column): Seq[String] = {
    val sampled = (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    (edges ++ sampled).toDF("a", "b")
      .select(col("a"), col("b"),
        fast(col("a"), col("b")).as("fast"), oracle(col("a"), col("b")).as("oracle"))
      .where(not(col("fast") <=> col("oracle")))
      .collect().toSeq
      .map(r => s"(${r.get(0)}, ${r.get(1)}): fast='${r.get(2)}' oracle='${r.get(3)}'")
  }

  /** Null, empty, tab, non-ASCII (final-sigma Greek, dotted I, CJK,
    * titlecase digraph) and comma/space runs.
    */
  private val oddPiece: Gen[String] = Gen.oneOf(
    null, "", " ", "  ", "\t", " \t ", ",", ",,", " , ", " ,, ,", ", ,", "\u00a0",
    "Müller", "ΟΔΟΣ", "ΣΑΣ,", "İstanbul", "日本語", "ǅungla", "naïve")

  test("T1 concat_ws job type equals the array_sort/filter oracle") {
    // every pattern word hyphenated, spaced, glued, as a prefix of a
    // longer word and as a suffix, in both cases
    val words = Seq("full", "part", "contract", "intern", "temp", "freelance", "consult")
      .flatMap { w =>
        Seq(w, w.toUpperCase, s"$w-time", s"$w time", s"${w}time", s"$w--time",
          s"${w}_time", s"${w}er", s"$w-timer", s"${w}ship", s"$w-ship",
          s"${w}orary", s"${w}ing", s"sub$w", s"$w.", s"($w)", s"$w,")
      } ++ Seq("full-timer", "contractor", "intern-ship", "internship", "temporary",
        "temporarily", "consultant", "freelancer", "part-time", "Full Time", "PART TIME")
    val piece = Gen.frequency(
      4 -> Gen.oneOf(words), 1 -> oddPiece.map(p => if (p == null) "" else p),
      1 -> Gen.oneOf("engineer", "data", "ΣΑΣ"))
    val phrase: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      8 -> (for {
        ps <- Gen.choose(0, 5).flatMap(k => Gen.listOfN(k, piece))
        sep <- Gen.oneOf(" ", "", "-", "\t", ", ")
      } yield ps.mkString(sep)))
    val gen = for { jt <- phrase; title <- phrase } yield (jt, title)
    val edges = Seq[(String, String)]((null, null), ("", ""), (null, "contract"),
      ("full-time", null), ("\t", "\t"), ("full", "time"), ("inter", "n"),
      ("", "contract full time intern role"), ("freelance consulting", "temp work"))
    val bad = mismatches(gen, edges, 600)(Clean.inferJobType, CleanOracles.inferJobTypeLambda)
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("C15 split/array_remove skill flattening equals the transform/filter oracle") {
    val token = Gen.frequency(3 -> Gen.oneOf(" Python ", "SQL", "aws", "ML ", "Power BI",
      " c++", "  Spark  SQL "), 2 -> oddPiece)
    val gen = for {
      ts <- Gen.choose(0, 6).flatMap(k => Gen.listOfN(k, token))
      sep <- Gen.oneOf(",", ", ", " , ", ",,", "\t,", ", \t")
    } yield (if (ts.contains(null)) null else ts.mkString(sep), "")
    val edges = Seq("", " ", ",", " , ", ",,,", " , , ", "\t", "a,\tb", "a ,b, c ,",
      " Python , SQL,,aws ", "ΟΔΟΣ,ΣΑΣ", "ΣΑΣ ,ΣΑΣ", "İ, I", null).map(s => (s, ""))
    val bad = mismatches(gen, edges, 600)(
      (a, _) => Clean.flattenSkills(a), (a, _) => CleanOracles.flattenSkillsLambda(a))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("post-dedup rows are unique on the dedup key") {
    val rows = (1 to 200).map(i =>
      (s"co${i % 7}", s"title${i % 5}", s"loc${i % 3}", s"site${i % 2}", i.toLong))
    val df = rows.toDF("company_name", "job_title", "job_location",
                       "job_posted_site", "ord")
    val out = Clean.dedupKeepFirst(df, Transform.dedupKeys, "ord")
    assert(out.count() ==
      out.select(Transform.dedupKeys.map(col): _*).distinct().count())
    // keep-first: every surviving ord is the min of its key group
    val mins = df.groupBy(Transform.dedupKeys.map(col): _*)
      .agg(min(col("ord")).as("ord"))
    assert(out.join(mins, Transform.dedupKeys :+ "ord").count() == out.count())
  }

  test("salary normalization output is whole-dollar and annualized > hourly bound") {
    val gen = Gen.oneOf(
      Gen.choose(1.0, 999.0).map(v => f"$$$v%.2f"),
      Gen.choose(1001.0, 400000.0).map(v => f"$v%.2f"),
      Gen.const("garbage"), Gen.const(""))
    forAllSeeded(gen) { s =>
      val r = Seq(s).toDF("v").select(Clean.normalizeSalary(col("v")).as("o"))
        .collect()(0)
      if (!r.isNullAt(0)) {
        val v = r.getDouble(0)
        assert(v == math.floor(v), s"not whole: $v from '$s'")
        assert(v >= 1001 * 1 || v >= 2000, s"under-annualized: $v from '$s'")
      }
    }
  }

  test("transform output conforms to the typed JobPosting dataset") {
    val raw = Seq(
      ("acme", "Senior Engineer (NYC)", "full-time", "Seattle, WA",
       "United States", "120000", "2025-10-20 09:00:00", "indeed",
       "python, sql", "teamwork", "Kaggle"))
      .toDF(Schema.canonical.fields.map(_.name): _*)
    val typed = Transform.transform(raw)
      .select("company_name", "job_title", "cleaned_job_title", "job_type",
              "job_location", "country", "salary", "job_posted_date",
              "job_posted_site", "technical_skills", "soft_skills", "source",
              "job_posted_year", "city")
      .as[Schema.JobPosting]
    val row = typed.collect()(0)
    assert(row.cleaned_job_title == "Engineer")
    assert(row.salary.contains(120000.0))
    assert(row.city == "seattle")
  }

  test("greedy packing invariants hold on random multi-lang token streams") {
    import graft.queries.{PackIn, TrainingOps}
    val cap = 100L
    val gen: Gen[List[PackIn]] = for {
      n <- Gen.choose(0, 120)
      rows <- Gen.listOfN(n, for {
        lang <- Gen.oneOf("aa", "bb", "cc")
        tok <- Gen.choose(1L, 150L) // includes oversized (> cap) docs
      } yield (lang, tok))
    } yield rows.zipWithIndex
      .map { case ((l, t), i) => PackIn(i.toLong, l, t) }
      .sortBy(r => (r.lang, r.doc_id))
    forAllSeeded(gen, n = 40) { rows =>
      val out = TrainingOps.packGreedy(cap, rows.iterator).toList
      assert(out.map(_.doc_id) == rows.map(_.doc_id), "order preserved")
      out.groupBy(_.lang).foreach { case (_, docs) =>
        // bin ids are a contiguous non-decreasing sequence from 0
        val bins = docs.map(_.seq_id)
        assert(bins.head == 0L)
        assert(bins.sliding(2).forall {
          case Seq(a, b) => b == a || b == a + 1; case _ => true })
        // per-bin totals: within cap unless a single oversized doc
        docs.groupBy(_.seq_id).values.foreach { bin =>
          val total = bin.map(_.n_tok).sum
          assert(total <= cap || bin.length == 1,
            s"overfull multi-doc bin: $bin")
        }
        // greedy tightness: first doc of bin b+1 would overflow bin b
        val byBin = docs.groupBy(_.seq_id).toSeq.sortBy(_._1)
        byBin.sliding(2).foreach {
          case Seq((_, prev), (_, next)) =>
            assert(prev.map(_.n_tok).sum + next.head.n_tok > cap)
          case _ =>
        }
      }
    }
  }

  test("span-dedup interval reconstruction equals the brute-force membership filter") {
    // random corpora with heavy token reuse (so cross-doc dup spans,
    // overlapping/adjacent covered intervals, and doc-edge spans all
    // occur): the merged-interval gap-slice reconstruction must equal
    // the O(n_tok * n_removed) per-token membership filter it replaced
    val w = 3
    val corpusGen = Gen.listOfN(6, Gen.listOfN(12,
      Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    forAllSeeded(corpusGen, n = 15) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.ops.SpanDedup.dedupSpans(docs, w).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      // brute force in plain Scala: same first-occurrence election on
      // the literal gram STRING (collision-free here), then the naive
      // covered-set filter
      val toks = texts.map(_.split(" ").filter(_.nonEmpty))
      val firsts = scala.collection.mutable.Map[String, (Int, Int)]()
      for (d <- toks.indices; p <- 0 to toks(d).length - w) {
        val g = toks(d).slice(p, p + w).mkString(" ")
        if (!firsts.contains(g)) firsts(g) = (d, p)
      }
      for (d <- toks.indices) {
        val starts = (0 to toks(d).length - w)
          .filter(p => firsts(toks(d).slice(p, p + w).mkString(" ")) != ((d, p)))
        val covered = starts.flatMap(p => p until p + w).toSet
        val kept = toks(d).zipWithIndex.collect {
          case (t, i) if !covered.contains(i) => t
        }
        val ph = graft.functions.TextHash.polyHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            kept.mkString(" ")), 31)
        assert(out(d.toLong) == ((starts.length.toLong,
          covered.size.toLong, ph)),
          s"doc $d: got ${out(d.toLong)}, want " +
            s"(${starts.length}, ${covered.size}, $ph) text='${texts(d)}'")
      }
    }
  }

  test("salted hot-key aggregation equals plain groupBy for any data, " +
       "partitioning, and salt width (q133 invariant)") {
    // keys drawn from a tiny hot set + a sparse tail; integer-valued
    // doubles so partial sums are exact under any grouping order
    val rowGen = for {
      key <- Gen.frequency(8 -> Gen.oneOf("HOT_A", "HOT_B"),
                           2 -> Gen.choose(0, 50).map(i => s"k$i"))
      qty <- Gen.choose(0, 100)
    } yield (key, qty.toDouble)
    val caseGen = for {
      rows <- Gen.listOfN(200, rowGen)
      parts <- Gen.choose(1, 13)
      salts <- Gen.choose(1, 32)
    } yield (rows, parts, salts)
    forAllSeeded(caseGen, n = 10) { case (rows, parts, salts) =>
      val df = rows.toDF("k", "qty").repartition(parts)
      val direct = df.groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val salted = graft.ops.Skew.saltedCountSum(df, "k", "qty", salts)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(salted == direct, s"parts=$parts salts=$salts")
    }
  }
}
