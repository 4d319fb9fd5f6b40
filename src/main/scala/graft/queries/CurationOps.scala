package graft.queries

import graft.Tables
import graft.functions.PolyHash.polyHash
import graft.ops.{HtmlExtract, Robots, Warc}
import graft.streaming.BatchTuning.withConf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-corpus curation front-end (round 16): the three stages between a
  * raw crawl and the text pipeline that the engine did not yet cover —
  * free-text PII scrubbing, URL canonicalization + domain-level dedup,
  * and WARC (ISO 28500) container framing. The reference ingests
  * pre-extracted, pre-scrubbed CSV (reference `src/data_extract.py:62`),
  * so all three are beyond-reference surface; each is the standard
  * public-corpus recipe (C4/Dolma-style regex scrubbing, crawl-frontier
  * URL normalization, Common-Crawl WARC framing).
  *
  * Fixture docs contain none of these artifacts, so — same playbook as
  * q173's Unicode salts and q172's HTML wrapper — every query PLANTS
  * deterministic artifacts (pure functions of doc_id) and the DuckDB
  * oracle replays plant + operator exactly: a defect in either half
  * moves counts or hashes.
  *
  * Scale posture: q176 and the canonicalization half of q177 are pure
  * per-row column expressions (whole-stage codegen, zero shuffle before
  * the final agg/order); q177's one aggregation shuffles by (host,
  * canonical URL) — the real URL-dedup exchange — before the 12-key
  * final fold; q178's only exchange materializes each bounded ~512-doc
  * segment in file order, exactly the shuffle a segment writer pays.
  */
object CurationOps {

  private def docs(s: SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("text"), lit("")).as("text"))

  // ---- q176: the three scrub regexes, byte-identical on both engines ----
  // (common Java-regex / RE2 subset: classes, bounded reps, \b, no
  // backrefs or lookaround). The IPv4 pattern validates octet range, so
  // the planted 999.300.1.1 near-miss must NOT count.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private val OctetRe = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  private val Ipv4Re = "\\b(" + OctetRe + "\\.){3}" + OctetRe + "\\b"

  private def str(c: Column): Column = c.cast("string")

  /** Deterministic PII salt around the doc text: 1 + doc_id%2 emails, a
    * 3-3-4 phone, an in-range dotted-quad — plus one near-miss per
    * category (TLD-less mailbox, 2-3-4 phone, out-of-range quad) that a
    * sloppy pattern would over-match.
    */
  private def piiSalted: Column = concat(
    lit("contact "),
    lit("user"), str(col("doc_id")), lit("@mail"),
    str(pmod(col("doc_id"), lit(7L))), lit(".example.com"),
    when(pmod(col("doc_id"), lit(2L)) === 0,
      concat(lit(" or admin"), str(col("doc_id")), lit("@corp"),
        str(pmod(col("doc_id"), lit(3L))), lit(".example.org")))
      .otherwise(lit("")),
    lit(" mail user@localhost "),
    col("text"),
    lit(" call "), str(pmod(col("doc_id"), lit(700L)) + 200),
    lit("-555-"), str(pmod(col("doc_id"), lit(9000L)) + 1000),
    lit(" not 55-555-5555 ip "),
    lit("10."), str(pmod(col("doc_id"), lit(256L))), lit("."),
    str(pmod(col("doc_id"), lit(250L))), lit("."),
    str(pmod(col("doc_id"), lit(254L)) + 1),
    lit(" bad 999.300.1.1 end"))

  // ---- q177: planted URL triple + the canonicalization rule -------------
  // u1/u2 canonicalize EQUAL (case, default port, tracking params,
  // param order, fragment all normalized away); u3 keeps its non-default
  // port and loses its only (tracking) param, collapsing every doc with
  // the same (host, doc_id%50) path onto one canonical URL.
  private[graft] def urlArray: Column = array(
    concat(lit("HTTPS://WWW.Site"), str(pmod(col("doc_id"), lit(5L))),
      lit(".COM:443/Article/"), str(col("doc_id")),
      lit("?utm_source=feed&ref="), str(pmod(col("doc_id"), lit(3L))),
      lit("&id="), str(pmod(col("doc_id"), lit(100L))), lit("#sec2")),
    concat(lit("https://www.site"), str(pmod(col("doc_id"), lit(5L))),
      lit(".com/Article/"), str(col("doc_id")),
      lit("?ref="), str(pmod(col("doc_id"), lit(3L))),
      lit("&id="), str(pmod(col("doc_id"), lit(100L)))),
    concat(lit("http://Mirror"), str(pmod(col("doc_id"), lit(7L))),
      lit(".Example.ORG:8080/p/"), str(pmod(col("doc_id"), lit(50L))),
      lit("?utm_campaign=x")))

  private val SchemePfx = "^[A-Za-z][A-Za-z0-9+.-]*://"

  /** The canonicalization rule (crawl-frontier standard): lowercase
    * scheme+host, strip default ports, drop the fragment, drop tracking
    * params (utm_*, fbclid, gclid), byte-sort the survivors, empty path
    * becomes '/'.
    */
  private[graft] def canonParts(u: Column): (Column, Column) = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(u, SchemePfx + "([^/?#:]*)", 1))
    val port = regexp_extract(u, SchemePfx + "[^/?#:]*:([0-9]+)", 1)
    val portPart = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_extract(u, SchemePfx + "[^/?#]*([^?#]*)", 1)
    val pathPart = when(path === "", lit("/")).otherwise(path)
    val params = array_sort(filter(split(
      regexp_extract(u, "\\?([^#]*)", 1), "&"),
      p => p =!= "" && !p.startsWith("utm_") &&
        !p.startsWith("fbclid=") && !p.startsWith("gclid=")))
    val qPart = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    (host, concat(scheme, lit("://"), host, portPart, pathPart, qPart))
  }

  /** Shared oracle CTE: the same triple + rule in DuckDB (RE2). */
  private val UrlCanonSql: String =
    """WITH urls AS (
      |  SELECT u FROM documents, unnest([
      |    'HTTPS://WWW.Site' || (doc_id % 5) || '.COM:443/Article/' || doc_id
      |      || '?utm_source=feed&ref=' || (doc_id % 3)
      |      || '&id=' || (doc_id % 100) || '#sec2',
      |    'https://www.site' || (doc_id % 5) || '.com/Article/' || doc_id
      |      || '?ref=' || (doc_id % 3) || '&id=' || (doc_id % 100),
      |    'http://Mirror' || (doc_id % 7) || '.Example.ORG:8080/p/'
      |      || (doc_id % 50) || '?utm_campaign=x']) AS t(u)),
      |parts AS (SELECT
      |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)', 1) AS port,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |    regexp_extract(u, '\?([^#]*)', 1) AS q
      |  FROM urls),
      |canon AS (SELECT host,
      |    scheme || '://' || host ||
      |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |              OR (scheme = 'https' AND port = '443')
      |         THEN '' ELSE ':' || port END ||
      |    CASE WHEN path = '' THEN '/' ELSE path END ||
      |    CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&')
      |         ELSE '' END AS canon
      |  FROM (SELECT *, list_sort(list_filter(string_split(q, '&'),
      |          p -> p <> '' AND NOT starts_with(p, 'utm_')
      |               AND NOT starts_with(p, 'fbclid=')
      |               AND NOT starts_with(p, 'gclid='))) AS ps
      |        FROM parts))""".stripMargin

  /** q180's planted per-host robots.txt — a pure function of the host
    * string, so the oracle can replay the effective RULES while the
    * engine parses the full FILE (decoy fancybot group, comments,
    * Crawl-delay/Sitemap noise, an empty Disallow). Even-k www hosts
    * carry an exact `GraftBot` group, which per RFC 9309 makes the `*`
    * group inapplicable — a parser that merges the two flips decisions
    * on /Article/1… paths and breaks the hash.
    */
  private def robotsTxt: Column = {
    val k = regexp_extract(col("host"), "site([0-9])", 1)
    val j = regexp_extract(col("host"), "mirror([0-9])", 1)
    when(col("host").startsWith("www."),
      concat(
        lit("# corpus crawler policy\nUser-agent: fancybot\nDisallow: /\n\n"),
        when(k.isin("0", "2", "4"),
          lit("User-agent: GraftBot\nDisallow: /Article/7\nAllow: /Article/77\n\n"))
          .otherwise(lit("")),
        lit("User-agent: *\nCrawl-delay: 2\nDisallow: /Article/1\n" +
          "Allow: /Article/12\nDisallow: /private/\nDisallow:\n")))
      .otherwise(
        concat(lit("User-agent: *\nDisallow: /p/"), j,
          lit("\nAllow: /p/"), j, j,
          lit("\nSitemap: https://example.org/sitemap.xml\n")))
  }

  /** DuckDB replay of the polynomial string hash (the q90 form). */
  private def polyHashSql(c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, len($c) + 1),
       |    x -> CAST(unicode($c[x]) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  /** Full q177 oracle — also q179's (the frontier stream folds to the
    * identical per-host frame under any arrival order).
    */
  private val UrlAggSql: String = UrlCanonSql + """,
    |raw AS (SELECT host, CAST(count(*) AS BIGINT) AS n_raw
    |        FROM canon GROUP BY host),
    |ded AS (SELECT host, CAST(count(*) AS BIGINT) AS n_canon,
    |          CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
    |            list_transform(range(1, len(canon) + 1),
    |              j -> CAST(unicode(canon[j]) AS BIGINT))),
    |            (acc, x) -> (acc * 31 + x) % 1000000007)) AS BIGINT)
    |            AS canon_hashsum
    |        FROM (SELECT DISTINCT host, canon FROM canon)
    |        GROUP BY host)
    |SELECT host, n_raw, n_canon, canon_hashsum
    |FROM raw JOIN ded USING (host)
    |ORDER BY host""".stripMargin

  /** Page-replay CTE block shared by the WARC oracles. Expects a CTE
    * `d(doc_id, …, text)` already defined; adds `toks`, per-paragraph
    * `paras(doc_id, i, btext)`, the aggregated `pageps`, and
    * `page(doc_id, html)` — the exact bytes `HtmlExtractOps.wrap`
    * renders.
    */
  private val WarcPagesSql: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
      |paras AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, i*12 + 1,
      |      least((i+1)*12, len(t))), ' ') AS btext
      |  FROM toks, unnest(range(0, (len(t) + 11) // 12)) AS u(i)),
      |pageps AS (SELECT doc_id,
      |    string_agg('<p>' || btext || '</p>', '' ORDER BY i) AS ps
      |  FROM paras GROUP BY doc_id),
      |page AS (SELECT d.doc_id,
      |    '<html><head><title>doc ' || d.doc_id || '</title><script>var page='
      |    || d.doc_id || ';</script></head><body>'
      |    || '<nav><ul><li><a href="/home">home</a></li>'
      |    || '<li><a href="/about">about</a></li>'
      |    || '<li><a href="/contact">contact</a></li></ul></nav>'
      |    || '<h1>document ' || d.doc_id || '</h1>'
      |    || coalesce(p.ps, '')
      |    || '<div class="related">related: '
      |    || array_to_string(list_transform(range(0, 2 + d.doc_id % 3),
      |         j -> '<a href="/d/' || ((d.doc_id + j) % 1000) || '">doc-'
      |              || ((d.doc_id + j) % 1000) || '</a>'), ' ')
      |    || '</div><footer>copyright 2026 the corpus company all rights reserved</footer>'
      |    || '</body></html>' AS html
      |  FROM d LEFT JOIN pageps p ON d.doc_id = p.doc_id)""".stripMargin

  /** Shared q178/q181 oracle prefix: replay the HTML page, the WARC
    * header string, and each record's total length (header + payload +
    * separator) per doc — `sized` carries (doc_id, file_id, uri, clen,
    * payload_md5, rlen).
    */
  private val WarcSizedSql: String =
    """WITH nn AS (SELECT greatest(CAST(1 AS BIGINT),
      |    CAST((count(*) + 511) // 512 AS BIGINT)) AS nf
      |  FROM documents WHERE doc_id IS NOT NULL),
      |d AS (SELECT doc_id, coalesce(text, '') AS text
      |      FROM documents WHERE doc_id IS NOT NULL),
      |""".stripMargin + WarcPagesSql + """,
      |rec AS (SELECT doc_id, doc_id % nf AS file_id,
      |    'https://example' || (doc_id % 5) || '.com/doc/' || doc_id AS uri,
      |    CAST(strlen(html) AS BIGINT) AS clen, md5(html) AS payload_md5
      |  FROM page, nn),
      |sized AS (SELECT *,
      |    CAST(strlen('WARC/1.0' || chr(13) || chr(10)
      |      || 'WARC-Type: response' || chr(13) || chr(10)
      |      || 'WARC-Target-URI: ' || uri || chr(13) || chr(10)
      |      || 'Content-Type: text/html' || chr(13) || chr(10)
      |      || 'Content-Length: ' || clen || chr(13) || chr(10)
      |      || chr(13) || chr(10)) AS BIGINT) + clen + 4 AS rlen
      |  FROM rec)""".stripMargin

  val defs: Seq[Q] = Seq(
    // ---- E4+: free-text PII scrubbing, staged-count semantics ----------
    // Counts are taken on the PROGRESSIVELY redacted text (emails on the
    // raw text, phones after email redaction, IPs after both) so a
    // category can never double-count inside an already-redacted span —
    // and the oracle replays the same three stages.
    Q(
      "q176_pii_redact",
      (s, d) =>
        // the staged regex scrub is pure per-row CPU over a one-split
        // fixture scan — spread it (Tables.spreadIfNarrow: identity at
        // warehouse scale)
        Tables.spreadIfNarrow(s, d, "documents", docs(s, d))
          .select(col("doc_id"), piiSalted.as("r0"))
          .withColumn("n_email",
            size(regexp_extract_all(col("r0"), lit(EmailRe), lit(0)))
              .cast("long"))
          .withColumn("t1", regexp_replace(col("r0"), EmailRe, "<EMAIL>"))
          .withColumn("n_phone",
            size(regexp_extract_all(col("t1"), lit(PhoneRe), lit(0)))
              .cast("long"))
          .withColumn("t2", regexp_replace(col("t1"), PhoneRe, "<PHONE>"))
          .withColumn("n_ip",
            size(regexp_extract_all(col("t2"), lit(Ipv4Re), lit(0)))
              .cast("long"))
          .withColumn("t3", regexp_replace(col("t2"), Ipv4Re, "<IP>"))
          .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
            length(col("t3")).cast("long").as("red_chars"),
            md5(col("t3")).as("red_md5"))
          .orderBy(col("doc_id")),
      Some(("""WITH s AS (SELECT doc_id,
            |  'contact user' || doc_id || '@mail' || (doc_id % 7) || '.example.com'
            |  || CASE WHEN doc_id % 2 = 0
            |          THEN ' or admin' || doc_id || '@corp' || (doc_id % 3) || '.example.org'
            |          ELSE '' END
            |  || ' mail user@localhost ' || coalesce(text, '')
            |  || ' call ' || (doc_id % 700 + 200) || '-555-' || (doc_id % 9000 + 1000)
            |  || ' not 55-555-5555 ip 10.' || (doc_id % 256) || '.'
            |  || (doc_id % 250) || '.' || (doc_id % 254 + 1)
            |  || ' bad 999.300.1.1 end' AS r0
            |  FROM documents),
            |e AS (SELECT doc_id,
            |        CAST(len(regexp_extract_all(r0, '@EMAIL@')) AS BIGINT) AS n_email,
            |        regexp_replace(r0, '@EMAIL@', '<EMAIL>', 'g') AS t1
            |      FROM s),
            |p AS (SELECT doc_id, n_email,
            |        CAST(len(regexp_extract_all(t1, '@PHONE@')) AS BIGINT) AS n_phone,
            |        regexp_replace(t1, '@PHONE@', '<PHONE>', 'g') AS t2
            |      FROM e),
            |i AS (SELECT doc_id, n_email, n_phone,
            |        CAST(len(regexp_extract_all(t2, '@IP@')) AS BIGINT) AS n_ip,
            |        regexp_replace(t2, '@IP@', '<IP>', 'g') AS t3
            |      FROM p)
            |SELECT doc_id, n_email, n_phone, n_ip,
            |       CAST(length(t3) AS BIGINT) AS red_chars,
            |       md5(t3) AS red_md5
            |FROM i
            |ORDER BY doc_id""".stripMargin)
        .replace("@EMAIL@", EmailRe)
        .replace("@PHONE@", PhoneRe)
        .replace("@IP@", Ipv4Re))),

    // ---- E4+: URL canonicalization + domain-level dedup stats ----------
    // Per host: raw URL count, canonical-distinct count, and an
    // order-free checksum — the sum of polyHash over DISTINCT canonical
    // URLs (distinct-by-URL first, THEN sum: hash-value collisions
    // between different URLs still count once per URL, which is the
    // invariant that lets the q179 frontier stream fold per-batch
    // partial sums and land on the identical number). The dedup
    // exchange is keyed by (host, canon) in the distinct phase; the
    // final folds see only the 12-host domain.
    Q(
      "q177_url_canonicalize",
      (s, d) => {
        val (host, canon) = {
          val u = col("u")
          canonParts(u)
        }
        val withC = docs(s, d)
          .select(explode(urlArray).as("u"))
          .select(host.as("host"), canon.as("canon"))
        val raw = withC.groupBy(col("host"))
          .agg(count(lit(1)).as("n_raw"))
        val ded = withC.distinct()
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_canon"),
            sum(polyHash(col("canon"))).as("canon_hashsum"))
        raw.join(ded, Seq("host")).orderBy(col("host"))
      },
      Some(UrlAggSql)),

    // ---- E5+: WARC segment round-trip ----------------------------------
    // Pack each doc's deterministic HTML page (the q172 wrapper — this
    // row is the first to pin the wrapper's BYTES, q172 only checks its
    // classification) into a WARC/1.0 response record, concatenate
    // ~512-doc segments in doc order, then parse the segments back by
    // Content-Length framing. The oracle rebuilds every header STRING in
    // SQL and derives each record's offset as a cumulative length sum —
    // independent arithmetic against the parser's byte-walk offsets.
    Q(
      "q178_warc_roundtrip",
      (s, d) => {
        val base = docs(s, d).where(col("doc_id").isNotNull)
        val n = base.agg(count(lit(1)).as("n_docs"))
        val nf = greatest(lit(1L), expr("(n_docs + 511) DIV 512"))
        val recs = base.crossJoin(broadcast(n))
          .select(col("doc_id"), pmod(col("doc_id"), nf).as("file_id"),
            Warc.warcBuild(
              concat(lit("https://example"),
                str(pmod(col("doc_id"), lit(5L))),
                lit(".com/doc/"), str(col("doc_id"))),
              encode(HtmlExtract.htmlWrap(col("doc_id"), col("text")),
                "UTF-8")).as("rec"))
        val segs = recs
          .groupBy(col("file_id"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("rec"))))
            .as("rs"))
          .select(col("file_id"),
            Warc.warcSegment(expr("transform(rs, r -> r.rec)")).as("seg"))
        segs
          .select(col("file_id"),
            posexplode(Warc.warcParse(col("seg"))).as(Seq("rec_idx", "r")))
          .select(
            expr("try_cast(regexp_extract(r.uri, '/doc/([0-9]+)$', 1) AS BIGINT)")
              .as("doc_id"),
            col("file_id"), col("rec_idx").cast("long").as("rec_idx"),
            col("r.offset").as("offset"),
            col("r.content_length").as("content_length"),
            md5(col("r.payload")).as("payload_md5"))
          .orderBy(col("doc_id"))
      },
      Some(WarcSizedSql + """
            |SELECT doc_id, file_id,
            |  CAST(row_number() OVER (PARTITION BY file_id ORDER BY doc_id) - 1
            |       AS BIGINT) AS rec_idx,
            |  CAST(coalesce(sum(rlen) OVER (PARTITION BY file_id ORDER BY doc_id
            |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |       AS BIGINT) AS offset,
            |  clen AS content_length, payload_md5
            |FROM sized
            |ORDER BY doc_id""".stripMargin)),

    // ---- E6: incremental URL frontier (q177's streaming twin) ----------
    // URLs arrive in micro-batches; "seen before" is a probe against a
    // persistent canonical-URL store (dual-pack identities, bucketed,
    // partition-pruned — the CorpusPrepStream contract), and the
    // registered result folds per-batch per-host partials with plain
    // sums. Canonical counts and the distinct-URL hashsum are arrival-
    // order-free, so the stream shares q177's full oracle — which
    // therefore checks the store handoff and the partial fold.
    Q(
      "q179_url_frontier_stream",
      (s, d) => withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        graft.streaming.UrlFrontierStream.runOn(
          s, Tables.documents(s, d), nSplits = 2)
      },
      Some(UrlAggSql)),

    // ---- E4+: robots.txt politeness filter over the frontier -----------
    // Dedup then politeness, the real pipeline order: every canonical
    // URL is checked against its host's robots.txt with the RFC 9309
    // rule (exact-token group beats *, longest path prefix wins, Allow
    // wins ties) by the codegen'd [[graft.ops.RobotsAllow]] parser. The
    // engine parses the full FILE — decoy group, comments, directive
    // noise, empty Disallow — while the oracle replays only the
    // effective rules and recomputes the longest-match decision with a
    // rank window: any group-selection or precedence defect flips
    // decisions and breaks counts and hashsum.
    Q(
      "q180_robots_filter",
      (s, d) => {
        val (host, canon) = {
          val u = col("u")
          canonParts(u)
        }
        val frontier = docs(s, d)
          .select(explode(urlArray).as("u"))
          .select(host.as("host"), canon.as("canon"))
          .distinct()
        frontier
          .withColumn("allow", Robots.robotsAllow(robotsTxt, lit("graftbot"),
            regexp_extract(col("canon"), "^[a-z]+://[^/?]*([^?]*)", 1)))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_urls"),
            sum(when(col("allow"), 1L).otherwise(0L)).as("n_allowed"),
            sum(when(!col("allow"), 1L).otherwise(0L)).as("n_blocked"),
            sum(when(col("allow"), polyHash(col("canon"))).otherwise(0L))
              .as("allowed_hashsum"))
          .orderBy(col("host"))
      },
      Some(UrlCanonSql + s""",
        |f AS (SELECT DISTINCT host, canon FROM canon),
        |u AS (SELECT host, canon,
        |        regexp_extract(canon, '^[a-z]+://[^/?]*([^?]*)', 1) AS path
        |      FROM f),
        |hosts AS (SELECT DISTINCT host FROM f),
        |rules AS (SELECT host, t.r.v AS rpath, t.r.a AS allow FROM hosts,
        |  unnest(CASE
        |    WHEN starts_with(host, 'www.')
        |         AND regexp_extract(host, 'site([0-9])', 1) IN ('0','2','4')
        |      THEN [{'v': '/Article/7', 'a': false},
        |            {'v': '/Article/77', 'a': true}]
        |    WHEN starts_with(host, 'www.')
        |      THEN [{'v': '/Article/1', 'a': false},
        |            {'v': '/Article/12', 'a': true},
        |            {'v': '/private/', 'a': false}]
        |    ELSE [{'v': '/p/' || regexp_extract(host, 'mirror([0-9])', 1),
        |           'a': false},
        |          {'v': '/p/' || repeat(regexp_extract(host, 'mirror([0-9])', 1), 2),
        |           'a': true}]
        |  END) AS t(r)),
        |m AS (SELECT u.host, u.canon, r.rpath, r.allow
        |      FROM u JOIN rules r
        |        ON u.host = r.host AND starts_with(u.path, r.rpath)),
        |best AS (SELECT host, canon, allow,
        |    row_number() OVER (PARTITION BY host, canon
        |                       ORDER BY len(rpath) DESC, allow DESC) AS rn
        |  FROM m),
        |dec AS (SELECT u.host, u.canon, coalesce(b.allow, true) AS allow
        |        FROM u LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |          ON u.host = b.host AND u.canon = b.canon)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(CASE WHEN allow THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
        |  CAST(sum(CASE WHEN allow THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked,
        |  CAST(sum(CASE WHEN allow THEN ${polyHashSql("canon")}
        |           ELSE 0 END) AS BIGINT) AS allowed_hashsum
        |FROM dec
        |GROUP BY host
        |ORDER BY host""".stripMargin)),

    // ---- E5+: WARC record-level salvage over dirty segments ------------
    // One flipped byte must cost one record, not a 1 GB segment: the
    // query corrupts the version magic of every doc_id % 37 == 0 record
    // AFTER building it, packs the same segments as q178, and reads
    // them back with [[graft.ops.WarcParseLenient]] — parse errors skip
    // to the next plausible record start ("WARC/1.0\r\n" at a line
    // boundary) with the jumped bytes ACCOUNTED, never silently
    // dropped. The oracle knows exactly which records are corrupt and
    // how long each one is (the q178 header-length replay), so
    // per-file good/bad counts, skipped byte totals, and the surviving
    // records' content-length sum are all independently recomputed.
    Q(
      "q181_warc_salvage",
      (s, d) => {
        val base = docs(s, d).where(col("doc_id").isNotNull)
        val n = base.agg(count(lit(1)).as("n_docs"))
        val nf = greatest(lit(1L), expr("(n_docs + 511) DIV 512"))
        val recs = base.crossJoin(broadcast(n))
          .select(col("doc_id"), pmod(col("doc_id"), nf).as("file_id"),
            Warc.warcBuild(
              concat(lit("https://example"),
                str(pmod(col("doc_id"), lit(5L))),
                lit(".com/doc/"), str(col("doc_id"))),
              encode(HtmlExtract.htmlWrap(col("doc_id"), col("text")),
                "UTF-8")).as("rec"))
          .withColumn("rec",
            when(pmod(col("doc_id"), lit(37L)) === 0,
              concat(lit("X".getBytes("UTF-8")),
                expr("substring(rec, 2, length(rec) - 1)")))
              .otherwise(col("rec")))
        recs
          .groupBy(col("file_id"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("rec"))))
            .as("rs"))
          .select(col("file_id"),
            Warc.warcParseLenient(
              Warc.warcSegment(expr("transform(rs, r -> r.rec)"))).as("st"))
          .select(col("file_id"),
            size(col("st.records")).cast("long").as("n_good"),
            col("st.n_bad").as("n_bad"),
            col("st.skipped_bytes").as("skipped_bytes"),
            aggregate(col("st.records"), lit(0L),
              (a, r) => a + r.getField("content_length"))
              .as("good_clen_sum"))
          .orderBy(col("file_id"))
      },
      Some(WarcSizedSql + """
        |SELECT file_id,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_good,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN rlen ELSE 0 END) AS BIGINT)
        |    AS skipped_bytes,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 0 ELSE clen END) AS BIGINT)
        |    AS good_clen_sum
        |FROM sized
        |GROUP BY file_id
        |ORDER BY file_id""".stripMargin)),

    // ---- E6: end-to-end incremental crawl ingestion --------------------
    // WARC segments arrive as files; each micro-batch runs salvage
    // demux → HTML boilerplate extraction → per-language accounting
    // (language parsed back from the WARC-Target-URI, the metadata path
    // a real crawl uses). Pure additive statistics — partial-fold
    // family, no cross-batch store — so stream == batch under any
    // arrival order, and the oracle replays page build + extraction +
    // fold straight from the documents table, gating the whole chain.
    Q(
      "q182_warc_ingest_stream",
      (s, d) => withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        graft.streaming.WarcIngestStream.runOn(
          s, Tables.documents(s, d), nSplits = 2)
      },
      Some(s"""WITH d AS (SELECT doc_id, coalesce(lang, 'und') AS lang,
        |           coalesce(text, '') AS text
        |         FROM documents WHERE doc_id IS NOT NULL),
        |""".stripMargin + WarcPagesSql + s""",
        |rel AS (SELECT doc_id,
        |    'related: ' || array_to_string(list_transform(
        |      range(0, 2 + doc_id % 3),
        |      j -> 'doc-' || ((doc_id + j) % 1000)), ' ') AS btext,
        |    CAST(list_sum(list_transform(range(0, 2 + doc_id % 3),
        |      j -> length('doc-' || ((doc_id + j) % 1000)))) AS BIGINT) AS lc
        |  FROM d),
        |blocks AS (
        |  SELECT doc_id, 0 AS ord, 'document ' || doc_id AS btext,
        |         CAST(0 AS BIGINT) AS lc FROM d
        |  UNION ALL SELECT doc_id, 1 + i, btext, CAST(0 AS BIGINT) FROM paras
        |  UNION ALL SELECT doc_id, 2147483647, btext, lc FROM rel),
        |nz AS (SELECT doc_id, ord, btext, lc,
        |         CAST(length(btext) AS BIGINT) AS blen,
        |         (length(btext) >= 25 AND lc * 10 < length(btext) * 3) AS keep
        |       FROM blocks WHERE length(btext) > 0),
        |perdoc AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(coalesce(sum(CASE WHEN keep THEN blen END), 0) AS BIGINT)
        |      AS kept_chars,
        |    string_agg(CASE WHEN keep THEN btext END, chr(10)
        |               ORDER BY ord) AS main_text
        |  FROM nz GROUP BY doc_id),
        |docrows AS (SELECT d.lang, CAST(strlen(pg.html) AS BIGINT) AS clen,
        |    pd.n_kept, pd.kept_chars,
        |    ${polyHashSql("coalesce(pd.main_text, '')")} AS th
        |  FROM d JOIN page pg ON d.doc_id = pg.doc_id
        |         JOIN perdoc pd ON d.doc_id = pd.doc_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(clen) AS BIGINT) AS sum_clen,
        |  CAST(sum(n_kept) AS BIGINT) AS n_kept,
        |  CAST(sum(kept_chars) AS BIGINT) AS kept_chars,
        |  CAST(sum(th) AS BIGINT) AS text_hashsum
        |FROM docrows
        |GROUP BY lang
        |ORDER BY lang""".stripMargin))
  )
}
