package graft.queries

import graft.Tables
import graft.ops.Multimodal
import graft.pipeline.{Extract, Transform}
import graft.streaming.BatchTuning.withConf
import graft.streaming.EventStreams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end pipeline operators in the registry: the job-postings
  * extract+transform chain (SURVEY.md §3) driven by fixture-derived
  * source frames, multimodal binary feature extraction (E5), and the
  * Structured Streaming hourly aggregation (E6) — the latter checked
  * against the same DuckDB oracle as its batch twin q45.
  */
object PipelineOps {

  /** Shared document→8×8 grayscale thumbnail render (q165/q166/q167):
    * the engine half is one shingle-kernel pass + a 64-bin fold —
    * shuffles carry (doc_id, bin) partials only, never payloads — then
    * each doc's 64 gray cells encode per-partition as a REAL image
    * payload: binary PPM (P6), or PNG with the scanline filter CYCLING
    * `row % 5` so a decode round-trip exercises all five inverse
    * filters (None/Sub/Up/Average/Paeth) on every single image.
    */
  private def docThumbs(s: SparkSession, d: String, fmt: String,
                        gw: Int = 8, gh: Int = 8): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.types._
    val n = gw * gh
    val bins = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode_outer(graft.functions.ShingleKernel
          .shinglePacks(col("text"))).as("pack"))
      .groupBy(col("doc_id"),
        pmod(col("pack"), lit(n.toLong)).cast("int").as("bin"))
      .agg(sum(expr(s"(pack div $n) % 256")).as("sv"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("bin"), col("sv"))).as("cells"))
    val payloadSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    // the encode below and every consumer's decode are per-row codec
    // CPU, but AQE coalesces the tiny cells aggregate to ONE partition
    // (it sizes by bytes, which can't see codec cost) — spread it under
    // the same scan-width cost switch (identity at warehouse scale,
    // where the aggregate is wide anyway)
    val spread = Tables.spreadIfNarrow(s, d, "documents", bins)
    spread.mapPartitions { rows =>
      rows.map { r =>
        val rgb = new Array[Byte](n * 3)
        r.getSeq[Row](1).foreach { cell =>
          // a doc with < 3 tokens explodes one null pack → null bin
          if (!cell.isNullAt(0)) {
            val b = (((cell.getLong(1) % 256) + 256) % 256).toByte
            val i = cell.getInt(0) * 3
            rgb(i) = b; rgb(i + 1) = b; rgb(i + 2) = b
          }
        }
        val payload = fmt match {
          case "png" => Multimodal.encodePng(gw, gh, rgb, row => row % 5)
          // full 3-component 4:4:4 color scan: the gray input makes the
          // chroma planes EXACTLY 128 (the JFIF integer weights cancel),
          // which is what lets the q168 oracle replay only the luma chain
          case "jpeg" => graft.ops.Jpeg.encodeJpeg(gw, gh, rgb, mode = "444")
          // 4:2:0: 16x16 MCU with 4 edge-padded luma blocks + 2x2-mean
          // subsampled chroma — block (0,0) IS the image and gray chroma
          // stays exactly 128 through the subsample, so q170 shares
          // q168's oracle while gating the MCU-assembly/upsample path
          case "jpeg420" => graft.ops.Jpeg.encodeJpeg(gw, gh, rgb, mode = "420")
          case _ => Multimodal.encodePpm(gw, gh, rgb)
        }
        Row(r.getLong(0), payload)
      }
    }(ExpressionEncoder(payloadSchema))
  }

  /** DuckDB replay of [[docThumbs]]'s gray grid — shared WITH-prefix of
    * the q165/q166/q167 oracles: tokens → 3-gram shingles → dual-hash
    * packs → n-bin fold → dense n-cell grid per doc (zeros filled).
    */
  private def gridSql(n: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |shs AS (SELECT doc_id,
      |          t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      |        WHERE len(t) >= 3),
      |pk AS (SELECT DISTINCT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(range(1, len(sh) + 1),
      |             j -> CAST(unicode(sh[j]) AS BIGINT))),
      |           (acc, x) -> (acc * 31 + x) % 1000000007) * 1073741824
      |         + list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(range(1, len(sh) + 1),
      |             j -> CAST(unicode(sh[j]) AS BIGINT))),
      |           (acc, x) -> (acc * 131 + x) % 1000000007) AS pack
      |       FROM shs),
      |cells AS (SELECT doc_id, pack % $n AS bin,
      |            sum((pack // $n) % 256) % 256 AS g
      |          FROM pk GROUP BY doc_id, pack % $n),
      |grid AS (SELECT d.doc_id, u.p,
      |           coalesce(c.g, 0) AS g
      |         FROM (SELECT DISTINCT doc_id FROM documents) d
      |         CROSS JOIN unnest(range(0, $n)) AS u(p)
      |         LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.bin = u.p)"""
      .stripMargin

  private val GridSql: String = gridSql(64)

  /** The fixed-point DCT basis and Annex-K luma quant table as SQL
    * literal relations — shared by every JPEG oracle (q168/q170/q171/
    * q174): ib(u, x) = Basis(u)(x), qt(u, v) = QLum zigzag-free.
    */
  private val IbQtSql: String =
    """ib(u, x, c) AS (SELECT * FROM (VALUES
      |  (0,0,2896),(0,1,2896),(0,2,2896),(0,3,2896),(0,4,2896),(0,5,2896),(0,6,2896),(0,7,2896),
      |  (1,0,4017),(1,1,3406),(1,2,2276),(1,3,799),(1,4,-799),(1,5,-2276),(1,6,-3406),(1,7,-4017),
      |  (2,0,3784),(2,1,1567),(2,2,-1567),(2,3,-3784),(2,4,-3784),(2,5,-1567),(2,6,1567),(2,7,3784),
      |  (3,0,3406),(3,1,-799),(3,2,-4017),(3,3,-2276),(3,4,2276),(3,5,4017),(3,6,799),(3,7,-3406),
      |  (4,0,2896),(4,1,-2896),(4,2,-2896),(4,3,2896),(4,4,2896),(4,5,-2896),(4,6,-2896),(4,7,2896),
      |  (5,0,2276),(5,1,-4017),(5,2,799),(5,3,3406),(5,4,-3406),(5,5,-799),(5,6,4017),(5,7,-2276),
      |  (6,0,1567),(6,1,-3784),(6,2,3784),(6,3,-1567),(6,4,-1567),(6,5,3784),(6,6,-3784),(6,7,1567),
      |  (7,0,799),(7,1,-2276),(7,2,3406),(7,3,-4017),(7,4,4017),(7,5,-3406),(7,6,2276),(7,7,-799))),
      |qt(u, v, q) AS (SELECT * FROM (VALUES
      |  (0,0,16),(1,0,11),(2,0,10),(3,0,16),(4,0,24),(5,0,40),(6,0,51),(7,0,61),
      |  (0,1,12),(1,1,12),(2,1,14),(3,1,19),(4,1,26),(5,1,58),(6,1,60),(7,1,55),
      |  (0,2,14),(1,2,13),(2,2,16),(3,2,24),(4,2,40),(5,2,57),(6,2,69),(7,2,56),
      |  (0,3,14),(1,3,17),(2,3,22),(3,3,29),(4,3,51),(5,3,87),(6,3,80),(7,3,62),
      |  (0,4,18),(1,4,22),(2,4,37),(3,4,56),(4,4,68),(5,4,109),(6,4,103),(7,4,77),
      |  (0,5,24),(1,5,35),(2,5,55),(3,5,64),(4,5,81),(5,5,104),(6,5,113),(7,5,92),
      |  (0,6,49),(1,6,64),(2,6,78),(3,6,87),(4,6,103),(5,6,121),(6,6,120),(7,6,101),
      |  (0,7,72),(1,7,92),(2,7,95),(3,7,98),(4,7,112),(5,7,100),(6,7,103),(7,7,99)))"""
      .stripMargin

  /** Shared q168/q170 oracle: the gray render keeps chroma at exactly
    * 128 on BOTH jpeg sampling modes (4:4:4 trivially; 4:2:0 because a
    * 2x2 mean of 128s is 128 and the decoded 8x8 crop is luma block
    * (0,0) of the padded MCU), so one luma-chain replay gates both.
    */
  private val JpegLumaOracleSql: String = GridSql + ",\n" +
    """ib(u, x, c) AS (SELECT * FROM (VALUES
      |  (0,0,2896),(0,1,2896),(0,2,2896),(0,3,2896),(0,4,2896),(0,5,2896),(0,6,2896),(0,7,2896),
      |  (1,0,4017),(1,1,3406),(1,2,2276),(1,3,799),(1,4,-799),(1,5,-2276),(1,6,-3406),(1,7,-4017),
      |  (2,0,3784),(2,1,1567),(2,2,-1567),(2,3,-3784),(2,4,-3784),(2,5,-1567),(2,6,1567),(2,7,3784),
      |  (3,0,3406),(3,1,-799),(3,2,-4017),(3,3,-2276),(3,4,2276),(3,5,4017),(3,6,799),(3,7,-3406),
      |  (4,0,2896),(4,1,-2896),(4,2,-2896),(4,3,2896),(4,4,2896),(4,5,-2896),(4,6,-2896),(4,7,2896),
      |  (5,0,2276),(5,1,-4017),(5,2,799),(5,3,3406),(5,4,-3406),(5,5,-799),(5,6,4017),(5,7,-2276),
      |  (6,0,1567),(6,1,-3784),(6,2,3784),(6,3,-1567),(6,4,-1567),(6,5,3784),(6,6,-3784),(6,7,1567),
      |  (7,0,799),(7,1,-2276),(7,2,3406),(7,3,-4017),(7,4,4017),(7,5,-3406),(7,6,2276),(7,7,-799))),
      |qt(u, v, q) AS (SELECT * FROM (VALUES
      |  (0,0,16),(1,0,11),(2,0,10),(3,0,16),(4,0,24),(5,0,40),(6,0,51),(7,0,61),
      |  (0,1,12),(1,1,12),(2,1,14),(3,1,19),(4,1,26),(5,1,58),(6,1,60),(7,1,55),
      |  (0,2,14),(1,2,13),(2,2,16),(3,2,24),(4,2,40),(5,2,57),(6,2,69),(7,2,56),
      |  (0,3,14),(1,3,17),(2,3,22),(3,3,29),(4,3,51),(5,3,87),(6,3,80),(7,3,62),
      |  (0,4,18),(1,4,22),(2,4,37),(3,4,56),(4,4,68),(5,4,109),(6,4,103),(7,4,77),
      |  (0,5,24),(1,5,35),(2,5,55),(3,5,64),(4,5,81),(5,5,104),(6,5,113),(7,5,92),
      |  (0,6,49),(1,6,64),(2,6,78),(3,6,87),(4,6,103),(5,6,121),(6,6,120),(7,6,101),
      |  (0,7,72),(1,7,92),(2,7,95),(3,7,98),(4,7,112),(5,7,100),(6,7,103),(7,7,99))),
      |sv AS (SELECT doc_id, p % 8 AS x, p // 8 AS y, g - 128 AS s FROM grid),
      |fq AS (SELECT sv.doc_id, cu.u AS u, cv.u AS v,
      |         CAST(sum(sv.s * cu.c * cv.c) AS BIGINT) AS fv
      |       FROM sv JOIN ib cu ON cu.x = sv.x JOIN ib cv ON cv.x = sv.y
      |       GROUP BY sv.doc_id, cu.u, cv.u),
      |dq AS (SELECT fq.doc_id, fq.u, fq.v,
      |         (CASE WHEN fv >= 0
      |               THEN (2*fv + 67108864::BIGINT*qt.q) // (2*67108864::BIGINT*qt.q)
      |               ELSE -((2*(-fv) + 67108864::BIGINT*qt.q) // (2*67108864::BIGINT*qt.q))
      |          END) * qt.q AS dv
      |       FROM fq JOIN qt ON qt.u = fq.u AND qt.v = fq.v),
      |rv AS (SELECT dq.doc_id, bu.x AS x, bv.x AS y,
      |         CAST(sum(dq.dv * bu.c * bv.c) AS BIGINT) AS r
      |       FROM dq JOIN ib bu ON bu.u = dq.u JOIN ib bv ON bv.u = dq.v
      |       GROUP BY dq.doc_id, bu.x, bv.x),
      |g2 AS (SELECT doc_id, x, y,
      |         greatest(0, least(255,
      |           (CASE WHEN r >= 0 THEN (2*r + 67108864) // 134217728
      |                 ELSE -((2*(-r) + 67108864) // 134217728) END) + 128)) AS gv
      |       FROM rv)
      |SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS w,
      |       CAST(8 AS BIGINT) AS h,
      |       CAST(sum(gv) AS BIGINT) AS sum_r,
      |       CAST(sum(gv) AS BIGINT) AS sum_g,
      |       CAST(sum(gv) AS BIGINT) AS sum_b,
      |       CAST(3 * sum(CASE WHEN y % 2 = 0 AND x % 2 = 0
      |                         THEN gv ELSE 0 END) AS BIGINT) AS rsum
      |FROM g2 GROUP BY doc_id
      |ORDER BY media_id""".stripMargin

  /** Kaggle-shaped postings source synthesized from the TPC-H-ish
    * fixtures (messy titles, $-formatted salaries, mixed countries) —
    * the stand-in for the reference's S3 CSV drop, shared by q55 and the
    * DailyJob entry point.
    */
  def rawPostings(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_name").as("company"),
        concat_ws(" ", lit("Senior"), lower(col("o_orderpriority")),
                  lit("Data Engineer iii (Remote) #"),
                  col("o_orderkey").cast("string")).as("title"),
        when(col("o_orderkey") % 3 === 0, lit("contract"))
          .otherwise(lit("full-time")).as("job_type"),
        concat(col("n_name"), lit(", US")).as("location"),
        when(col("o_orderkey") % 2 === 0, lit("USA"))
          .otherwise(lit("France")).as("country"),
        concat(lit("$"), format_number(col("o_totalprice") / 10, 2)).as("mean_salary"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_posted"),
        when(col("o_orderkey") % 5 === 0, lit("zip recruiter"))
          .otherwise(lit("indeed")).as("site"),
        concat(lit("We need python, sql and spark plus communication "),
               lit("and teamwork for priority "), col("o_orderpriority"))
          .as("description"))

  val defs: Seq[Q] = Seq(
    // ---- §3.1+§3.2: full extract -> transform over synthesized postings --
    // Orders x customer x nation rows are shaped into a Kaggle-like source
    // frame, then run through the real Extract.run + Transform.transform
    // chain.
    Q(
      "q55_jobs_pipeline",
      (s, d) => {
        // the extract→clean→classify chain is per-row CPU (regex
        // normalization + skill extraction) over a one-split fixture
        // scan — measured as ONE 3.3 s task on a 32-core box; spread
        // it (Tables.spreadIfNarrow: identity at warehouse scale)
        val raw = Tables.spreadIfNarrow(s, d, "orders", rawPostings(s, d))
        val extracted = Extract.run(
          kaggle = raw,
          huggingFace = raw.where(lit(false)),
          runDate = "2025-10-21",
          descriptionCol = Some("description"))
          .withColumn("__ingest_id", xxhash64(col("job_title")))
        Transform.transform(extracted)
          .groupBy(col("job_type"), col("job_posted_site"))
          .agg(count(lit(1)).as("n"),
               countDistinct(col("company_name")).as("n_companies"),
               round(sum(col("salary")), 2).as("sum_salary"))
          .orderBy(col("job_type"), col("job_posted_site"))
      },
      // The oracle replicates the portable parts of the chain: the output
      // columns don't depend on the hash-synthesized timestamps or the
      // title-case step (titles are unique, so keep-first dedup is a
      // no-op). format_number->parse is replicated with printf('%.2f'):
      // both format the double's EXACT binary expansion and round it
      // half-even, so the strings agree bit for bit — DuckDB's
      // round_even(x,2) instead double-rounds through x*100, which
      // resurrects decimal ties the double sits just below and flips
      // 2nd-decimal boundary rows (measured at the sf1 rung: one
      // boundary price x10 copies moved floor(sal*2000) by 20 each).
      // The WHERE mirrors the US filter's country precedence: the
      // source has a country column, so ONLY country='USA' rows (even
      // orderkeys) survive — the ", US" locations on France rows must
      // NOT rescue them.
      Some("""WITH src AS (
             |  SELECT lower(trim(c_name)) AS company_name,
             |         lower('Senior' || ' ' || lower(o_orderpriority) || ' ' ||
             |               'Data Engineer iii (Remote) #' || ' ' || o_orderkey) AS title,
             |         CASE WHEN o_orderkey % 3 = 0 THEN 'contract'
             |              ELSE 'full-time' END AS raw_type,
             |         CASE WHEN o_orderkey % 5 = 0 THEN 'zip recruiter'
             |              ELSE 'indeed' END AS job_posted_site,
             |         CAST(printf('%.2f', o_totalprice / 10) AS DOUBLE) AS sal
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE o_orderkey % 2 = 0),
             |typed AS (
             |  SELECT company_name, job_posted_site,
             |         CASE WHEN sal > 1000 THEN floor(sal)
             |              ELSE floor(sal * 2000) END AS ann,
             |         (SELECT CASE WHEN len(l) = 0 THEN 'Not specified'
             |                      ELSE array_to_string(list_sort(l), ', ') END
             |          FROM (SELECT list_filter([
             |            CASE WHEN regexp_matches(hay, '\b(full[- ]?time)\b') THEN 'Full-Time' END,
             |            CASE WHEN regexp_matches(hay, '\b(part[- ]?time)\b') THEN 'Part-Time' END,
             |            CASE WHEN regexp_matches(hay, '\b(contract)\b') THEN 'Contract' END,
             |            CASE WHEN regexp_matches(hay, '\b(intern(ship)?)\b') THEN 'Internship' END,
             |            CASE WHEN regexp_matches(hay, '\b(temp(orary)?)\b') THEN 'Temporary' END,
             |            CASE WHEN regexp_matches(hay, '\b(freelance|consult)\b') THEN 'Freelance' END],
             |            x -> x IS NOT NULL) AS l) t) AS job_type
             |  FROM (SELECT company_name, job_posted_site, sal,
             |               raw_type || ' ' || title AS hay
             |        FROM src))
             |SELECT job_type, job_posted_site, count(*) AS n,
             |       count(DISTINCT company_name) AS n_companies,
             |       round(sum(ann), 2) AS sum_salary
             |FROM typed
             |WHERE ann BETWEEN 20000 AND 400000
             |GROUP BY job_type, job_posted_site
             |ORDER BY job_type, job_posted_site""".stripMargin)),

    // ---- E5: multimodal binary columns + stubbed decode -------------------
    Q(
      "q56_multimodal_features",
      (s, d) => {
        val docs = Tables.documents(s, d).repartition(col("doc_id"))
        val media = Multimodal.asMedia(docs, "doc_id", "text", "text/plain")
        val feats = Multimodal.extractFeatures(media)
        feats
          .join(docs.select(col("doc_id").as("media_id"), col("lang")), Seq("media_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
               sum(col("n_bytes")).as("total_bytes"),
               round(avg(element_at(col("features"), 3)), 4).as("avg_mean_byte"))
          .orderBy(col("lang"))
      },
      // The stub decoder's surfaced features are pure byte statistics, so
      // DuckDB can recompute them from the text: payload = UTF-8 bytes,
      // mean byte = mean codepoint on this ASCII corpus (the oracle
      // fails loudly if a non-ASCII fixture ever lands).
      Some("""SELECT lang, count(*) AS n,
             |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
             |       round(avg(CASE WHEN len(text) = 0 THEN 0
             |                 ELSE list_sum(list_transform(range(1, len(text) + 1),
             |                        i -> CAST(unicode(text[i]) AS BIGINT))) * 1.0
             |                      / len(text) END), 4) AS avg_mean_byte
             |FROM documents
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // ---- E5: frame sampling -> per-frame feature extraction ---------------
    // The video-shaped multimodal path: one payload becomes every 2nd
    // 64-byte frame (Multimodal.sampleFrames — flatMap with a per-task
    // demuxer init point, original frame indices preserved), and each
    // frame then runs through the SAME feature extractor as whole media.
    // Frames travel under a composite id (media_id * 1024 + frame_idx;
    // fixture frame counts are < 1024 by construction) and are unpacked
    // after extraction. The oracle recomputes frames as substrings of
    // the ASCII text, so slicing, sampling and per-frame stats are all
    // engine-checked.
    Q(
      "q82_frame_sample",
      (s, d) => {
        val docs = Tables.documents(s, d).repartition(col("doc_id"))
        val media = Multimodal.asMedia(docs, "doc_id", "text", "text/plain")
        val frames = Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
        val frameMedia = Multimodal.asMedia(
          frames.select((col("media_id") * 1024 + col("frame_idx")).as("fid"),
                        col("frame")),
          "fid", "frame", "text/plain")
        Multimodal.extractFeatures(frameMedia)
          .select(expr("media_id div 1024").as("media_id"),
                  (col("media_id") % 1024).as("frame_idx"),
                  col("n_bytes").as("frame_len"),
                  round(element_at(col("features"), 3), 4).as("mean_byte"))
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""WITH f AS (SELECT doc_id AS media_id,
             |             unnest(generate_series(0,
             |               CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) - 1)) AS fi,
             |             text
             |           FROM documents),
             |s AS (SELECT media_id, fi, substring(text, fi * 64 + 1, 64) AS frame
             |      FROM f WHERE fi % 2 = 0)
             |SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
             |       CAST(octet_length(encode(frame)) AS BIGINT) AS frame_len,
             |       round(list_sum(list_transform(range(1, len(frame) + 1),
             |               j -> CAST(unicode(frame[j]) AS BIGINT))) * 1.0
             |             / len(frame), 4) AS mean_byte
             |FROM s
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- E6: Structured Streaming hourly windows, DuckDB-checked ----------
    // Runs the real readStream file source to completion against a memory
    // sink; output matches the batch twin (q45), so the same oracle SQL
    // verifies the streaming path.
    Q(
      "q57_events_hourly_stream",
      (s, d) => {
        val stream = EventStreams.readEventStream(s, s"$d/events.parquet")
        val agg = EventStreams.hourlyCounts(stream)
        val name = "graft_stream_hourly"
        s.catalog.dropTempView(name)
        // Stateful operators allocate one state store per shuffle
        // partition, and each store pays per-batch checkpoint I/O — for
        // this window×type-sized state, 32 stores are pure overhead
        // (measured 3.2s -> 1.7s at 8 on sf0.1). Sizing state partitions
        // to state volume, not input volume, is the real deployment
        // decision; restore the session value afterwards.
        val out = withConf(s, "spark.sql.shuffle.partitions" -> "8") {
          EventStreams.runToMemory(s, agg, name, OutputMode.Update())
        }
        out
          .select(date_format(col("h"), "yyyy-MM-dd HH:00:00").as("h"),
                  col("event_type"), col("n"), col("sum_v"))
          .orderBy(col("h"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS h,
             |       event_type, count(*) AS n, round(sum(value), 2) AS sum_v
             |FROM events
             |GROUP BY h, event_type
             |ORDER BY h, event_type""".stripMargin)),

    // ---- E6 x T2: sketch-state streaming aggregate, DuckDB-checked -------
    // Distinct users per hourly window with the KMV aggregate as the
    // STREAMING window function: state per open window is <= 8 longs,
    // where a streaming countDistinct holds every user id until the
    // watermark closes the window. k=8 sits below busy hours' true
    // cardinality (4..28 on the fixture), so saturated windows carry
    // real estimates and unsaturated ones are exact — and because the
    // minima are a deterministic function of each window's user set,
    // DuckDB replays the whole approximate result.
    Q(
      "q123_kmv_users_stream",
      (s, d) => {
        val stream = EventStreams.readEventStream(s, s"$d/events.parquet")
        val agg = EventStreams.hourlyDistinctUsers(stream)
        val name = "graft_stream_kmv_users"
        s.catalog.dropTempView(name)
        // state partitions sized to state volume — see q57
        val out = withConf(s, "spark.sql.shuffle.partitions" -> "8") {
          EventStreams.runToMemory(s, agg, name, OutputMode.Update())
        }
        out
          .select(date_format(col("h"), "yyyy-MM-dd HH:00:00").as("h"),
                  col("n_min"), col("kth_hash"), col("est_users"))
          .orderBy(col("h"))
      },
      Some("""WITH hu AS (SELECT DISTINCT date_trunc('hour', ts) AS hh,
             |              (982451653::BIGINT * user_id + 12345) % 1000000007 AS hsh
             |            FROM events),
             |r AS (SELECT hh, hsh,
             |        row_number() OVER (PARTITION BY hh ORDER BY hsh) AS rn
             |      FROM hu),
             |m AS (SELECT hh, CAST(count(*) AS BIGINT) AS n_min,
             |        max(hsh) AS kth_hash
             |      FROM r WHERE rn <= 8 GROUP BY hh)
             |SELECT strftime(hh, '%Y-%m-%d %H:00:00') AS h, n_min, kth_hash,
             |       CASE WHEN n_min < 8 THEN CAST(n_min AS DOUBLE)
             |            ELSE round(7 * 1000000007.0 / kth_hash, 4) END AS est_users
             |FROM m ORDER BY h""".stripMargin)),

    // ---- E6: stream-static dimension join, DuckDB-checked -----------------
    // The event stream enriched with the static customer dimension
    // (broadcast — no stream shuffle, no join state) before a
    // watermarked windowed aggregate per market segment: the streaming
    // twin of a star join, verified against the batch SQL.
    Q(
      "q80_events_segment_stream",
      (s, d) => {
        val stream = EventStreams.readEventStream(s, s"$d/events.parquet")
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        val agg = EventStreams.segmentCounts(stream, dim)
        val name = "graft_stream_segments"
        s.catalog.dropTempView(name)
        // state partitions sized to state volume — see q57
        val out = withConf(s, "spark.sql.shuffle.partitions" -> "8") {
          EventStreams.runToMemory(s, agg, name, OutputMode.Update())
        }
        out
          .select(date_format(col("h"), "yyyy-MM-dd HH:00:00").as("h"),
                  col("c_mktsegment"), col("n"), col("sum_v"))
          .orderBy(col("h"), col("c_mktsegment"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS h,
             |       c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_v
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY h, c_mktsegment
             |ORDER BY h, c_mktsegment""".stripMargin)),

    // ---- E5: REAL image decode (PPM codec, not the stub) -----------------
    // Each embedding's first 48 components quantize ([-1,1] → 0..255)
    // into a 4x4 RGB raster, encoded as a genuine binary PPM (P6) file,
    // carried as a binary column, then decoded by the spec-compliant
    // parser and summarized: dimensions, stored bytes, per-channel sums
    // and a 2x2 nearest-neighbor thumbnail sum — all exact integers.
    // The oracle recomputes every number straight from the floats
    // (thumbnail = even-row/even-col pixels at a 2:1 ratio), so ANY
    // defect in header writing, parsing, channel interleave, or resize
    // index math breaks the hash match. Construction and decode run in
    // the same mapPartitions shape a real codec would.
    Q(
      "q96_image_decode",
      (s, d) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
        import org.apache.spark.sql.types._
        val e = Tables.embeddings(s, d)
          .select(col("vec_id").cast("long").as("vec_id"),
                  col("embedding").cast("array<double>").as("v"))
        val payloadSchema = StructType(Seq(
          StructField("media_id", LongType),
          StructField("payload", BinaryType)))
        val payloads = e.mapPartitions { rows =>
          rows.map { r =>
            val v = r.getSeq[Double](1)
            val rgb = new Array[Byte](48)
            var i = 0
            while (i < 48) {
              val q = math.floor((v(i) + 1.0) * 127.5).toLong
              rgb(i) = math.max(0L, math.min(255L, q)).toByte
              i += 1
            }
            Row(r.getLong(0), Multimodal.encodePpm(4, 4, rgb))
          }
        }(ExpressionEncoder(payloadSchema))
        val media = Multimodal.asMedia(payloads, "media_id", "payload",
          "image/x-portable-pixmap")
        Multimodal.decodeImages(media, 2, 2).orderBy(col("media_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |px AS (SELECT vec_id, i,
             |         CAST(greatest(0, least(255, floor((v[i] + 1) * 127.5))) AS BIGINT) AS b,
             |         (i - 1) % 3 AS c, (i - 1) // 3 AS pix
             |       FROM e, unnest(generate_series(1, 48)) AS t(i)),
             |agg AS (SELECT vec_id,
             |          CAST(sum(CASE WHEN c = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
             |          CAST(sum(CASE WHEN c = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
             |          CAST(sum(CASE WHEN c = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b,
             |          CAST(sum(CASE WHEN (pix // 4) % 2 = 0 AND (pix % 4) % 2 = 0
             |                        THEN b ELSE 0 END) AS BIGINT) AS rsum
             |        FROM px GROUP BY vec_id)
             |SELECT vec_id AS media_id, CAST(4 AS BIGINT) AS w,
             |       CAST(4 AS BIGINT) AS h, CAST(59 AS BIGINT) AS n_bytes,
             |       sum_r, sum_g, sum_b, rsum
             |FROM agg
             |ORDER BY media_id""".stripMargin)),

    // ---- E5+E2: perceptual-hash image near-dup dedup ----------------------
    // The multimodal counterpart of the text near-dup family (r12
    // verdict stretch #8), as a genuine cross-modality pipeline: every
    // document renders as a REAL 8x8 grayscale binary PPM thumbnail
    // (a feature-hashed histogram of its distinct dual-hash 3-gram
    // shingle packs — the q34/q70 shingle identity — one byte per
    // cell), the spec-compliant P6 parser decodes it back, dHash packs
    // the 56 horizontal gradient signs, and the q71 pigeonhole banding
    // (5 bands ⇒ any hamming ≤ 4 pair collides somewhere) mines the
    // EXACT Hamming ball — no all-pairs join, no false negatives. A
    // near-dup document perturbs a few shingle bins, so the planted
    // q34 pairs land at hamming 0-2 while the sf0.01 background floor
    // is 9 (measured): at maxDist 4 the pair set IS the planted-dup
    // set, non-empty by construction. The oracle replays shingle
    // packing, bin fold, gradient bits, and the Hamming filter from
    // the text — any defect in PPM round-trip, gray math, bit packing,
    // or banding recall breaks the match.
    Q(
      "q165_image_phash_dups",
      (s, d) => {
        val media = Multimodal.asMedia(docThumbs(s, d, "ppm"),
          "media_id", "payload", "image/x-portable-pixmap")
        Multimodal.hammingPairs(Multimodal.dHash(media), bits = 56, maxDist = 4)
          .orderBy(col("media_a"), col("media_b"))
      },
      Some(GridSql + ",\n" +
        """bits AS (SELECT a.doc_id, (a.p // 8) * 7 + (a.p % 8) AS bitpos
          |         FROM grid a JOIN grid b
          |           ON a.doc_id = b.doc_id AND b.p = a.p + 1
          |         WHERE a.p % 8 < 7 AND b.g > a.g),
          |hs AS (SELECT d.doc_id, coalesce(bb.h, 0) AS dhash
          |       FROM (SELECT DISTINCT doc_id FROM documents) d
          |       LEFT JOIN (SELECT doc_id,
          |                    CAST(sum(1::BIGINT << bitpos) AS BIGINT) AS h
          |                  FROM bits GROUP BY doc_id) bb
          |         ON d.doc_id = bb.doc_id)
          |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
          |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
          |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
          |ORDER BY media_a, media_b""".stripMargin)),

    // ---- E5: REAL PNG codec (Inflater + the five scanline filters) --------
    // The same doc-thumbnail render as q165, but encoded as a genuine
    // PNG — zlib-deflated IDAT, per-chunk CRCs, and the scanline filter
    // CYCLING row % 5, so every image's decode reverses all five filter
    // types (None/Sub/Up/Average/Paeth). The format-sniffing decode
    // routes it through the SAME feature chain as q96, and the oracle
    // recomputes dimensions, channel sums, and the 4x4 nearest-neighbor
    // thumbnail sum straight from the text — any defect in chunk
    // framing, CRC math, deflate round-trip, filter reversal, or resize
    // indexing breaks the hash match. (n_bytes is excluded: deflate
    // output length is implementation-defined, not oracle-replayable.)
    Q(
      "q166_image_png_roundtrip",
      (s, d) => {
        val media = Multimodal.asMedia(docThumbs(s, d, "png"),
          "media_id", "payload", "image/png")
        Multimodal.decodeImages(media, 4, 4)
          .select(col("media_id"), col("w"), col("h"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("rsum"))
          .orderBy(col("media_id"))
      },
      Some(GridSql + "\n" +
        """SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS w,
          |       CAST(8 AS BIGINT) AS h,
          |       CAST(sum(g) AS BIGINT) AS sum_r,
          |       CAST(sum(g) AS BIGINT) AS sum_g,
          |       CAST(sum(g) AS BIGINT) AS sum_b,
          |       CAST(3 * sum(CASE WHEN (p // 8) % 2 = 0 AND p % 2 = 0
          |                         THEN g ELSE 0 END) AS BIGINT) AS rsum
          |FROM grid GROUP BY doc_id
          |ORDER BY media_id""".stripMargin)),

    // ---- E5+E2: pHash (DCT) image near-dup dedup ---------------------------
    // The robustness rung next to q165's dHash (r13 verdict #6): the
    // same rendered thumbnails, but fingerprinted by thresholding the
    // 63 non-DC coefficients of a FIXED-POINT 8x8 DCT-II against their
    // exact median (the 32nd smallest — an element, never an average).
    // dHash compares adjacent pixels, so near-tie neighbors flip under
    // ±1-level pixel noise; pHash thresholds low-frequency energy,
    // which such noise barely moves (ImagePhashDctSpec measures the
    // separation on a planted transformed pair). Everything is BIGINT
    // — the DCT basis is 64 shared literal integers — so the oracle
    // replays the ENTIRE chain from the text: grid, double DCT sum,
    // median election, bit pack, and the exact Hamming ball, which
    // hammingPairs mines engine-side via pigeonhole banding (never
    // all-pairs). Measured at sf0.01: the 25 planted q34 near-dups land
    // at pHash hamming {0×8, 2×10, 4×2, 6×2, 8, 12, 18} while the
    // background floor is 12, so maxDist 6 yields 22 pairs — every one
    // of them planted (precision 1.0; the three escapees overlap the
    // background band, the usual recall/precision dial of a perceptual
    // hash).
    Q(
      "q167_image_phash_dct_dups",
      (s, d) => {
        val media = Multimodal.asMedia(docThumbs(s, d, "ppm"),
          "media_id", "payload", "image/x-portable-pixmap")
        Multimodal.hammingPairs(Multimodal.pHash(media), bits = 63, maxDist = 6)
          .orderBy(col("media_a"), col("media_b"))
      },
      Some(GridSql + ",\n" +
        """coef(u, x, c) AS (SELECT * FROM (VALUES
          |  (0,0,4096),(0,1,4096),(0,2,4096),(0,3,4096),(0,4,4096),(0,5,4096),(0,6,4096),(0,7,4096),
          |  (1,0,4017),(1,1,3406),(1,2,2276),(1,3,799),(1,4,-799),(1,5,-2276),(1,6,-3406),(1,7,-4017),
          |  (2,0,3784),(2,1,1567),(2,2,-1567),(2,3,-3784),(2,4,-3784),(2,5,-1567),(2,6,1567),(2,7,3784),
          |  (3,0,3406),(3,1,-799),(3,2,-4017),(3,3,-2276),(3,4,2276),(3,5,4017),(3,6,799),(3,7,-3406),
          |  (4,0,2896),(4,1,-2896),(4,2,-2896),(4,3,2896),(4,4,2896),(4,5,-2896),(4,6,-2896),(4,7,2896),
          |  (5,0,2276),(5,1,-4017),(5,2,799),(5,3,3406),(5,4,-3406),(5,5,-799),(5,6,4017),(5,7,-2276),
          |  (6,0,1567),(6,1,-3784),(6,2,3784),(6,3,-1567),(6,4,-1567),(6,5,3784),(6,6,-3784),(6,7,1567),
          |  (7,0,799),(7,1,-2276),(7,2,3406),(7,3,-4017),(7,4,4017),(7,5,-3406),(7,6,2276),(7,7,-799))),
          |f AS (SELECT g.doc_id, cu.u AS u, cv.u AS v,
          |        CAST(sum(g.g * cu.c * cv.c) AS BIGINT) AS fv
          |      FROM grid g
          |      JOIN coef cu ON cu.x = g.p % 8
          |      JOIN coef cv ON cv.x = g.p // 8
          |      WHERE NOT (cu.u = 0 AND cv.u = 0)
          |      GROUP BY g.doc_id, cu.u, cv.u),
          |med AS (SELECT doc_id, fv AS m FROM (
          |          SELECT doc_id, fv,
          |                 row_number() OVER (PARTITION BY doc_id ORDER BY fv) AS rn
          |          FROM f) WHERE rn = 32),
          |hs AS (SELECT f.doc_id,
          |         CAST(sum(CASE WHEN f.fv > m.m
          |                       THEN 1::BIGINT << (f.u * 8 + f.v - 1)
          |                       ELSE 0 END) AS BIGINT) AS ph
          |       FROM f JOIN med m ON f.doc_id = m.doc_id
          |       GROUP BY f.doc_id)
          |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
          |       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
          |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.ph, b.ph)) <= 6
          |ORDER BY media_a, media_b""".stripMargin)),

    // ---- E5: REAL JPEG codec (T.81 baseline, LOSSY round-trip) ------------
    // The same doc-thumbnail render, but through a genuine baseline JFIF
    // JPEG: full 3-component 4:4:4 color scan — RGB→YCbCr, level shift,
    // fixed-point DCT, Annex-K quantization, zigzag run-length Huffman
    // entropy coding with in-stream DHT tables and byte stuffing — then
    // the marker-walking decoder reverses every layer and the sniffing
    // decode feeds the SAME feature chain as q96/q166. Unlike PNG this
    // round-trip is LOSSY, so the oracle replays the quantization loss
    // itself: the gray input makes chroma EXACTLY 128 on both sides of
    // the transform (the JFIF integer weights cancel — Jpeg.scala), so
    // DuckDB replays only the luma chain — forward DCT with the shared
    // 64-literal folded-normalization basis, round-half-away-from-zero
    // quantize at 2^26 scale, dequantize, inverse DCT, clamp — all
    // BIGINT-exact. Any defect in marker framing, Huffman coding, DC
    // prediction, zigzag, stuffing, quant rounding, or the color
    // transform breaks the hash match. (n_bytes excluded as in q166.)
    Q(
      "q168_image_jpeg_roundtrip",
      (s, d) => {
        val media = Multimodal.asMedia(docThumbs(s, d, "jpeg"),
          "media_id", "payload", "image/jpeg")
        Multimodal.decodeImages(media, 4, 4)
          .select(col("media_id"), col("w"), col("h"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("rsum"))
          .orderBy(col("media_id"))
      },
      Some(JpegLumaOracleSql)),

    // ---- E5: REAL audio codec (RIFF/WAVE PCM) ------------------------------
    // The audio tier next to the image ladder (PPM/PNG/JPEG): each doc's
    // 64 gray cells synthesize one deterministic mono PCM clip
    // (sample_p = (g_p − 128)·256, 8 kHz), encoded as a genuine RIFF/
    // WAVE payload — magic + fmt + data chunks, little-endian 16-bit —
    // then the spec-compliant chunk-walking parser decodes it back and
    // emits exact integer clip features (frame count, rate, channels,
    // sample sum, max |amplitude|, strict zero crossings). PCM is
    // lossless, so the oracle replays every number from the text grid.
    // Any defect in header layout, little-endian packing, chunk walk,
    // sign handling, or the feature fold breaks the hash match.
    Q(
      "q169_audio_wav_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
        import org.apache.spark.sql.types._
        val payloadSchema = StructType(Seq(
          StructField("media_id", LongType),
          StructField("payload", BinaryType)))
        val bins = docThumbs(s, d, "ppm")
        val clips = bins.mapPartitions { rows =>
          rows.map { r =>
            val img = Multimodal.decodePpm(r.getAs[Array[Byte]](1))
            val samples = new Array[Short](64)
            var p = 0
            while (p < 64) {
              samples(p) = (((img.rgb(p * 3) & 0xff) - 128) * 256).toShort
              p += 1
            }
            Row(r.getLong(0), graft.ops.Audio.encodeWav(8000, 1, samples))
          }
        }(ExpressionEncoder(payloadSchema))
        val media = Multimodal.asMedia(clips, "media_id", "payload",
          "audio/wav")
        graft.ops.Audio.decodeClips(media).orderBy(col("media_id"))
      },
      Some(GridSql + ",\n" +
        """smp AS (SELECT doc_id, p, (g - 128) * 256 AS s FROM grid),
          |zc AS (SELECT a.doc_id,
          |         CAST(sum(CASE WHEN a.s * b.s < 0 THEN 1 ELSE 0 END)
          |           AS BIGINT) AS z
          |       FROM smp a JOIN smp b
          |         ON a.doc_id = b.doc_id AND b.p = a.p + 1
          |       GROUP BY a.doc_id)
          |SELECT smp.doc_id AS media_id, CAST(64 AS BIGINT) AS n_frames,
          |       CAST(8000 AS BIGINT) AS sample_rate,
          |       CAST(1 AS BIGINT) AS channels,
          |       CAST(sum(smp.s) AS BIGINT) AS sum_samples,
          |       CAST(max(abs(smp.s)) AS BIGINT) AS max_abs,
          |       CAST(max(zc.z) AS BIGINT) AS zero_crossings
          |FROM smp JOIN zc ON smp.doc_id = zc.doc_id
          |GROUP BY smp.doc_id
          |ORDER BY media_id""".stripMargin)),

    // ---- E5: JPEG 4:2:0 sampling path under the gate ----------------------
    // Same render and features as q168 but encoded 4:2:0: a 16×16 MCU
    // with four edge-padded luma blocks in entropy order plus 2×2-mean
    // subsampled chroma. On the gray render the decoded 8×8 crop equals
    // the 4:4:4 result EXACTLY (luma block (0,0) is the image; a 2×2
    // mean of exact-128 chroma is 128), so q170 shares q168's oracle
    // while putting the MCU geometry, padding, 4-block DC-prediction
    // order, and chroma upsample under the DuckDB gate rather than
    // spec-only coverage.
    Q(
      "q170_image_jpeg_420",
      (s, d) => {
        val media = Multimodal.asMedia(docThumbs(s, d, "jpeg420"),
          "media_id", "payload", "image/jpeg")
        Multimodal.decodeImages(media, 4, 4)
          .select(col("media_id"), col("w"), col("h"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("rsum"))
          .orderBy(col("media_id"))
      },
      Some(JpegLumaOracleSql)),

    // ---- E5: REAL video container demux (AVI/MJPEG) ------------------------
    // The video tier: a genuine RIFF 'AVI ' container (hdrl with
    // avih/strh 'vids'/'MJPG'/strf, LIST movi of '00dc' chunks) holding
    // TWO baseline-JPEG frames per doc — frame 0 the gray grid, frame 1
    // its inversion (255−g) — demuxed by the chunk walker and decoded
    // frame-by-frame with the real T.81 decoder. This replaces q82's
    // byte-stub frame sampler with the genuine demux→per-frame-codec
    // chain. The oracle replays BOTH frames' lossy luma chains from the
    // text grid (frame 1's level shift is 127−g), so container framing,
    // stream-order demux, per-frame DC-prediction reset, and the codec
    // all sit under the gate.
    Q(
      "q171_video_mjpeg_frames",
      (s, d) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
        import org.apache.spark.sql.types._
        val payloadSchema = StructType(Seq(
          StructField("media_id", LongType),
          StructField("payload", BinaryType)))
        val clips = docThumbs(s, d, "ppm").mapPartitions { rows =>
          rows.map { r =>
            val img = Multimodal.decodePpm(r.getAs[Array[Byte]](1))
            val inv = img.rgb.map(b => (255 - (b & 0xff)).toByte)
            val avi = graft.ops.Video.encodeAvi(8, 8, fps = 25, Seq(
              graft.ops.Jpeg.encodeJpeg(8, 8, img.rgb, mode = "444"),
              graft.ops.Jpeg.encodeJpeg(8, 8, inv, mode = "444")))
            Row(r.getLong(0), avi)
          }
        }(ExpressionEncoder(payloadSchema))
        val media = Multimodal.asMedia(clips, "media_id", "payload",
          "video/avi")
        graft.ops.Video.decodeFrames(media)
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some(GridSql + ",\n" +
        """ib(u, x, c) AS (SELECT * FROM (VALUES
          |  (0,0,2896),(0,1,2896),(0,2,2896),(0,3,2896),(0,4,2896),(0,5,2896),(0,6,2896),(0,7,2896),
          |  (1,0,4017),(1,1,3406),(1,2,2276),(1,3,799),(1,4,-799),(1,5,-2276),(1,6,-3406),(1,7,-4017),
          |  (2,0,3784),(2,1,1567),(2,2,-1567),(2,3,-3784),(2,4,-3784),(2,5,-1567),(2,6,1567),(2,7,3784),
          |  (3,0,3406),(3,1,-799),(3,2,-4017),(3,3,-2276),(3,4,2276),(3,5,4017),(3,6,799),(3,7,-3406),
          |  (4,0,2896),(4,1,-2896),(4,2,-2896),(4,3,2896),(4,4,2896),(4,5,-2896),(4,6,-2896),(4,7,2896),
          |  (5,0,2276),(5,1,-4017),(5,2,799),(5,3,3406),(5,4,-3406),(5,5,-799),(5,6,4017),(5,7,-2276),
          |  (6,0,1567),(6,1,-3784),(6,2,3784),(6,3,-1567),(6,4,-1567),(6,5,3784),(6,6,-3784),(6,7,1567),
          |  (7,0,799),(7,1,-2276),(7,2,3406),(7,3,-4017),(7,4,4017),(7,5,-3406),(7,6,2276),(7,7,-799))),
          |qt(u, v, q) AS (SELECT * FROM (VALUES
          |  (0,0,16),(1,0,11),(2,0,10),(3,0,16),(4,0,24),(5,0,40),(6,0,51),(7,0,61),
          |  (0,1,12),(1,1,12),(2,1,14),(3,1,19),(4,1,26),(5,1,58),(6,1,60),(7,1,55),
          |  (0,2,14),(1,2,13),(2,2,16),(3,2,24),(4,2,40),(5,2,57),(6,2,69),(7,2,56),
          |  (0,3,14),(1,3,17),(2,3,22),(3,3,29),(4,3,51),(5,3,87),(6,3,80),(7,3,62),
          |  (0,4,18),(1,4,22),(2,4,37),(3,4,56),(4,4,68),(5,4,109),(6,4,103),(7,4,77),
          |  (0,5,24),(1,5,35),(2,5,55),(3,5,64),(4,5,81),(5,5,104),(6,5,113),(7,5,92),
          |  (0,6,49),(1,6,64),(2,6,78),(3,6,87),(4,6,103),(5,6,121),(6,6,120),(7,6,101),
          |  (0,7,72),(1,7,92),(2,7,95),(3,7,98),(4,7,112),(5,7,100),(6,7,103),(7,7,99))),
          |fr(f) AS (SELECT * FROM (VALUES (0), (1))),
          |sv AS (SELECT doc_id, f, p % 8 AS x, p // 8 AS y,
          |         CASE WHEN f = 0 THEN g - 128 ELSE 127 - g END AS s
          |       FROM grid CROSS JOIN fr),
          |fq AS (SELECT sv.doc_id, sv.f, cu.u AS u, cv.u AS v,
          |         CAST(sum(sv.s * cu.c * cv.c) AS BIGINT) AS fv
          |       FROM sv JOIN ib cu ON cu.x = sv.x JOIN ib cv ON cv.x = sv.y
          |       GROUP BY sv.doc_id, sv.f, cu.u, cv.u),
          |dq AS (SELECT fq.doc_id, fq.f, fq.u, fq.v,
          |         (CASE WHEN fv >= 0
          |               THEN (2*fv + 67108864::BIGINT*qt.q) // (2*67108864::BIGINT*qt.q)
          |               ELSE -((2*(-fv) + 67108864::BIGINT*qt.q) // (2*67108864::BIGINT*qt.q))
          |          END) * qt.q AS dv
          |       FROM fq JOIN qt ON qt.u = fq.u AND qt.v = fq.v),
          |rv AS (SELECT dq.doc_id, dq.f, bu.x AS x, bv.x AS y,
          |         CAST(sum(dq.dv * bu.c * bv.c) AS BIGINT) AS r
          |       FROM dq JOIN ib bu ON bu.u = dq.u JOIN ib bv ON bv.u = dq.v
          |       GROUP BY dq.doc_id, dq.f, bu.x, bv.x),
          |g2 AS (SELECT doc_id, f, x, y,
          |         greatest(0, least(255,
          |           (CASE WHEN r >= 0 THEN (2*r + 67108864) // 134217728
          |                 ELSE -((2*(-r) + 67108864) // 134217728) END) + 128)) AS gv
          |       FROM rv)
          |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
          |       CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
          |       CAST(sum(gv) AS BIGINT) AS gsum
          |FROM g2 GROUP BY doc_id, f
          |ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- E5: multi-MCU JPEG under the gate (round-15 verdict #3) ----------
    // q168/q170/q171 all gate one-MCU (8×8) scans, where DC prediction
    // never crosses a block. Here each doc renders a 24×16 grid (384
    // text-derived cells) → a 4:4:4 scan of SIX MCUs / 18 blocks, so the
    // gate now covers the cross-block DC-prediction chain (encoder diff/
    // decoder accumulate across MCUs, per component), multi-MCU raster
    // assembly, and plane addressing — per 8×8 block the lossy quant
    // chain is the same BIGINT-exact replay, applied blockwise with the
    // decoded samples reassembled at their (bx, by) offsets. rsum is the
    // 4×4 nearest-neighbor thumbnail: source columns 0/6/12/18, rows
    // 0/4/8/12.
    Q(
      "q174_image_jpeg_multiblock",
      (s, d) => {
        val media = Multimodal.asMedia(docThumbs(s, d, "jpeg", 24, 16),
          "media_id", "payload", "image/jpeg")
        Multimodal.decodeImages(media, 4, 4)
          .select(col("media_id"), col("w"), col("h"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("rsum"))
          .orderBy(col("media_id"))
      },
      Some(gridSql(384) + ",\n" + IbQtSql + ",\n" +
        """sv AS (SELECT doc_id, (p % 24) // 8 AS bx, (p // 24) // 8 AS by,
          |         (p % 24) % 8 AS x, (p // 24) % 8 AS y, g - 128 AS s
          |       FROM grid),
          |fq AS (SELECT sv.doc_id, sv.bx, sv.by, cu.u AS u, cv.u AS v,
          |         CAST(sum(sv.s * cu.c * cv.c) AS BIGINT) AS fv
          |       FROM sv JOIN ib cu ON cu.x = sv.x JOIN ib cv ON cv.x = sv.y
          |       GROUP BY sv.doc_id, sv.bx, sv.by, cu.u, cv.u),
          |dq AS (SELECT fq.doc_id, fq.bx, fq.by, fq.u, fq.v,
          |         (CASE WHEN fv >= 0
          |               THEN (2*fv + 67108864::BIGINT*qt.q) // (2*67108864::BIGINT*qt.q)
          |               ELSE -((2*(-fv) + 67108864::BIGINT*qt.q) // (2*67108864::BIGINT*qt.q))
          |          END) * qt.q AS dv
          |       FROM fq JOIN qt ON qt.u = fq.u AND qt.v = fq.v),
          |rv AS (SELECT dq.doc_id, dq.bx, dq.by, bu.x AS x, bv.x AS y,
          |         CAST(sum(dq.dv * bu.c * bv.c) AS BIGINT) AS r
          |       FROM dq JOIN ib bu ON bu.u = dq.u JOIN ib bv ON bv.u = dq.v
          |       GROUP BY dq.doc_id, dq.bx, dq.by, bu.x, bv.x),
          |g2 AS (SELECT doc_id, bx * 8 + x AS gx, by * 8 + y AS gy,
          |         greatest(0, least(255,
          |           (CASE WHEN r >= 0 THEN (2*r + 67108864) // 134217728
          |                 ELSE -((2*(-r) + 67108864) // 134217728) END) + 128)) AS gv
          |       FROM rv)
          |SELECT doc_id AS media_id, CAST(24 AS BIGINT) AS w,
          |       CAST(16 AS BIGINT) AS h,
          |       CAST(sum(gv) AS BIGINT) AS sum_r,
          |       CAST(sum(gv) AS BIGINT) AS sum_g,
          |       CAST(sum(gv) AS BIGINT) AS sum_b,
          |       CAST(3 * sum(CASE WHEN gx IN (0, 6, 12, 18)
          |                          AND gy IN (0, 4, 8, 12)
          |                         THEN gv ELSE 0 END) AS BIGINT) AS rsum
          |FROM g2 GROUP BY doc_id
          |ORDER BY media_id""".stripMargin))
  )
}
