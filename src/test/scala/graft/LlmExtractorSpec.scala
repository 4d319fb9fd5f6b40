package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline.{Extract, LlmSkillExtractor, SkillExtract}
import org.apache.spark.sql.functions._

/** X1 hardening: the LLM-backed extractor's retry, degradation,
  * memoization, concurrency bound, and cost cap — all through injected
  * fakes, no endpoint.
  */
class LlmExtractorSpec extends SparkSpec {
  import spark.implicits._

  private val desc = "We need python and sql with communication skills, plenty of text."
  private val ok = "TECH: python, sql\nSOFT: communication"

  test("transient failures retry with backoff, then succeed") {
    val calls = new AtomicInteger()
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ex = new LlmSkillExtractor(
      call = _ => if (calls.incrementAndGet() < 3) sys.error("http 429") else ok,
      maxRetries = 2, retryDelayMs = 7L, sleeper = delays += _)
    assert(ex.extract(desc) == (("python, sql", "communication")))
    assert(calls.get() == 3)
    assert(delays.toSeq == Seq(7L, 14L)) // linear backoff, injected sleeper
  }

  test("exhausted retries degrade to empty, never throw") {
    val calls = new AtomicInteger()
    val ex = new LlmSkillExtractor(
      call = _ => { calls.incrementAndGet(); sys.error("down") },
      maxRetries = 2, sleeper = _ => ())
    assert(ex.extract(desc) == (("", "")))
    assert(calls.get() == 3) // initial + 2 retries
  }

  test("repeated descriptions are memoized: one call per distinct text") {
    val calls = new AtomicInteger()
    val ex = new LlmSkillExtractor(
      call = _ => { calls.incrementAndGet(); ok }, sleeper = _ => ())
    (1 to 5).foreach(_ => ex.extract(desc))
    assert(calls.get() == 1)
    assert(ex.callsAttempted == 1)
  }

  test("batch fan-out respects the concurrency bound and parallelizes") {
    val inFlight = new AtomicInteger()
    val maxSeen = new AtomicInteger()
    val ex = new LlmSkillExtractor(
      call = _ => {
        val now = inFlight.incrementAndGet()
        maxSeen.getAndUpdate(m => math.max(m, now))
        Thread.sleep(20)
        inFlight.decrementAndGet()
        ok
      },
      concurrency = 4, sleeper = _ => ())
    val texts = (1 to 16).map(i => s"$desc unique tail $i")
    val out = ex.extractBatch(texts)
    assert(out.forall(_ == (("python, sql", "communication"))))
    assert(maxSeen.get() <= 4, s"bound violated: ${maxSeen.get()} in flight")
    assert(maxSeen.get() >= 2, "no overlap at all — batch ran sequentially")
  }

  test("cost cap: attempts beyond the budget degrade instead of calling") {
    val calls = new AtomicInteger()
    val ex = new LlmSkillExtractor(
      call = _ => { calls.incrementAndGet(); ok },
      concurrency = 1, maxCalls = 5, sleeper = _ => ())
    val texts = (1 to 10).map(i => s"$desc distinct posting number $i")
    val out = ex.extractBatch(texts)
    assert(calls.get() == 5) // the endpoint saw exactly the budget
    assert(out.count(_ == (("python, sql", "communication"))) == 5)
    assert(out.count(_ == (("", ""))) == 5)
  }

  test("Extract.run spends the call budget on kept rows only") {
    // locals only: the closure must not capture the suite instance
    val reply = ok
    val raw = (1 to 12).map { i =>
      val country = if (i % 2 == 0) "USA" else "France"
      (s"co$i", s"title $i", "full-time", "Springfield", country, "$90,000", "2025-10-20",
       "indeed", s"$country posting number $i needing python and communication skills")
    }.toDF("company", "title", "job_type", "location", "country", "mean_salary",
           "date_posted", "site", "description")
      .coalesce(1) // one task, so one extractor instance and one budget
    def run(maxCalls: Long): (Int, Seq[String]) = {
      val called = spark.sparkContext.collectionAccumulator[String]("llm-calls")
      val ex = new LlmSkillExtractor(
        call = t => { called.add(t); reply }, maxCalls = maxCalls, sleeper = _ => ())
      val out = Extract.run(raw, raw.where(lit(false)), "2025-10-21", ex, Some("description"))
        .collect()
      import scala.jdk.CollectionConverters._
      (out.count(_.getAs[String]("technical_skills") == "python, sql"),
       called.value.asScala.toSeq)
    }
    // uncapped: one call per US row, none for the six dropped rows
    val (_, all) = run(Long.MaxValue)
    assert(all.size == 6 && all.forall(_.startsWith("USA ")), all.toString)
    // capped below the kept-row count: the whole cap goes to kept rows
    val (enriched, capped) = run(4L)
    assert(capped.size == 4 && capped.forall(_.startsWith("USA ")), capped.toString)
    assert(enriched == 4)
  }

  // ---- real HTTP transport, hermetic in-process server -------------------

  /** Serve `handler` on an ephemeral 127.0.0.1 port for the test body. */
  private def withServer(
      handler: com.sun.net.httpserver.HttpExchange => Unit)(
      body: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat", (ex: com.sun.net.httpserver.HttpExchange) =>
      try handler(ex) finally ex.close())
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat")
    finally server.stop(0)
  }

  private def respond(ex: com.sun.net.httpserver.HttpExchange,
                      status: Int, bodyStr: String): Unit = {
    val bytes = bodyStr.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def chatJson(content: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.putArray("choices").addObject()
      .putObject("message").put("content", content)
    mapper.writeValueAsString(root)
  }

  private def readBody(ex: com.sun.net.httpserver.HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  test("HTTP transport: end-to-end extraction against an in-process server") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withServer { ex =>
      seen.add(readBody(ex))
      respond(ex, 200, chatJson(ok))
    } { url =>
      val ex = graft.pipeline.HttpLlmClient.extractor(
        url, headers = Map("Authorization" -> "Bearer test-key"))
      assert(ex.extract(desc) == (("python, sql", "communication")))
      assert(seen.size == 1)
      // the request is real JSON carrying the instruction + description
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sent = mapper.readTree(seen.peek())
        .path("messages").path(0).path("content").asText()
      assert(sent.startsWith("Extract skills"))
      assert(sent.endsWith(desc))
    }
  }

  test("HTTP transport: a 429 storm recovers through the retry harness") {
    val calls = new AtomicInteger()
    withServer { ex =>
      if (calls.incrementAndGet() < 3) respond(ex, 429, "slow down")
      else respond(ex, 200, chatJson(ok))
    } { url =>
      val ex = graft.pipeline.HttpLlmClient.extractor(
        url, maxRetries = 2, retryDelayMs = 1L)
      assert(ex.extract(desc) == (("python, sql", "communication")))
      assert(calls.get() == 3)
    }
  }

  test("HTTP transport: persistent 500s degrade to empty, never throw") {
    val calls = new AtomicInteger()
    withServer { ex =>
      calls.incrementAndGet()
      respond(ex, 500, "boom")
    } { url =>
      val ex = graft.pipeline.HttpLlmClient.extractor(
        url, maxRetries = 2, retryDelayMs = 1L)
      assert(ex.extract(desc) == (("", "")))
      assert(calls.get() == 3) // initial + 2 retries, then the error guard
    }
  }

  test("HTTP transport: malformed response bodies degrade to empty") {
    val bodies = Iterator("not json at all", """{"choices": []}""",
      """{"choices":[{"message":{}}]}""")
    withServer { ex =>
      respond(ex, 200, bodies.synchronized(bodies.next()))
    } { url =>
      val ex = graft.pipeline.HttpLlmClient.extractor(
        url, maxRetries = 2, retryDelayMs = 1L)
      assert(ex.extract(desc) == (("", "")))
    }
  }

  test("HTTP transport: descriptions are truncated to maxChars before the wire") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withServer { ex =>
      seen.add(readBody(ex))
      respond(ex, 200, chatJson(ok))
    } { url =>
      val ex = graft.pipeline.HttpLlmClient.extractor(url, maxChars = 100)
      val long = desc + ("x" * 500)
      ex.extract(long)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sent = mapper.readTree(seen.peek())
        .path("messages").path(0).path("content").asText()
      assert(sent.endsWith(long.take(100)))
      assert(!sent.contains(long.take(101)))
    }
  }

  test("HTTP transport: an unreachable endpoint degrades to empty") {
    // a port from the ephemeral range with nothing listening
    val ex = graft.pipeline.HttpLlmClient.extractor(
      "http://127.0.0.1:1/v1/chat", maxRetries = 1, retryDelayMs = 1L,
      timeoutMs = 2000L)
    assert(ex.extract(desc) == (("", "")))
  }

  test("withSkills drives the batch path under Spark") {
    // locals only: the closure must not capture the (non-serializable)
    // suite instance
    val reply = ok
    val ex = new LlmSkillExtractor(call = _ => reply, sleeper = _ => ())
    val df = (1 to 8).map(i => (i.toLong, s"unique posting number $i needing python and communication"))
      .toDF("id", "description")
      .coalesce(1)
    val out = SkillExtract.withSkills(df, "description", ex, batchSize = 4)
      .collect()
    assert(out.length == 8)
    assert(out.forall(_.getString(2) == "python, sql"))
    assert(out.forall(_.getString(3) == "communication"))
  }
}
