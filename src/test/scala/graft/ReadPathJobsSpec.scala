package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Regression guard for hidden work on the read path. A store read with
  * an inferred schema runs a footer-inference job each time it is built,
  * and a route that reads the store again after its search runs a second
  * plan; on a store this small those fixed costs are most of a request.
  * Every search route is one plan and so one job, and so is the lookup,
  * which reads the email and its attachment rows from one row; `ask`
  * reads at most two plans.
  *
  * The same fixed costs hide inside a job too: a shuffle adds a stage,
  * and a request value written into the generated code compiles classes
  * anew for every new value. So the search routes, the lookup and a URL
  * screen each run one stage, and a warm route compiles nothing for a new
  * id, date window or query text. */
class ReadPathJobsSpec extends ReadFixture {
  import ReadPathJobsSpec.Work
  private val request = ReadRoutesGoldenSpec.requests.map { case (n, p, b) => n -> (p, b) }.toMap

  /** What `body` made Spark do. */
  private def work(body: => Any): Work = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    Work(jobs.get, stages.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
  }

  /** The work of a named request, sent a second time. */
  private def workOf(name: String): Work = {
    val (path, body) = request(name)
    post(path, body) // the first request builds the fixture store and server
    work(post(path, body))
  }

  private def jobsOf(name: String): Int = workOf(name).jobs

  /** A REST screen of 20 URLs. */
  private def screen(): String = post("/api/urls/screen", (1 to 20).map(i =>
    s""""https://www.Example.com:443/p/$i/?utm_source=x&b=$i&a=1#top"""").mkString("""{"urls": [""", ", ", "]}"))

  test("building api.emails and api.attachments runs no job") {
    server
    assert(work { api.emails; api.attachments }.jobs == 0)
  }

  test("REST search is one job, with or without a window or content") {
    for (name <- Seq("rest_search", "rest_search_window", "rest_search_content", "rest_search_tie"))
      assert(jobsOf(name) == 1, name)
  }

  test("MCP search_emails is one job, with or without content") {
    for (name <- Seq("mcp_search", "mcp_search_content"))
      assert(jobsOf(name) == 1, name)
  }

  test("REST ask and MCP ask_email_question run at most 2 jobs") {
    for (name <- Seq("rest_ask", "mcp_ask")) {
      val n = jobsOf(name)
      assert(n <= 2, s"$name ran $n jobs")
    }
  }

  test("MCP get_email_by_id runs at most 1 job") {
    val n = jobsOf("mcp_lookup")
    assert(n <= 1, s"get_email_by_id ran $n jobs")
  }

  test("every search route, the lookup and a 20-URL screen run one job of one stage") {
    val named = Seq("rest_search", "rest_search_window", "rest_search_content", "rest_search_tie",
      "mcp_search", "mcp_search_content", "mcp_lookup").map(n => n -> workOf(n))
    screen()
    val all = named :+ ("url_screen" -> work(screen()))
    info(all.map { case (n, w) => s"$n: ${w.jobs} jobs, ${w.stages} stages" }.mkString("; "))
    for ((n, w) <- all) assert(w.jobs == 1 && w.stages == 1, s"$n ran $w")
  }

  test("a warm route compiles nothing for a new email id, date window or query text") {
    def lookup(messageId: String) = "/mcp/call" ->
      s"""{"tool": "get_email_by_id", "parameters": {"email_id": ${ReadRoutesGoldenSpec.surrogate(messageId)}}}"""
    def window(from: String, to: String) = "/api/search/emails" ->
      s"""{"query": "budget", "limit": 10, "date_from": "$from", "date_to": "$to"}"""
    def search(query: String) = "/api/search/emails" -> s"""{"query": "$query", "limit": 5}"""
    // (warming request, request with a new value)
    val pairs = Seq(
      "email id" -> (lookup("g1"), lookup("g4")),
      "date window" -> (window("2024-03-02T00:00:00Z", "2024-03-10T00:00:00"),
        window("2024-03-01T12:00:00Z", "2024-03-21T00:00:00")),
      "date window, one bound" -> ("/api/search/emails" ->
        """{"query": "budget", "limit": 10, "date_from": "2024-03-02T00:00:00Z"}""",
        "/api/search/emails" -> """{"query": "budget", "limit": 10, "date_from": "2024-03-04T00:00:00Z"}"""),
      "query text" -> (search("quarterly budget review"), search("launch plan notes")),
      "query text, other length" -> (search("dinner"), search("team offsite photo from friends")))
    val compiled = pairs.map { case (what, ((p0, b0), (p1, b1))) =>
      post(p0, b0); post(p0, b0)
      what -> work(post(p1, b1)).compiled
    }
    info(compiled.map { case (what, n) => s"$what: $n" }.mkString("classes compiled: ", "; ", ""))
    for ((what, n) <- compiled) assert(n == 0, s"a new $what compiled $n classes")
  }
}

object ReadPathJobsSpec {
  /** What a piece of work made Spark do: jobs started, stages submitted
    * and classes compiled. */
  final case class Work(jobs: Int, stages: Int, compiled: Long)
}
