package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Regression guard for hidden jobs on the read path. A store read with
  * an inferred schema runs a footer-inference job each time it is built,
  * and a route that reads the store again after its search runs a second
  * plan; on a store this small those fixed costs are most of a request.
  * Every search route is one plan and so one job; `ask` and the lookup
  * read at most two plans. */
class ReadPathJobsSpec extends ReadFixture {
  private val request = ReadRoutesGoldenSpec.requests.map { case (n, p, b) => n -> (p, b) }.toMap

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private def jobsOf(name: String): Int = {
    val (path, body) = request(name)
    post(path, body) // the first request builds the fixture store and server
    jobs(post(path, body))
  }

  test("building api.emails and api.attachments runs no job") {
    server
    assert(jobs { api.emails; api.attachments } == 0)
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

  test("MCP get_email_by_id runs at most 2 jobs") {
    val n = jobsOf("mcp_lookup")
    assert(n <= 2, s"get_email_by_id ran $n jobs")
  }
}
