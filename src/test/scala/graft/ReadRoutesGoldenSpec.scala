package graft

import graft.api.{EmailEtlApi, RestServer}

/** A small store behind a running [[RestServer]], for specs of the read
  * routes. Two messages (`g2a`, `g2b`) differ only in their id, so every
  * query scores them equally and `message_id` alone orders them. */
trait ReadFixture extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import ImportFixture._

  private def lines: Seq[String] = Seq(
    msg("g1", "Fri, 01 Mar 2024 10:00:00 +0000", "quarterly budget review",
      plain = Some("please review the quarterly budget before friday: café über \\\"plan\\\""),
      atts = Seq(Att("plan.png", safe = true), Att("run.exe", safe = false))),
    msg("g2b", "Sat, 02 Mar 2024 09:30:00 +0000", "team offsite photo",
      plain = Some("photo from the team offsite")),
    msg("g2a", "Sat, 02 Mar 2024 09:30:00 +0000", "team offsite photo",
      plain = Some("photo from the team offsite")),
    msg("g3", "Sun, 03 Mar 2024 08:00:00 +0000", "launch notes",
      html = Some("<p>the launch plan is <b>on track</b></p>"), from = "bob@y.com"),
    msg("g4", "Mon, 04 Mar 2024 12:00:00 +0000", "budget follow up",
      plain = Some("the budget needs one more review of the launch costs"),
      atts = Seq(Att("sheet.png", safe = true))),
    msg("g5", "Tue, 05 Mar 2024 12:00:00 +0000", "dinner plans",
      plain = Some("dinner at eight with friends")),
    msg("g6", "not a date", "launch retro",
      plain = Some("what went well in the launch and what to plan next")),
    msg("g7", "Wed, 20 Mar 2024 07:15:00 +0000", "budget approved",
      plain = Some("the quarterly budget is approved"), from = "Cy Oh <cy@z.com>"))

  lazy val api: EmailEtlApi = {
    val inbox = tmpDir("read-inbox")
    write(inbox, "batch.json", lines)
    val a = new EmailEtlApi(spark, tmpDir("read-store"))
    a.importFull(inbox)
    a
  }
  lazy val server: com.sun.net.httpserver.HttpServer = RestServer.start(api, port = 0)

  /** The response body of one POST, exactly as the server sent it. */
  def post(path: String, body: String): String = {
    val conn = new java.net.URL(s"http://127.0.0.1:${server.getAddress.getPort}$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    conn.getOutputStream.write(body.getBytes("UTF-8"))
    val code = conn.getResponseCode
    val text = new String(
      (if (code < 400) conn.getInputStream else conn.getErrorStream).readAllBytes(), "UTF-8")
    conn.disconnect()
    assert(code == 200, s"POST $path $body -> $code $text")
    text
  }

  override def afterAll(): Unit = try server.stop(0) finally super.afterAll()
}

object ReadRoutesGoldenSpec {
  /** Every request of the spec: (case name, route, request body). */
  val requests: Seq[(String, String, String)] = Seq(
    ("rest_search", "/api/search/emails", """{"query": "quarterly budget review", "limit": 5}"""),
    ("rest_search_window", "/api/search/emails",
      """{"query": "budget", "limit": 10, "date_from": "2024-03-02T00:00:00Z", "date_to": "2024-03-10T00:00:00"}"""),
    ("rest_search_content", "/api/search/emails",
      """{"query": "launch plan", "limit": 4, "include_content": true}"""),
    ("rest_search_tie", "/api/search/emails", """{"query": "team offsite photo", "limit": 3}"""),
    ("mcp_search", "/mcp/call",
      """{"tool": "search_emails", "parameters": {"query": "budget review", "limit": 4}}"""),
    ("mcp_search_content", "/mcp/call",
      """{"tool": "search_emails", "parameters": {"query": "team offsite photo", "limit": 3, "include_content": true}}"""),
    ("rest_ask", "/api/search/ask", """{"question": "what about the budget?", "context_limit": 4}"""),
    ("mcp_ask", "/mcp/call",
      """{"tool": "ask_email_question", "parameters": {"question": "when is the launch?", "context_limit": 3}}"""),
    ("mcp_lookup", "/mcp/call",
      s"""{"tool": "get_email_by_id", "parameters": {"email_id": ${surrogate("g1")}}}"""))

  /** The store's surrogate id of a message id (`Normalize.surrogateId`). */
  def surrogate(messageId: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(messageId),
      org.apache.spark.sql.types.StringType, 42L)
}

/** Golden responses of the read routes: REST search (plain, date window,
  * with content, a score tie), MCP `search_emails` with and without
  * content, REST `ask`, MCP `ask_email_question` and `get_email_by_id`.
  * Each response must match the recorded one byte for byte: keys, key
  * order, rows and row order. The responses were recorded when the search
  * routes still joined their hits back to the store and `ask` read its
  * sources in queries of their own. */
class ReadRoutesGoldenSpec extends ReadFixture {
  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromResource("graft/read-routes.golden", getClass.getClassLoader)("UTF-8")
    try src.getLines().map { l =>
      val tab = l.indexOf('\t')
      l.substring(0, tab) -> l.substring(tab + 1)
    }.toMap finally src.close()
  }

  ReadRoutesGoldenSpec.requests.foreach { case (name, path, body) =>
    test(s"golden response: $name") {
      assert(post(path, body) == golden(name))
    }
  }
}
