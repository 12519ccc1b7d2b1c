package graft

import graft.api.{EmailEtlApi, RestServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** e2e over HTTP: boot the JDK-HttpServer façade on an ephemeral port and
  * drive the reference's POST /api/search/emails and /api/search/ask
  * shapes (plus analyze + status + error contracts) with a plain
  * HttpURLConnection client. */
class RestServerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  implicit private val formats: Formats = DefaultFormats

  private def rawMsg(id: String, subject: String, dateRfc: String, body: String): String =
    s"""{"id":"$id","threadId":"t-$id","labelIds":["INBOX"],"snippet":"s","sizeEstimate":1,"historyId":"h",
       |"payload":{"partId":"0","mimeType":"text/plain","filename":"",
       |"headers":[{"name":"From","value":"sender@x.com"},{"name":"Subject","value":"$subject"},{"name":"Date","value":"$dateRfc"}],
       |"body":{"data":"${b64url(body)}","size":1,"attachmentId":null}}}""".stripMargin.replaceAll("\n", "")

  private lazy val server = {
    val inbox = tmpDir("rest-inbox")
    java.nio.file.Files.write(java.nio.file.Paths.get(inbox, "batch.json"),
      Seq(
        rawMsg("r1", "spark join tuning", "Mon, 15 Jan 2024 10:00:00 +0000",
          "how to tune spark joins with broadcast"),
        rawMsg("r2", "project deadline", "Tue, 16 Jan 2024 10:00:00 +0000",
          "please send the report before the meeting")
      ).mkString("\n").getBytes("UTF-8"))
    val api = new EmailEtlApi(spark, tmpDir("rest-store"))
    api.importFull(inbox)
    RestServer.start(api, port = 0)
  }
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"
  override def afterAll(): Unit = try server.stop(0) finally super.afterAll()

  private def http(method: String, path: String, body: Option[String] = None,
      root: String = base): (Int, JValue) = {
    val conn = new java.net.URL(root + path).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, JsonMethods.parse(text))
  }

  test("GET /health") {
    val (code, json) = http("GET", "/health")
    assert(code == 200 && (json \ "status").extract[String] == "healthy")
  }

  test("replies over a kept-alive connection do not wait for a delayed ACK") {
    // With Nagle on, the body segment waits for the client's ACK of the
    // headers segment, which Linux delays by about 40 ms. Only a kept-alive
    // connection shows it: TCP quick-ACKs a new connection's first
    // segments, so `http` above, which disconnects after every request,
    // reads about 1 ms either way.
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(java.net.URI.create(base + "/health")).GET().build()
    val ms = (1 to 25).map { _ =>
      val t0 = System.nanoTime()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode == 200)
      (System.nanoTime() - t0) / 1e6
    }.drop(5).sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, s"median $median ms over ${ms.mkString(", ")}")
  }

  test("GET /metrics serves Prometheus exposition with live request counters") {
    http("GET", "/health") // ensure at least one counted request
    val conn = new java.net.URL(base + "/metrics").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val text = new String(conn.getInputStream.readAllBytes(), "UTF-8")
    conn.disconnect()
    assert(code == 200)
    assert(conn.getContentType.startsWith("text/plain"))
    assert(text.contains("# TYPE graft_http_requests_total counter"))
    val health = raw"""graft_http_requests_total\{route="/health"\} (\d+)""".r
    val n = health.findFirstMatchIn(text).map(_.group(1).toLong)
    assert(n.exists(_ >= 1L), s"expected /health counter in:\n$text")
    assert(text.contains("graft_import_tasks_total"))
    assert(text.contains("# TYPE graft_uptime_seconds gauge"))
  }

  test("POST /api/search/emails returns the EmailSearchResponse shape, ranked") {
    val (code, json) = http("POST", "/api/search/emails",
      Some("""{"query": "spark join tuning", "limit": 2}"""))
    assert(code == 200)
    assert((json \ "query").extract[String] == "spark join tuning")
    val results = (json \ "results").extract[List[JValue]]
    assert((json \ "total_found").extract[Int] == results.size && results.nonEmpty)
    val top = results.head
    assert((top \ "message_id").extract[String] == "r1")
    // EmailSummary fields present (models.py:133-151)
    Seq("id", "subject", "sender", "similarity", "has_attachments").foreach { f =>
      assert((top \ f) != JNothing, s"missing summary field $f")
    }
  }

  test("POST /api/search/ask returns answer + sources + context count") {
    val (code, json) = http("POST", "/api/search/ask",
      Some("""{"question": "what about spark joins?", "context_limit": 2}"""))
    assert(code == 200)
    assert((json \ "answer").extract[String].contains("[stub]"))
    assert((json \ "context_email_count").extract[Int] == 2)
    assert((json \ "sources").extract[List[JValue]].size == 2)
  }

  test("POST /api/analyze/categorize and /actions return row arrays") {
    val (c1, cats) = http("POST", "/api/analyze/categorize", Some("""{"limit": 5}"""))
    assert(c1 == 200 && cats.extract[List[JValue]].size == 2)
    // actions window anchors to wall-clock "now" (reference semantics);
    // the 2024 fixture is outside any 90-day window, so the route must
    // return 200 with an empty array. The populated path is covered in
    // ApiSpec via the injectable `now`.
    val (c2, acts) = http("POST", "/api/analyze/actions",
      Some("""{"days": 90, "limit": 10}"""))
    assert(c2 == 200 && acts.extract[List[JValue]].isEmpty)
  }

  test("GET /api/status carries totals and provider rows") {
    val (code, json) = http("GET", "/api/status")
    assert(code == 200)
    assert((json \ "database" \ "total_emails").extract[Long] == 2L)
    assert((json \ "providers").extract[List[JValue]].nonEmpty)
  }

  test("GET /mcp/tools lists the reference's tool registry with parameter schemas") {
    val (code, json) = http("GET", "/mcp/tools")
    assert(code == 200)
    val tools = (json \ "tools").extract[List[JValue]]
    val names = tools.map(t => (t \ "name").extract[String]).toSet
    // reference registry (mcp_tools.py:13-269) plus the two
    // beyond-reference curation front doors (VERDICT r12 #6)
    assert(names == Set("search_emails", "ask_email_question", "categorize_emails",
      "extract_action_items", "import_emails", "sync_emails", "get_email_by_id",
      "get_system_status", "summarize_thread", "analyze_email_patterns",
      "url_screen", "tokenizer_audit"))
    val search = tools.find(t => (t \ "name").extract[String] == "search_emails").get
    val q = (search \ "parameters").extract[List[JValue]]
      .find(pp => (pp \ "name").extract[String] == "query").get
    assert((q \ "required").extract[Boolean])
  }

  test("POST /mcp/call dispatches tools with defaults, required checks, and exclusions") {
    val (c1, r1) = http("POST", "/mcp/call",
      Some("""{"tool": "search_emails", "parameters": {"query": "spark join tuning"}}"""))
    assert(c1 == 200)
    val hits = (r1 \ "result").extract[List[JValue]]
    assert(hits.nonEmpty && (hits.head \ "message_id").extract[String] == "r1")

    val (c2, r2) = http("POST", "/mcp/call",
      Some("""{"tool": "get_system_status"}"""))
    assert(c2 == 200 && (r2 \ "result" \ "database" \ "total_emails").extract[Long] == 2L)

    val id = (hits.head \ "id").extract[Long]
    val (c3, r3) = http("POST", "/mcp/call",
      Some(s"""{"tool": "get_email_by_id", "parameters": {"email_id": $id}}"""))
    assert(c3 == 200 && (r3 \ "result" \ "email" \ "message_id").extract[String] == "r1")

    val (c4, r4) = http("POST", "/mcp/call",
      Some("""{"tool": "summarize_thread", "parameters": {"thread_id": "t-r1"}}"""))
    assert(c4 == 200)
    val th = (r4 \ "result").extract[List[JValue]]
    assert(th.size == 1 && (th.head \ "email_count").extract[Int] == 1)

    // required param missing → 400 with the reference's message shape
    val (c5, e5) = http("POST", "/mcp/call", Some("""{"tool": "search_emails"}"""))
    assert(c5 == 400 && (e5 \ "detail").extract[String].contains("Required parameter 'query'"))
    // unknown tool → 400
    val (c6, _) = http("POST", "/mcp/call", Some("""{"tool": "nope"}"""))
    assert(c6 == 400)
    // ingest tools dispatch for real now, so an unusable source is a
    // tool-level 400: sync without its inbox_dir, import with the default
    // empty query (the directory-substitution contract)
    val (c7, e7) = http("POST", "/mcp/call", Some("""{"tool": "sync_emails"}"""))
    assert(c7 == 400 && (e7 \ "detail").extract[String].contains("inbox_dir"))
    val (c8, e8) = http("POST", "/mcp/call", Some("""{"tool": "import_emails"}"""))
    assert(c8 == 400 && (e8 \ "detail").extract[String].contains("DIRECTORY"))
  }

  test("MCP ingest dispatch e2e: import_emails over a fixture directory, then sync_emails") {
    // Own store: MCP ingest mutates state, so it must not share the lazy
    // fixture server other tests assert counts on.
    val inbox = tmpDir("mcp-import-inbox")
    java.nio.file.Files.write(java.nio.file.Paths.get(inbox, "batch.json"),
      Seq(
        rawMsg("m1", "terraform drift", "Mon, 15 Jan 2024 09:00:00 +0000",
          "the terraform plan shows unexpected drift in staging")
      ).mkString("\n").getBytes("UTF-8"))
    val api3 = new EmailEtlApi(spark, tmpDir("mcp-import-store"))
    val srv3 = RestServer.start(api3, port = 0, defaultInboxDir = Some(inbox))
    try {
      val b = s"http://127.0.0.1:${srv3.getAddress.getPort}"
      // import: directory path travels as `query` (provider substitution);
      // dispatch is synchronous and returns the finished ImportStatus
      val (c1, j1) = http("POST", "/mcp/call",
        Some(s"""{"tool": "import_emails", "parameters": {"query": "$inbox"}}"""),
        root = b)
      assert(c1 == 200)
      assert((j1 \ "result" \ "status").extract[String] == "completed")
      assert((j1 \ "result" \ "processed").extract[Int] == 1)
      // the imported email is immediately searchable through MCP
      val (c2, j2) = http("POST", "/mcp/call",
        Some("""{"tool": "search_emails", "parameters": {"query": "terraform drift"}}"""),
        root = b)
      assert(c2 == 200)
      val hits = (j2 \ "result").extract[List[JValue]]
      assert(hits.nonEmpty && (hits.head \ "message_id").extract[String] == "m1")
      // sync over the same inbox: the boundary email dedups into skipped
      val (c3, j3) = http("POST", "/mcp/call",
        Some(s"""{"tool": "sync_emails", "parameters": {"inbox_dir": "$inbox"}}"""),
        root = b)
      assert(c3 == 200)
      assert((j3 \ "result" \ "status").extract[String] == "completed")
      assert((j3 \ "result" \ "processed").extract[Int] == 0)
      assert((j3 \ "result" \ "skipped").extract[Int] == 1)
      // reference parity (ADVICE r7): parameterless sync_emails works when
      // the server has a configured default inbox — the directory
      // provider's analog of the reference's ambient OAuth session
      val (c4, j4) = http("POST", "/mcp/call",
        Some("""{"tool": "sync_emails"}"""), root = b)
      assert(c4 == 200)
      assert((j4 \ "result" \ "status").extract[String] == "completed")
      assert((j4 \ "result" \ "skipped").extract[Int] == 1)
    } finally srv3.stop(0)
  }

  test("date filters: offset-less ISO accepted, garbage is a 400, ranges apply on REST and MCP") {
    // offset-less ISO 8601 (reference FastAPI accepts naive datetimes)
    val (c1, j1) = http("POST", "/api/search/emails",
      Some("""{"query": "spark", "date_from": "2024-01-16T00:00:00"}"""))
    assert(c1 == 200)
    val r1 = (j1 \ "results").extract[List[JValue]]
    assert(r1.map(r => (r \ "message_id").extract[String]) == List("r2"),
      "date_from must exclude the Jan 15 email")
    // unparseable datetime -> 400 with the offending text, not a 500
    val (c2, e2) = http("POST", "/api/search/emails",
      Some("""{"query": "spark", "date_from": "not-a-date"}"""))
    assert(c2 == 400 && (e2 \ "detail").extract[String].contains("not-a-date"))
    // MCP dispatch honors the same filters (was silently ignored before)
    val (c3, j3) = http("POST", "/mcp/call",
      Some("""{"tool": "search_emails", "parameters": {"query": "spark", "date_to": "2024-01-15T23:59:59Z"}}"""))
    assert(c3 == 200)
    val r3 = (j3 \ "result").extract[List[JValue]]
    assert(r3.map(r => (r \ "message_id").extract[String]) == List("r1"))
    // include_content attaches the body on request
    val (c4, j4) = http("POST", "/api/search/emails",
      Some("""{"query": "spark", "limit": 1, "include_content": true}"""))
    assert(c4 == 200)
    val body = ((j4 \ "results").extract[List[JValue]].head \ "body_plain")
    assert(body.extract[String].contains("broadcast"))
  }

  test("import/sync background routes: POST import → poll → searchable; sync skips existing") {
    // Own server + store: the background import mutates state, so it must
    // not share the lazy fixture server other tests assert counts on.
    val inbox = tmpDir("rest-import-inbox")
    java.nio.file.Files.write(java.nio.file.Paths.get(inbox, "batch.json"),
      Seq(
        rawMsg("i1", "kubernetes rollout", "Mon, 15 Jan 2024 10:00:00 +0000",
          "the kubernetes rollout finished without errors"),
        rawMsg("i2", "quarterly numbers", "Tue, 16 Jan 2024 10:00:00 +0000",
          "revenue is up and costs are flat this quarter")
      ).mkString("\n").getBytes("UTF-8"))
    val api2 = new EmailEtlApi(spark, tmpDir("rest-import-store"))
    val srv2 = RestServer.start(api2, port = 0)
    try {
      val b = s"http://127.0.0.1:${srv2.getAddress.getPort}"
      def poll(id: String): JValue = {
        val deadline = System.currentTimeMillis() + 120000
        var st: JValue = JNothing
        while ({
          st = http("GET", s"/api/emails/import/$id", root = b)._2
          (st \ "status").extract[String] == "running" &&
            System.currentTimeMillis() < deadline
        }) Thread.sleep(200)
        st
      }
      // POST import: immediate "running" ImportStatus + usable import_id
      val (c1, j1) = http("POST", "/api/emails/import",
        Some(s"""{"inbox_dir": "$inbox"}"""), root = b)
      assert(c1 == 200 && (j1 \ "status").extract[String] == "running")
      val id = (j1 \ "import_id").extract[String]
      assert(id.startsWith("import_"))
      val done = poll(id)
      assert((done \ "status").extract[String] == "completed")
      assert((done \ "total_found").extract[Int] == 2)
      assert((done \ "processed").extract[Int] == 2)
      assert((done \ "skipped").extract[Int] == 0)
      // imported rows are now visible through the search route
      val (c2, j2) = http("POST", "/api/search/emails",
        Some("""{"query": "kubernetes rollout", "limit": 2}"""), root = b)
      assert(c2 == 200)
      val hits = (j2 \ "results").extract[List[JValue]]
      assert(hits.nonEmpty &&
        (hits.head \ "message_id").extract[String] == "i1")
      // sync against the same inbox: only the boundary (latest) email is
      // re-read and it dedups into skipped — nothing newly processed
      val (c3, j3) = http("POST", "/api/emails/sync",
        Some(s"""{"inbox_dir": "$inbox"}"""), root = b)
      assert(c3 == 200)
      val sid = (j3 \ "import_id").extract[String]
      assert(sid.startsWith("sync_"))
      val synced = poll(sid)
      assert((synced \ "status").extract[String] == "completed")
      assert((synced \ "processed").extract[Int] == 0)
      assert((synced \ "skipped").extract[Int] == 1)
      // error contract
      val (c4, _) = http("GET", "/api/emails/import/nope", root = b)
      assert(c4 == 404)
      val (c5, e5) = http("POST", "/api/emails/import", Some("{}"), root = b)
      assert(c5 == 400 && (e5 \ "detail").extract[String].contains("inbox_dir"))
      // a background failure is reported as status=failed, not a hang
      val (c6, j6) = http("POST", "/api/emails/import",
        Some("""{"inbox_dir": "/nonexistent/inbox/dir"}"""), root = b)
      assert(c6 == 200)
      val failed = poll((j6 \ "import_id").extract[String])
      assert((failed \ "status").extract[String] == "failed")
    } finally srv2.stop(0)
  }

  test("MCP enum validation: invalid group_by is a 400 tool error, not a 500") {
    val (code, err) = http("POST", "/mcp/call",
      Some("""{"tool": "analyze_email_patterns", "parameters": {"group_by": "hour"}}"""))
    assert(code == 400)
    assert((err \ "detail").extract[String].contains("must be one of"))
  }

  test("error contract: missing field 400, wrong method 405, unknown path 404") {
    val (c1, e1) = http("POST", "/api/search/emails", Some("""{"limit": 3}"""))
    assert(c1 == 400 && (e1 \ "detail").extract[String].contains("query"))
    val (c2, _) = http("GET", "/api/search/emails")
    assert(c2 == 405)
    val (c3, _) = http("GET", "/api/status/nope")
    assert(c3 == 404)
  }

  test("MCP type validation: type-invalid params are 400 tool errors, never 500s or silent defaults") {
    // string where an integer is declared — previously a json4s
    // MappingException surfacing as a 500
    val (c1, e1) = http("POST", "/mcp/call",
      Some("""{"tool": "get_email_by_id", "parameters": {"email_id": "abc"}}"""))
    assert(c1 == 400 &&
      (e1 \ "detail").extract[String].contains("must be of type integer"))
    // string limit — previously silently replaced by the default
    val (c2, e2) = http("POST", "/mcp/call",
      Some("""{"tool": "search_emails", "parameters": {"query": "x", "limit": "ten"}}"""))
    assert(c2 == 400 &&
      (e2 \ "detail").extract[String].contains("'limit'"))
    // number where a string is declared
    val (c3, e3) = http("POST", "/mcp/call",
      Some("""{"tool": "search_emails", "parameters": {"query": 7}}"""))
    assert(c3 == 400 &&
      (e3 \ "detail").extract[String].contains("must be of type string"))
    // boolean param given as string
    val (c4, _) = http("POST", "/mcp/call",
      Some("""{"tool": "search_emails", "parameters": {"query": "x", "include_content": "yes"}}"""))
    assert(c4 == 400)
    // whole-valued JSON double is accepted for an integer param
    val (c5, _) = http("POST", "/mcp/call",
      Some("""{"tool": "search_emails", "parameters": {"query": "spark join tuning", "limit": 2.0}}"""))
    assert(c5 == 200)
  }

  test("POST /api/urls/screen: canon + gate rows e2e; bounds and shape errors are 400s") {
    val (code, json) = http("POST", "/api/urls/screen",
      Some("""{"urls": ["http://www.Ex.org:80/a/?utm_s=1&x=1#f", "HTTP://ex.org/a?x=1", "https://ok.net/p"]}"""))
    assert(code == 200 && (json \ "total").extract[Int] == 3)
    val results = (json \ "results").extract[List[JValue]]
    assert((results(0) \ "canon_url").extract[String] == "http://ex.org/a?x=1")
    assert((results(1) \ "canon_url").extract[String] == "http://ex.org/a?x=1")
    assert((results(0) \ "kept").extract[Boolean] &&
      !(results(1) \ "kept").extract[Boolean]) // keep-first within the batch
    assert(!(results(0) \ "pass").extract[Boolean]) // utm_ tracked fails the gate
    assert((results(2) \ "pass").extract[Boolean])
    val (cMissing, _) = http("POST", "/api/urls/screen", Some("""{"urls": []}"""))
    assert(cMissing == 400)
  }

  test("POST /api/tokenizer/audit: token counts + fertility e2e; missing field is a 400") {
    val (code, json) = http("POST", "/api/tokenizer/audit",
      Some("""{"texts": ["the theatre"]}"""))
    assert(code == 200 && (json \ "total").extract[Int] == 1)
    val r0 = (json \ "results").extract[List[JValue]].head
    assert((r0 \ "n_words").extract[Long] == 2L)
    assert((r0 \ "n_bpe").extract[Long] == 2L)
    assert((r0 \ "vit_cost").extract[Long] ==
      900L + graft.operators.UnigramLm.viterbi("theatre").cost)
    val (cMissing, _) = http("POST", "/api/tokenizer/audit", Some("""{}"""))
    assert(cMissing == 400)
  }

  test("POST /mcp/call: url_screen and tokenizer_audit tools dispatch; type and bound violations are tool-level 400s") {
    val (c1, r1) = http("POST", "/mcp/call",
      Some("""{"tool": "url_screen", "parameters": {"urls": ["https://ok.net/p", "https://ok.net/p"]}}"""))
    assert(c1 == 200)
    val rows1 = (r1 \ "result").extract[List[JValue]]
    assert(rows1.size == 2 && (rows1.head \ "n_dups").extract[Long] == 2L)
    val (c2, r2) = http("POST", "/mcp/call",
      Some("""{"tool": "tokenizer_audit", "parameters": {"texts": ["the theatre"]}}"""))
    assert(c2 == 200)
    assert(((r2 \ "result").extract[List[JValue]].head \ "n_words")
      .extract[Long] == 2L)
    // declared-type enforcement: a string where the array is declared
    val (c3, e3) = http("POST", "/mcp/call",
      Some("""{"tool": "url_screen", "parameters": {"urls": "http://x.com"}}"""))
    assert(c3 == 400 &&
      (e3 \ "detail").extract[String].contains("must be of type array"))
    // element-type enforcement inside the array
    val (c4, e4) = http("POST", "/mcp/call",
      Some("""{"tool": "tokenizer_audit", "parameters": {"texts": [1, 2]}}"""))
    assert(c4 == 400 &&
      (e4 \ "detail").extract[String].contains("only strings"))
    // required check
    val (c5, _) = http("POST", "/mcp/call", Some("""{"tool": "url_screen"}"""))
    assert(c5 == 400)
  }
}
