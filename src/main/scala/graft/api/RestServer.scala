package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.search.SearchFilters
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** SURVEY §2 I — the reference's REST transport (FastAPI routes,
  * reference: src/api/server.py:118-513; request/response bounds:
  * src/api/models.py:55-280) as a thin façade over [[EmailEtlApi]].
  *
  * Built entirely on the JDK's `com.sun.net.httpserver` plus the json4s
  * that ships with Spark — zero added dependencies, per the environment
  * contract. The server is a transport only: every route body is one
  * [[EmailEtlApi]] call (itself one Catalyst plan + the documented ≤20-row
  * driver boundary) per result it returns — `/api/status` and MCP
  * `get_email_by_id` return two. `DataFrame → JSON` is [[Json.rows]]:
  * Spark's own JSON encoder, as a `to_json` projection inside the call's
  * query, so row serialization stays in the engine and adds no stage (a
  * ranked search stays one `TakeOrderedAndProjectExec`, where `toJSON`
  * would add a shuffle). A request's values (an id, a date window) reach
  * the generated code by reference ([[graft.search.EmailSearch.bound]]),
  * so a warm route compiles nothing for a new one. A route never reads
  * the store again to decorate a call's rows: a column it needs is asked
  * of the call's own plan (`ReadPathJobsSpec` counts the jobs, stages
  * and compilations).
  *
  * Routes mirrored (names, defaults, clamps follow the reference):
  *  - GET  /health                 → {"status": "healthy"}
  *  - GET  /metrics                → Prometheus exposition (request counters,
  *                                   tasks launched, uptime — the reference
  *                                   stubs this behind an external ASGI app,
  *                                   server.py:129-133; here it is served
  *                                   directly)
  *  - GET  /api/status             → totals + per-provider stats
  *  - POST /api/emails/import      → ImportStatus (background task starts)
  *  - POST /api/emails/sync        → ImportStatus (incremental, background)
  *  - GET  /api/emails/import/{id} → ImportStatus of a running/done task
  *  - POST /api/search/emails      → {query, results: [EmailSummary], total_found}
  *  - POST /api/search/ask         → {question, answer, sources, context_email_count}
  *  - POST /api/analyze/categorize → [{...category rows}]
  *  - POST /api/analyze/actions    → [{...action rows}]
  *  - POST /api/urls/screen        → {results: [canon + gate rows], total}
  *  - POST /api/tokenizer/audit    → {results: [token-count rows], total}
  *  - GET  /mcp/tools              → MCP server info + tool definitions
  *  - POST /mcp/call               → {tool, parameters} → {tool, result}
  * Errors return FastAPI's shape: {"detail": msg} with 400/404/405/500.
  *
  * Import/sync follow the reference's background-task contract
  * (server.py:137-282): POST returns immediately with a "running"
  * ImportStatus, the work runs on a daemon thread over the same
  * SparkSession (Spark schedules jobs from concurrent driver threads),
  * and GET polls the in-memory status map. Request bodies take
  * `inbox_dir` in place of the reference's Gmail `query` (the provider
  * here is a directory of raw messages), plus the same `max_results` /
  * `start_date` / `generate_embeddings`. One documented divergence: the
  * reference's POST response is the bare ImportStatus with no id at all
  * (server.py:168 — the id is unreachable by clients); ours adds
  * `import_id` so the status route is actually usable.
  *
  * Every accepted connection has Nagle's algorithm off (`TCP_NODELAY`),
  * as in the reference's asyncio transports. The JDK server writes a
  * reply's headers and body as two segments; with Nagle on, the body
  * waits for the client's ACK of the headers, which a Linux client
  * delays by about 40 ms on a kept-alive connection. The switch is the
  * JDK's own `sun.net.httpserver.nodelay`, read once when the first
  * `HttpServer` of the JVM is created, so [[start]] must create it: a JVM
  * that creates another JDK `HttpServer` first keeps that one's setting.
  *
  * Out of scope: OAuth, which is environment-excluded.
  */
object RestServer {
  implicit private val formats: Formats = DefaultFormats

  private val NoDelay = "sun.net.httpserver.nodelay"

  /** Start serving `api` on 127.0.0.1:`port` (port 0 = ephemeral, for
    * tests). Single-threaded executor: requests serialize, which matches
    * Spark's driver-side session threading contract.
    *
    * `defaultInboxDir` is the directory provider's analog of the
    * reference's ambient OAuth session: when set (parameter or
    * GRAFT_INBOX_DIR), a reference-conformant parameterless MCP
    * `sync_emails` / empty-query `import_emails` call syncs that inbox
    * instead of erroring (ADVICE r7 parity note).
    *
    * Sets `sun.net.httpserver.nodelay` to `true` first, unless the JVM was
    * started with it (see the object's doc). */
  def start(api: EmailEtlApi, port: Int = 8000,
      defaultInboxDir: Option[String] = sys.env.get("GRAFT_INBOX_DIR")): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    val srv = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)

    // Per-instance request counters behind GET /metrics. The reference
    // stubs this route behind an external Prometheus ASGI app
    // (server.py:129-133 returns a pointer message); here the exposition
    // is served directly — counter per route, tasks-launched counter,
    // uptime gauge — so the daily-ops surface works with zero sidecars.
    val hits = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val tasksLaunched = new java.util.concurrent.atomic.AtomicLong(0)
    val startedAtNanos = System.nanoTime()
    def count(route: String): Unit =
      hits.computeIfAbsent(route, _ => new java.util.concurrent.atomic.AtomicLong(0))
        .incrementAndGet()
    srv.createContext("/metrics", (ex: HttpExchange) => {
      try {
        count("/metrics")
        import scala.jdk.CollectionConverters._
        val sb = new StringBuilder
        sb.append("# HELP graft_http_requests_total Requests served per route\n")
        sb.append("# TYPE graft_http_requests_total counter\n")
        hits.asScala.toSeq.sortBy(_._1).foreach { case (r, n) =>
          sb.append(s"""graft_http_requests_total{route="$r"} ${n.get()}""").append('\n')
        }
        sb.append("# HELP graft_import_tasks_total Background import/sync tasks launched\n")
        sb.append("# TYPE graft_import_tasks_total counter\n")
        sb.append(s"graft_import_tasks_total ${tasksLaunched.get()}\n")
        sb.append("# HELP graft_uptime_seconds Seconds since server start\n")
        sb.append("# TYPE graft_uptime_seconds gauge\n")
        sb.append(s"graft_uptime_seconds ${(System.nanoTime() - startedAtNanos) / 1e9}\n")
        val bytes = sb.toString.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })

    route(srv, "/health", "GET", count) { _ =>
      JObject("status" -> JString("healthy"))
    }

    route(srv, "/api/status", "GET", count) { _ =>
      val totals = dfJson(api.status()).headOption.getOrElse(JObject())
      JObject(
        "database" -> totals,
        "providers" -> JArray(dfJson(api.providerStats()).toList))
    }

    val importTasks = new java.util.concurrent.ConcurrentHashMap[String, JValue]()
    val importSeq = new java.util.concurrent.atomic.AtomicLong(0)
    import Json.importStatus
    def launchTask(prefix: String)(work: () => Map[String, Long]): JValue = {
      tasksLaunched.incrementAndGet()
      val id = s"${prefix}_${System.currentTimeMillis()}_${importSeq.incrementAndGet()}"
      importTasks.put(id, importStatus("running", Map.empty))
      val t = new Thread(() => {
        try importTasks.put(id, importStatus("completed", work()))
        catch { case _: Throwable =>
          importTasks.put(id, importStatus("failed", Map.empty))
        }
      }, s"graft-rest-$id")
      t.setDaemon(true)
      t.start()
      JObject(("import_id" -> JString(id)) ::
        importStatus("running", Map.empty).obj)
    }
    def importParams(body: JValue): (String, Option[Int], Option[java.sql.Timestamp], Boolean) = (
      (body \ "inbox_dir").extractOpt[String]
        .getOrElse(throw BadRequest("missing field: inbox_dir")),
      (body \ "max_results").extractOpt[Int],
      ts(body \ "start_date"),
      (body \ "generate_embeddings").extractOpt[Boolean].getOrElse(true))

    // POST /api/emails/import and GET /api/emails/import/{id} share a
    // path prefix, so this context dispatches both itself (route()'s
    // exact-path contract can't).
    srv.createContext("/api/emails/import", (ex: HttpExchange) => {
      try {
        count("/api/emails/import")
        (ex.getRequestMethod, ex.getRequestURI.getPath) match {
          case ("POST", "/api/emails/import") =>
            val raw = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
            val body = if (raw.isEmpty) JNothing else JsonMethods.parse(raw)
            val (inbox, maxResults, startDate, genEmb) = importParams(body)
            reply(ex, 200, launchTask("import")(() =>
              api.importFull(inbox, maxResults, startDate, genEmb)))
          case ("GET", p) if p.startsWith("/api/emails/import/") =>
            val id = p.stripPrefix("/api/emails/import/")
            Option(importTasks.get(id)) match {
              case Some(st) => reply(ex, 200, st)
              case None => reply(ex, 404,
                JObject("detail" -> JString("Import task not found")))
            }
          case ("POST", _) =>
            reply(ex, 404, JObject("detail" -> JString("Not Found")))
          case _ =>
            reply(ex, 405, JObject("detail" -> JString("Method Not Allowed")))
        }
      } catch {
        case BadRequest(m) => reply(ex, 400, JObject("detail" -> JString(m)))
        case e: Throwable =>
          reply(ex, 500, JObject("detail" -> JString(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
      } finally ex.close()
    })

    route(srv, "/api/emails/sync", "POST", count) { body =>
      val inbox = (body \ "inbox_dir").extractOpt[String]
        .getOrElse(throw BadRequest("missing field: inbox_dir"))
      val genEmb = (body \ "generate_embeddings").extractOpt[Boolean].getOrElse(true)
      launchTask("sync")(() => api.syncIncremental(inbox, genEmb))
    }

    route(srv, "/api/search/emails", "POST", count) { body =>
      val query = (body \ "query").extractOpt[String]
        .getOrElse(throw BadRequest("missing field: query"))
      val limit = (body \ "limit").extractOpt[Int].getOrElse(10)
      val filters = SearchFilters(
        dateFrom = ts(body \ "date_from"), dateTo = ts(body \ "date_to"))
      val includeContent = (body \ "include_content").extractOpt[Boolean]
        .getOrElse(false)
      // EmailSummary shape (models.py:133-151), carried by the ranked
      // plan itself; include_content adds the full plain body
      val rows = dfJson(api.searchSemantic(query, limit, filters,
        Seq("id", "message_id", "subject", "sender", "sender_name", "date",
          "has_attachments", "labels", "similarity", "markdown_path") ++
          (if (includeContent) Seq("body_plain") else Nil)))
      JObject(
        "query" -> JString(query),
        "results" -> JArray(rows.toList),
        "total_found" -> JInt(rows.size))
    }

    route(srv, "/api/search/ask", "POST", count) { body =>
      val question = (body \ "question").extractOpt[String]
        .getOrElse(throw BadRequest("missing field: question"))
      val k = (body \ "context_limit").extractOpt[Int].getOrElse(5)
      val (answer, sources) = api.ask(question, k)
      // summaries in message_id order, as Spark sorts strings (UTF-8 bytes)
      val byId = sources.sortWith((a, b) => UTF8String.fromString(a.messageId)
        .compareTo(UTF8String.fromString(b.messageId)) < 0)
      JObject(
        "question" -> JString(question),
        "answer" -> JString(answer),
        "sources" -> JArray(byId.map(s => JsonMethods.parse(s.summary)).toList),
        "context_email_count" -> JInt(sources.size))
    }

    route(srv, "/api/analyze/categorize", "POST", count) { body =>
      val limit = (body \ "limit").extractOpt[Int].getOrElse(10)
      JArray(dfJson(api.categorize(limit)).toList)
    }

    route(srv, "/api/analyze/actions", "POST", count) { body =>
      val days = (body \ "days").extractOpt[Int].getOrElse(7)
      val limit = (body \ "limit").extractOpt[Int].getOrElse(50)
      JArray(dfJson(api.extractActions(days, limit)).toList)
    }

    // Beyond-reference curation front doors (VERDICT r12 #6): the same
    // EmailEtlApi verbs the MCP url_screen / tokenizer_audit tools call;
    // per-call bound violations surface as 400s, like every other
    // request-shape error.
    route(srv, "/api/urls/screen", "POST", count) { body =>
      val urls = (body \ "urls").extractOpt[List[String]]
        .filter(_.nonEmpty)
        .getOrElse(throw BadRequest("missing field: urls (non-empty string array)"))
      val rows = dfJson(
        try api.urlScreen(urls)
        catch { case e: IllegalArgumentException => throw BadRequest(e.getMessage) })
      JObject("results" -> JArray(rows.toList),
        "total" -> JInt(rows.size))
    }

    route(srv, "/api/tokenizer/audit", "POST", count) { body =>
      val texts = (body \ "texts").extractOpt[List[String]]
        .filter(_.nonEmpty)
        .getOrElse(throw BadRequest("missing field: texts (non-empty string array)"))
      val rows = dfJson(
        try api.tokenizerAudit(texts)
        catch { case e: IllegalArgumentException => throw BadRequest(e.getMessage) })
      JObject("results" -> JArray(rows.toList),
        "total" -> JInt(rows.size))
    }

    route(srv, "/mcp/tools", "GET", count) { _ => McpTools.definitions }

    route(srv, "/mcp/call", "POST", count) { body =>
      val tool = (body \ "tool").extractOpt[String]
        .getOrElse(throw BadRequest("missing field: tool"))
      try JObject("tool" -> JString(tool),
        "result" -> McpTools.dispatch(api, tool, body \ "parameters", defaultInboxDir))
      catch { case McpTools.McpError(m) => throw BadRequest(m) }
    }

    srv.setExecutor(null) // serve on the dispatch thread
    srv.start()
    srv
  }

  private final case class BadRequest(msg: String) extends RuntimeException(msg)

  private def dfJson(df: DataFrame): Seq[JValue] = Json.rows(df)

  private def ts(v: JValue): Option[java.sql.Timestamp] =
    try Json.timestamp(v)
    catch { case e: IllegalArgumentException => throw BadRequest(e.getMessage) }

  private def route(srv: HttpServer, path: String, method: String,
      onHit: String => Unit = _ => ())(
      handler: JValue => JValue): Unit =
    srv.createContext(path, (ex: HttpExchange) => {
      try {
        onHit(path)
        if (ex.getRequestURI.getPath != path) {
          reply(ex, 404, JObject("detail" -> JString("Not Found")))
        } else if (ex.getRequestMethod != method) {
          reply(ex, 405, JObject("detail" -> JString("Method Not Allowed")))
        } else {
          val raw = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          val body = if (raw.isEmpty) JNothing else JsonMethods.parse(raw)
          reply(ex, 200, handler(body))
        }
      } catch {
        case BadRequest(m) => reply(ex, 400, JObject("detail" -> JString(m)))
        case e: Throwable =>
          reply(ex, 500, JObject("detail" -> JString(
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
      } finally ex.close()
    })

  private def reply(ex: HttpExchange, code: Int, body: JValue): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(body)).getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}
