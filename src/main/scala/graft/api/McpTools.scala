package graft.api

import org.apache.spark.sql.functions._
import org.json4s._

/** MCP (Model Context Protocol) tool surface — the reference's tool
  * registry (reference: src/api/mcp_tools.py:13-269, served at
  * GET /mcp/tools by src/api/server.py:507-513) re-expressed over
  * [[EmailEtlApi]].
  *
  * Parity contract: same tool names, parameter names/types/defaults, and
  * the same validation semantics as `validate_mcp_parameters`
  * (mcp_tools.py:242-269 — required check, defaults applied, unknown
  * params dropped). Dispatch maps each tool to the backing engine call,
  * including the two ingest tools: `import_emails` and `sync_emails`
  * dispatch to the SAME directory-ingest path the REST routes use
  * (EmailEtlApi.importFull / syncIncremental), with the same provider
  * substitution RestServer documents — the provider here is a directory
  * of raw messages, so `import_emails.query` carries the inbox directory
  * path (the reference's Gmail search query has no directory analog) and
  * `sync_emails` gains an `inbox_dir` parameter (the reference's is
  * parameterless because its Gmail OAuth session is ambient; live OAuth
  * is environment-excluded, COVERAGE.md). MCP dispatch is synchronous —
  * a tools/call returns the finished ImportStatus; the background-thread
  * + poll contract is the REST routes' adaptation.
  */
object McpTools {
  implicit private val formats: Formats = DefaultFormats

  final case class Param(
      name: String, typ: String, description: String,
      required: Boolean = false, default: Option[JValue] = None,
      allowed: Option[List[String]] = None)

  final case class Tool(name: String, description: String, params: List[Param])

  /** Reference: MCP_SERVER_INFO (mcp_tools.py:272-286), renamed for this
    * engine; capability flags reflect what dispatch actually serves. */
  val serverInfo: JValue = JObject(
    "name" -> JString("graft-email-etl-mcp"),
    "version" -> JString("1.0.0"),
    "description" -> JString(
      "Email ETL engine with semantic search and RAG query surface over Spark"),
    "capabilities" -> JObject(
      "email_import" -> JBool(true), // directory-backed ingest (OAuth excluded)
      "semantic_search" -> JBool(true),
      "question_answering" -> JBool(true),
      "categorization" -> JBool(true),
      "action_extraction" -> JBool(true),
      "thread_summarization" -> JBool(true),
      "pattern_analysis" -> JBool(true),
      // beyond-reference curation front doors (VERDICT r12 #6)
      "url_screening" -> JBool(true),
      "tokenizer_audit" -> JBool(true)))

  /** Tool registry mirroring mcp_tools.py:13-269, line for line. */
  val tools: List[Tool] = List(
    Tool("search_emails",
      "Search emails using semantic similarity. Uses vector embeddings to find emails with similar meaning to your query.",
      List(
        Param("query", "string", "Natural language search query for semantic matching", required = true),
        Param("limit", "integer", "Maximum number of results to return (1-100)", default = Some(JInt(10))),
        Param("date_from", "string", "ISO 8601 datetime to filter emails after this date"),
        Param("date_to", "string", "ISO 8601 datetime to filter emails before this date"),
        Param("include_content", "boolean", "Whether to include full email content in results", default = Some(JBool(false))))),
    Tool("ask_email_question",
      "Ask a natural language question about your emails. Uses RAG to find relevant emails and generate an answer.",
      List(
        Param("question", "string", "Natural language question about your emails", required = true),
        Param("context_limit", "integer", "Number of relevant emails to use as context (1-20)", default = Some(JInt(5))),
        // declared for registry parity (mcp_tools.py:68-83); accepted and
        // unused by dispatch — the reference server drops them too
        // (server.py:332-375 forwards only question + context_limit)
        Param("date_from", "string", "ISO 8601 datetime to only consider emails after this date"),
        Param("date_to", "string", "ISO 8601 datetime to only consider emails before this date"))),
    Tool("categorize_emails",
      "Categorize recent emails into predefined categories.",
      List(
        Param("limit", "integer", "Number of recent emails to categorize (1-50)", default = Some(JInt(10))))),
    Tool("extract_action_items",
      "Extract action items from recent emails.",
      List(
        Param("days", "integer", "Extract actions from emails in the last N days (1-90)", default = Some(JInt(7))),
        Param("limit", "integer", "Maximum number of emails to process (1-100)", default = Some(JInt(50))))),
    Tool("import_emails",
      "Import emails from the provider. The provider here is a directory of raw messages: pass its path as `query` (the reference's Gmail search query; live OAuth ingest is environment-excluded).",
      List(
        Param("query", "string", "Inbox directory path to import (provider-source substitution for the reference's Gmail search query)", default = Some(JString(""))),
        Param("max_results", "integer", "Maximum number of emails to import"))),
    Tool("sync_emails",
      "Perform incremental sync to import only new emails since last import.",
      List(
        Param("inbox_dir", "string", "Inbox directory to sync from (the reference's tool is parameterless because its OAuth session is ambient; the directory provider reads this, falling back to the server's configured default inbox so a reference-conformant parameterless call still works)"))),
    Tool("get_email_by_id",
      "Retrieve a specific email by its database ID, including full content and metadata.",
      List(
        Param("email_id", "integer", "Database ID of the email to retrieve", required = true),
        Param("include_attachments", "boolean", "Whether to include attachment metadata", default = Some(JBool(true))))),
    Tool("get_system_status",
      "Get current system status including database statistics and storage information.",
      Nil),
    Tool("summarize_thread",
      "Generate a summary of an email thread including participants, decisions, and action items.",
      List(
        Param("thread_id", "string", "Thread ID to summarize", required = true))),
    Tool("analyze_email_patterns",
      "Analyze email patterns to generate insights about communication habits and trends.",
      List(
        Param("days", "integer", "Analyze emails from the last N days (1-365)", default = Some(JInt(30))),
        Param("group_by", "string", "How to group analysis: 'sender', 'domain', 'label', 'day', 'week'",
          default = Some(JString("sender")),
          allowed = Some(List("sender", "domain", "label", "day", "week"))))),
    // Beyond-reference curation front doors (VERDICT r12 #6): the URL and
    // tokenizer families were registry-only; these expose them with the
    // same bounds discipline as every other tool (hard per-call caps,
    // row-local evaluation — EmailEtlApi.urlScreen/tokenizerAudit).
    Tool("url_screen",
      "Screen a batch of raw URLs: canonicalize (case/www/default ports/trailing slash/fragments/utm_* strip/param sort), evaluate the RefinedWeb-style quality gate, and mark within-batch canonical duplicates (keep-first). Bounded to 10000 URLs per call; corpus-sized screens run as batch operators.",
      List(
        Param("urls", "array", "Raw URLs to screen (1-10000 strings)", required = true))),
    Tool("tokenizer_audit",
      "Audit tokenization of the given texts: whitespace/BPE-regex/chars-per-4 token counts plus the unigram-LM Viterbi fertility (pieces per word) and integer cost per character under the fixed piece table. Bounded to 1000 texts per call; corpus-sized audits run as batch operators.",
      List(
        Param("texts", "array", "Texts to audit (1-1000 strings)", required = true))))

  /** The GET /mcp/tools body (server.py:507-513 shape). */
  def definitions: JValue = {
    def paramJson(p: Param): JValue = JObject(
      List[JField](
        "name" -> JString(p.name),
        "type" -> JString(p.typ),
        "description" -> JString(p.description),
        "required" -> JBool(p.required),
        "default" -> p.default.getOrElse(JNull)) ++
        p.allowed.map(e => "enum" -> (JArray(e.map(JString(_))): JValue)).toList)
    JObject(
      "server" -> serverInfo,
      "tools" -> JArray(tools.map { t =>
        JObject(
          "name" -> JString(t.name),
          "description" -> JString(t.description),
          "parameters" -> JArray(t.params.map(paramJson)))
      }))
  }

  final case class McpError(msg: String) extends RuntimeException(msg)

  private def jsonTypeName(v: JValue): String = v match {
    case _: JString => "string"
    case _: JInt | _: JLong | _: JDouble | _: JDecimal => "number"
    case _: JBool => "boolean"
    case _: JArray => "array"
    case _: JObject => "object"
    case _ => "null"
  }

  /** validate_mcp_parameters semantics (mcp_tools.py:242-269): required
    * check, defaults applied, unknown params dropped — plus enum AND
    * declared-type enforcement, so an invalid choice or a type-invalid
    * value (`"email_id": "abc"`, a string `limit`) is a tool-level 400
    * (McpError), not a downstream json4s MappingException surfacing as a
    * 500 — and never a silently-applied default. */
  private def cleaned(tool: Tool, params: JValue): Map[String, JValue] =
    tool.params.flatMap { p =>
      (params \ p.name) match {
        case JNothing | JNull =>
          if (p.required) throw McpError(
            s"Required parameter '${p.name}' missing for tool '${tool.name}'")
          p.default.map(p.name -> _)
        case v =>
          val typeOk = p.typ match {
            case "string"  => v.isInstanceOf[JString]
            case "boolean" => v.isInstanceOf[JBool]
            case "integer" => v match {
              case _: JInt | _: JLong => true
              case JDouble(d)         => d.isWhole
              case JDecimal(d)        => d.isWhole
              case _                  => false
            }
            case "array" => v.isInstanceOf[JArray]
            case _ => true
          }
          if (!typeOk) throw McpError(
            s"Parameter '${p.name}' for tool '${tool.name}' must be of type " +
              s"${p.typ}, got ${jsonTypeName(v)}")
          p.allowed.foreach { allowed =>
            val s = v.extractOpt[String].getOrElse("")
            if (!allowed.contains(s)) throw McpError(
              s"Parameter '${p.name}' for tool '${tool.name}' must be one of " +
                allowed.mkString("[", ", ", "]") + s", got '$s'")
          }
          Some(p.name -> v)
      }
    }.toMap

  /** Execute one tool call against the engine. Row payloads serialize via
    * Spark's toJSON, as in [[RestServer]]. */
  def dispatch(api: EmailEtlApi, toolName: String, params: JValue,
      defaultInboxDir: Option[String] = None): JValue = {
    val tool = tools.find(_.name == toolName)
      .getOrElse(throw McpError(s"MCP tool '$toolName' not found"))
    val p = cleaned(tool, params)
    def int(n: String, d: Int): Int = p.get(n).flatMap(_.extractOpt[Int]).getOrElse(d)
    def str(n: String): String = p(n).extract[String]
    def bool(n: String, d: Boolean): Boolean =
      p.get(n).flatMap(_.extractOpt[Boolean]).getOrElse(d)
    def tsOf(n: String): Option[java.sql.Timestamp] =
      p.get(n).flatMap { v =>
        try Json.timestamp(v)
        catch { case e: IllegalArgumentException => throw McpError(e.getMessage) }
      }
    def rows(df: org.apache.spark.sql.DataFrame): JValue = JArray(Json.rows(df).toList)
    toolName match {
      case "search_emails" =>
        val filters = graft.search.SearchFilters(
          dateFrom = tsOf("date_from"), dateTo = tsOf("date_to"))
        rows(api.searchSemantic(str("query"), int("limit", 10), filters,
          graft.search.EmailSearch.RankedColumns ++
            (if (bool("include_content", d = false)) Seq("body_plain") else Nil)))
      case "ask_email_question" =>
        val (answer, sources) = api.ask(str("question"), int("context_limit", 5))
        JObject("answer" -> JString(answer),
          "sources" -> JArray(sources.map(s => JString(s.messageId)).toList),
          "context_email_count" -> JInt(sources.size))
      case "categorize_emails" =>
        rows(api.categorize(int("limit", 10)))
      case "extract_action_items" =>
        rows(api.extractActions(int("days", 7), int("limit", 50)))
      case "get_email_by_id" =>
        val id = p("email_id").extract[Long]
        val email = rows(api.emailById(id))
        if (email == JArray(Nil)) throw McpError(s"email $id not found")
        val atts =
          if (p.get("include_attachments").flatMap(_.extractOpt[Boolean]).getOrElse(true))
            rows(api.attachments.filter(col("email_id") === id))
          else JArray(Nil)
        JObject("email" -> email.asInstanceOf[JArray].arr.head, "attachments" -> atts)
      case "get_system_status" =>
        JObject(
          "database" -> rows(api.status()).asInstanceOf[JArray].arr.headOption.getOrElse(JObject()),
          "providers" -> rows(api.providerStats()))
      case "summarize_thread" =>
        rows(api.summarizeThread(str("thread_id")))
      case "analyze_email_patterns" =>
        rows(api.patterns(p.get("group_by").flatMap(_.extractOpt[String]).getOrElse("sender"),
          int("days", 30)))
      case "import_emails" =>
        // Reference parity (ADVICE r7): a client sending the reference's
        // default empty query (or no parameter at all) falls through to
        // the server's configured inbox — the directory provider's
        // analog of the reference's ambient OAuth session.
        val dir = p.get("query").flatMap(_.extractOpt[String])
          .filter(_.nonEmpty).orElse(defaultInboxDir).getOrElse(throw McpError(
            "tool 'import_emails': pass the inbox DIRECTORY path as 'query' — " +
              "the provider here is a directory of raw messages (live OAuth " +
              "ingest is environment-excluded; same substitution as " +
              "POST /api/emails/import's inbox_dir) — or configure a " +
              "default inbox on the server"))
        importStatusJson(api.importFull(dir,
          p.get("max_results").flatMap(_.extractOpt[Int])))
      case "sync_emails" =>
        val dir = p.get("inbox_dir").flatMap(_.extractOpt[String])
          .filter(_.nonEmpty).orElse(defaultInboxDir).getOrElse(throw McpError(
            "tool 'sync_emails': no inbox_dir given and no default inbox " +
              "configured on the server (the reference's parameterless form " +
              "works when the server is started with a default inbox)"))
        importStatusJson(api.syncIncremental(dir))
      case "url_screen" =>
        rows(bounded(api.urlScreen(strings(p("urls"), "urls", toolName))))
      case "tokenizer_audit" =>
        rows(bounded(api.tokenizerAudit(strings(p("texts"), "texts", toolName))))
    }
  }

  /** A validated string array param; non-string elements are a tool-level
    * 400, like every other type violation above. */
  private def strings(v: JValue, name: String, tool: String): Seq[String] =
    v.asInstanceOf[JArray].arr.map {
      case JString(s) => s
      case other => throw McpError(
        s"Parameter '$name' for tool '$tool' must contain only strings, " +
          s"got ${jsonTypeName(other)}")
    }

  /** Per-call bound violations (EmailEtlApi's require) surface as the
    * tool-level 400, not a 500 — but ONLY the two known caller-mistake
    * shapes. Any other IllegalArgumentException raised while building the
    * plan is a server bug and must surface as a 500, not be misreported
    * as a caller error with an internal message leaked as the detail. */
  private def bounded(df: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    try df catch {
      case e: IllegalArgumentException
          if e.getMessage != null &&
            (e.getMessage.contains("pass at least one") ||
              e.getMessage.contains("-per-call bound")) =>
        throw McpError(e.getMessage)
    }

  /** The ImportStatus shape (reference: src/api/models.py:224-233), as the
    * synchronous tools/call result — status is always "completed" here
    * because dispatch blocks on the ingest (a thrown error becomes the
    * tool-level McpError 400 instead of a "failed" row). */
  private def importStatusJson(s: Map[String, Long]): JObject = JObject(
    ("status" -> (JString("completed"): JValue)) ::
      List("total_found", "processed", "failed", "skipped",
        "attachments_processed", "attachments_rejected")
        .map(k => k -> (JInt(BigInt(s.getOrElse(k, 0L))): JValue)))
}
