package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant}
import graft.api.{EmailEtlApi, RestServer}
import graft.search.SearchFilters
import org.json4s._
import org.json4s.jackson.JsonMethods

/** `search_session` — the read path over REST. Set-up builds a store
  * (`importFull` of a generated inbox with planted needles) and starts
  * `RestServer` on an ephemeral localhost port. One client thread then
  * sends seeded sessions of related requests, each waiting for the
  * previous reply (closed loop, one client — the server has one
  * dispatch thread):
  *
  *  - five `/api/search/emails` searches around one topic: the topic, a
  *    refinement, the topic in a date window, a needle query and a
  *    second refinement;
  *  - one `/api/search/ask`, one `/api/urls/screen` of 20 URLs and one
  *    MCP `get_email_by_id` lookup. */
final class SearchWorkload(ctx: Ctx) {
  import SearchWorkload._
  implicit private val formats: Formats = DefaultFormats
  private val spark = ctx.spark
  private val tracer = ctx.tracer

  private def generate(seed: Long): (Inbox.InboxFile, Seq[Inbox.Needle]) = {
    val g = new Inbox.Gen(seed, "ss")
    val needles = Inbox.needleTexts(seed, Needles)
    val f = g.file("inbox.json", StoreMsgs, Start, 86400L * Days, dups = 10, bad = 5,
      needles = needles.map { case (s, b, _) => (s, b) })
    // needles are the messages whose subject is a needle subject
    val ids = needles.map { case (s, _, q) =>
      Inbox.Needle(f.msgs.find(_.line.contains("\"value\":\"" + s + "\"")).get.id, q)
    }
    (f, ids)
  }

  /** Builds the store the session reads. */
  private def setUp(i: Int): (EmailEtlApi, Inbox.InboxFile, Seq[Inbox.Needle], Map[String, Long]) = {
    val (f, needles) = generate(ctx.args.seed * 31 + i)
    val dir = ctx.resetDir(ctx.work.resolve(s"store-$i"))
    Inbox.write(dir.resolve("inbox"), f)
    val api = new EmailEtlApi(spark, dir.resolve("store").toString)
    val stats = api.importFull(dir.resolve("inbox").toString)
    (api, f, needles, stats)
  }

  def run(): Result = {
    var built: (EmailEtlApi, Inbox.InboxFile, Seq[Inbox.Needle], Map[String, Long]) = null
    val setups = (0 until SetUps).map { i =>
      val t0 = System.nanoTime()
      built = setUp(i)
      (System.nanoTime() - t0) / 1e9
    }
    val (api, inbox, needles, stats) = built
    // the store must hold what the generator wrote before it is searched
    ctx.op("store check")(stats)(new Truth().importFile(inbox, Seq(inbox), full = true).diff)
    val server = RestServer.start(api, port = 0, defaultInboxDir = None)
    val client = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    def post(path: String, body: JValue): JValue = {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .timeout(Duration.ofSeconds(60))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(JsonMethods.compact(JsonMethods.render(body))))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new IllegalStateException(s"HTTP ${resp.statusCode()} ${resp.body().take(200)}")
      JsonMethods.parse(resp.body())
    }

    val rnd = new scala.util.Random(ctx.args.seed)
    val dated = inbox.msgs.filter(_.date.isDefined)
    val searchMs, askMs, urlMs, lookupMs, allMs, directMs, overheadMs = Vector.newBuilder[Double]
    var searches = 0
    var request = 0L
    // the first session warms every request path and is not timed
    var timed = false
    def span[T](name: String, layer: String)(body: => T): T =
      tracer.span(if (timed) name else s"warmup.$name", layer, request)(body)
    def record(b: scala.collection.mutable.Builder[Double, Vector[Double]], ms: Double): Unit =
      if (timed) { b += ms; allMs += ms }
    try {
      def search(query: String, window: Option[(Instant, Instant)],
          want: Option[String]): Unit = {
        request += 1
        val body = JObject(List("query" -> JString(query), "limit" -> JInt(Limit)) ++
          window.toList.flatMap { case (a, b) =>
            List("date_from" -> JString(a.toString), "date_to" -> JString(b.toString))
          })
        val (ms, _) = ctx.op("search") {
          span("rest.search", "api")(post("/api/search/emails", body))
        } { r =>
          val ids = (r \ "results").children.map(x => (x \ "message_id").extract[String])
          if (ids.size > Limit) Some(s"'$query' returned ${ids.size} > $Limit rows")
          else want.filterNot(ids.headOption.contains).map(w =>
            s"needle '$query' top-1 was ${ids.headOption.getOrElse("nothing")}, want $w")
        }
        record(searchMs, ms)
        if (timed) searches += 1
        if (timed && tracer.enabled) {
          val filters = SearchFilters(window.map(w => java.sql.Timestamp.from(w._1)),
            window.map(w => java.sql.Timestamp.from(w._2)))
          val d0 = System.nanoTime()
          val n = tracer.span("direct.search", "search", request) {
            api.searchSemantic(query, Limit, filters).collect().length
          }
          val dms = (System.nanoTime() - d0) / 1e6
          directMs += dms; overheadMs += ms - dms
          tracer.allSpans.lastOption.filter(_.name == "direct.search")
            .foreach(s => s.counts("results") = n.toDouble)
        }
      }
      def window(around: Option[Instant]): (Instant, Instant) = {
        val c = around.getOrElse(dated(rnd.nextInt(dated.size)).date.get)
        (c.minusSeconds(86400L * (5 + rnd.nextInt(20))), c.plusSeconds(86400L * (5 + rnd.nextInt(20))))
      }

      var session = 0
      def runSession(): Unit = {
        val w = Seq.fill(4)(Inbox.wordAt(rnd.nextInt(Inbox.vocabulary)))
        val needle = needles(session % needles.size)
        val needleMsg = inbox.msgs.find(_.id == needle.messageId).get
        search(s"${w(0)} ${w(1)}", None, None)
        search(s"${w(0)} ${w(1)} ${w(2)}", None, None)
        search(s"${w(0)} ${w(1)}", Some(window(None)), None)
        search(needle.query, if (rnd.nextBoolean()) Some(window(needleMsg.date)) else None,
          Some(needle.messageId))
        search(s"${w(1)} ${w(3)}", None, None)

        request += 1
        val (ams, _) = ctx.op("ask") {
          span("rest.ask", "api")(post("/api/search/ask",
            JObject("question" -> JString(s"What is the status of the ${w(0)} ${w(1)}?"),
              "context_limit" -> JInt(5))))
        }(r => Some((r \ "context_email_count").extract[Int]).filter(_ != 5)
          .map(n => s"ask used $n context emails, want 5"))
        record(askMs, ams)

        request += 1
        val urls = (0 until UrlsPerScreen).map(_ => url(rnd))
        val (ums, _) = ctx.op("url_screen") {
          span("rest.url_screen", "api")(post("/api/urls/screen",
            JObject("urls" -> JArray(urls.map(JString(_)).toList))))
        }(r => Some((r \ "total").extract[Int]).filter(_ != UrlsPerScreen)
          .map(n => s"url screen returned $n rows, want $UrlsPerScreen"))
        record(urlMs, ums)

        request += 1
        val target = inbox.msgs(rnd.nextInt(inbox.msgs.size))
        val (lms, _) = ctx.op("lookup") {
          span("rest.lookup", "api")(post("/mcp/call",
            JObject("tool" -> JString("get_email_by_id"), "parameters" -> JObject(
              "email_id" -> JLong(IngestWorkload.surrogate(target.id)),
              "include_attachments" -> JBool(true)))))
        }(r => Some((r \ "result" \ "email" \ "message_id").extractOpt[String])
          .filter(!_.contains(target.id)).map(g => s"lookup of ${target.id} returned $g"))
        record(lookupMs, lms)
        session += 1
      }
      runSession()
      timed = true
      val deadline = ctx.deadline(System.nanoTime())
      while (System.nanoTime() < deadline || searches < MinSearches) runSession()
    } finally server.stop(0)

    val metrics: Seq[(String, Double, String)] =
      if (!tracer.enabled) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("p50_ms", Stats.median(searchMs.result()), "ms"),
        ("mix_ms", Stats.mix(Seq(searchMs.result(), askMs.result(), urlMs.result(),
          lookupMs.result())), "ms"))
      else {
        val t = tracer
        t.drain()
        val direct = t.allSpans.filter(_.name == "direct.search")
        val examined = direct.map { s =>
          val rows = t.queriesUnder(s).flatMap(_.scans).filter(s => Layers.storeScan(s._1)).map(_._3).sum
          rows / math.max(1.0, s.counts.getOrElse("results", 1.0))
        }
        val lookups = t.allSpans.filter(_.name == "rest.lookup")
        val byIdRows = lookups.flatMap(s => t.queriesUnder(s).map(q =>
          q.scans.filter(_._1.contains("/store/emails")).map(_._3).sum.toDouble)).filter(_ > 0)
        val screens = t.allSpans.filter(_.name == "rest.url_screen")
        Layers.complete(
          Layers.common(ctx, searchMs.result(), allMs.result(),
            Set("rest.search", "rest.ask", "rest.url_screen", "rest.lookup")) ++ Seq(
            ("api.rest.search_p50_ms", Stats.median(searchMs.result()), "ms"),
            ("api.rest.search_p90_ms", Stats.quantile(searchMs.result(), 0.9), "ms"),
            ("api.rest.ask_p50_ms", Stats.median(askMs.result()), "ms"),
            ("api.rest.url_screen_p50_ms", Stats.median(urlMs.result()), "ms"),
            ("api.rest.lookup_p50_ms", Stats.median(lookupMs.result()), "ms"),
            ("api.rest.overhead_ms", Stats.median(overheadMs.result()), "ms"),
            ("search.hybrid.ms", Stats.median(directMs.result()), "ms"),
            ("search.hybrid.rows_examined_per_result", Stats.median(examined), "ratio"),
            ("search.byid.rows_examined", Stats.median(byIdRows), "count"),
            ("api.url_screen.plan_nodes", Stats.median(screens.flatMap(s =>
              t.queriesUnder(s).map(_.planNodes.toDouble))), "count")) ++
            RegistryProbe.run(ctx))
      }
    Result(ctx.attempted, ctx.failureList.size, metrics,
      Seq("store_messages" -> StoreMsgs.toLong, "needles" -> Needles.toLong,
        "searches" -> searches.toLong, "requests" -> request,
        "urls_per_screen" -> UrlsPerScreen.toLong, "setups" -> SetUps.toLong),
      ctx.failureList,
      detail = Seq(
        "search_p50_ms" -> Stats.median(searchMs.result()),
        "search_p90_ms" -> Stats.quantile(searchMs.result(), 0.9),
        "ask_p50_ms" -> Stats.median(askMs.result()),
        "url_screen_p50_ms" -> Stats.median(urlMs.result()),
        "lookup_p50_ms" -> Stats.median(lookupMs.result()),
        "searches" -> searches.toDouble),
      samples = Seq("setup_s" -> setups, "search_ms" -> searchMs.result(),
        "ask_ms" -> askMs.result(), "url_screen_ms" -> urlMs.result(),
        "lookup_ms" -> lookupMs.result()))
  }
}

object SearchWorkload {
  val StoreMsgs = 400
  val Days = 150
  val Needles = 10
  val Limit = 10
  val UrlsPerScreen = 20
  val MinSearches = 15
  val SetUps = 3
  val Start: Instant = Instant.parse("2024-01-01T00:00:00Z")

  private val hosts = Vector("www.Example.com", "news.example.org", "shop.test",
    "blog.example.net:8080", "EXAMPLE.com.", "m.example.com")
  private val params = Vector("utm_source=mail", "id=42", "sessionid=abc123",
    "page=2", "ref=home", "q=spark+sql", "fbclid=xyz")

  /** A raw URL with the quirks a canonicalizer undoes: case, default
    * ports, tracking parameters, fragments, dot segments. */
  def url(rnd: scala.util.Random): String = {
    val scheme = if (rnd.nextInt(4) == 0) "http" else "https"
    val path = Seq.fill(1 + rnd.nextInt(3))(Inbox.wordAt(rnd.nextInt(Inbox.vocabulary)))
      .mkString("/") + (if (rnd.nextInt(3) == 0) "/../index.html" else "")
    val q = Seq.fill(rnd.nextInt(3))(params(rnd.nextInt(params.size))).mkString("&")
    val frag = if (rnd.nextInt(4) == 0) "#section-" + rnd.nextInt(9) else ""
    s"$scheme://${hosts(rnd.nextInt(hosts.size))}/$path${if (q.nonEmpty) "?" + q else ""}$frag"
  }
}
