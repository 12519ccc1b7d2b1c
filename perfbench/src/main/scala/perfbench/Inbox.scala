package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, Locale}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Seeded raw-inbox generator following the FIXTURES.md §1 contract: one
  * Gmail `messages.get(format='full')` JSON object per line, with nested
  * multipart trees, plain/html/both/neither bodies, safe and unsafe
  * attachments, exact duplicate lines, malformed lines, RFC-2822 dates
  * in several spellings spread across months, and planted "needle"
  * messages that the search sessions look for.
  *
  * The generator keeps what it wrote, so [[Truth]] can say what an
  * import of any prefix of the files must report. */
object Inbox {

  /** One generated message as the engine should see it after parsing. */
  final case class Msg(
      id: String,
      date: Option[Instant],   // None: a Date header no fallback parses
      hasBody: Boolean,        // plain or html text present
      safeAtts: Int,
      unsafeAtts: Int,
      line: String)

  /** One inbox file: its messages (duplicates included once) and the
    * counts of lines the engine cannot attribute to a message. */
  final case class InboxFile(name: String, msgs: Seq[Msg], dups: Seq[Msg],
      malformedLines: Int, truncatedWithId: Int, lines: Seq[String]) {
    /** One entry per line that holds a message, duplicates included. */
    def msgLines: Seq[Msg] = msgs ++ dups
    def bytes: Long = lines.map(_.getBytes(UTF_8).length + 1L).sum
  }

  /** A planted message and the search query whose top-1 hit it must be. */
  final case class Needle(messageId: String, query: String)

  private val words = Vector(
    "budget", "meeting", "review", "project", "invoice", "travel", "schedule",
    "report", "update", "contract", "design", "launch", "customer", "team",
    "release", "planning", "summary", "quarter", "forecast", "hiring",
    "offsite", "agenda", "feedback", "roadmap", "metrics", "pipeline",
    "vendor", "payment", "renewal", "security", "training", "deadline",
    "proposal", "approval", "shipping", "order", "support", "ticket",
    "incident", "outage", "migration", "database", "network", "server",
    "backup", "audit", "policy", "benefits", "payroll", "expense")
  def vocabulary: Int = words.size
  def wordAt(i: Int): String = words(i)

  private val people = Vector(
    "Alice Martin", "Bob Chen", "Carol Diaz", "Dan Evans", "Erin Fox",
    "Frank Gupta", "Grace Hall", "Henry Ito", "Iris Jones", "Jack Kim")
  private val domains = Vector("example.com", "corp.test", "mail.test", "shop.test")
  private val labelPool = Vector("INBOX", "IMPORTANT", "UNREAD", "SENT",
    "CATEGORY_UPDATES", "CATEGORY_PROMOTIONS", "Label_1", "Label_2")
  private val rfc = DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss Z", Locale.US)
  private val rfcNoDay = DateTimeFormatter.ofPattern("dd MMM yyyy HH:mm:ss Z", Locale.US)
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX", Locale.US)

  private def b64(s: String): String = b64(s.getBytes(UTF_8))
  private def b64(b: Array[Byte]): String = Base64.getUrlEncoder.encodeToString(b)

  // magic-number payloads the engine's MIME sniffer recognises
  private val pdfBytes = "%PDF-1.4\n% perfbench attachment\n".getBytes(UTF_8)
  private val pngBytes = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3)
  private val exeBytes = Array[Byte](0x4d, 0x5a, 0x90.toByte, 0, 3, 0, 0, 0)

  /** A generator bound to one seed. `prefix` keeps message ids of
    * different inboxes in one store apart. */
  final class Gen(seed: Long, prefix: String) {
    private val rnd = new scala.util.Random(seed)
    private var counter = 0

    private def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.size))
    private def sentence(n: Int): String =
      Seq.fill(n)(pick(words)).mkString(" ")

    private def header(name: String, value: String): JValue =
      JObject("name" -> JString(name), "value" -> JString(value))

    private def textPart(partId: String, mime: String, text: String): JValue =
      JObject("partId" -> JString(partId), "mimeType" -> JString(mime),
        "filename" -> JString(""), "headers" -> JArray(Nil),
        "body" -> JObject("data" -> JString(b64(text)),
          "size" -> JInt(text.length)))

    private def attPart(partId: String, safe: Boolean): JValue = {
      val (file, mime, bytes) =
        if (safe) {
          if (rnd.nextBoolean()) (s"report-${rnd.nextInt(1000)}.pdf", "application/pdf", pdfBytes)
          else (s"photo-${rnd.nextInt(1000)}.png", "image/png", pngBytes)
        } else (s"setup-${rnd.nextInt(1000)}.exe", "application/x-msdownload", exeBytes)
      JObject("partId" -> JString(partId), "mimeType" -> JString(mime),
        "filename" -> JString(file), "headers" -> JArray(Nil),
        "body" -> JObject("data" -> JString(b64(bytes)),
          "size" -> JInt(bytes.length), "attachmentId" -> JString(s"att-$partId")))
    }

    /** The Date header, in one of the spellings the engine's fallback
      * chain accepts (or, when `broken`, in none of them). */
    private def dateHeader(t: Instant, broken: Boolean): String =
      if (broken) "sometime last week"
      else rnd.nextInt(5) match {
        case 0 => rfc.format(t.atOffset(ZoneOffset.ofHours(2)))
        case 1 => rfcNoDay.format(t.atOffset(ZoneOffset.UTC))
        case 2 => rfc.format(t.atOffset(ZoneOffset.UTC)) + " (UTC)"
        case 3 => iso.format(t.atOffset(ZoneOffset.ofHours(-5)))
        case _ => rfc.format(t.atOffset(ZoneOffset.UTC))
      }

    /** One message dated `t`. `subjectText`/`bodyText` override the
      * random text (needles); `brokenDate` writes an unparseable header. */
    def message(t: Instant, subjectText: Option[String] = None,
        bodyText: Option[String] = None, brokenDate: Boolean = false): Msg = {
      counter += 1
      val id = f"$prefix%s-${seed & 0xffff}%04x-$counter%06d"
      val subject = subjectText.getOrElse(sentence(3 + rnd.nextInt(4)))
      val text = bodyText.getOrElse(
        Seq.fill(2 + rnd.nextInt(4))(sentence(6 + rnd.nextInt(10))).mkString(". ") + ".")
      val html = s"<html><body><p>${text.replace(". ", ".</p><p>")}</p></body></html>"
      val from = pick(people)
      val to = Seq.fill(1 + rnd.nextInt(7))(s"user${rnd.nextInt(50)}@${pick(domains)}")
      // needles are plain text so their ranking never depends on markup
      val kind = if (subjectText.isDefined) 0 else rnd.nextInt(5)
      val nAtt = if (subjectText.isDefined) 0 else rnd.nextInt(6) match {
        case 0 | 1 => 1
        case 2 => 2
        case _ => 0
      }
      val atts = (0 until nAtt).map(_ => rnd.nextInt(4) != 0)
      val headers = JArray(List(
        header("From", s"$from <${from.toLowerCase(Locale.US).replace(' ', '.')}@${pick(domains)}>"),
        header("To", to.mkString(", ")),
        header("Subject", subject),
        header("Date", dateHeader(t, brokenDate))) ++
        (if (rnd.nextInt(3) == 0) List(header("Cc", s"cc${rnd.nextInt(9)}@${pick(domains)}")) else Nil))
      val attParts = atts.zipWithIndex.map { case (s, i) => attPart(s"2.$i", s) }.toList
      val alt = JObject("partId" -> JString("1"), "mimeType" -> JString("multipart/alternative"),
        "filename" -> JString(""), "headers" -> JArray(Nil),
        "body" -> JObject("size" -> JInt(0)),
        "parts" -> JArray(List(textPart("1.0", "text/plain", text),
          textPart("1.1", "text/html", html))))
      // body kinds: 0 plain, 1 html, 2 both (alternative), 3 nested
      // mixed → alternative → text, 4 neither (attachments only)
      val (payload, hasBody) = kind match {
        case 0 if attParts.isEmpty =>
          (JObject("partId" -> JString(""), "mimeType" -> JString("text/plain"),
            "filename" -> JString(""), "headers" -> headers,
            "body" -> JObject("data" -> JString(b64(text)), "size" -> JInt(text.length))), true)
        case 1 if attParts.isEmpty =>
          (JObject("partId" -> JString(""), "mimeType" -> JString("text/html"),
            "filename" -> JString(""), "headers" -> headers,
            "body" -> JObject("data" -> JString(b64(html)), "size" -> JInt(html.length))), true)
        case 2 if attParts.isEmpty =>
          (alt.merge(JObject("partId" -> JString(""), "headers" -> headers)), true)
        case 4 =>
          (JObject("partId" -> JString(""), "mimeType" -> JString("multipart/mixed"),
            "filename" -> JString(""), "headers" -> headers,
            "body" -> JObject("size" -> JInt(0)),
            "parts" -> JArray(attParts)), false)
        case _ =>
          (JObject("partId" -> JString(""), "mimeType" -> JString("multipart/mixed"),
            "filename" -> JString(""), "headers" -> headers,
            "body" -> JObject("size" -> JInt(0)),
            "parts" -> JArray(alt :: attParts)), true)
      }
      val labels = labelPool.filter(_ => rnd.nextInt(3) == 0).toList
      val json = JObject(
        "id" -> JString(id),
        "threadId" -> JString(f"t-${rnd.nextInt(200)}%04d"),
        "labelIds" -> JArray(labels.map(JString(_))),
        "snippet" -> JString(text.take(60)),
        "sizeEstimate" -> JInt(text.length * 2 + 400),
        "historyId" -> JString((100000 + counter).toString),
        "payload" -> payload)
      Msg(id, if (brokenDate) None else Some(t), hasBody,
        atts.count(identity), atts.count(!_), JsonMethods.compact(JsonMethods.render(json)))
    }

    // the first is cut off after its id: valid JSON up to the cut
    private val malformed = Vector(
      """{"id": "broken-json", "payload": {""",
      """not a json line at all""",
      """{"threadId": "t-0000", "snippet": "no id field"}""")

    /** `n` messages dated in [from, from + spanSeconds), strictly
      * increasing, with `dups` exact duplicate lines, `bad` malformed
      * lines and `brokenDates` messages whose Date header cannot be
      * parsed. The newest message is never broken, so the store's
      * latest date is always the last generated date. */
    def file(name: String, n: Int, from: Instant, spanSeconds: Long,
        dups: Int, bad: Int, brokenDates: Int = 0,
        needles: Seq[(String, String)] = Nil): InboxFile = {
      val step = math.max(1L, spanSeconds / (n + 1))
      val needleAt = needles.indices.map(i => (i + 1) * n / (needles.size + 1)).toSet
      var ni = 0
      val msgs = (0 until n).map { i =>
        val t = from.plusSeconds(step * (i + 1) - rnd.nextLong(math.max(1L, step / 2)))
        if (needleAt(i) && ni < needles.size) {
          val (subj, body) = needles(ni); ni += 1
          message(t, Some(subj), Some(body))
        } else message(t, brokenDate = i < brokenDates)
      }
      val dupMsgs = (0 until dups).map(_ => msgs(rnd.nextInt(msgs.size - 1)))
      val badLines = (0 until bad).map(i => malformed(i % malformed.size))
      val lines = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle(msgs.map(_.line) ++ dupMsgs.map(_.line) ++ badLines)
      InboxFile(name, msgs, dupMsgs, bad, badLines.count(_.startsWith("{\"id\"")), lines)
    }
  }

  /** Needle subjects and bodies: made-up terms that appear in no other
    * message, repeated so the text rank dominates the hybrid score. */
  def needleTexts(seed: Long, n: Int): Seq[(String, String, String)] = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val syll = Vector("zor", "vex", "quil", "thar", "plin", "mok", "sarv", "drel", "yth", "kov")
    def term(): String = Seq.fill(3)(syll(rnd.nextInt(syll.size))).mkString
    (0 until n).map { _ =>
      val a = term(); val b = term()
      (s"$a $b $a", s"The $a review covers $b and $a. Notes on $b: $a $b.", s"$a $b")
    }
  }

  def write(dir: java.nio.file.Path, f: InboxFile): Unit = {
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(f.name),
      (f.lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

/** What an import of the inbox files written so far must report, by the
  * engine's own rules: a full import takes every parseable message; a
  * sync takes those dated at or after the store's latest date, and the
  * re-read boundary messages count as skipped. */
final class Truth {
  private val store = scala.collection.mutable.Map[String, Inbox.Msg]()
  private var malformed = 0L
  private var truncatedWithId = 0L
  private var embedded = Set.empty[String] // ids whose embedding is set

  def storeRows: Long = store.size.toLong
  def latest: Option[Instant] = store.values.flatMap(_.date).maxOption

  /** Account for `f` being added to the inbox, then for an import of the
    * whole inbox; returns the expected ImportStatus counters. */
  def importFile(f: Inbox.InboxFile, allInbox: Seq[Inbox.InboxFile],
      full: Boolean): Expected = {
    malformed += f.malformedLines
    truncatedWithId += f.truncatedWithId
    val since = if (full || store.isEmpty) None else latest
    val lines = allInbox.flatMap(_.msgLines)
      .filter(m => since.forall(s => m.date.exists(d => !d.isBefore(s))))
    val incoming = lines.groupBy(_.id).values.map(_.head).toSeq
    val fresh = incoming.filterNot(m => store.contains(m.id))
    val skipped = (incoming.size - fresh.size).toLong
    incoming.foreach(m => store(m.id) = m)
    // a merged row carries the incoming (null) embedding; the backlog
    // pass then embeds at most one page of rows that have text
    embedded --= incoming.map(_.id)
    val backlog = store.values.filter(m => m.hasBody && !embedded(m.id)).toSeq
      .sortBy(m => -m.date.map(_.toEpochMilli).getOrElse(Long.MinValue + 1))
    val page = backlog.take(graft.model.Schemas.EmbeddingBacklogPage)
    embedded ++= page.map(_.id)
    Expected(Map(
      "total_found" -> incoming.size.toLong,
      "processed" -> (incoming.size - skipped),
      "skipped" -> skipped,
      "embedded" -> page.size.toLong,
      "total" -> store.size.toLong),
      // the reference counts every malformed line; the engine at this
      // commit misses a truncated line whose `id` parsed (see README)
      failed = Set(malformed, malformed - truncatedWithId),
      // the reference processes each new message's attachments once;
      // the engine at this commit counts every raw line of every
      // incoming message, duplicates and re-read boundary messages too
      attachments = Set(
        (fresh.map(_.safeAtts).sum.toLong, fresh.map(_.unsafeAtts).sum.toLong),
        (lines.map(_.safeAtts).sum.toLong, lines.map(_.unsafeAtts).sum.toLong)))
  }
}

/** The ImportStatus an import must return: `exact` counters, plus the
  * accepted values of the counters where the engine and the reference
  * count differently. */
final case class Expected(exact: Map[String, Long], failed: Set[Long],
    attachments: Set[(Long, Long)]) {
  def diff(got: Map[String, Long]): Option[String] = {
    def g(k: String) = got.getOrElse(k, -1L)
    val bad = exact.toSeq.sortBy(_._1).filter { case (k, v) => g(k) != v }
      .map { case (k, v) => s"$k=${g(k)} want $v" } ++
      (if (failed(g("failed"))) Nil else Seq(s"failed=${g("failed")} want one of ${failed.mkString("/")}")) ++
      (if (attachments((g("attachments_processed"), g("attachments_rejected")))) Nil
       else Seq(s"attachments=${g("attachments_processed")}/${g("attachments_rejected")} " +
         s"want one of ${attachments.map(a => s"${a._1}/${a._2}").mkString(", ")}"))
    if (bad.isEmpty) None else Some(bad.mkString(", "))
  }
}
