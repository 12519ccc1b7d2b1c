package graft.functions

import graft.model.Schemas
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SURVEY §2 F — the reference's scalar-function surface re-expressed as
  * pure `Column` transformations (codegen'd built-ins throughout; zero
  * UDFs on the hot path). Each function cites the reference behavior it
  * reproduces.
  */
object EmailFunctions {

  // ---------------------------------------------------------------- F1, F19

  /** F1: searchable document text — subject+body+sender concatenated with
    * empty-string coalescing (reference: scripts/init_db.sql:122-124). */
  def docText(subject: Column, bodyPlain: Column, senderName: Column): Column =
    concat_ws(" ",
      coalesce(subject, lit("")),
      coalesce(bodyPlain, lit("")),
      coalesce(senderName, lit("")))

  /** F19: embedding-input assembly (reference: src/embeddings.py:109-149):
    * header lines, first-5 recipients, body capped at 10k chars, labels
    * minus INBOX/SENT/UNREAD. */
  def embeddingText(
      subject: Column, senderName: Column, sender: Column,
      recipients: Column, date: Column, body: Column, labels: Column): Column = {
    val keptLabels = filter(coalesce(labels, array()),
      l => !upper(l).isin(Schemas.ExcludedLabels.map(lit(_)): _*))
    concat_ws("\n",
      concat(lit("Subject: "), coalesce(subject, lit(""))),
      concat(lit("From: "), coalesce(senderName, lit("")),
        lit(" ("), coalesce(sender, lit("")), lit(")")),
      concat(lit("To: "),
        array_join(slice(coalesce(recipients, array()), 1, 5), ", ")),
      concat(lit("Date: "), coalesce(date_format(date, "yyyy-MM-dd"), lit(""))),
      lit(""),
      concat(lit("Content:\n"),
        substring(coalesce(body, lit("")), 1, Schemas.EmbedBodyChars)),
      when(size(keptLabels) > 0,
        concat(lit("Labels: "), array_join(keptLabels, ", ")))
        .otherwise(lit("")))
  }

  // ------------------------------------------------------------- F2–F4 (FTS)

  /** English stopwords (Snowball-derived subset) for the F2 pipeline. */
  val Stopwords: Seq[String] = Seq(
    "i", "me", "my", "we", "our", "you", "your", "he", "him", "his", "she",
    "her", "it", "its", "they", "them", "their", "what", "which", "who",
    "this", "that", "these", "those", "am", "is", "are", "was", "were",
    "be", "been", "being", "have", "has", "had", "do", "does", "did",
    "a", "an", "the", "and", "but", "if", "or", "because", "as", "until",
    "while", "of", "at", "by", "for", "with", "about", "against",
    "between", "into", "through", "during", "before", "after", "above",
    "below", "to", "from", "up", "down", "in", "out", "on", "off", "over",
    "under", "again", "then", "once", "here", "there", "when", "where",
    "why", "how", "all", "any", "both", "each", "few", "more", "most",
    "other", "some", "such", "no", "nor", "not", "only", "own", "same",
    "so", "than", "too", "very", "can", "will", "just", "should", "now")

  /** Suffix-stripping stem (s/es/ies, ed, ing) — a deliberately simplified,
    * fully-declarative stand-in for the Snowball stemmer inside Postgres's
    * `to_tsvector('english', ...)` (reference: scripts/init_db.sql:66-71).
    * Our rank spec is defined over THIS normalization (SURVEY §7 risk 1:
    * exact ts_rank fidelity is impossible cross-engine; ordering stability
    * is what the tests pin down). */
  def stemLite(tok: Column): Column = {
    // Pure length/suffix/substr ops (no regex): one branch evaluates per
    // token inside codegen, ~5× cheaper than rlike chains at corpus scale.
    val len = length(tok)
    def drop(n: Int): Column = tok.substr(lit(1), len - n)
    when(len > 5 && endswith(tok, lit("ies")), concat(drop(3), lit("y")))
      .when(len > 6 && endswith(tok, lit("sses")), drop(2))
      .when(len > 5 && endswith(tok, lit("ing")), drop(3))
      .when(len > 4 && endswith(tok, lit("ed")), drop(2))
      .when(len > 2 && endswith(tok, lit("s"))
        && !(endswith(tok, lit("ss")) || endswith(tok, lit("us")) || endswith(tok, lit("is"))),
        drop(1))
      .otherwise(tok)
  }

  /** F2: tsVector-equivalent token pipeline: lowercase → split on
    * non-alphanumeric → drop stopwords/empties → stem
    * (reference: scripts/init_db.sql:66-71 to_tsvector('english', ...)). */
  def tsTokens(text: Column): Column =
    transform(
      filter(split(lower(coalesce(text, lit(""))), "[^a-z0-9]+"),
        t => length(t) > 0 && !t.isin(Stopwords.map(lit(_)): _*)),
      stemLite(_))

  /** F3: plainto_tsquery-equivalent — same normalization applied to the
    * query string (reference: scripts/init_db.sql:126). `snowball = true`
    * runs the full Porter2 stemmer ([[Porter2]], the Postgres-fidelity
    * mode the search surface uses); default stays the SQL-expressible
    * stem-lite spec the oracle-checked registry rides. */
  def tsQueryTerms(queryText: String, snowball: Boolean = false): Seq[String] = {
    val stop = Stopwords.toSet
    queryText.toLowerCase.split("[^a-z0-9]+").toSeq
      .filter(t => t.nonEmpty && !stop(t))
      .map(t => if (snowball) Porter2.stem(t) else stemLiteScala(t))
  }

  /** Scala mirror of [[stemLite]] for driver-side query normalization. */
  private[graft] def stemLiteScala(t: String): String =
    if (t.length > 5 && t.endsWith("ies")) t.dropRight(3) + "y"
    else if (t.length > 6 && t.endsWith("sses")) t.dropRight(2)
    else if (t.length > 5 && t.endsWith("ing")) t.dropRight(3)
    else if (t.length > 4 && t.endsWith("ed")) t.dropRight(2)
    else if (t.length > 2 && t.endsWith("s")
      && !(t.endsWith("ss") || t.endsWith("us") || t.endsWith("is")))
      t.dropRight(1)
    else t

  /** F4: ts_rank-equivalent — rational-damped TF over the stemmed tokens,
    * averaged across query terms: Σ tf/(tf+1) / n (reference formula shape:
    * scripts/init_db.sql:120-127 log-damped TF; see
    * [[TextFunctions.tfRank]] for why division replaces log). */
  def tsRank(text: Column, queryText: String): Column =
    tsRankOnTokens(tsTokens(text), queryText)

  /** F4 over a pre-staged token array. Callers ranking many rows should
    * stage `tsTokens(text)` into its own projection first and pass the
    * column here: `tfRank` references the tokens once per query term, and
    * lambda subtrees are not common-subexpression-eliminated, so an
    * unstaged call re-tokenizes the document per term. */
  def tsRankOnTokens(toks: Column, queryText: String,
      snowball: Boolean = false): Column = {
    val terms = tsQueryTerms(queryText, snowball)
    if (terms.isEmpty) lit(0.0)
    else TextFunctions.tfRank(toks, terms)
  }

  // ---------------------------------------------------------- F6–F8 parsing

  /** F6: RFC-5322-ish address parse: `Name <addr>` → (name, addr); bare
    * address → ("", addr) (reference: src/providers/gmail/provider.py:232,
    * 290-301 via email.utils.parseaddr). */
  def parseAddrName(raw: Column): Column = {
    val name = trim(regexp_extract(raw, "^\\s*\"?([^\"<]*?)\"?\\s*<", 1))
    when(raw.contains("<"), name).otherwise(lit(""))
  }

  def parseAddrEmail(raw: Column): Column = {
    val inBrackets = regexp_extract(raw, "<\\s*([^>]*?)\\s*>", 1)
    when(raw.contains("<"), inBrackets).otherwise(trim(raw))
  }

  /** F6: split a comma-separated recipient header into clean addresses,
    * empties dropped (reference: provider.py:290-301, getaddresses
    * semantics). The split skips commas inside quoted display names —
    * '"Doe, John" <j@x.com>' is ONE recipient, not two fragments. */
  def splitRecipients(header: Column): Column =
    filter(
      transform(
        split(coalesce(header, lit("")), ",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)"),
        r => parseAddrEmail(trim(r))),
      a => length(a) > 0)

  /** F7: RFC-2822 date parse with fallback chain; unparseable → null
    * (reference: provider.py:244-258). Day-of-week names are format-only
    * in Spark's parser, so the chain strips them before parsing. */
  def parseRfc2822(raw: Column): Column = {
    val noDay = regexp_replace(trim(coalesce(raw, lit(""))),
      "^[A-Za-z]{3},\\s*", "")
    val noTzName = regexp_replace(noDay, "\\s*\\([A-Za-z]+\\)$", "")
    coalesce(
      try_to_timestamp(noTzName, lit("dd MMM yyyy HH:mm:ss Z")),
      try_to_timestamp(noTzName, lit("dd MMM yyyy HH:mm:ss")),
      try_to_timestamp(noTzName, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(noTzName, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(noTzName, lit("yyyy-MM-dd")))
  }

  /** F8: urlsafe-base64 → UTF-8 text, null on undecodable input
    * (reference: provider.py:344-350, errors='ignore' ≈ null-out). */
  def urlsafeB64Text(data: Column): Column = urlsafeB64Bytes(data).cast("string")

  /** Urlsafe base64 → bytes, null on undecodable input. */
  def urlsafeB64Bytes(data: Column): Column =
    try_to_binary(translate(data, "-_", "+/"), lit("base64"))

  /** F14: storage-safe base64 round trip (reference: src/security.py:231-241).
    * `fromBase64` is null on undecodable input, like [[urlsafeB64Bytes]]. */
  def toBase64(data: Column): Column = base64(data)
  def fromBase64(s: Column): Column = try_to_binary(s, lit("base64"))

  // --------------------------------------------------------------- F9 (HTML)

  /** F9: HTML → plain-markdown-ish text, declaratively: drop script/style
    * subtrees and tracking-pixel imgs, convert links/breaks, strip tags,
    * decode common entities, collapse whitespace (reference:
    * provider.py:352-369 — BeautifulSoup + html2text; SURVEY §7 risk 4:
    * byte parity with html2text is out of scope, OUR conversion is the
    * canonical spec and is golden-tested). */
  def htmlToMarkdown(html: Column): Column = {
    var c: Column = coalesce(html, lit(""))
    c = regexp_replace(c, "(?is)<(script|style)[^>]*>.*?</\\1>", "")
    c = regexp_replace(c, "(?i)<img[^>]*(width|height)\\s*=\\s*[\"']?1[\"']?[^>]*>", "")
    c = regexp_replace(c, "(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"'][^>]*>(.*?)</a>", "[$2]($1)")
    c = regexp_replace(c, "(?i)<(br|/p|/div|/h[1-6]|/li|/tr)\\s*/?>", "\n")
    c = regexp_replace(c, "(?i)<li\\b[^>]*>", "- ")
    c = regexp_replace(c, "<[^>]+>", "")
    c = regexp_replace(c, "&nbsp;", " ")
    c = regexp_replace(c, "&lt;", "<")
    c = regexp_replace(c, "&gt;", ">")
    c = regexp_replace(c, "&quot;", "\"")
    c = regexp_replace(c, "&#39;", "'")
    // &amp; decodes LAST: earlier would turn author-escaped entity text
    // ("&amp;lt;" meaning the literal 4 chars "&lt;") into real markup
    c = regexp_replace(c, "&amp;", "&")
    c = regexp_replace(c, "[ \\t]+", " ")
    c = regexp_replace(c, "\\n{3,}", "\n\n")
    regexp_replace(c, "^\\s+|\\s+$", "") // trim() strips spaces only, not \n
  }

  /** F9 body-selection rule: markdown from html only when plain is absent
    * (reference: provider.py:237-242). */
  def bodyMarkdown(bodyPlain: Column, bodyHtml: Column): Column =
    when(bodyPlain.isNull && bodyHtml.isNotNull, htmlToMarkdown(bodyHtml))
      .otherwise(bodyPlain)

  // ----------------------------------------------------- F11, F12, F17 paths

  /** F11: filename slug — dangerous chars stripped, spaces→dashes, ≤50
    * chars, default "untitled" (reference: src/markdown_storage.py:39-50). */
  def slug(title: Column): Column = {
    val cleaned = regexp_replace(
      regexp_replace(lower(coalesce(title, lit(""))), "[^a-z0-9]+", "-"),
      "^-+|-+$", "")
    when(length(cleaned) === 0, lit("untitled"))
      .otherwise(substring(cleaned, 1, 50))
  }

  /** F12: archive path `YYYY/MM/yyyyMMdd_HHmmss_<slug>.md`
    * (reference: markdown_storage.py:52-65). */
  def markdownPath(date: Column, subject: Column): Column =
    concat(
      year(date).cast("string"), lit("/"),
      lpad(month(date).cast("string"), 2, "0"), lit("/"),
      date_format(date, "yyyyMMdd_HHmmss"), lit("_"), slug(subject), lit(".md"))

  /** F17: attachment filename sanitization: basename only, charset
    * allowlist → `_`, dangerous/missing extension → `.txt`
    * (reference: src/security.py:214-229). */
  def sanitizeFilename(filename: Column): Column = {
    val base = element_at(split(coalesce(filename, lit("file")), "[/\\\\]"), -1)
    val safe = regexp_replace(base, "[^A-Za-z0-9._-]", "_")
    val ext = lower(regexp_extract(safe, "(\\.[^.]+)$", 1))
    when(ext === "" || ext.isin(Schemas.DangerousExtensions.map(lit(_)): _*),
      concat(safe, lit(".txt")))
      .otherwise(safe)
  }

  // ------------------------------------------------- F13, F15, F16, F18 safety

  /** F13: SHA-256 content hash, hex (reference: src/security.py:112-114). */
  def contentHash(data: Column): Column = sha2(data, 256)

  /** F15: dangerous-extension predicate (reference: security.py:129-138). */
  def hasDangerousExtension(filename: Column): Column =
    lower(regexp_extract(coalesce(filename, lit("")), "(\\.[^.]+)$", 1))
      .isin(Schemas.DangerousExtensions.map(lit(_)): _*)

  /** F16 helper: magic-number MIME sniff over the payload's first bytes. */
  def detectMime(data: Column): Column = {
    val prefix = lower(hex(substring(data, 1, 8)))
    when(prefix.startsWith("ffd8ff"), lit("image/jpeg"))
      .when(prefix.startsWith("89504e47"), lit("image/png"))
      .when(prefix.startsWith("47494638"), lit("image/gif"))
      .when(prefix.startsWith("25504446"), lit("application/pdf"))
      .when(prefix.startsWith("504b0304"), lit("application/zip"))
      .otherwise(lit("application/octet-stream"))
  }

  /** F16: attachment validation report — size cap, extension blocklist,
    * MIME allowlist, declared-vs-detected mismatch; emits the reference's
    * report struct {is_safe, issues[], detected_mime_type, content_hash}
    * (reference: src/security.py:57-110). ClamAV is external — the report
    * carries scan_results = "{}" (unscanned) like the reference default. */
  def validationReport(filename: Column, declaredMime: Column, data: Column): Column = {
    val sizeBytes = octet_length(data).cast("long")
    val detected = detectMime(data)
    val issues = filter(array(
      when(sizeBytes > Schemas.MaxAttachmentBytes, lit("oversize")),
      when(hasDangerousExtension(filename), lit("dangerous_extension")),
      when(!coalesce(declaredMime, lit("")).isin(Schemas.AllowedMimeTypes.toSeq.map(lit(_)): _*),
        lit("mime_not_allowed")),
      {
        // OOXML documents ARE zip containers: magic 504b0304 detects as
        // application/zip for every docx/xlsx, so "detected zip" is
        // consistent with any declared zip-family type — without this,
        // every legitimate docx on the engine's own allowlist would flag
        // mime_mismatch and report is_safe=false
        val zipFamily = Seq(
          "application/zip", "application/x-zip-compressed",
          "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
          "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
        val compatible =
          detected === lit("application/zip") &&
            declaredMime.isin(zipFamily.map(lit(_)): _*)
        when(declaredMime.isNotNull && detected =!= lit("application/octet-stream")
          && declaredMime =!= detected && !compatible, lit("mime_mismatch"))
      }),
      c => c.isNotNull)
    struct(
      (size(issues) === 0).as("is_safe"),
      issues.as("issues"),
      detected.as("detected_mime_type"),
      contentHash(data).as("content_hash"),
      sizeBytes.as("size_bytes"),
      lit("{}").as("scan_results"))
  }

  /** F18: suspicious-content scan — regex set over the lowercased body;
    * returns {has_suspicious_content, issues[]} (reference:
    * src/security.py:180-212). */
  val SuspiciousPatterns: Seq[(String, String)] = Seq(
    "script_tag" -> "<script",
    "javascript_url" -> "javascript:",
    "onclick_handler" -> "onclick\\s*=",
    "phish_verify" -> "verify your (account|identity)",
    "phish_suspend" -> "account.{0,20}(suspended|locked)",
    "phish_urgent" -> "urgent action required",
    "phish_prize" -> "you (have )?won")

  def suspiciousScan(body: Column): Column = {
    val lowered = lower(coalesce(body, lit("")))
    val hits = filter(
      array(SuspiciousPatterns.map { case (name, pat) =>
        when(lowered.rlike(pat), lit(name))
      }: _*),
      c => c.isNotNull)
    struct(
      (size(hits) > 0).as("has_suspicious_content"),
      hits.as("issues"))
  }

  // --------------------------------------------------------- PII scrubbing

  /** Training-data PII scrub: replaces email addresses, URLs, and long
    * digit runs (phone/account numbers, ≥7 digits allowing separators)
    * with typed placeholders, and reports what was removed. Order
    * matters: URLs before emails (a URL can embed an @), emails before
    * digit runs (an address can embed digits). Returns
    * {text, n_emails, n_urls, n_numbers}. Row-local — scales with scan
    * bandwidth like every F-series scalar. (No reference analog: the
    * reference stores raw bodies; this is the corpus-export step a
    * training pipeline adds.)
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPat = "https?://[^\\s<>\"]+"
  // ≥7 digits total, each optionally preceded by separators — a plain
  // "{5,} any-of-digits-or-separators" would match 2 digits spanning a
  // long separator run ("1  -  2.0") and scrub ordinary text
  val LongNumberPat = "[(]?[0-9](?:[ ()\\-.]*[0-9]){6,}"

  def scrubPii(text: Column): Column = {
    val t0 = coalesce(text, lit(""))
    val nUrls = size(regexp_extract_all(t0, lit(UrlPat), lit(0))).cast("long")
    val t1 = regexp_replace(t0, UrlPat, "<URL>")
    val nEmails = size(regexp_extract_all(t1, lit(EmailPat), lit(0))).cast("long")
    val t2 = regexp_replace(t1, EmailPat, "<EMAIL>")
    val nNums = size(regexp_extract_all(t2, lit(LongNumberPat), lit(0))).cast("long")
    val t3 = regexp_replace(t2, LongNumberPat, "<NUMBER>")
    struct(t3.as("text"), nEmails.as("n_emails"), nUrls.as("n_urls"),
      nNums.as("n_numbers"))
  }

  // ------------------------------------------------------- F20, F21 tokens/cost

  /** F20: token-cap truncation — chars/4 heuristic for the 8191-token model
    * cap; truncate, never fail (reference: src/embeddings.py:95-107). */
  val MaxEmbedTokens = 8191
  def truncateToTokenLimit(text: Column): Column =
    substring(coalesce(text, lit("")), 1, MaxEmbedTokens * 4)

  /** Heuristic token count (chars/4, ceil). */
  def approxTokenCount(text: Column): Column =
    ceil(length(coalesce(text, lit(""))).cast("double") / 4.0).cast("long")

  /** F21: embedding cost estimate — n_texts · avg_tokens / 1e6 · $0.02
    * (reference: src/embeddings.py:191-203). */
  def costEstimate(nTexts: Column, avgTokens: Column): Column =
    nTexts.cast("double") * avgTokens.cast("double") / 1e6 * 0.02

  // ------------------------------------------------------------ F24 frontmatter

  /** JSON string literal escaping (backslash, quote, newline) — JSON is
    * valid YAML, which keeps frontmatter parse exact. */
  private def jsonStr(c: Column): Column =
    concat(lit("\""),
      regexp_replace(regexp_replace(regexp_replace(
        coalesce(c, lit("")), "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n"),
      lit("\""))

  /** F24: YAML frontmatter render for the markdown sink (reference:
    * markdown_storage.py:138-141). Values are JSON-escaped strings. */
  def renderFrontmatter(
      messageId: Column, threadId: Column, subject: Column,
      sender: Column, date: Column, labels: Column): Column =
    concat_ws("\n",
      lit("---"),
      concat(lit("id: "), jsonStr(messageId)),
      concat(lit("thread_id: "), jsonStr(threadId)),
      concat(lit("subject: "), jsonStr(subject)),
      concat(lit("from: "), jsonStr(sender)),
      concat(lit("date: "), jsonStr(date_format(date, "yyyy-MM-dd'T'HH:mm:ssXXX"))),
      concat(lit("labels: "), to_json(coalesce(labels, array()))),
      lit("---"))

  /** F24 parse: frontmatter/body split on the `---` fences
    * (reference: markdown_storage.py:207-218). */
  def splitFrontmatter(md: Column): Column = struct(
    regexp_extract(md, "(?s)^---\\n(.*?)\\n---", 1).as("frontmatter"),
    regexp_replace(md, "(?s)^---\\n.*?\\n---\\n?", "").as("content"))
}
