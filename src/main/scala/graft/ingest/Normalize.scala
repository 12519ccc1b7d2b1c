package graft.ingest

import graft.functions.EmailFunctions._
import graft.functions.MimeParts.mimeParts
import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A2 — raw provider message → canonical rows (reference:
  * src/providers/gmail/provider.py:227-342 `_parse_message` +
  * `_parse_payload`).
  *
  * The MIME tree (`payload.parts[]`, recursively nested) is flattened by
  * one native expression, [[graft.functions.MimeParts]], to the
  * schema-declared bound (`Schemas.mimeDepth`, 8 levels — Spark schemas
  * cannot be recursive, so the bound is declared once and the walk
  * derives it from the payload's type): every part as one (partId,
  * mimeType, filename, body) struct, breadth-first. First-match-wins body
  * selection and the filename⇒attachment rule follow the reference
  * exactly.
  *
  * The walk is native because its uses multiply: the bodies (and the
  * markdown built from both of them, twice each), `has_attachments` and
  * the attachment rows read the parts in eight places. Written as Column
  * functions the walk was ~470 plan nodes and each use re-embedded all of
  * them (a 5,400-node plan that every import analyzed, optimized and
  * cached); as one expression each use is one node over the payload.
  * The rest is Column work — one narrow projection stage over the raw
  * scan, no UDFs, no driver loops.
  */
object Normalize {

  /** Read raw fixture JSON (one message per line) with the declared schema. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.rawMessageSchema).json(path)

  /** First part matching a mime type that is body-like (no filename) and
    * has inline data — first-match-wins (reference: provider.py:303-329). */
  private def firstBodyData(parts: Column, mime: String): Column =
    get(
      filter(parts, p =>
        p.getField("mimeType") === mime &&
          (p.getField("filename").isNull || p.getField("filename") === "") &&
          p.getField("body").getField("data").isNotNull),
      lit(0)).getField("body").getField("data")

  /** Attachment-like parts: non-empty filename (reference: provider.py:331-339). */
  private def attachmentParts(parts: Column): Column =
    filter(parts, p =>
      p.getField("filename").isNotNull && p.getField("filename") =!= "")

  private def headerValue(payload: Column, name: String): Column =
    get(
      filter(coalesce(payload.getField("headers"), array()),
        h => lower(h.getField("name")) === name.toLowerCase),
      lit(0)).getField("value")

  /** Deterministic surrogate id from the natural key — stable across
    * re-runs and executors (unlike monotonically_increasing_id), which is
    * what makes the A4 merge idempotent. */
  def surrogateId(messageId: Column): Column = xxhash64(messageId)

  /** Canonical `emails` rows (minus embedding enrichment, which is a
    * separate A9 column-upsert pass). `now` is injected for deterministic
    * created_at/updated_at in tests. */
  def emails(raw: DataFrame, provider: String = "gmail",
      providerAccount: String = "default",
      now: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.EPOCH)): DataFrame =
    emailsWithAttachments(raw, provider, providerAccount, now).drop("attachments")

  /** [[emails]] plus `attachments`: the message's canonical attachment
    * rows as an array. One MIME walk feeds the bodies, `has_attachments`
    * and the attachment rows, so an import that needs both tables plans
    * the walk once. */
  def emailsWithAttachments(raw: DataFrame, provider: String = "gmail",
      providerAccount: String = "default",
      now: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.EPOCH)): DataFrame = {
    val payload = col("payload")
    val parts = mimeParts(payload)
    val from = headerValue(payload, "From")
    val dateHdr = headerValue(payload, "Date")
    val bodyPlain = urlsafeB64Text(firstBodyData(parts, "text/plain"))
    val bodyHtml = urlsafeB64Text(firstBodyData(parts, "text/html"))
    raw
      .filter(col("id").isNotNull)
      .select(
        surrogateId(col("id")).as("id"),
        col("id").as("message_id"),
        col("threadId").as("thread_id"),
        headerValue(payload, "Subject").as("subject"),
        parseAddrEmail(from).as("sender"),
        parseAddrName(from).as("sender_name"),
        splitRecipients(headerValue(payload, "To")).as("recipients"),
        splitRecipients(headerValue(payload, "Cc")).as("cc_recipients"),
        splitRecipients(headerValue(payload, "Bcc")).as("bcc_recipients"),
        parseRfc2822(dateHdr).as("date"),
        bodyPlain.as("body_plain"),
        bodyHtml.as("body_html"),
        bodyMarkdown(bodyPlain, bodyHtml).as("body_markdown"),
        coalesce(col("labelIds"), array()).as("labels"),
        (size(attachmentParts(parts)) > 0).as("has_attachments"),
        lit(null).cast("array<float>").as("embedding"),
        lit(null).cast("string").as("markdown_path"),
        struct(
          col("snippet").as("snippet"),
          col("sizeEstimate").as("size_estimate"),
          col("historyId").as("history_id"),
          lit(provider).as("provider")).as("metadata"),
        lit(provider).as("provider"),
        lit(providerAccount).as("provider_account"),
        lit(now).as("created_at"),
        lit(now).as("updated_at"),
        attachmentParts(parts).as("attachments"))
      // a projection of its own: inside the row-building lambdas of the
      // select above, `id` resolves to the surrogate defined beside them
      .withColumn("attachments", attachmentRows(col("message_id"), col("attachments")))
  }

  /** Canonical `attachments` rows with the F16 validation report applied
    * (reference: src/etl_pipeline.py:153-194 + src/security.py:57-110). */
  def attachments(raw: DataFrame): DataFrame =
    raw
      .filter(col("id").isNotNull)
      .select(
        col("id").as("message_id"),
        explode(attachmentParts(mimeParts(col("payload")))).as("part"))
      .select(attachmentRow(col("message_id"), checkedPart(col("part"))).as("a"))
      .select("a.*")

  /** One message's `attachments` rows as an array, in part order, from
    * its attachment parts. Each part is checked in a lambda of its own,
    * so its validation report is taken once, not once per field. */
  private def attachmentRows(messageId: Column, parts: Column): Column =
    transform(transform(parts, p => checkedPart(p)), c => attachmentRow(messageId, c))

  /** An attachment part with its sanitized name and validation report. */
  private def checkedPart(p: Column): Column = {
    val data = fromBase64(translate(p.getField("body").getField("data"), "-_", "+/"))
    struct(p.as("part"), sanitizeFilename(p.getField("filename")).as("name"),
      validationReport(p.getField("filename"), p.getField("mimeType"), data).as("report"))
  }

  /** The `attachments` row of a [[checkedPart]]. */
  private def attachmentRow(messageId: Column, c: Column): Column = {
    val report = c.getField("report")
    struct(
      xxhash64(concat_ws("|", messageId,
        coalesce(c.getField("part").getField("partId"), lit("")))).as("id"),
      surrogateId(messageId).as("email_id"),
      c.getField("name").as("filename"),
      c.getField("part").getField("mimeType").as("mime_type"),
      report.getField("size_bytes").as("size_bytes"),
      report.getField("content_hash").as("content_hash"),
      report.getField("is_safe").as("is_safe"),
      report.getField("scan_results").as("scan_results"),
      concat(messageId, lit("/"), c.getField("name")).as("file_path"))
  }

  /** A8 audit rows for an import batch (reference: src/database.py:321-331,
    * src/etl_pipeline.py:146-149). */
  def auditRows(emailsDf: DataFrame, action: String,
      now: java.sql.Timestamp = java.sql.Timestamp.from(java.time.Instant.EPOCH)): DataFrame =
    emailsDf.select(
      xxhash64(concat_ws("|", col("message_id"), lit(action))).as("id"),
      col("id").as("email_id"),
      lit(action).as("action"),
      to_json(struct(col("message_id"), col("has_attachments"))).as("details"),
      col("provider").as("provider"),
      lit(now).as("created_at"))
}
