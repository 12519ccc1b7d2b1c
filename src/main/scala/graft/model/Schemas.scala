package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas and operating constants of the email engine.
  *
  * Mirrors the reference's declared DDL (reference: scripts/init_db.sql:14-49,
  * 86-92 and scripts/migrate_providers.sql:4-36) and config constants
  * (reference: src/config.py:34-58, src/security.py:129-138). Schemas are
  * declared explicitly — no inference in production paths (SURVEY §1.3).
  */
object Schemas {

  /** Embedding dimension (reference: src/config.py:34 — OpenAI
    * text-embedding-3-small; scripts/init_db.sql:30 vector(1536)). */
  val EmbeddingDim = 1536

  /** Hybrid search weights (reference: scripts/init_db.sql:133-141). */
  val HybridVectorWeight = 0.7
  val HybridTextWeight = 0.3

  /** Default similarity threshold (reference: src/embeddings.py:172). */
  val SimilarityThreshold = 0.7

  /** Batch sizes (reference: src/etl_pipeline.py:217). */
  val EmbeddingBatchSize = 100
  val EmbeddingBacklogPage = 1000

  /** Attachment limits (reference: src/config.py:37-45). */
  val MaxAttachmentBytes: Long = 10L * 1024 * 1024
  val AllowedMimeTypes: Set[String] = Set(
    "application/pdf", "image/jpeg", "image/png", "image/gif",
    "text/plain", "text/csv",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "application/zip", "application/x-zip-compressed")

  /** Dangerous-extension blocklist (reference: src/security.py:129-138). */
  val DangerousExtensions: Seq[String] = Seq(
    ".exe", ".bat", ".cmd", ".com", ".pif", ".scr", ".vbs", ".vbe",
    ".js", ".jse", ".ws", ".wsf", ".wsc", ".wsh", ".ps1", ".ps1xml",
    ".ps2", ".ps2xml", ".psc1", ".psc2", ".msh", ".msh1", ".msh2",
    ".mshxml", ".msh1xml", ".msh2xml", ".scf", ".lnk", ".inf", ".reg",
    ".dll", ".jar", ".app", ".deb", ".rpm", ".sh", ".bin", ".run")

  /** Labels excluded from embedding text (reference: src/embeddings.py:143-147). */
  val ExcludedLabels: Seq[String] = Seq("INBOX", "SENT", "UNREAD")

  /** Body truncation caps (reference: src/llm_integration.py:94,213,258;
    * src/embeddings.py:138-139). */
  val CategorizeBodyChars = 2000
  val ActionsBodyChars = 3000
  val RagContextChars = 1000
  val ThreadSummaryChars = 500
  val EmbedBodyChars = 10000

  /** An `attachments` row (reference: scripts/init_db.sql:38-49). Declared
    * before [[emailSchema]], which holds these rows. */
  val attachmentSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("email_id", LongType),
    StructField("filename", StringType),
    StructField("mime_type", StringType),
    StructField("size_bytes", LongType),
    StructField("content_hash", StringType),
    StructField("is_safe", BooleanType),
    StructField("scan_results", StringType),
    StructField("file_path", StringType)))

  /** `emails` table (reference: scripts/init_db.sql:14-35 +
    * scripts/migrate_providers.sql:4-7). The last field, `attachments`, is
    * the reference's `attachments` table (scripts/init_db.sql:38-49) stored
    * with the email it belongs to: there each row references its email
    * (`email_id`, ON DELETE CASCADE), so here the email's rows travel
    * with it through every rewrite and can never disagree with it. */
  val emailSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("message_id", StringType, nullable = false),
    StructField("thread_id", StringType),
    StructField("subject", StringType),
    StructField("sender", StringType),
    StructField("sender_name", StringType),
    StructField("recipients", ArrayType(StringType)),
    StructField("cc_recipients", ArrayType(StringType)),
    StructField("bcc_recipients", ArrayType(StringType)),
    StructField("date", TimestampType),
    StructField("body_plain", StringType),
    StructField("body_html", StringType),
    StructField("body_markdown", StringType),
    StructField("labels", ArrayType(StringType)),
    StructField("has_attachments", BooleanType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("markdown_path", StringType),
    StructField("metadata", StructType(Seq(
      StructField("snippet", StringType),
      StructField("size_estimate", LongType),
      StructField("history_id", StringType),
      StructField("provider", StringType)))),
    StructField("provider", StringType),
    StructField("provider_account", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType),
    StructField("attachments", ArrayType(attachmentSchema))))

  /** `email_audit_log` table (reference: scripts/init_db.sql:86-92). */
  val auditSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("email_id", LongType),
    StructField("action", StringType),
    StructField("details", StringType),
    StructField("provider", StringType),
    StructField("created_at", TimestampType)))

  /** MIME nesting bound declared in the schema, the one place that
    * declares it: `graft.functions.MimeParts` walks the levels the
    * payload's type has.
    * Spark schemas cannot be recursive, so "arbitrary depth" means "a
    * declared bound comfortably beyond anything real mail produces":
    * multipart/mixed > related > alternative > signed is 4; 8 covers
    * pathological re-wrapping. Parts nested beyond the bound read as null
    * and are ignored (not fatal), matching the reference's tolerance
    * (src/providers/gmail/provider.py:300-329 recurses without bound but
    * real payloads are schema-shaped JSON of finite depth). */
  val mimeDepth: Int = 8

  /** Raw provider message (FIXTURES.md §1): Gmail `messages.get`
    * shape with the MIME `parts` tree declared to [[mimeDepth]] levels
    * (reference: src/providers/gmail/provider.py:227-342). */
  val rawMessageSchema: StructType = {
    def leafPart: StructType = StructType(Seq(
      StructField("partId", StringType),
      StructField("mimeType", StringType),
      StructField("filename", StringType),
      StructField("headers", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("value", StringType))))),
      StructField("body", bodyStruct)))
    def partWithChildren(child: StructType): StructType = StructType(
      leafPart.fields :+ StructField("parts", ArrayType(child)))
    val payload = (1 until mimeDepth)
      .foldLeft(leafPart)((child, _) => partWithChildren(child))
    StructType(Seq(
      StructField("id", StringType),
      StructField("threadId", StringType),
      StructField("labelIds", ArrayType(StringType)),
      StructField("snippet", StringType),
      StructField("sizeEstimate", LongType),
      StructField("historyId", StringType),
      StructField("payload", payload)))
  }

  private def bodyStruct: StructType = StructType(Seq(
    StructField("data", StringType),
    StructField("size", LongType),
    StructField("attachmentId", StringType)))
}

/** Typed row for `Dataset[Email]` paths. */
final case class Email(
    id: Long,
    message_id: String,
    thread_id: Option[String],
    subject: Option[String],
    sender: Option[String],
    sender_name: Option[String],
    recipients: Seq[String],
    cc_recipients: Seq[String],
    bcc_recipients: Seq[String],
    date: Option[java.sql.Timestamp],
    body_plain: Option[String],
    body_html: Option[String],
    body_markdown: Option[String],
    labels: Seq[String],
    has_attachments: Boolean,
    embedding: Option[Seq[Float]],
    markdown_path: Option[String],
    provider: Option[String],
    provider_account: Option[String],
    created_at: Option[java.sql.Timestamp],
    updated_at: Option[java.sql.Timestamp])
