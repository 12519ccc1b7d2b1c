package graft

import graft.ingest.Normalize
import org.apache.spark.sql.functions._

/** A2/F10 ingest over FIXTURES.md §1-shaped raw messages, covering the
  * edge cases the corpus mandates: plain-only, html-only, both, neither,
  * nested multipart, missing headers, attachments (safe + dangerous),
  * unparseable dates. */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def hdr(n: String, v: String) = s"""{"name":"$n","value":"$v"}"""

  private lazy val fixtureDir: String = {
    val dir = tmpDir("normalize-fixture")
    val pngB64 = b64urlBytes(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 1))
    val msgs = Seq(
      // m1: flat text/plain only
      s"""{"id":"m1","threadId":"t1","labelIds":["INBOX"],"snippet":"s1","sizeEstimate":100,"historyId":"h1",
         |"payload":{"partId":"0","mimeType":"text/plain","filename":"",
         |"headers":[${hdr("From", "Alice <alice@x.com>")},${hdr("To", "bob@y.com, carol@z.com")},${hdr("Subject", "Hello m1")},${hdr("Date", "Mon, 15 Jan 2024 10:30:00 +0000")}],
         |"body":{"data":"${b64url("plain body one")}","size":14,"attachmentId":null}}}""".stripMargin.replaceAll("\n", ""),
      // m2: multipart/alternative, html only (plain part has no data)
      s"""{"id":"m2","threadId":"t1","labelIds":["INBOX","IMPORTANT"],"snippet":"s2","sizeEstimate":200,"historyId":"h2",
         |"payload":{"partId":"0","mimeType":"multipart/alternative","filename":"",
         |"headers":[${hdr("From", "d@w.com")},${hdr("Subject", "Html m2")},${hdr("Date", "Tue, 16 Jan 2024 11:00:00 +0100")}],
         |"body":{"data":null,"size":0,"attachmentId":null},
         |"parts":[{"partId":"0.1","mimeType":"text/html","filename":"",
         |"headers":[],"body":{"data":"${b64url("<p>html body &amp; stuff</p>")}","size":20,"attachmentId":null}}]}}""".stripMargin.replaceAll("\n", ""),
      // m3: deep multipart/mixed → alternative → plain+html, plus png attachment
      s"""{"id":"m3","threadId":"t2","labelIds":[],"snippet":"s3","sizeEstimate":300,"historyId":"h3",
         |"payload":{"partId":"0","mimeType":"multipart/mixed","filename":"",
         |"headers":[${hdr("From", "e@v.com")},${hdr("To", "f@u.com")},${hdr("Cc", "g@t.com")},${hdr("Subject", "Deep m3")},${hdr("Date", "Wed, 17 Jan 2024 09:15:00 +0000")}],
         |"body":{"data":null,"size":0,"attachmentId":null},
         |"parts":[
         |{"partId":"1","mimeType":"multipart/alternative","filename":"","headers":[],"body":{"data":null,"size":0,"attachmentId":null},
         |"parts":[{"partId":"1.1","mimeType":"text/plain","filename":"","headers":[],"body":{"data":"${b64url("deep plain")}","size":10,"attachmentId":null}},
         |{"partId":"1.2","mimeType":"text/html","filename":"","headers":[],"body":{"data":"${b64url("<b>deep html</b>")}","size":16,"attachmentId":null}}]},
         |{"partId":"2","mimeType":"image/png","filename":"pic.png","headers":[],"body":{"data":"$pngB64","size":9,"attachmentId":"att1"}},
         |{"partId":"3","mimeType":"text/plain","filename":"notes.exe","headers":[],"body":{"data":"${b64url("MZ fake exe")}","size":11,"attachmentId":"att2"}}]}}""".stripMargin.replaceAll("\n", ""),
      // m4: no body at all, missing Subject/Date
      s"""{"id":"m4","threadId":"t3","labelIds":null,"snippet":null,"sizeEstimate":null,"historyId":null,
         |"payload":{"partId":"0","mimeType":"multipart/mixed","filename":"",
         |"headers":[${hdr("From", "bare@addr.com")}],
         |"body":{"data":null,"size":0,"attachmentId":null}}}""".stripMargin.replaceAll("\n", "")
    )
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "inbox.json"),
      msgs.mkString("\n").getBytes("UTF-8"))
    dir
  }

  private lazy val emails = Normalize.emails(
    Normalize.readRaw(spark, fixtureDir)).cache()
  private lazy val attachments = Normalize.attachments(
    Normalize.readRaw(spark, fixtureDir)).cache()

  test("normalizes all messages with canonical schema") {
    assert(emails.count() == 4)
    assert(emails.schema.fieldNames.toSeq ==
      graft.model.Schemas.emailSchema.fieldNames.toSeq)
  }

  test("m1: flat plain body, parsed headers, recipients") {
    val r = emails.filter($"message_id" === "m1").collect()(0)
    assert(r.getAs[String]("body_plain") == "plain body one")
    assert(r.getAs[String]("sender") == "alice@x.com")
    assert(r.getAs[String]("sender_name") == "Alice")
    assert(r.getAs[scala.collection.Seq[String]]("recipients").toSeq == Seq("bob@y.com", "carol@z.com"))
    assert(r.getAs[java.sql.Timestamp]("date").toString == "2024-01-15 10:30:00.0")
    assert(!r.getAs[Boolean]("has_attachments"))
  }

  test("m2: html-only → body_markdown from html; tz offset applied") {
    val r = emails.filter($"message_id" === "m2").collect()(0)
    assert(r.getAs[String]("body_plain") == null)
    assert(r.getAs[String]("body_markdown") == "html body & stuff")
    assert(r.getAs[java.sql.Timestamp]("date").toString == "2024-01-16 10:00:00.0")
  }

  test("m3: first-match body from depth 2; plain wins for markdown") {
    val r = emails.filter($"message_id" === "m3").collect()(0)
    assert(r.getAs[String]("body_plain") == "deep plain")
    assert(r.getAs[String]("body_markdown") == "deep plain")
    assert(r.getAs[Boolean]("has_attachments"))
  }

  test("m4: absent headers/body → nulls, not failures") {
    val r = emails.filter($"message_id" === "m4").collect()(0)
    assert(r.getAs[String]("subject") == null)
    assert(r.getAs[java.sql.Timestamp]("date") == null)
    assert(r.getAs[String]("body_plain") == null)
    assert(r.getAs[scala.collection.Seq[String]]("labels").toSeq == Seq())
    assert(r.getAs[String]("sender") == "bare@addr.com")
  }

  test("attachments: filename parts only, validation applied, FK wired") {
    val rows = attachments.orderBy("filename").collect()
    assert(rows.length == 2)
    val exe = rows(0); val png = rows(1)
    assert(png.getAs[String]("filename") == "pic.png")
    assert(png.getAs[Boolean]("is_safe"))
    assert(exe.getAs[String]("filename") == "notes.exe.txt")
    assert(!exe.getAs[Boolean]("is_safe"))
    val m3id = emails.filter($"message_id" === "m3").collect()(0).getAs[Long]("id")
    assert(rows.forall(_.getAs[Long]("email_id") == m3id))
    assert(png.getAs[String]("content_hash").length == 64)
  }

  test("deep nesting: first-match-wins across levels; level-4 subtree parsed, not fatal") {
    val dir = tmpDir("deep")
    val body = (lvl: String) => s"""{"data":"${b64url(lvl)}","size":1,"attachmentId":null}"""
    val msg =
      s"""{"id":"deep1","threadId":"t","labelIds":[],"snippet":null,"sizeEstimate":null,"historyId":null,
         |"payload":{"partId":"0","mimeType":"multipart/mixed","filename":"","headers":[${hdr("From", "x@y.z")}],
         |"body":{"data":null,"size":0,"attachmentId":null},
         |"parts":[{"partId":"1","mimeType":"multipart/alternative","filename":"","headers":[],"body":{"data":null,"size":0,"attachmentId":null},
         |"parts":[{"partId":"1.1","mimeType":"multipart/related","filename":"","headers":[],"body":{"data":null,"size":0,"attachmentId":null},
         |"parts":[{"partId":"1.1.1","mimeType":"text/plain","filename":"","headers":[],"body":${body("level3 body")},
         |"parts":[{"partId":"1.1.1.1","mimeType":"text/plain","filename":"","headers":[],"body":${body("level4 body")}}]}]}]}]}}""".stripMargin.replaceAll("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "m.json"),
      msg.getBytes("UTF-8"))
    val r = Normalize.emails(Normalize.readRaw(spark, dir)).collect()(0)
    assert(r.getAs[String]("body_plain") == "level3 body")
  }

  test("body found at depth 6 — the walk covers the full declared mimeDepth") {
    val dir = tmpDir("deep6")
    val body = (lvl: String) => s"""{"data":"${b64url(lvl)}","size":1,"attachmentId":null}"""
    val noBody = """{"data":null,"size":0,"attachmentId":null}"""
    def wrap(inner: String, id: String): String =
      s"""{"partId":"$id","mimeType":"multipart/mixed","filename":"","headers":[],"body":$noBody,"parts":[$inner]}"""
    // leaf at nesting level 6 (payload = level 0)
    val leaf = s"""{"partId":"L","mimeType":"text/plain","filename":"","headers":[],"body":${body("deep body")}}"""
    val nested = (1 to 5).foldLeft(leaf)((acc, i) => wrap(acc, s"p$i"))
    val msg =
      s"""{"id":"deep6","threadId":"t","labelIds":[],"snippet":null,"sizeEstimate":null,"historyId":null,
         |"payload":{"partId":"0","mimeType":"multipart/mixed","filename":"","headers":[${hdr("From", "x@y.z")}],
         |"body":$noBody,
         |"parts":[$nested]}}""".stripMargin.replaceAll("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "m.json"),
      msg.getBytes("UTF-8"))
    val r = Normalize.emails(Normalize.readRaw(spark, dir)).collect()(0)
    assert(r.getAs[String]("body_plain") == "deep body")
  }

  test("the import's normalize plan stays small: <= 2,000 analyzed expression nodes") {
    // Every later query of an import carries this plan (it is the cached
    // batch), so a walk that re-embeds its tree per use is paid many
    // times over; the Column-form MIME walk made it 5,360 nodes.
    val nodes = exprNodes(Normalize.emails(Normalize.readRaw(spark, fixtureDir))
      .queryExecution.analyzed)
    assert(nodes <= 2000, s"analyzed plan has $nodes expression nodes")
  }

  test("audit rows reference email ids") {
    val audit = Normalize.auditRows(emails, "imported")
    assert(audit.count() == 4)
    val joined = audit.join(emails, audit("email_id") === emails("id")).count()
    assert(joined == 4)
  }
}
