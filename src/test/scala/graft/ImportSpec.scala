package graft

import graft.api.EmailEtlApi
import graft.ingest.Normalize
import graft.sinks.MarkdownSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-message lines for import fixtures (FIXTURES.md §1 shape): a
  * multipart/mixed tree with an alternative body and any number of
  * attachments, or a bodyless message. */
object ImportFixture {
  private def b64(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  private def b64(s: String): String = b64(s.getBytes("UTF-8"))
  private def hdr(n: String, v: String) = s"""{"name":"$n","value":"$v"}"""
  private val noBody = """{"data":null,"size":0,"attachmentId":null}"""

  /** An attachment part: `safe` is a png, otherwise an .exe. */
  final case class Att(name: String, safe: Boolean)

  def msg(id: String, date: String, subject: String,
      plain: Option[String] = None, html: Option[String] = None,
      atts: Seq[Att] = Nil, from: String = "Ann Lee <ann@x.com>"): String = {
    val bodies = plain.map(t => ("text/plain", t)).toSeq ++ html.map(t => ("text/html", t))
    val alt = bodies.zipWithIndex.map { case ((mime, t), i) =>
      s"""{"partId":"1.${i + 1}","mimeType":"$mime","filename":"","headers":[],
         |"body":{"data":"${b64(t)}","size":${t.length},"attachmentId":null}}""".stripMargin
    }
    val attParts = atts.zipWithIndex.map { case (a, i) =>
      val (mime, data) =
        if (a.safe) ("image/png", b64(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, i.toByte)))
        else ("application/octet-stream", b64(s"MZ payload $i"))
      s"""{"partId":"${i + 2}","mimeType":"$mime","filename":"${a.name}","headers":[],
         |"body":{"data":"$data","size":9,"attachmentId":"att-$id-$i"}}""".stripMargin
    }
    val children =
      (if (alt.isEmpty) Nil
       else Seq(s"""{"partId":"1","mimeType":"multipart/alternative","filename":"","headers":[],
         |"body":$noBody,"parts":[${alt.mkString(",")}]}""".stripMargin)) ++ attParts
    s"""{"id":"$id","threadId":"t-$id","labelIds":["INBOX","Label_1"],"snippet":"about $subject",
       |"sizeEstimate":${100 + id.length},"historyId":"h-$id",
       |"payload":{"partId":"0","mimeType":"multipart/mixed","filename":"",
       |"headers":[${hdr("From", from)},${hdr("To", "bob@y.com, cy@z.com")},${hdr("Subject", subject)},${hdr("Date", date)}],
       |"body":$noBody,"parts":[${children.mkString(",")}]}}""".stripMargin.replaceAll("\n", "")
  }

  def write(dir: String, file: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, file),
      lines.mkString("\n").getBytes("UTF-8"))

  /** Order-insensitive table hash: row count and the wrapping sum of each
    * row's `xxhash64` over its JSON form, columns in name order. */
  def tableHash(df: DataFrame): String = {
    val hs = df.select(xxhash64(to_json(struct(df.columns.sorted.map(col).toSeq: _*))))
      .collect().map(_.getLong(0))
    s"${hs.length}:${hs.sum}"
  }

  /** Every table of the store under `store` and every projection of its
    * `emails`: `emails` without its nested attachment rows, those rows
    * ([[EmailEtlApi.attachments]]), `audit` as its files hold it, and the
    * markdown archive and index. */
  def storeTables(spark: SparkSession, store: String): Seq[(String, DataFrame)] = {
    val api = new EmailEtlApi(spark, store)
    Seq(
      "emails" -> api.emails.drop("attachments"),
      "attachments" -> api.attachments,
      "audit" -> spark.read.parquet(s"$store/audit"),
      "markdown/archive" -> MarkdownSink.archive(api.emails),
      "markdown/index" -> MarkdownSink.index(api.emails))
  }
}

/** Golden spec of the import path: `importFull`, two `syncIncremental`s,
  * an import that finds nothing new, a `maxResults`/`startDate` import
  * without embeddings followed by `embedBacklog()`, and a re-import over
  * stored rows of newer and of null version. Each step pins all eight
  * ImportStatus counters and an order-insensitive hash of every table the
  * import writes and of the attachment rows, markdown archive and index
  * projected from `emails`; after each, the attachment rows have unique
  * ids and each belongs to a stored email. A last case re-imports a
  * message whose new version drops an attachment. */
class ImportSpec extends SparkSpec {
  import ImportFixture._

  private val day1 = Seq(
    msg("a1", "Fri, 01 Mar 2024 10:00:00 +0000", "budget review",
      plain = Some("please review the budget before friday"),
      atts = Seq(Att("plan.png", safe = true), Att("run.exe", safe = false))),
    msg("a2", "Sat, 02 Mar 2024 09:30:00 +0100", "launch notes",
      html = Some("<p>the launch is <b>on track</b></p>")),
    msg("a3", "Sun, 03 Mar 2024 08:00:00 +0000", "empty shell",
      atts = Seq(Att("scan.png", safe = true))),
    msg("a4", "Mon, 04 Mar 2024 12:00:00 +0000", "team photo",
      plain = Some("photo from the offsite"), html = Some("<i>photo</i>"),
      atts = Seq(Att("team.png", safe = true))),
    "{this line is not json",
    msg("a4", "Mon, 04 Mar 2024 12:00:00 +0000", "team photo",
      plain = Some("photo from the offsite"), html = Some("<i>photo</i>"),
      atts = Seq(Att("team.png", safe = true))),
    msg("a5", "sometime last week", "undated note", plain = Some("no usable date here")),
    """{"id":"cut1","threadId":"t-cut1","labelIds":["INBOX"],"payload":{"partId":"0","mimeType":"text/pl""")

  private val day2 = Seq(
    msg("b1", "Tue, 05 Mar 2024 10:00:00 +0000", "vendor invoice",
      plain = Some("invoice attached, payment due"),
      atts = Seq(Att("invoice.exe", safe = false))),
    msg("b2", "Tue, 05 Mar 2024 11:00:00 +0000", "shipping update",
      plain = Some("your order has shipped")),
    msg("b1", "Tue, 05 Mar 2024 10:00:00 +0000", "vendor invoice",
      plain = Some("invoice attached, payment due"),
      atts = Seq(Att("invoice.exe", safe = false))),
    "]]",
    msg("b3", "Wed, 06 Mar 2024 07:45:00 +0000", "roadmap draft",
      plain = Some("draft roadmap for the quarter"),
      atts = Seq(Att("chart.png", safe = true), Att("tool.exe", safe = false))))

  /** One step: its counters in a fixed key order, then each table's hash. */
  private def record(step: String, stats: Map[String, Long], store: String): Seq[(String, String)] = {
    val keys = Seq("total_found", "processed", "skipped", "failed",
      "attachments_processed", "attachments_rejected", "embedded", "total")
    assert(stats.keySet == keys.toSet, s"$step: ImportStatus keys ${stats.keySet}")
    (s"$step status" -> keys.map(k => s"$k=${stats(k)}").mkString(" ")) +: tables(step, store)
  }

  /** Each table's hash after `step`, once its attachment rows are checked. */
  private def tables(step: String, store: String): Seq[(String, String)] = {
    checkAttachments(step, store)
    storeTables(spark, store).map { case (t, df) => s"$step $t" -> tableHash(df) }
  }

  /** The store's attachment rows have unique ids, and each belongs to a
    * stored email. */
  private def checkAttachments(step: String, store: String): Unit = {
    val api = new EmailEtlApi(spark, store)
    val emailIds = api.emails.select("id").collect().map(_.getLong(0)).toSet
    val atts = api.attachments.select("id", "email_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(atts.map(_._1).distinct.length == atts.length, s"$step: duplicate attachment ids")
    assert(atts.forall(a => emailIds(a._2)), s"$step: an attachment row without its email")
  }

  private def check(got: Seq[(String, String)], want: Seq[(String, String)]): Unit = {
    val bad = got.zip(want).filter { case (g, w) => g != w }
      .map { case ((k, g), (_, w)) => s"$k:\n  got  $g\n  want $w" }
    assert(got.map(_._1) == want.map(_._1) && bad.isEmpty,
      got.map { case (k, v) => s"""  "$k" -> "$v",""" }.mkString("\n", "\n", "\n") + bad.mkString("\n"))
  }

  test("importFull, two syncs and an import that finds nothing new match the golden counters and tables") {
    val inbox = tmpDir("import-inbox")
    val store = tmpDir("import-store")
    val api = new EmailEtlApi(spark, store)
    write(inbox, "day1.json", day1)
    val full = record("import", api.importFull(inbox), store)
    write(inbox, "day2.json", day2)
    val sync1 = record("sync1", api.syncIncremental(inbox), store)
    val sync2 = record("sync2", api.syncIncremental(inbox), store)
    // nothing at or after the start date: every observed subtree is empty
    val none = record("none", api.importFull(inbox,
      startDate = Some(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))), store)
    check(full ++ sync1 ++ sync2 ++ none, Golden.incremental)
  }

  test("maxResults + startDate without embeddings, then embedBacklog, match the golden counters and tables") {
    val inbox = tmpDir("import-capped-inbox")
    val store = tmpDir("import-capped-store")
    val api = new EmailEtlApi(spark, store)
    write(inbox, "day1.json", day1)
    write(inbox, "day2.json", day2)
    val capped = record("capped", api.importFull(inbox, maxResults = Some(4),
      startDate = Some(java.sql.Timestamp.valueOf("2024-03-02 00:00:00")),
      generateEmbeddings = false), store)
    val embedded = api.embedBacklog()
    val after = Seq("embedBacklog" -> embedded.toString) ++ tables("backlog", store)
    check(capped ++ after, Golden.capped)
  }

  test("re-import: a stored row with a newer version survives, one with a null version is replaced") {
    val inbox = tmpDir("import-version-inbox")
    val store = tmpDir("import-version-store")
    val api = new EmailEtlApi(spark, store)
    write(inbox, "day1.json", day1)
    api.importFull(inbox)
    checkAttachments("import", store)
    val bumped = spark.read.parquet(s"$store/emails")
      .withColumn("updated_at",
        when(col("message_id") === "a2", lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
          .when(col("message_id") === "a3", lit(null).cast("timestamp"))
          .otherwise(col("updated_at")))
    bumped.write.parquet(s"$store/emails__bumped")
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/emails"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$store/emails__bumped"), new org.apache.hadoop.fs.Path(s"$store/emails"))
    check(record("again", api.importFull(inbox), store), Golden.versions)
  }

  test("re-import: a new version that drops an attachment leaves only its own rows") {
    val v1 = tmpDir("import-drop-v1")
    val v2 = tmpDir("import-drop-v2")
    val store = tmpDir("import-drop-store")
    val api = new EmailEtlApi(spark, store)
    write(v1, "v1.json", Seq(
      msg("d1", "Fri, 01 Mar 2024 10:00:00 +0000", "plans", plain = Some("two files"),
        atts = Seq(Att("plan.png", safe = true), Att("run.exe", safe = false))),
      msg("d2", "Sat, 02 Mar 2024 10:00:00 +0000", "photo", plain = Some("one file"),
        atts = Seq(Att("keep.png", safe = true)))))
    write(v2, "v2.json", Seq(
      msg("d1", "Fri, 01 Mar 2024 10:00:00 +0000", "plans", plain = Some("one file now"),
        atts = Seq(Att("plan.png", safe = true)))))
    api.importFull(v1)
    checkAttachments("v1", store)
    val stats = api.importFull(v2)
    checkAttachments("v2", store)
    assert((stats("total_found"), stats("skipped"), stats("total")) == ((1L, 1L, 2L)), s"$stats")
    def rows(df: DataFrame): Set[String] = df.toJSON.collect().toSet
    val d1 = api.attachments.filter(col("file_path").startsWith("d1/"))
    assert(rows(d1) == rows(Normalize.attachments(Normalize.readRaw(spark, v2))))
    assert(api.attachments.select("file_path").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("d1/plan.png", "d2/keep.png"))
  }

  test("an attachment whose data does not decode is imported without a size or hash") {
    val inbox = tmpDir("import-b64-inbox")
    val api = new EmailEtlApi(spark, tmpDir("import-b64-store"))
    // "abcde" leaves one base64 character over, which unbase64 rejects
    val line = msg("x1", "Fri, 01 Mar 2024 10:00:00 +0000", "scan", plain = Some("see attached"),
      atts = Seq(Att("a.exe", safe = false)))
      .replaceAll(""""data":"[^"]*","size":9""", """"data":"!!abcde","size":9""")
    write(inbox, "x.json", Seq(line))
    assert(api.importFull(inbox)("processed") == 1L)
    val rows = api.attachments.collect().toSeq
    assert(rows.map(_.getAs[String]("filename")) == Seq("a.exe.txt"))
    assert(rows.head.isNullAt(rows.head.fieldIndex("size_bytes")) &&
      rows.head.isNullAt(rows.head.fieldIndex("content_hash")))
  }

  /** Counters and hashes as the import gave them before it became one
    * pass, with two counts fixed:
    *  - `failed` counts the line cut off after its `"id"` (`cut1`), which
    *    yields no message, like every other unparseable line;
    *  - `attachments_*` count the attachments of each new message once:
    *    a duplicate line (`a4`, `b1`) and a message reported as skipped
    *    (the re-read boundary message of a sync, every message of the
    *    re-import) add nothing.
    * The tables are unchanged but for the attachment rows, which are now
    * the stored emails' own: a duplicate line adds none, so the rows a
    * duplicate line left in a table written for the first time are gone
    * (`import attachments` 5 → 4 rows, `a4`'s twice; `capped` and
    * `backlog attachments` 6 → 4 rows, `a4`'s and `b1`'s twice). */
  private object Golden {
    val incremental: Seq[(String, String)] = Seq(
      "import status" -> "total_found=5 processed=5 skipped=0 failed=2 attachments_processed=3 attachments_rejected=1 embedded=4 total=5",
      "import emails" -> "5:-852426676261443018",
      "import attachments" -> "4:-7630052450980914965",
      "import audit" -> "5:2588998793859516006",
      "import markdown/archive" -> "5:-2679912517035318161",
      "import markdown/index" -> "5:1148333043699649407",
      "sync1 status" -> "total_found=4 processed=3 skipped=1 failed=3 attachments_processed=1 attachments_rejected=2 embedded=4 total=8",
      "sync1 emails" -> "8:-953812444904526279",
      "sync1 attachments" -> "7:-6526779267893783682",
      "sync1 audit" -> "9:-8655503474004391511",
      "sync1 markdown/archive" -> "8:7760546087158573521",
      "sync1 markdown/index" -> "8:4022248028521244882",
      "sync2 status" -> "total_found=1 processed=0 skipped=1 failed=3 attachments_processed=0 attachments_rejected=0 embedded=1 total=8",
      "sync2 emails" -> "8:-953812444904526279",
      "sync2 attachments" -> "7:-6526779267893783682",
      "sync2 audit" -> "10:-2195984829789025427",
      "sync2 markdown/archive" -> "8:7760546087158573521",
      "sync2 markdown/index" -> "8:4022248028521244882",
      "none status" -> "total_found=0 processed=0 skipped=0 failed=3 attachments_processed=0 attachments_rejected=0 embedded=0 total=8",
      "none emails" -> "8:-953812444904526279",
      "none attachments" -> "7:-6526779267893783682",
      "none audit" -> "10:-2195984829789025427",
      "none markdown/archive" -> "8:7760546087158573521",
      "none markdown/index" -> "8:4022248028521244882")
    val versions: Seq[(String, String)] = Seq(
      "again status" -> "total_found=5 processed=0 skipped=5 failed=2 attachments_processed=0 attachments_rejected=0 embedded=3 total=5",
      "again emails" -> "5:-7610145697820242638",
      "again attachments" -> "4:-7630052450980914965",
      "again audit" -> "10:5177997587719032012",
      "again markdown/archive" -> "5:-2679912517035318161",
      "again markdown/index" -> "5:1148333043699649407")
    val capped: Seq[(String, String)] = Seq(
      "capped status" -> "total_found=4 processed=4 skipped=0 failed=3 attachments_processed=2 attachments_rejected=2 embedded=0 total=4",
      "capped emails" -> "4:835798231161302933",
      "capped attachments" -> "4:-7905132578813627037",
      "capped audit" -> "4:7202241805845644099",
      "capped markdown/archive" -> "4:3013817379199745865",
      "capped markdown/index" -> "4:-7424295579368055323",
      "embedBacklog" -> "4",
      "backlog emails" -> "4:5583526941171540820",
      "backlog attachments" -> "4:-7905132578813627037",
      "backlog audit" -> "4:7202241805845644099",
      "backlog markdown/archive" -> "4:3013817379199745865",
      "backlog markdown/index" -> "4:-7424295579368055323")
  }
}
