package graft

import graft.ingest.Normalize
import graft.sinks.MarkdownSink
import org.apache.spark.sql.functions._

class StreamingAndSinkSpec extends SparkSpec {
  import ImportFixture.write
  import spark.implicits._

  private def rawMsg(id: String, subject: String, dateRfc: String, body: String): String =
    s"""{"id":"$id","threadId":"t-$id","labelIds":["INBOX"],"snippet":"s","sizeEstimate":1,"historyId":"h",
       |"payload":{"partId":"0","mimeType":"text/plain","filename":"",
       |"headers":[{"name":"From","value":"a@x.com"},{"name":"Subject","value":"$subject"},{"name":"Date","value":"$dateRfc"}],
       |"body":{"data":"${b64url(body)}","size":1,"attachmentId":null}}}""".stripMargin.replaceAll("\n", "")

  /** CLI `import sync`, and the (total_found, processed, skipped) it printed. */
  private def sync(inbox: String, store: String): (Long, Long, Long) = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(graft.api.Cli.run(spark, List("import", "sync", inbox, store)))
    val stats = out.toString("UTF-8").trim.split(" ").map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap
    (stats("total_found"), stats("processed"), stats("skipped"))
  }

  test("G1 import sync: drains, dedups, re-run upserts the update") {
    val inbox = tmpDir("inbox")
    val store = tmpDir("store")
    write(inbox, "b1.json", Seq(
      rawMsg("s1", "first", "Mon, 15 Jan 2024 12:00:00 +0000", "one"),
      rawMsg("s2", "second", "Mon, 15 Jan 2024 11:00:00 +0000", "two"),
      rawMsg("s2", "second dup", "Mon, 15 Jan 2024 11:00:00 +0000", "two dup")))
    assert(sync(inbox, store) == ((2L, 2L, 0L)))
    assert(spark.read.parquet(s"$store/emails").count() == 2)

    // a new file lands: the re-run reads from the store's latest date, so
    // s1 is re-read as skipped and the incoming s2 replaces the stored one
    write(inbox, "b2.json", Seq(
      rawMsg("s2", "second updated", "Tue, 16 Jan 2024 09:00:00 +0000", "two v2"),
      rawMsg("s3", "third", "Tue, 16 Jan 2024 10:00:00 +0000", "three")))
    assert(sync(inbox, store) == ((3L, 1L, 2L)))
    val after = spark.read.parquet(s"$store/emails")
    assert(after.count() == 3)
    assert(after.filter($"message_id" === "s2").collect()(0)
      .getAs[String]("subject") == "second updated")
    // nothing new: the boundary message is skipped and the store is unchanged
    val rows = after.toJSON.collect().toSet
    assert(sync(inbox, store) == ((1L, 0L, 1L)))
    assert(spark.read.parquet(s"$store/emails").toJSON.collect().toSet == rows)
  }

  test("G1 import sync crash recovery: staging promoted, no data loss") {
    val inbox = tmpDir("cr-inbox")
    val store = tmpDir("cr-store")
    write(inbox, "b1.json", Seq(
      rawMsg("c1", "one", "Mon, 15 Jan 2024 10:00:00 +0000", "x"),
      rawMsg("c2", "two", "Mon, 15 Jan 2024 11:00:00 +0000", "y")))
    sync(inbox, store)
    assert(spark.read.parquet(s"$store/emails").count() == 2)

    // simulate a crash between delete(store) and rename(staging, store):
    // staging holds the complete merged result, the store is gone
    val emails = new org.apache.hadoop.fs.Path(s"$store/emails")
    val staging = new org.apache.hadoop.fs.Path(s"$store/emails__staging")
    val fs = emails.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(emails, staging))

    // the next sync must first promote staging, then merge: the pre-crash
    // emails survive though the inbox no longer lists them
    new java.io.File(inbox, "b1.json").delete()
    write(inbox, "b2.json", Seq(rawMsg("c3", "three", "Tue, 16 Jan 2024 10:00:00 +0000", "z")))
    sync(inbox, store)
    val after = spark.read.parquet(s"$store/emails")
    assert(after.select("message_id").as[String].collect().sorted.toSeq ==
      Seq("c1", "c2", "c3"))
    assert(!fs.exists(staging))
  }

  private def rawDf(lines: Seq[String]) = {
    val dir = tmpDir("raw")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "m.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    Normalize.readRaw(spark, dir)
  }

  test("A5/A6 markdown archive: partitioned write, index, point read") {
    val out = tmpDir("mdsink")
    val emails = Normalize.emails(rawDf(Seq(
      rawMsg("a1", "Subject One", "Mon, 15 Jan 2024 10:00:00 +0000", "body one"),
      rawMsg("a2", "Subject Two", "Sat, 17 Feb 2024 11:00:00 +0000", "body two"))))
    val index = MarkdownSink.writeArchive(emails, out)
    assert(index.count() == 2)
    // YYYY/MM partition dirs exist
    assert(new java.io.File(s"$out/archive/year=2024/month=1").exists())
    assert(new java.io.File(s"$out/archive/year=2024/month=2").exists())

    val loaded = MarkdownSink.loadEmail(spark, out, "a1").collect()(0)
    assert(loaded.getAs[String]("frontmatter").contains("subject: \"Subject One\""))
    assert(loaded.getAs[String]("content").contains("body one"))
    assert(loaded.getAs[String]("path").startsWith("2024/01/20240115_100000_subject-one"))

    val stats = MarkdownSink.storageStats(index).collect()(0)
    assert(stats.getAs[Long]("total_emails") == 2L)
  }

  test("B8 date-range scan over index") {
    val out = tmpDir("mdsink2")
    val emails = Normalize.emails(rawDf(Seq(
      rawMsg("r1", "S1", "Mon, 15 Jan 2024 10:00:00 +0000", "b"),
      rawMsg("r2", "S2", "Sat, 17 Feb 2024 11:00:00 +0000", "b"))))
    val index = MarkdownSink.writeArchive(emails, out)
    val got = MarkdownSink.listByDateRange(index,
      "2024-01-01 00:00:00", "2024-01-31 00:00:00")
      .select("message_id").as[String].collect()
    assert(got.toSeq == Seq("r1"))
  }
}
