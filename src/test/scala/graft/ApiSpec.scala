package graft

import graft.api.EmailEtlApi

/** End-to-end through the public facade: import → embed → search → ask →
  * categorize → status, driving the same path the CLI verbs use. */
class ApiSpec extends SparkSpec {

  private def rawMsg(id: String, subject: String, dateRfc: String, body: String): String =
    s"""{"id":"$id","threadId":"t-$id","labelIds":["INBOX"],"snippet":"s","sizeEstimate":1,"historyId":"h",
       |"payload":{"partId":"0","mimeType":"text/plain","filename":"",
       |"headers":[{"name":"From","value":"sender@x.com"},{"name":"Subject","value":"$subject"},{"name":"Date","value":"$dateRfc"}],
       |"body":{"data":"${b64url(body)}","size":1,"attachmentId":null}}}""".stripMargin.replaceAll("\n", "")

  private lazy val store = tmpDir("api-store")
  private lazy val api = {
    val inbox = tmpDir("api-inbox")
    java.nio.file.Files.write(java.nio.file.Paths.get(inbox, "batch.json"),
      Seq(
        rawMsg("x1", "spark join tuning", "Mon, 15 Jan 2024 10:00:00 +0000",
          "how to tune spark joins with broadcast"),
        rawMsg("x2", "project deadline", "Tue, 16 Jan 2024 10:00:00 +0000",
          "please send the report before the meeting"),
        rawMsg("x3", "pizza tonight", "Wed, 17 Jan 2024 10:00:00 +0000",
          "dinner at eight with friends")
      ).mkString("\n").getBytes("UTF-8"))
    val a = new EmailEtlApi(spark, store)
    val stats = a.importFull(inbox)
    assert(stats("processed") == 3L && stats("embedded") == 3L)
    a
  }

  test("import full: store written, embeddings backfilled, idempotent counts") {
    assert(api.emails.count() == 3)
    assert(api.emails.filter("embedding IS NULL").count() == 0)
    assert(api.estimateCost() == 0.0) // backlog drained
  }

  test("search semantic returns ranked hits through hybrid scorer") {
    val hits = api.searchSemantic("spark join tuning", 3).collect()
    assert(hits.nonEmpty)
    assert(hits(0).getAs[String]("message_id") == "x1")
  }

  test("ask: retrieval + stub answer with sources") {
    val (answer, sources) = api.ask("what about spark joins?", contextLimit = 2)
    assert(answer.contains("[stub]"))
    assert(sources.length == 2)
  }

  test("extract actions: injectable now makes the last-N-days window deterministic") {
    val acts = api.extractActions(days = 30, limit = 10,
      now = Some(java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))).collect()
    // all 3 fixture emails fall in the injected window; only the
    // "please send the report" one carries an action pattern
    assert(acts.length == 1)
    assert(acts(0).getAs[String]("subject") == "project deadline")
    assert(api.extractActions(days = 1, limit = 10,
      now = Some(java.sql.Timestamp.valueOf("2025-06-01 00:00:00"))).collect().isEmpty)
  }

  test("categorize + patterns + status verbs") {
    val cats = api.categorize(10).collect()
    assert(cats.length == 3)
    assert(api.patterns("domain", days = 36500).collect()
      .exists(_.getAs[String]("key") == "x.com"))
    val st = api.status().collect()(0)
    assert(st.getAs[Long]("total_emails") == 3L)
  }

  test("unknown CLI verb prints usage without throwing") {
    graft.api.Cli.run(spark, List("bogus"))
  }

  test("CLI dispatch: providers / db init / db test verbs run end-to-end") {
    api.emails.count() // force the lazy import fixture first
    graft.api.Cli.run(spark, List("providers", store))
    graft.api.Cli.run(spark, List("db", "init", store))
    graft.api.Cli.run(spark, List("db", "test", store)) // exits 1 on failure
  }

  test("providers: catalog row carries enabled/default flags and store stats") {
    val rows = api.listProviders(
      enabledCsv = Some("gmail"), defaultProvider = Some("gmail")).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("provider") == "gmail")
    assert(r.getAs[Boolean]("enabled") && r.getAs[Boolean]("is_default"))
    assert(r.getAs[Long]("email_count") == 3L)
    assert(r.getAs[java.sql.Timestamp]("earliest_email")
      .before(r.getAs[java.sql.Timestamp]("latest_email")))
    // a provider disabled by env contract keeps its catalog row
    val off = api.listProviders(
      enabledCsv = Some(""), defaultProvider = Some("gmail")).collect()(0)
    assert(!off.getAs[Boolean]("enabled") && off.getAs[Boolean]("is_default"))
  }

  test("providers: empty store lists the catalog with null stats") {
    val a = new EmailEtlApi(spark, tmpDir("api-empty-store"))
    val r = a.listProviders(Some("gmail"), Some("gmail")).collect()(0)
    assert(r.getAs[String]("provider") == "gmail")
    assert(r.isNullAt(r.fieldIndex("email_count")))
  }

  test("db init: creates missing tables with declared schemas, idempotent and non-destructive") {
    val fresh = tmpDir("api-db-init")
    val a = new EmailEtlApi(spark, fresh)
    val first = a.dbInit().collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(first.map(_._1).sorted == Seq("audit", "emails"))
    assert(first.forall(_._2 == "created"))
    // created tables are readable empty frames with the declared columns
    assert(spark.read.parquet(s"$fresh/emails").columns.contains("message_id"))
    // second init validates instead of recreating
    val second = a.dbInit().collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(second.values.forall(_ == "ok"))
    // and an already-populated store is left untouched and reported ok
    val onStore = api.dbInit().collect()
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2)))).toMap
    assert(onStore("emails") == (("ok", 3L)), s"got $onStore")
    assert(api.emails.count() == 3, "init must never truncate a live table")
  }

  test("db init: wrong column TYPES and extra columns both report schema_mismatch, not ok (r11 ADVICE)") {
    import org.apache.spark.sql.functions._
    // wrong type: `id` written as STRING where the layout declares LONG
    val wrongType = tmpDir("api-db-wrongtype")
    spark.range(1).select(col("id").cast("string").as("id"),
      lit("m").as("message_id"))
      .write.mode("overwrite").parquet(s"$wrongType/emails")
    val wt = new EmailEtlApi(spark, wrongType).dbInit().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(wt("emails") == "schema_mismatch", s"got $wt")
    // extra column: all declared columns present + one stranger
    val extra = tmpDir("api-db-extracol")
    val a2 = new EmailEtlApi(spark, extra)
    a2.dbInit() // create the layout
    spark.read.parquet(s"$extra/audit").withColumn("stray", lit(1))
      .write.mode("overwrite").parquet(s"$extra/audit2")
    // overwrite in place via the rewritten copy (can't overwrite a path
    // that is also the read source)
    val fs = new org.apache.hadoop.fs.Path(extra)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$extra/audit"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$extra/audit2"),
      new org.apache.hadoop.fs.Path(s"$extra/audit"))
    val ex = a2.dbInit().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ex("audit") == "schema_mismatch" && ex("emails") == "ok", s"got $ex")
  }

  test("db test: populated store probes readable; missing store does not") {
    val probe = api.dbTest().collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2), r.getLong(3)))
    val byName = probe.map(p => p._1 -> p).toMap
    assert(byName("emails")._3 && byName("emails")._4 == 3L)
    assert(byName("audit")._3 && byName("audit")._4 >= 3L)
    val missing = new EmailEtlApi(spark, tmpDir("api-db-missing")).dbTest().collect()
    assert(missing.forall(r => !r.getBoolean(1) && !r.getBoolean(2)))
  }

  test("sync after a swap cut between delete and rename keeps every prior row") {
    import ImportFixture._
    val store = tmpDir("api-swap-store")
    val day1 = tmpDir("api-swap-day1")
    val day2 = tmpDir("api-swap-day2")
    write(day1, "day1.json", Seq(
      msg("w1", "Fri, 01 Mar 2024 10:00:00 +0000", "budget", plain = Some("review the budget"),
        atts = Seq(Att("plan.png", safe = true), Att("run.exe", safe = false))),
      msg("w2", "Sat, 02 Mar 2024 10:00:00 +0000", "launch", plain = Some("launch is on track"),
        atts = Seq(Att("scan.png", safe = true)))))
    write(day2, "day2.json", Seq(
      msg("w3", "Sun, 03 Mar 2024 10:00:00 +0000", "invoice", plain = Some("payment due"),
        atts = Seq(Att("invoice.png", safe = true)))))
    val a = new EmailEtlApi(spark, store)
    a.importFull(day1)
    val tables = Seq("emails")
    def rows(t: String): Set[String] = spark.read.parquet(s"$store/$t").toJSON.collect().toSet
    val before = tables.map(rows)
    assert(before.map(_.size) == Seq(2))
    // a crash after each swap deleted its live table, before the rename
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    tables.foreach(t => assert(fs.rename(new org.apache.hadoop.fs.Path(s"$store/$t"),
      new org.apache.hadoop.fs.Path(s"$store/${t}__staging"))))
    a.syncIncremental(day2)
    val after = tables.map(rows)
    tables.indices.foreach(i => assert(before(i).subsetOf(after(i)), s"${tables(i)} lost rows"))
    assert(after.map(_.size) == Seq(3))
    assert(tables.forall(t => !fs.exists(new org.apache.hadoop.fs.Path(s"$store/${t}__staging"))))
  }

  test("sync takes a late undated message once and never re-reads it") {
    import ImportFixture._
    val inbox = tmpDir("api-undated-inbox")
    val a = new EmailEtlApi(spark, tmpDir("api-undated-store"))
    write(inbox, "day1.json", Seq(msg("d1", "Fri, 01 Mar 2024 10:00:00 +0000", "one", plain = Some("first"))))
    a.importFull(inbox)
    write(inbox, "day2.json", Seq(
      msg("d2", "Sat, 02 Mar 2024 10:00:00 +0000", "two", plain = Some("second")),
      msg("u1", "sometime last week", "undated", plain = Some("no usable date"))))
    val first = a.syncIncremental(inbox)
    assert(a.emails.select("message_id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("d1", "d2", "u1"))
    assert((first("total_found"), first("processed"), first("skipped")) == ((3L, 2L, 1L)), s"$first")
    // the next sync re-reads only the boundary message d2
    val second = a.syncIncremental(inbox)
    assert((second("total_found"), second("processed"), second("skipped")) == ((1L, 0L, 1L)), s"$second")
  }

  test("CLI import sync writes every table and embeds, as the API sync does") {
    import ImportFixture._
    val inbox = tmpDir("api-cli-sync-inbox")
    val store = tmpDir("api-cli-sync-store")
    write(inbox, "day1.json", Seq(msg("p1", "Fri, 01 Mar 2024 10:00:00 +0000", "scan",
      plain = Some("the scan is attached"), atts = Seq(Att("scan.png", safe = true)))))
    graft.api.Cli.run(spark, List("import", "sync", inbox, store))
    val tables = new java.io.File(store).list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(tables == Seq("audit", "emails"), tables.mkString(", "))
    val emails = new EmailEtlApi(spark, store).emails
    assert(emails.count() == 1 && emails.filter("embedding IS NULL").count() == 0)
    val archived = graft.sinks.MarkdownSink.archive(emails).collect()
    assert(archived.map(_.getAs[String]("message_id")).toSeq == Seq("p1"))
  }

  test("url screen: canonicalization, gate verdicts, within-batch keep-first dedup, bounds") {
    val rows = api.urlScreen(Seq(
      "http://www.Ex.org:80/a/?utm_s=1&x=1#f", // canon dup of the next, tracked
      "HTTP://ex.org/a?x=1",                   // same canon key, clean
      "https://ok.net/p/q",                    // clean single
      "https://deep.net/a/b/c/d/e/f?x=1&y=2&z=3" // fails depth + params
    )).collect()
    assert(rows.map(_.getAs[Long]("url_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    // one shared canon key for the first two — keep-first by input order
    assert(rows(0).getAs[String]("canon_url") == "http://ex.org/a?x=1")
    assert(rows(1).getAs[String]("canon_url") == "http://ex.org/a?x=1")
    assert(rows(0).getAs[Long]("n_dups") == 2L && rows(0).getAs[Boolean]("kept"))
    assert(!rows(1).getAs[Boolean]("kept"))
    // gate: utm_ tracking fails, clean passes, deep+parammy fails
    assert(!rows(0).getAs[Boolean]("pass") && rows(0).getAs[Boolean]("tracked"))
    assert(rows(1).getAs[Boolean]("pass") && rows(2).getAs[Boolean]("pass"))
    assert(!rows(3).getAs[Boolean]("pass"))
    assert(rows(2).getAs[String]("domain") == "ok.net")
    // bounds discipline: the driver boundary is hard
    intercept[IllegalArgumentException](api.urlScreen(Nil))
    intercept[IllegalArgumentException](
      api.urlScreen(Seq.fill(10001)("http://x.com/")))
  }

  test("tokenizer audit: three token counts + unigram fertility per text, bounds") {
    val rows = api.tokenizerAudit(Seq(
      "the theatre", // 'the' is a vocab piece: 11 chars, 2 words
      ""             // empty: all zero, ratios null
    )).collect()
    val r0 = rows(0)
    assert(r0.getAs[Long]("n_chars") == 11L && r0.getAs[Long]("n_words") == 2L)
    assert(r0.getAs[Long]("n_bpe") == 2L)   // two letter-runs
    assert(r0.getAs[Long]("n_est") == 3L)   // ceil(11/4)
    // viterbi: "the" -> [the] (900 < t+h+e = 1450); "theatre" ->
    // the engine's exact DP — cross-check against the in-process kernel
    val seg = graft.operators.UnigramLm.viterbi("theatre")
    assert(r0.getAs[Long]("n_pieces") == 1L + seg.nPieces)
    assert(r0.getAs[Long]("vit_cost") == 900L + seg.cost)
    assert(r0.getAs[Double]("pieces_per_word") == (1.0 + seg.nPieces) / 2.0)
    assert(r0.getAs[Double]("cost_per_char") == (900.0 + seg.cost) / 10.0)
    val r1 = rows(1)
    assert(r1.getAs[Long]("n_words") == 0L && r1.getAs[Long]("n_pieces") == 0L)
    assert(r1.isNullAt(r1.fieldIndex("pieces_per_word")))
    assert(r1.isNullAt(r1.fieldIndex("cost_per_char")))
    intercept[IllegalArgumentException](api.tokenizerAudit(Nil))
    intercept[IllegalArgumentException](
      api.tokenizerAudit(Seq.fill(1001)("x")))
  }
}
