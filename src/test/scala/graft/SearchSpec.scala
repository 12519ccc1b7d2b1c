package graft

import graft.enrich.HashEmbedder
import graft.search.{EmailSearch, SearchFilters}
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val embedder = new HashEmbedder(dim = 32)
  private def vec(text: String): Seq[Float] = embedder.embedBatch(Seq(text)).head.toSeq

  private lazy val emails = Seq(
    (1L, "m1", "t1", "spark join tuning", "a@x.com", "Alice", ts("2024-01-10 10:00:00"),
      "how to tune a spark join for skew", Some(vec("spark join tuning")), "gmail", "acct1", true),
    (2L, "m2", "t1", "re: spark join tuning", "b@y.com", "Bob", ts("2024-01-11 10:00:00"),
      "use broadcast joins for small tables in spark", Some(vec("broadcast joins spark")), "gmail", "acct1", false),
    (3L, "m3", "t2", "dinner plans", "c@z.com", "Carol", ts("2024-01-12 10:00:00"),
      "pizza tonight?", Some(vec("dinner pizza tonight")), "outlook", "acct2", false),
    (4L, "m4", "t2", "no embedding yet", "d@w.com", "Dan", ts("2024-01-13 10:00:00"),
      "pending embedding", None, "gmail", "acct1", false)
  ).toDF("id", "message_id", "thread_id", "subject", "sender", "sender_name",
    "date", "body_plain", "embedding", "provider", "provider_account", "has_attachments")
    .withColumn("body_markdown", col("body_plain"))
    .withColumn("labels", array(lit("INBOX")))
    .cache()

  private lazy val search = new EmailSearch(emails)

  test("B1/B2/B3: point lookups and thread order") {
    assert(search.byMessageId("m2").collect()(0).getAs[Long]("id") == 2L)
    assert(search.byId(3L).collect()(0).getAs[String]("message_id") == "m3")
    assert(search.thread("t1").select("message_id").as[String].collect().toSeq
      == Seq("m1", "m2"))
  }

  test("B4 backlog: null embedding with body, newest first") {
    val got = search.embeddingBacklog().select("message_id").as[String].collect()
    assert(got.toSeq == Seq("m4"))
  }

  test("B5/B9: range top-k and recent-N") {
    assert(search.since(ts("2024-01-10 12:00:00"), 2)
      .select("message_id").as[String].collect().toSeq == Seq("m4", "m3"))
    assert(search.recent(1).select("message_id").as[String].collect().toSeq == Seq("m4"))
  }

  test("C1-C3 stats") {
    val r = search.stats.collect()(0)
    assert(r.getAs[Long]("total_emails") == 4L)
    assert(r.getAs[Long]("with_embeddings") == 3L)
    assert(r.getAs[java.sql.Timestamp]("latest_date") == ts("2024-01-13 10:00:00"))
  }

  test("C4 provider stats sorted by count") {
    val rows = search.byProviderStats.collect()
    assert(rows(0).getAs[String]("provider") == "gmail")
    assert(rows(0).getAs[Long]("email_count") == 3L)
    assert(rows(0).getAs[Long]("emails_with_attachments") == 1L)
    assert(rows(1).getAs[String]("provider") == "outlook")
  }

  test("C7 patterns: domain grouping") {
    val rows = search.patterns("domain", days = 3650, now = ts("2024-02-01 00:00:00"))
      .as[(String, Long, Long)].collect()
    assert(rows.length == 4)
    assert(rows.forall(_._2 == 1L))
    assert(rows.map(_._1).toSet == Set("x.com", "y.com", "z.com", "w.com"))
  }

  test("C7 patterns: label explode and week grouping") {
    val byLabel = search.patterns("label", days = 3650, now = ts("2024-02-01 00:00:00"))
      .collect()
    assert(byLabel.exists(r => r.getAs[String]("key") == "INBOX"
      && r.getAs[Long]("email_count") == 4L))
    val byWeek = search.patterns("week", days = 3650, now = ts("2024-02-01 00:00:00"))
      .collect()
    assert(byWeek.map(_.getAs[Long]("email_count")).sum == 4L)
  }

  test("C7 patterns: day grouping and unsupported key") {
    val byDay = search.patterns("day", days = 3650, now = ts("2024-02-01 00:00:00"))
      .collect()
    assert(byDay.length == 4)
    intercept[IllegalArgumentException](search.patterns("nope"))
  }

  test("D1 k-NN: self-match ranks first") {
    val got = search.searchSimilar(vec("spark join tuning"), k = 2)
      .select("message_id", "similarity").as[(String, Double)].collect()
    assert(got(0)._1 == "m1")
    assert(math.abs(got(0)._2 - 1.0) < 1e-9)
    assert(got(1)._2 < got(0)._2)
  }

  test("D3 threshold filters weak matches") {
    val got = search.searchSimilarThreshold(vec("spark join tuning"), k = 10,
      threshold = 0.9)
    assert(got.count() == 1)
  }

  test("D2 hybrid: text rank lifts term-matching emails; filters apply") {
    val q = vec("dinner pizza tonight")
    val all = search.hybridSearch(q, "pizza dinner", k = 4)
      .select("message_id").as[String].collect()
    assert(all(0) == "m3")
    val gmailOnly = search.hybridSearch(q, "pizza dinner", k = 4,
      SearchFilters(provider = Some("gmail")))
      .select("message_id").as[String].collect()
    assert(!gmailOnly.contains("m3"))
  }

  test("D2 hybrid respects date filters (B6)") {
    val q = vec("spark join tuning")
    val got = search.hybridSearch(q, "spark join", k = 10,
      SearchFilters(dateFrom = Some(ts("2024-01-11 00:00:00")),
        dateTo = Some(ts("2024-01-12 23:59:59"))))
      .select("message_id").as[String].collect()
    assert(got.toSet == Set("m2", "m3"))
  }

  test("a date window never returns an undated email: from only, to only, or both") {
    // an undated copy of m1 ranks first for m1's query when nothing filters it
    val undated = emails.filter(col("id") === 1L)
      .withColumn("id", lit(5L)).withColumn("message_id", lit("m5"))
      .withColumn("date", lit(null).cast("timestamp"))
    val withUndated = new EmailSearch(emails.unionByName(undated))
    val q = vec("spark join tuning")
    def ids(f: SearchFilters): Set[String] =
      withUndated.hybridSearch(q, "spark join", k = 10, f)
        .select("message_id").as[String].collect().toSet
    val from = Some(ts("2024-01-11 00:00:00"))
    val to = Some(ts("2024-01-11 23:00:00"))
    assert(ids(SearchFilters()) == Set("m1", "m2", "m3", "m5"))
    assert(ids(SearchFilters(dateFrom = from)) == Set("m2", "m3"))
    assert(ids(SearchFilters(dateTo = to)) == Set("m1", "m2"))
    assert(ids(SearchFilters(dateFrom = from, dateTo = to)) == Set("m2"))

    // the same through the REST route, over an imported store
    import ImportFixture._
    val inbox = tmpDir("window-inbox")
    write(inbox, "batch.json", Seq(
      msg("d1", "Fri, 01 Mar 2024 10:00:00 +0000", "budget plan", plain = Some("the budget plan")),
      msg("d2", "Tue, 05 Mar 2024 10:00:00 +0000", "budget review", plain = Some("review the budget")),
      msg("u1", "not a date", "budget plan", plain = Some("the budget plan"))))
    val api = new graft.api.EmailEtlApi(spark, tmpDir("window-store"))
    api.importFull(inbox)
    val server = graft.api.RestServer.start(api, port = 0)
    def rest(window: String): Set[String] = {
      val body = org.json4s.jackson.JsonMethods.parse(ReadFixture.post(this, server,
        "/api/search/emails", s"""{"query": "budget plan", "limit": 10$window}"""))
      (body \ "results" \ "message_id").children.map(_.values.toString).toSet
    }
    try {
      assert(rest("") == Set("d1", "d2", "u1"))
      assert(rest(""", "date_from": "2024-03-02T00:00:00Z"""") == Set("d2"))
      assert(rest(""", "date_to": "2024-03-02T00:00:00Z"""") == Set("d1"))
      assert(rest(""", "date_from": "2024-02-01T00:00:00Z", "date_to": "2024-04-01T00:00:00Z"""") ==
        Set("d1", "d2"))
    } finally server.stop(0)
  }
}
