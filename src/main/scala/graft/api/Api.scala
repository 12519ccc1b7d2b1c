package graft.api

import graft.enrich._
import graft.ingest.Normalize
import graft.model.Schemas
import graft.search.{EmailSearch, SearchFilters}
import graft.store.TableSwap
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** What [[EmailEtlApi.importFull]] needs on the driver about one inbox
  * line: its message, its place in the batch, the two ordering columns
  * and its message's safe / unsafe attachment counts. */
private final case class BatchLine(messageId: String, line: Long,
    date: Option[java.sql.Timestamp], updatedAt: Option[java.sql.Timestamp],
    safe: Int, unsafe: Int)

/** What [[EmailEtlApi.importFull]] learns about one stored row it asked
  * for: its version, the `emails` file that holds it, and whether it
  * waits for an embedding. */
private final case class StoredRow(messageId: String, updatedAt: Option[java.sql.Timestamp],
    file: String, backlog: Boolean)

/** The `emails` files a commit stages: its part of the swap, and the
  * embedded count (read once the stage is written). */
private final case class EmailsChange(change: TableSwap.Change, embedded: () => Long)

private object BatchLine {
  /** `orderBy(col("date").desc, col("message_id"))`: newest first, undated
    * last, ties by message id in Spark's (UTF-8 byte) string order. */
  val newestFirst: Ordering[BatchLine] = (a, b) => (a.date, b.date) match {
    case (Some(x), Some(y)) if x.compareTo(y) != 0 => y.compareTo(x)
    case (Some(_), None) => -1
    case (None, Some(_)) => 1
    case _ => UTF8String.fromString(a.messageId).compareTo(UTF8String.fromString(b.messageId))
  }
}

/** One context email of [[EmailEtlApi.ask]]: its message id, and its
  * summary (id, message_id, subject, sender, sender_name, date) as the
  * JSON object Spark writes for that row. */
final case class AskSource(messageId: String, summary: String)

/** SURVEY §2 I — the reference's query entry points (CLI verbs
  * reference: main.py:44-446; REST routes reference: src/api/server.py;
  * MCP tools reference: src/api/mcp_tools.py:13-225) as one programmatic
  * facade over the engine. A thin CLI main ([[Cli]]) fronts it.
  *
  * Defaults and bounds follow the reference contract
  * (reference: src/api/models.py:77,96,113,126-127).
  */
final class EmailEtlApi(
    spark: SparkSession,
    storeDir: String,
    embedder: Embedder = new HashEmbedder(),
    categorizer: Categorizer = new StubCategorizer,
    answerer: Answerer = new StubAnswerer) {

  private def emailsPath = s"$storeDir/emails"

  /** The `emails` table, read with its declared schema. A read that infers
    * the schema runs a Spark job over the files' footers each time the
    * frame is built, and that job cost a REST search more than the search
    * itself. [[dbInit]] and [[dbTest]] read the files' own schema on
    * purpose: checking it is their job. */
  def emails: DataFrame = spark.read.schema(Schemas.emailSchema).parquet(emailsPath)
  private def search = new EmailSearch(emails)

  /** `import full` (reference: main.py:163-207, src/etl_pipeline.py:32-91):
    * normalize, merge (A4), write audit, embed backlog (A9). The markdown
    * archive and its index are not stored: they are projections of
    * `emails`, rendered on read ([[graft.sinks.MarkdownSink]]); so are the
    * attachment rows ([[attachments]]), which each email carries.
    * Parameters mirror EmailImportRequest (reference:
    * src/api/models.py:55-71): `startDate` is the `after:`
    * date filter, `maxResults` caps the listing (newest-first, like the
    * provider's recency-ordered message list; tie-broken by message_id
    * for determinism), `generateEmbeddings` gates the A9 pass. Returned
    * stats carry the full ImportStatus shape (models.py:224-233):
    * total_found / processed / skipped / failed /
    * attachments_processed / attachments_rejected, plus the engine's own
    * embedded / total counters.
    *
    * One pass: the inbox is parsed and normalized once into a persisted
    * batch (the lines in range, with their attachment rows: O(batch)).
    * Each of the two tables (`emails`, `audit`) is staged once and both
    * are committed by one [[TableSwap]]. `emails` is
    * copy-on-write at file granularity: only the files that hold a key the
    * batch replaces or a row to embed are rewritten, the batch goes into
    * files of its own, and the backlog page is embedded in the same
    * write. No counter has a query of its own: `failed` is an observation on the parse, `total` one on
    * the store lookup plus the new keys, `embedded` one on the backlog
    * page, and the rest follow from the batch's keys, which the merge
    * needs on the driver anyway.
    *
    * Every later query of the import reads the persisted batch and so
    * carries its plan: the batch plan's size is paid when the batch is
    * analyzed and cached, and again in the plan info and explain strings
    * of each of those queries. `NormalizeSpec` bounds that size.
    *
    * Spark compiles each query's generated classes into one JVM-wide
    * cache, 100 classes unless the session sets
    * `spark.sql.codegen.cache.maxEntries`. A sync is a handful of
    * queries, each planned the same way every time, and needs 44 classes;
    * the next sync finds them there and compiles none. The cache is four
    * LRU segments of 25, though, and a class's segment follows a hash
    * that includes its class loader's identity, so it differs from JVM to
    * JVM. In a JVM where more than 25 of the sync's classes share a
    * segment, that segment evicts its own classes and every sync
    * recompiles them (23 to 32 compilations where none would do);
    * `SyncCodegenSpec` guards both bounds. Keep a new step inside a query
    * that already runs rather than adding one. */
  def importFull(inboxDir: String,
      maxResults: Option[Int] = None,
      startDate: Option[java.sql.Timestamp] = None,
      generateEmbeddings: Boolean = true): Map[String, Long] = {
    recoverSwaps()
    // failed = raw lines the normalizer cannot attribute to a message
    // (corrupt or cut-off JSON parses with a null id; reference counts
    // these in stats['failed'], etl_pipeline.py:100-103)
    val parsed = Observation()
    val raw = Normalize.readRaw(spark, inboxDir)
      .observe(parsed, sum(col("id").isNull.cast("long")).as("failed"))
    val normalized = Normalize.emails(raw)
    // An undated line cannot be compared with the start date: it passes,
    // and the driver drops its message below if the store holds it. The
    // date goes in by reference (`EmailSearch.bound`), or each sync would
    // compile the batch's largest class anew.
    val lines = startDate
      .map(d => normalized.filter(EmailSearch.bound(col("date"), _ >= _, d) || col("date").isNull))
      .getOrElse(normalized)
      .withColumn("__line", monotonically_increasing_id())
      .persist()
    try {
      // One small row per line comes to the driver, as a broadcast join
      // would ship it. The first line of a message stands for it, so a
      // duplicate line adds nothing; `maxResults` keeps the newest
      // messages; the store is asked only for its versions of these keys.
      val all = lines.select(col("message_id"), col("__line"), col("date"),
          col("updated_at"),
          size(filter(col("attachments"), a => a.getField("is_safe"))),
          size(filter(col("attachments"), a => !a.getField("is_safe"))))
        .collect().map(r => BatchLine(r.getString(0), r.getLong(1),
          Option(r.getTimestamp(2)), Option(r.getTimestamp(3)), r.getInt(4), r.getInt(5)))
      val messages = all.groupBy(_.messageId).values.map(_.minBy(_.line)).toSeq
      def newest(ms: Seq[BatchLine]): Seq[BatchLine] =
        maxResults.fold(ms)(n => ms.sorted(BatchLine.newestFirst).take(math.max(0, n)))
      // A start date drops an undated message the store already holds: a
      // sync takes it once and never re-reads it, like the reference's
      // `after:`, which filters on the provider's own receipt date. Its
      // key joins the store lookup the merge runs anyway.
      val undated = if (startDate.isEmpty) Nil else messages.filter(_.date.isEmpty).map(_.messageId)
      // The store is asked once, for the versions of these keys and the
      // file that holds each: when it embeds, the backlog rows (null
      // embedding, a body) come along with their files. The same scan
      // counts the stored rows: with the batch's new keys, the committed
      // total.
      val storeExists = tableExists("emails")
      val live = TableSwap.liveFiles(spark, emailsPath)
      val asked = (newest(messages).map(_.messageId) ++ undated).distinct
      val wanted = col("message_id").isin(asked: _*) +:
        (if (generateEmbeddings) Seq(Backlog) else Nil)
      val stock = Observation()
      val found =
        if (!storeExists) Nil
        else emails.observe(stock, count(lit(1)).as("rows")).filter(wanted.reduce(_ || _))
          .select(col("message_id"), col("updated_at"), col("_metadata.file_name"), Backlog)
          .collect().map(r => StoredRow(r.getString(0), Option(r.getTimestamp(1)),
            r.getString(2), r.getBoolean(3))).toSeq
      val storedRows = if (storeExists) observed(stock, "rows") else 0L
      val askedSet = asked.toSet
      val stored = found.filter(r => askedSet(r.messageId)).map(r => r.messageId -> r).toMap
      val resident = undated.filter(stored.contains).toSet
      val chosen = newest(messages.filterNot(m => resident(m.messageId)))
      // A4, in Upsert.mergeByKey's order: the greater `updated_at` wins,
      // null ranks last, and the incoming row wins a tie
      val lost = chosen.filter(m => stored.get(m.messageId).flatMap(_.updatedAt)
        .exists(v => m.updatedAt.forall(v.after))).map(_.messageId).toSet
      val fresh = chosen.filterNot(m => stored.contains(m.messageId))
      val replaced = chosen.filter(m => stored.contains(m.messageId) && !lost(m.messageId))
        .map(m => stored(m.messageId))
      val arrivingLines = chosen.filterNot(m => lost(m.messageId))
      val replacedKeys = arrivingLines.map(_.messageId)

      val incoming =
        if (chosen.size == all.length) lines else only(lines, "__line", chosen.map(_.line))
      val arriving = except(incoming, "message_id", lost)
        .select(Schemas.emailSchema.fieldNames.map(col).toSeq: _*)
      val batchRows = if (storeExists && arrivingLines.isEmpty) None else Some(arriving)
      val touched = replaced.map(_.file) ++
        (if (generateEmbeddings) found.filter(_.backlog).map(_.file) else Nil)
      // the batch's size in the store, estimated from the live files
      val arrivingBytes =
        if (storedRows == 0) 0L else arrivingLines.size * live.map(_.bytes).sum / storedRows
      // The tables are staged at once, each query on a thread of its own:
      // a sync is a handful of small jobs, and one after another they
      // leave the cores idle while the driver plans and commits each.
      var emailsChange: Option[EmailsChange] = None
      val changes = together(
        () => {
          emailsChange = stageEmails(live, touched.toSet, replacedKeys, batchRows,
            arrivingBytes, generateEmbeddings)
          emailsChange.map(_.change)
        },
        // the audit rows of a commit go into one file: an append that
        // followed the batch's partitions would add a file per partition
        () => Some(TableSwap.change(spark, storeDir, "audit",
          TableSwap.stage(Normalize.auditRows(incoming, "imported").coalesce(1), storeDir, "audit"),
          replace = false)))
      TableSwap.swap(spark, storeDir, changes.flatten)

      Map(
        "total_found" -> chosen.size.toLong,
        "processed" -> fresh.size.toLong,
        "skipped" -> (chosen.size - fresh.size).toLong,
        "failed" -> observed(parsed, "failed"),
        "attachments_processed" -> fresh.map(_.safe.toLong).sum,
        "attachments_rejected" -> fresh.map(_.unsafe.toLong).sum,
        "embedded" -> emailsChange.fold(0L)(_.embedded()),
        "total" -> (storedRows + fresh.size))
    } finally lines.unpersist()
  }

  /** Rows of `df` whose `c` is one of `values`. */
  private def only(df: DataFrame, c: String, values: Seq[Any]): DataFrame =
    if (values.isEmpty) df.limit(0) else df.filter(col(c).isin(values: _*))

  /** Rows of `df` whose `c` is none of `values`. */
  private def except(df: DataFrame, c: String, values: Iterable[Any]): DataFrame =
    if (values.isEmpty) df else df.filter(!col(c).isin(values.toSeq: _*))

  /** Incremental sync (reference: src/etl_pipeline.py:233-245): import
    * everything dated at or after the store's latest email — the `>=`
    * is the reference's "small buffer to avoid missing emails"; boundary
    * re-reads dedup into `skipped`. An undated message is taken by the
    * first sync that finds it and by no later one ([[importFull]]'s
    * start-date rule). Empty or missing store falls back to a full
    * import, exactly like the reference. The one sync of every entry
    * point: CLI `import sync`, REST `/api/emails/sync`, MCP `sync_emails`. */
  def syncIncremental(inboxDir: String,
      generateEmbeddings: Boolean = true): Map[String, Long] = {
    recoverSwaps()
    val latest: Option[java.sql.Timestamp] =
      if (tableExists("emails"))
        Option(emails.agg(max(col("date"))).collect()(0).getTimestamp(0))
      else None
    importFull(inboxDir, startDate = latest,
      generateEmbeddings = generateEmbeddings)
  }

  /** Embedding pass: B4 backlog → H1 batched embed → A9 column upsert.
    * Only the `emails` files that hold a backlog row are rewritten. */
  def embedBacklog(): Long = {
    recoverSwaps()
    if (!tableExists("emails")) return 0L
    val touched = emails.filter(Backlog).select(col("_metadata.file_name")).distinct()
      .collect().map(_.getString(0)).toSet
    stageEmails(TableSwap.liveFiles(spark, emailsPath), touched, Nil, None, 0, embed = true)
      .fold(0L) { e => TableSwap.swap(spark, storeDir, Seq(e.change)); e.embedded() }
  }

  /** Rows that wait for an embedding: no embedding yet, and a body. */
  private val Backlog = col("embedding").isNull &&
    (col("body_plain").isNotNull || col("body_markdown").isNotNull)

  private def readEmails(paths: Seq[String]): DataFrame =
    spark.read.schema(Schemas.emailSchema).parquet(paths: _*)

  private def observed(o: Observation, key: String): Long =
    Option(o.get.getOrElse(key, null)).fold(0L)(_.asInstanceOf[Number].longValue)

  /** Stages the `emails` files of a commit: the rows of `touched` live
    * files, and of the trailing files folded in with them, minus the
    * `replacedKeys` the batch replaces; then `arriving`, the batch (about
    * `arrivingBytes` in the store), in files of its own; with the backlog
    * page of both embedded when `embed`. None when there is nothing to
    * write.
    *
    * File count stays bounded like a binary counter: newest first, every
    * live file no larger than what the commit writes so far is folded into
    * it. The batch keeps files of its own because the next sync re-reads
    * its newest message and so touches them: were the batch merged into
    * the rewritten rows, each sync would rewrite its predecessor's whole
    * output. */
  private def stageEmails(live: Seq[TableSwap.LiveFile], touched: Set[String],
      replacedKeys: Seq[String], arriving: Option[DataFrame], arrivingBytes: Long,
      embed: Boolean): Option[EmailsChange] = {
    var writing = live.filter(f => touched(f.name)).map(_.bytes).sum + arrivingBytes
    val trailing = live.reverseIterator.filterNot(f => touched(f.name)).buffered
    val folded = scala.collection.mutable.Set[String]()
    while (trailing.hasNext && trailing.head.bytes <= writing) {
      writing += trailing.head.bytes
      folded += trailing.next().name
    }
    val rewrite = live.filter(f => touched(f.name) || folded(f.name))
    val survivors =
      if (rewrite.isEmpty) None
      else Some(except(readEmails(rewrite.map(f => s"$emailsPath/${f.name}")), "message_id", replacedKeys))
    // The rewritten rows come first, as one file (empty when the batch
    // replaced them all); the batch follows in a file per inbox file it
    // came from. A union of two single partitions would run as one, so
    // only the rewritten side is coalesced.
    val sides = (survivors.map(_.coalesce(1)) ++ arriving).toSeq
    if (sides.isEmpty) return None
    val merged = sides.reduce(_ unionByName _)
    val embedded = Observation()
    val staged = TableSwap.stage(
      if (!embed) merged
      else withEmbedded(merged, backlogPage(merged).observe(embedded, count(lit(1)).as("embedded"))),
      storeDir, "emails")
    val gen = live.map(_.gen).maxOption.getOrElse(0L) + 1
    Some(EmailsChange(
      TableSwap.Change("emails", staged.zipWithIndex.map { case (f, k) => f -> TableSwap.genName(gen, k) },
        rewrite.map(_.name), create = !tableExists("emails")),
      () => if (embed) observed(embedded, "embedded") else 0L))
  }

  /** Runs `tasks` at once, each on a thread of its own, which inherits the
    * caller's Spark job properties, and returns their results in order.
    * A failure is rethrown once every task has stopped, so no task still
    * writes when the caller recovers. */
  private def together[A](tasks: (() => A)*): Seq[A] = {
    val runs = tasks.map { t =>
      val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, A]]()
      val th = new Thread(() => out.set(try Right(t()) catch { case e: Throwable => Left(e) }))
      th.start()
      (th, out)
    }
    runs.foreach(_._1.join())
    runs.map(_._2.get).map(_.fold(e => throw e, identity))
  }

  /** B4: the backlog page of `rows` (emails-shaped) — rows with a null
    * embedding and a body, newest first, at most
    * `Schemas.EmbeddingBacklogPage` — as (id, embed_text). */
  private def backlogPage(rows: DataFrame): DataFrame =
    new EmailSearch(rows).embeddingBacklog()
      .select(col("id"), graft.functions.EmailFunctions.embeddingText(
        col("subject"), col("sender_name"), col("sender"), col("recipients"),
        col("date"), coalesce(col("body_markdown"), col("body_plain")), col("labels"))
        .as("embed_text"))

  /** `rows` with the embedding of every `page` row set (H1 + A9). A page
    * holds one row per message, so it joins back by `id` as it is,
    * broadcast. */
  private def withEmbedded(rows: DataFrame, page: DataFrame): DataFrame = {
    val vecs = Enrichment.embedBacklog(page, embedder).withColumnRenamed("embedding", "__vec")
    rows.join(broadcast(vecs), Seq("id"), "left")
      .select(Schemas.emailSchema.fieldNames.map {
        case "embedding" => coalesce(col("__vec"), col("embedding")).as("embedding")
        case c => col(c)
      }.toSeq: _*)
  }

  /** Finishes or drops a swap that a crash cut short, so a writer never
    * sees part of a commit or mistakes a table for a missing one. */
  private def recoverSwaps(): Unit = TableSwap.recover(spark, storeDir, EmailEtlApi.Tables)

  /** `search semantic` (reference: main.py:239-269; limit 10 ∈ [1,100]).
    * `columns` are the hits' columns ([[EmailSearch.hybridSearch]]). */
  def searchSemantic(query: String, limit: Int = 10,
      filters: SearchFilters = SearchFilters(),
      columns: Seq[String] = EmailSearch.RankedColumns): DataFrame = {
    val k = math.max(1, math.min(limit, 100))
    val qv = embedder.embedBatch(Seq(query)).head.toSeq
    search.hybridSearch(qv, query, k, filters, columns)
  }

  /** `search ask` / RAG (reference: main.py:272-296; context 5 ∈ [1,20]).
    * Retrieval is one Catalyst plan and one collect: the ≤20 context rows
    * cross to the driver once, each as its context block, message id and
    * summary, for the pluggable answer call — same boundary as the
    * reference (SURVEY §3.3). Sources come in rank order. */
  def ask(question: String, contextLimit: Int = 5): (String, Seq[AskSource]) = {
    val k = math.max(1, math.min(contextLimit, 20))
    val qv = embedder.embedBatch(Seq(question)).head.toSeq
    val hits = Enrichment.ragContext(search.searchSimilar(qv, k))
      .select(col("context_block"), col("message_id"), to_json(struct(
        Seq("id", "message_id", "subject", "sender", "sender_name", "date").map(col): _*)))
      .collect()
    (answerer.answer(question, hits.map(_.getString(0)).toSeq),
      hits.map(r => AskSource(r.getString(1), r.getString(2))).toSeq)
  }

  /** `analyze categorize` (reference: main.py:305-345; limit 10 ∈ [1,50]). */
  def categorize(limit: Int = 10): DataFrame = {
    val k = math.max(1, math.min(limit, 50))
    Enrichment.categorize(search.recent(k)
      .join(emails.select("id", "body_plain", "body_markdown"), Seq("id")),
      categorizer)
  }

  /** `analyze actions` (reference: main.py:348-391; days 7 ∈ [1,90],
    * limit 50 ∈ [1,100]). `now` is injectable for deterministic tests
    * (same pattern as EmailSearch.patterns); the default mirrors the
    * reference's wall-clock "last N days" semantics. */
  def extractActions(days: Int = 7, limit: Int = 50,
      extractor: ActionExtractor = new StubActionExtractor,
      now: Option[java.sql.Timestamp] = None): DataFrame = {
    val d = math.max(1, math.min(days, 90))
    val k = math.max(1, math.min(limit, 100))
    val cutoff = date_sub(now.map(lit).getOrElse(current_timestamp()), d).cast("timestamp")
    val window = emails.filter(EmailSearch.bound(col("date"), _ >= _, cutoff))
      .orderBy(col("date").desc).limit(k)
    Enrichment.extractActions(window, extractor)
  }

  /** `analyze patterns` (reference: src/api/mcp_tools.py:204-224). */
  def patterns(groupBy: String, days: Int = 30): DataFrame =
    search.patterns(groupBy, days)

  /** Attachment metadata table (reference: scripts/init_db.sql:38-49; the
    * get_email_by_id MCP tool's include_attachments,
    * src/api/mcp_tools.py:166-183): the `attachments` rows of every stored
    * email, one row per element of its array. */
  def attachments: DataFrame =
    emails.select(explode(col("attachments")).as("a")).select("a.*")

  /** B1 point lookup by surrogate id (reference: mcp_tools.py:166-183). */
  def emailById(id: Long): DataFrame = search.byId(id)

  /** H3 thread summary context (reference: mcp_tools.py:192-202;
    * engine part — participants/dates/ordered context blocks; the LLM
    * call on top stays pluggable). */
  def summarizeThread(threadId: String): DataFrame =
    Enrichment.threadContext(search.thread(threadId))

  /** `status` (reference: main.py:394-432). */
  def status(): DataFrame = search.stats

  /** Per-provider stats (reference: src/database.py:333-343). */
  def providerStats(): DataFrame = search.byProviderStats

  /** CLI `providers` (reference: main.py:44-69 via
    * src/providers/__init__.py:94 list_providers + database.get_providers):
    * the registered provider catalog — enabled/default flags from the same
    * env contract the reference reads (ENABLED_PROVIDERS, DEFAULT_PROVIDER,
    * reference: src/config.py:65-66) — left-joined with per-provider store
    * statistics (the C4 aggregate). Providers with no imported mail keep a
    * catalog row with null stats, exactly like the reference's listing. */
  def listProviders(
      enabledCsv: Option[String] = None,
      defaultProvider: Option[String] = None): DataFrame = {
    val available = Seq("gmail") // the reference registry's one provider
    val enabled = enabledCsv
      .orElse(sys.env.get("ENABLED_PROVIDERS")).getOrElse("gmail")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val dflt = defaultProvider
      .orElse(sys.env.get("DEFAULT_PROVIDER")).getOrElse("gmail")
    import spark.implicits._
    val catalog = available
      .map(p => (p, enabled.contains(p), p == dflt))
      .toDF("provider", "enabled", "is_default")
    val stats =
      if (tableExists("emails"))
        providerStats().groupBy(col("provider")).agg(
          sum(col("email_count")).as("email_count"),
          countDistinct(col("provider_account")).as("accounts"),
          min(col("earliest_email")).as("earliest_email"),
          max(col("latest_email")).as("latest_email"))
      else
        catalog.limit(0).select(col("provider"),
          lit(null).cast("long").as("email_count"),
          lit(null).cast("long").as("accounts"),
          lit(null).cast("timestamp").as("earliest_email"),
          lit(null).cast("timestamp").as("latest_email"))
    catalog.join(stats, Seq("provider"), "left")
      .orderBy(col("provider"))
  }

  private def tableExists(name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/$name")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** CLI `db init` (reference: main.py:131-146 — connection test + the
    * init_db.sql table DDL): create the Parquet store layout. Missing
    * tables are written as empty frames with the declared schema (the
    * DDL analog); existing tables are schema-validated instead of
    * touched (init is idempotent and never destructive). Returns one row
    * per table: (table, status ∈ created|ok|schema_mismatch, rows). */
  def dbInit(): DataFrame = {
    import spark.implicits._
    EmailEtlApi.Layout.map { case (name, schema) =>
      val path = s"$storeDir/$name"
      if (!tableExists(name)) {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .write.parquet(path)
        (name, "created", 0L)
      } else {
        // (name, dataType) pairs, not just names: a column present with
        // the wrong type breaks exactly like a missing one at first read,
        // and extra columns mean the store was written by something else —
        // both must fail validation, not report "ok" (r11 ADVICE).
        // Nullability is normalized away before comparing: parquet
        // round-trips may loosen containsNull/nullable, which is not a
        // layout mismatch.
        import org.apache.spark.sql.types._
        def norm(t: DataType): DataType = t match {
          case ArrayType(e, _)   => ArrayType(norm(e), containsNull = true)
          case MapType(k, v, _)  => MapType(norm(k), norm(v), valueContainsNull = true)
          case StructType(fs)    => StructType(fs.map(f =>
            StructField(f.name, norm(f.dataType), nullable = true)))
          case o                 => o
        }
        val have = spark.read.parquet(path)
        val want = schema.fields.map(f => f.name -> norm(f.dataType)).toMap
        val got = have.schema.fields.map(f => f.name -> norm(f.dataType)).toMap
        val mismatched = want.exists { case (n, t) => !got.get(n).contains(t) }
        val extra = (got.keySet -- want.keySet).nonEmpty
        val status =
          if (mismatched || extra) "schema_mismatch" else "ok"
        (name, status, have.count())
      }
    }.toDF("table", "status", "rows")
  }

  /** CLI `db test` (reference: main.py:148-154 test_connection): probe
    * every table in the layout — existence plus an actual 1-row read (a
    * listable but unreadable table must fail the probe, not the caller's
    * first query). Returns (table, exists, readable, rows). */
  def dbTest(): DataFrame = {
    import spark.implicits._
    EmailEtlApi.Layout.map { case (name, _) =>
      val exists = tableExists(name)
      val (readable, rows) =
        if (!exists) (false, -1L)
        else
          try {
            val df = spark.read.parquet(s"$storeDir/$name")
            df.limit(1).collect() // force a real read, not just a listing
            (true, df.count())
          } catch { case scala.util.control.NonFatal(_) => (false, -1L) }
      (name, exists, readable, rows)
    }.toDF("table", "exists", "readable", "rows")
  }

  /** `estimate-cost` (reference: main.py:435-446, src/embeddings.py:191-203). */
  def estimateCost(): Double =
    search.embeddingBacklog()
      .select(graft.functions.EmailFunctions.approxTokenCount(
        coalesce(col("body_markdown"), col("body_plain"))).as("t"))
      .agg(graft.functions.EmailFunctions.costEstimate(count(lit(1)), coalesce(avg(col("t")), lit(0.0))))
      .collect()(0).getDouble(0)

  /** `url screen` (beyond-reference surface; VERDICT r12 #6): the URL
    * family's front door for a USER-supplied batch — canonicalize each
    * raw URL row-locally ([[graft.functions.UrlParts]], the
    * one rule set batch/streaming/oracle share), evaluate the RefinedWeb-
    * style gate features + verdict, and mark within-batch canonical
    * duplicates (keep-first by input position). Bounded driver boundary:
    * ≤ 10 000 URLs per call — corpus-sized screens belong to the
    * `url_canonicalize` / `url_quality_gate` / `dedup_url` batch
    * operators and the streaming frontier screen. A batch this small runs
    * in one partition: its window and sort then need no exchange, and the
    * screen is one job of one stage. */
  def urlScreen(urls: Seq[String]): DataFrame = {
    require(urls.nonEmpty, "url screen: pass at least one URL")
    require(urls.size <= 10000,
      s"url screen: ${urls.size} URLs exceed the 10000-per-call bound — " +
        "use the url_canonicalize/url_quality_gate batch operators for " +
        "corpus-sized screens")
    import spark.implicits._
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("url_id", "raw_url").coalesce(1)
    val parsed = df.withColumn("url",
      graft.functions.UrlParts.urlParts(col("raw_url")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canon_url")
    graft.queries.WebQueries.withGateFeatures(parsed)
      .withColumn("canon_url", col("url.canon_url"))
      .withColumn("host", col("url.host"))
      .withColumn("domain",
        graft.queries.WebQueries.domainOf(col("host")))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("kept",
        row_number().over(w.orderBy(col("url_id"))) === 1)
      .select(col("url_id"), col("raw_url"), col("canon_url"), col("host"),
        col("domain"), col("path_depth"), col("n_params"), col("digit_frac"),
        col("tracked"), col("odd_port"), col("pass"), col("n_dups"),
        col("kept"))
      .orderBy(col("url_id"))
  }

  /** `tokenizer audit` (beyond-reference surface; VERDICT r12 #6): the
    * tokenizer families' front door for USER-supplied texts — per text,
    * the three pipeline token counts (whitespace words, GPT-2-style
    * regex pieces, chars/4 estimate) plus the unigram-LM Viterbi audit
    * (total pieces, fertility = pieces/word, integer cost/char) under
    * the fixed [[graft.operators.UnigramLm.Vocab]] piece table — every
    * kernel row-local (the native [[graft.functions.UnigramViterbi]]
    * runs inside a `transform` over the word array). Bounded driver
    * boundary: ≤ 1 000 texts per call, run in one partition, so the sort
    * needs no exchange; corpus-sized audits belong to
    * `unigram_fertility` / `text_token_count_bpe`. */
  def tokenizerAudit(texts: Seq[String]): DataFrame = {
    require(texts.nonEmpty, "tokenizer audit: pass at least one text")
    require(texts.size <= 1000,
      s"tokenizer audit: ${texts.size} texts exceed the 1000-per-call " +
        "bound — use the unigram_fertility/text_token_count_bpe batch " +
        "operators for corpus-sized audits")
    import spark.implicits._
    val piece = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+" // text_token_count_bpe's regex
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("text_id", "text").coalesce(1)
    val withWords = df
      .withColumn("words", graft.queries.UnigramQueries.wordsCol(col("text")))
      .withColumn("vits", transform(col("words"),
        w => graft.functions.UnigramFunctions.unigramViterbi(w)))
    withWords.select(
        col("text_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("words")).cast("long").as("n_words"),
        size(regexp_extract_all(lower(col("text")), lit(piece), lit(0)))
          .cast("long").as("n_bpe"),
        graft.functions.EmailFunctions.approxTokenCount(col("text"))
          .as("n_est"),
        aggregate(col("vits"), lit(0L),
          (a, v) => a + v.getField("nPieces")).as("n_pieces"),
        aggregate(col("vits"), lit(0L),
          (a, v) => a + v.getField("cost")).as("vit_cost"),
        aggregate(col("words"), lit(0L),
          (a, w) => a + length(w).cast("long")).as("n_word_chars"))
      .withColumn("pieces_per_word",
        when(col("n_words") === 0L, lit(null).cast("double"))
          .otherwise(col("n_pieces").cast("double")
            / col("n_words").cast("double")))
      .withColumn("cost_per_char",
        when(col("n_word_chars") === 0L, lit(null).cast("double"))
          .otherwise(col("vit_cost").cast("double")
            / col("n_word_chars").cast("double")))
      .drop("n_word_chars")
      .orderBy(col("text_id"))
  }
}

object EmailEtlApi {
  /** The store's tables, as paths under the store directory, with their
    * declared schemas. */
  val Layout: Seq[(String, org.apache.spark.sql.types.StructType)] = Seq(
    "emails" -> Schemas.emailSchema,
    "audit" -> Schemas.auditSchema)

  /** The store's tables, as paths under the store directory. */
  val Tables: Seq[String] = Layout.map(_._1)
}

/** Thin CLI front-end mirroring the reference verbs (reference: main.py). */
object Cli {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-email-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "import" :: "full" :: inbox :: store :: Nil =>
      printStats(new EmailEtlApi(spark, store).importFull(inbox))
    case "import" :: "sync" :: inbox :: store :: Nil =>
      printStats(new EmailEtlApi(spark, store).syncIncremental(inbox))
    case "search" :: "semantic" :: store :: query :: rest =>
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      new EmailEtlApi(spark, store).searchSemantic(query, k).show(k, truncate = false)
    case "search" :: "ask" :: store :: question :: Nil =>
      val (answer, sources) = new EmailEtlApi(spark, store).ask(question)
      println(answer); println(s"sources: ${sources.map(_.messageId).mkString(", ")}")
    case "analyze" :: "categorize" :: store :: rest =>
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      new EmailEtlApi(spark, store).categorize(k).show(k, truncate = false)
    case "analyze" :: "actions" :: store :: rest =>
      val days = rest.headOption.map(_.toInt).getOrElse(7)
      new EmailEtlApi(spark, store).extractActions(days).show(50, truncate = false)
    case "analyze" :: "patterns" :: store :: groupBy :: Nil =>
      new EmailEtlApi(spark, store).patterns(groupBy).show(50, truncate = false)
    case "status" :: store :: Nil =>
      val api = new EmailEtlApi(spark, store)
      api.status().show(); api.providerStats().show()
    case "providers" :: store :: Nil =>
      new EmailEtlApi(spark, store).listProviders().show(truncate = false)
    case "db" :: "init" :: store :: Nil =>
      new EmailEtlApi(spark, store).dbInit().show(truncate = false)
    case "db" :: "test" :: store :: Nil =>
      val probe = new EmailEtlApi(spark, store).dbTest()
      probe.show(truncate = false)
      if (probe.filter(!col("readable")).count() > 0) {
        System.err.println("db test failed"); sys.exit(1)
      } else println("db test ok")
    case "estimate-cost" :: store :: Nil =>
      println(f"estimated embedding cost: $$${new EmailEtlApi(spark, store).estimateCost()}%.6f")
    case "url" :: "screen" :: store :: urls if urls.nonEmpty =>
      new EmailEtlApi(spark, store).urlScreen(urls)
        .show(urls.size, truncate = false)
    case "tokenizer" :: "audit" :: store :: texts if texts.nonEmpty =>
      new EmailEtlApi(spark, store).tokenizerAudit(texts)
        .show(texts.size, truncate = false)
    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage:
           |  import full <inboxDir> <storeDir>
           |  import sync <inboxDir> <storeDir>
           |  search semantic <storeDir> <query> [k]
           |  search ask <storeDir> <question>
           |  analyze categorize <storeDir> [limit]
           |  analyze patterns <storeDir> <sender|domain|label|day|week>
           |  status <storeDir>
           |  providers <storeDir>
           |  db init <storeDir>
           |  db test <storeDir>
           |  estimate-cost <storeDir>
           |  url screen <storeDir> <url> [url ...]
           |  tokenizer audit <storeDir> <text> [text ...]""".stripMargin)
  }

  private def printStats(stats: Map[String, Long]): Unit =
    println(stats.map { case (k, v) => s"$k=$v" }.mkString(" "))
}
