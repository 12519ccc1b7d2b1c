package graft.search

import graft.functions.EmailFunctions._
import graft.functions.VectorFunctions.cosineSim
import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY §2 B/C/D over the canonical `emails` table — the query API a
  * reference user calls (CLI verbs / REST routes of §2 I map 1:1 onto
  * these methods).
  *
  * Every method returns a lazy DataFrame: callers compose further or
  * `.limit(k).collect()` at the API boundary exactly like the reference's
  * LIMIT'd SQL. Filters are built conditionally (B6); top-k always goes
  * through `orderBy(...).limit(k)` which plans as TakeOrderedAndProject —
  * no full sort at any scale.
  *
  * A request's own value (an id, a date bound, a cutoff) enters a query
  * through [[EmailSearch.bound]], by reference: the query's generated
  * classes are then the same for every value, and a warm route compiles
  * none (`ReadPathJobsSpec`).
  */
final case class SearchFilters(
    dateFrom: Option[java.sql.Timestamp] = None,
    dateTo: Option[java.sql.Timestamp] = None,
    provider: Option[String] = None,
    providerAccount: Option[String] = None)

class EmailSearch(emails: DataFrame) {
  import EmailSearch.bound

  /** B6: NULL-guarded optional predicates (reference:
    * scripts/migrate_providers.sql:101-105), built conditionally. A date
    * bound passes no undated email, as in SQL. */
  private def applyFilters(df: DataFrame, f: SearchFilters): DataFrame = {
    var out = df
    f.dateFrom.foreach(d => out = out.filter(bound(col("date"), _ >= _, d)))
    f.dateTo.foreach(d => out = out.filter(bound(col("date"), _ <= _, d)))
    f.provider.foreach(p => out = out.filter(col("provider") === p))
    f.providerAccount.foreach(a => out = out.filter(col("provider_account") === a))
    out
  }

  // ------------------------------------------------------------------ B row ops

  /** B1 (reference: src/database.py:212-221). */
  def byMessageId(messageId: String): DataFrame =
    emails.filter(col("message_id") === messageId)

  /** B2 (reference: database.py:223-232). */
  def byId(id: Long): DataFrame = emails.filter(bound(col("id"), _ === _, id))

  /** B3: thread fetch in chronological order (reference: database.py:234-245). */
  def thread(threadId: String): DataFrame =
    emails.filter(col("thread_id") === threadId).orderBy(col("date").asc)

  /** B4: embedding backlog (reference: database.py:247-262). */
  def embeddingBacklog(limit: Int = Schemas.EmbeddingBacklogPage): DataFrame =
    emails.filter(col("embedding").isNull &&
        (col("body_plain").isNotNull || col("body_markdown").isNotNull))
      .orderBy(col("date").desc)
      .limit(limit)

  /** B5: range + top-k (reference: database.py:306-319). */
  def since(date: java.sql.Timestamp, limit: Int): DataFrame =
    emails.filter(bound(col("date"), _ > _, date)).orderBy(col("date").desc).limit(limit)

  /** B9: recent-N projection (reference: database.py:292-304). */
  def recent(limit: Int): DataFrame =
    emails.select("id", "message_id", "subject", "sender", "date")
      .orderBy(col("date").desc).limit(limit)

  // ------------------------------------------------------------------ C aggs

  /** C1/C2/C3 (reference: database.py:264-290). */
  def stats: DataFrame =
    emails.agg(
      count(lit(1)).as("total_emails"),
      sum(when(col("embedding").isNotNull, 1L).otherwise(0L)).as("with_embeddings"),
      max(col("date")).as("latest_date"))

  /** C4: per-provider stats view (reference: scripts/migrate_providers.sql:50-60,
    * consumed sorted by count desc database.py:333-343). */
  def byProviderStats: DataFrame =
    emails.groupBy(col("provider"), col("provider_account"))
      .agg(
        count(lit(1)).as("email_count"),
        countDistinct(col("sender")).as("unique_senders"),
        min(col("date")).as("earliest_email"),
        max(col("date")).as("latest_email"),
        sum(when(col("has_attachments"), 1L).otherwise(0L)).as("emails_with_attachments"))
      .orderBy(col("email_count").desc, col("provider"), col("provider_account"))

  /** C7: pattern analysis — the reference declares this MCP tool but stubs
    * the backend (reference: src/api/mcp_tools.py:204-224,
    * src/llm_integration.py:309-326); implemented for real here.
    * groupBy ∈ {sender, domain, label, day, week}. */
  def patterns(groupBy: String, days: Int = 30,
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())): DataFrame = {
    val cutoff = new java.sql.Timestamp(now.getTime - days.toLong * 86400000L)
    val recent = emails.filter(bound(col("date"), _ >= _, cutoff))
    val keyed = groupBy match {
      case "sender" => recent.withColumn("key", col("sender"))
      case "domain" => recent.withColumn("key", substring_index(col("sender"), "@", -1))
      case "label"  => recent.withColumn("key", explode(col("labels")))
      case "day"    => recent.withColumn("key", date_format(date_trunc("day", col("date")), "yyyy-MM-dd"))
      case "week"   => recent.withColumn("key", date_format(date_trunc("week", col("date")), "yyyy-MM-dd"))
      case other    => throw new IllegalArgumentException(s"unsupported group_by: $other")
    }
    keyed.groupBy(col("key"))
      .agg(count(lit(1)).as("email_count"),
        countDistinct(col("sender")).as("unique_senders"))
      .orderBy(col("email_count").desc, col("key"))
  }

  // ------------------------------------------------------------------ D search

  /** D1: exact k-NN over non-null embeddings (reference: database.py:168-184).
    * Brute-force is the correctness superset of the reference's HNSW scan;
    * the LSH/IVF variants in [[graft.queries.VectorSearchQueries]] are the
    * same operator behind an ANN pre-filter for the 100 TB path. */
  def searchSimilar(queryVec: Seq[Float], k: Int = 10): DataFrame =
    emails.filter(col("embedding").isNotNull)
      .withColumn("similarity", cosineSim(col("embedding"), typedlit(queryVec)))
      .orderBy(col("similarity").desc, col("message_id"))
      .limit(k)

  /** D3: threshold variant (reference: src/embeddings.py:151-185). */
  def searchSimilarThreshold(queryVec: Seq[Float], k: Int = 10,
      threshold: Double = Schemas.SimilarityThreshold): DataFrame =
    emails.filter(col("embedding").isNotNull)
      .withColumn("similarity", cosineSim(col("embedding"), typedlit(queryVec)))
      .filter(col("similarity") >= threshold)
      .orderBy(col("similarity").desc, col("message_id"))
      .limit(k)

  /** D2: hybrid ranked search — 0.7·cosine + 0.3·tsRank over the F1 doc
    * text, optional B6 filters (reference: scripts/migrate_providers.sql:63-118).
    * Stemming is the full Snowball/Porter2 (what the reference's
    * `to_tsvector('english', …)` runs — scripts/init_db.sql:66-71), so
    * ranking agrees with Postgres on morphology the stem-lite spec
    * misses; the oracle-checked registry twin stays on stem-lite.
    * Returns `columns` of the top `k` rows by score, then `message_id`;
    * the sort keys need not be among them. */
  def hybridSearch(queryVec: Seq[Float], queryText: String, k: Int = 10,
      filters: SearchFilters = SearchFilters(),
      columns: Seq[String] = EmailSearch.RankedColumns): DataFrame = {
    val base = applyFilters(emails.filter(col("embedding").isNotNull), filters)
    base
      .withColumn("similarity", cosineSim(col("embedding"), typedlit(queryVec)))
      .withColumn("__ts_toks",
        graft.functions.TsTokensFunctions.tsTokensSnowball(
          docText(col("subject"), col("body_plain"), col("sender_name"))))
      .withColumn("rank", tsRankOnTokens(col("__ts_toks"), queryText, snowball = true))
      .withColumn("score",
        lit(Schemas.HybridVectorWeight) * col("similarity") +
          lit(Schemas.HybridTextWeight) * col("rank"))
      .select(columns.map(col): _*)
      .orderBy(col("score").desc, col("message_id"))
      .limit(k)
  }
}

object EmailSearch {
  /** `op(c, v)` for a request's own value `v` (a constant or a foldable
    * column), true only where `c` is not null. Spark writes a number or
    * timestamp constant into the class it generates, so each new value
    * would compile the query's classes anew; here `c` and `v` are compared
    * as one-field structs, and a struct constant reaches the generated
    * code by reference. Two such structs compare as their fields do,
    * except that a struct with a null field sorts first, where SQL
    * answers null: hence the guard on `c`. */
  def bound(c: Column, op: (Column, Column) => Column, v: Any): Column =
    c.isNotNull && op(struct(c), struct(lit(v)))

  /** The columns [[EmailSearch.hybridSearch]] returns unless asked for
    * others. Any `emails` column may be asked for: it rides through the
    * top-k, so a caller never joins the hits back to the store. */
  val RankedColumns: Seq[String] = Seq("id", "message_id", "subject", "sender",
    "date", "provider", "similarity", "rank", "score")
}
