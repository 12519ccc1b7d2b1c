package graft.sinks

import graft.functions.EmailFunctions._
import graft.store.TableSwap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** A5/A6 — the markdown archive re-expressed as a partitioned columnar
  * sink plus a derived index table (SURVEY §1.4: one Parquet source of
  * truth; the `.md` text is a *rendered column*, not a second store).
  *
  * Layout mirrors the reference's `YYYY/MM/` directory scheme
  * (reference: src/markdown_storage.py:52-65) as `partitionBy(year, month)`
  * — which doubles as partition pruning for date-ranged queries.
  *
  * The reference writes one `.md` file per new email; here a commit
  * stages only the months that hold an arriving or a replaced row,
  * rendered from the committed `emails` rows of those months, and
  * replaces those months' files through a [[TableSwap]]
  * ([[stageArchive]]). The index is a projection of the committed rows
  * ([[stageIndex]]); no whole-store render is kept.
  */
object MarkdownSink {

  /** Render the full markdown document column (frontmatter + body)
    * (reference: markdown_storage.py:134-190 `_build_markdown`). */
  def renderMarkdown(emails: DataFrame): DataFrame =
    emails
      .withColumn("markdown_path", markdownPath(col("date"), col("subject")))
      .withColumn("md",
        concat_ws("\n",
          renderFrontmatter(col("message_id"), col("thread_id"),
            col("subject"), col("sender"), col("date"), col("labels")),
          lit(""),
          concat(lit("# "), coalesce(col("subject"), lit("(no subject)"))),
          lit(""),
          coalesce(col("body_markdown"), col("body_plain"), lit(""))))

  /** A5: write the rendered archive of `emails` partitioned by year/month
    * and its index into `outDir`, as one swap, and return the index
    * (reference: markdown_storage.py:67-132; index entries
    * markdown_storage.py:122-129). The returned index reads the
    * just-written parquet: already materialized, no recompute. */
  def writeArchive(emails: DataFrame, outDir: String): DataFrame = {
    val spark = emails.sparkSession
    TableSwap.swap(spark, outDir, Seq(
      stageArchive(emails, outDir, "archive", None),
      stageIndex(emails, outDir, "index")))
    spark.read.parquet(s"$outDir/index")
  }

  /** A row's archive month: `year * 100 + month` of its date in the
    * session time zone, the partition it lands in; -1 when undated. */
  def monthKey(date: Column): Column = coalesce(year(date) * 100 + month(date), lit(-1))

  /** Whether a row's [[monthKey]] is one of `months`. The months ride in
    * an array constant, which Spark passes by reference: literals in the
    * generated code would make each new set of months a new class. */
  def inMonths(months: Seq[Int]): Column = array_contains(typedLit(months.toArray), monthKey(col("date")))

  /** The partition directory of a [[monthKey]], as the partitioned write
    * names it. */
  private def monthDir(key: Int): String = {
    val (y, m) =
      if (key < 0) (ExternalCatalogUtils.DEFAULT_PARTITION_NAME, ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      else ((key / 100).toString, (key % 100).toString)
    s"year=$y/month=$m/"
  }

  /** Stages the archive `table` (under `root`) for a [[TableSwap]]: the
    * archive months `months` rendered from the `emails` rows of those
    * months, replacing the live files of those months; every month,
    * replacing the whole table, when `months` is None. `emails` needs to
    * hold every row of those months and may hold others. */
  def stageArchive(emails: DataFrame, root: String, table: String,
      months: Option[Seq[Int]]): TableSwap.Change = {
    val rows = months.fold(emails)(ms => emails.filter(inMonths(ms)))
    val staged = TableSwap.stage(
      renderMarkdown(rows)
        .select(col("message_id"), col("markdown_path"), col("md"),
          year(col("date")).as("year"), month(col("date")).as("month")),
      root, table, Seq("year", "month"))
    TableSwap.change(emails.sparkSession, root, table, staged, months.fold(Seq(""))(_.map(monthDir)))
  }

  /** Stages the index `table` (under `root`), the projection of all of
    * `emails`, replacing the whole table. */
  def stageIndex(emails: DataFrame, root: String, table: String): TableSwap.Change =
    TableSwap.change(emails.sparkSession, root, table, TableSwap.stage(
      emails.select(col("message_id"), markdownPath(col("date"), col("subject")).as("path"),
        col("subject"), col("sender"), col("date"), col("has_attachments")),
      root, table), Seq(""))

  /** A6: point read by message_id — index lookup + content join +
    * frontmatter split (reference: markdown_storage.py:192-224). */
  def loadEmail(spark: SparkSession, outDir: String, messageId: String): DataFrame = {
    val archive = spark.read.parquet(s"$outDir/archive")
    val index = spark.read.parquet(s"$outDir/index")
    index.filter(col("message_id") === messageId)
      .join(archive.select("message_id", "md"), Seq("message_id"))
      .withColumn("parts", splitFrontmatter(col("md")))
      .select(col("message_id"), col("path"),
        col("parts.frontmatter").as("frontmatter"),
        col("parts.content").as("content"))
  }

  /** B8: date-range scan over the index, newest first
    * (reference: markdown_storage.py:239-252). */
  def listByDateRange(index: DataFrame, from: String, to: String): DataFrame =
    index.filter(col("date").between(to_timestamp(lit(from)), to_timestamp(lit(to))))
      .orderBy(col("date").desc)

  /** C5: storage stats (reference: markdown_storage.py:254-274). */
  def storageStats(index: DataFrame): DataFrame =
    index.agg(
      count(lit(1)).as("total_emails"),
      sum(when(col("has_attachments"), 1L).otherwise(0L)).as("with_attachments"))
}
