package graft.sinks

import graft.functions.EmailFunctions._
import graft.store.TableSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A5/A6 — the markdown archive and its index as two projections of
  * `emails` (SURVEY §1.4: one Parquet source of truth; the `.md` text is a
  * *rendered column*, not a second store). The store keeps neither: each
  * is rendered on read from the committed rows ([[archive]], [[index]]),
  * so neither can disagree with them. [[writeArchive]] exports the archive.
  *
  * Layout mirrors the reference's `YYYY/MM/` directory scheme
  * (reference: src/markdown_storage.py:52-65) as `partitionBy(year, month)`
  * — which doubles as partition pruning for date-ranged queries.
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

  /** The archive of `emails`: each row's rendered document, its path and
    * its year/month partition (null for an undated row)
    * (reference: markdown_storage.py:67-132). */
  def archive(emails: DataFrame): DataFrame =
    renderMarkdown(emails).select(col("message_id"), col("markdown_path"), col("md"),
      year(col("date")).as("year"), month(col("date")).as("month"))

  /** The index of `emails`: one entry per row
    * (reference: markdown_storage.py:122-129). */
  def index(emails: DataFrame): DataFrame =
    emails.select(col("message_id"), markdownPath(col("date"), col("subject")).as("path"),
      col("subject"), col("sender"), col("date"), col("has_attachments"))

  /** A5: write the [[archive]] of `emails` into `outDir/archive`,
    * partitioned by year/month, as one swap, and return its [[index]]. */
  def writeArchive(emails: DataFrame, outDir: String): DataFrame = {
    val spark = emails.sparkSession
    TableSwap.swap(spark, outDir, Seq(TableSwap.change(spark, outDir, "archive",
      TableSwap.stage(archive(emails), outDir, "archive", Seq("year", "month")), replace = true)))
    index(emails)
  }

  /** A6: point read by message_id from an archive [[writeArchive]] wrote —
    * frontmatter split (reference: markdown_storage.py:192-224). */
  def loadEmail(spark: SparkSession, outDir: String, messageId: String): DataFrame =
    spark.read.parquet(s"$outDir/archive")
      .filter(col("message_id") === messageId)
      .withColumn("parts", splitFrontmatter(col("md")))
      .select(col("message_id"), col("markdown_path").as("path"),
        col("parts.frontmatter").as("frontmatter"),
        col("parts.content").as("content"))

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
