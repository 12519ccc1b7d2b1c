package graft.sinks

import graft.functions.EmailFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A5/A6 — the markdown archive re-expressed as a partitioned columnar
  * sink plus a derived index table (SURVEY §1.4: one Parquet source of
  * truth; the `.md` text is a *rendered column*, not a second store).
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

  /** A5: write the rendered archive partitioned by year/month and return
    * the derived index (reference: markdown_storage.py:67-132; index
    * entries markdown_storage.py:122-129). The returned index reads the
    * just-written parquet: already materialized, no lingering cached
    * blocks, no recompute. */
  def writeArchive(emails: DataFrame, outDir: String): DataFrame = {
    write(emails, outDir)
    emails.sparkSession.read.parquet(s"$outDir/index")
  }

  /** [[writeArchive]] without reading the index back. */
  def write(emails: DataFrame, outDir: String): Unit = {
    // render once: the archive write and the index write both consume
    // the same pipeline — unpersisted, the markdown rendering would run
    // twice
    val rendered = renderMarkdown(emails)
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .persist()
    rendered
      .select("message_id", "markdown_path", "md", "year", "month")
      .write.mode("overwrite")
      .partitionBy("year", "month")
      .parquet(s"$outDir/archive")
    rendered.select(
      col("message_id"), col("markdown_path").as("path"), col("subject"),
      col("sender"), col("date"), col("has_attachments"))
      .write.mode("overwrite").parquet(s"$outDir/index")
    rendered.unpersist()
  }

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
