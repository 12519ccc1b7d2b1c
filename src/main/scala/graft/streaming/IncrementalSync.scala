package graft.streaming

import graft.ingest.Normalize
import graft.model.Schemas
import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** G1 — incremental sync, in both of the shapes SURVEY §2 G prescribes.
  *
  * The reference's "incremental" is a batch re-import from `MAX(date)`
  * with an overlap buffer and idempotent upsert (reference:
  * src/etl_pipeline.py:233-245). Structured Streaming generalizes it: a
  * file source + `Trigger.AvailableNow` + checkpoint gives exactly-once
  * incremental batches over a landing directory, with `foreachBatch`
  * running the same A4 merge so late/duplicate messages up-level to
  * last-writer-wins instead of being dropped.
  */
object IncrementalSync {

  /** Batch-incremental: cursor = MAX(date) minus an overlap buffer; re-read
    * newer raw messages; anti-join out already-present ids (E3); merge (A4). */
  def batchSync(
      existing: DataFrame,
      raw: DataFrame,
      overlapHours: Int = 24): DataFrame = {
    val cursorRow = existing.agg(max(col("date")).as("c")).collect()(0)
    val incoming = Normalize.emails(raw)
    val fresh = if (cursorRow.isNullAt(0)) incoming else {
      val cursor = new java.sql.Timestamp(
        cursorRow.getTimestamp(0).getTime - overlapHours.toLong * 3600000L)
      // null dates (unparseable Date headers) pass the cursor: `date >
      // cursor` alone null-routes them to dropped, permanently excluding
      // those messages after the first sync — the merge dedups re-reads
      incoming.filter(col("date") > lit(cursor) || col("date").isNull)
    }
    Upsert.mergeByKey(existing, fresh, "message_id", "updated_at")
  }

  /** Streaming sync: landing-dir JSON → normalize → per-batch A4 merge
    * into the parquet store. `Trigger.AvailableNow` drains everything
    * present then stops — the steady-state "import sync" verb. Returns
    * after the drain completes. */
  def streamSync(
      spark: SparkSession,
      inboxDir: String,
      storeDir: String,
      checkpointDir: String): Unit = {
    val raw = spark.readStream
      .schema(Schemas.rawMessageSchema)
      .option("maxFilesPerTrigger", Schemas.ImportBatchSize)
      .json(inboxDir)

    val q = Normalize.emails(raw)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val storePath = new org.apache.hadoop.fs.Path(storeDir)
        val staging = new org.apache.hadoop.fs.Path(storeDir + "__staging")
        val fs = storePath.getFileSystem(
          batch.sparkSession.sessionState.newHadoopConf())
        // Crash recovery: a previous batch may have died between
        // delete(store) and rename(staging, store). Staging then holds
        // that batch's COMPLETE merged result (prior store + batch), so
        // promote it before proceeding; the checkpoint replays the batch
        // and the merge is idempotent. Without this, replay with a
        // missing store would rebuild it from the batch alone, silently
        // dropping everything previously synced.
        if (!fs.exists(storePath) && fs.exists(staging)) fs.rename(staging, storePath)
        // In-batch duplicate message_ids are resolved by mergeByKey's
        // total last-writer-wins order — a pre-dropDuplicates here would
        // pick an arbitrary row instead.
        val merged =
          if (fs.exists(storePath)) {
            // declared schema: inferring it would cost a job per batch
            val existing = batch.sparkSession.read.schema(Schemas.emailSchema).parquet(storeDir)
            Upsert.mergeByKey(existing, batch, "message_id", "updated_at")
          } else Upsert.mergeByKey(batch.limit(0), batch, "message_id", "updated_at")
        // Stage-and-swap: never overwrite the directory being read mid-plan,
        // and stay fully distributed (no driver materialization).
        merged.write.mode("overwrite").parquet(staging.toString)
        fs.delete(storePath, true)
        fs.rename(staging, storePath)
        ()
      }
      .start()
    q.awaitTermination()
  }
}
