package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A4 — the reference's `INSERT ... ON CONFLICT DO UPDATE`, reproduced as
  * a deterministic set-level merge (SURVEY §4: no transactional store, so
  * upsert = dedup-window overwrite with last-writer-wins).
  * `EmailEtlApi.importFull` applies the same order on the driver, from the
  * batch's keys and the store's versions of them, so its merge does not
  * shuffle the store; this form merges two frames of any size.
  *
  * Scale notes: the merge shuffles once on the natural key; at 100 TB the
  * emails table would be bucketed by `message_id` so both the existing
  * side and the window reuse the same partitioning (no extra exchange).
  * Incoming batches are tiny relative to the store — AQE will broadcast
  * where possible.
  */
object Upsert {

  /** A4: merge `incoming` into `existing` keyed by `key`; on conflict the
    * row with the greater `version` wins, incoming preferred on ties
    * (reference: src/database.py:72-122 — ON CONFLICT (message_id) DO
    * UPDATE with updated_at=NOW()). Idempotent: merging the same batch
    * twice equals merging once.
    *
    * The ordering is TOTAL: two rows with the same key, version, and side
    * (an in-batch duplicate with divergent content) tie-break on a
    * content hash, so which one survives never depends on partitioning —
    * without this, `row_number` over a non-total order picks an
    * arbitrary, run-varying winner. */
  def mergeByKey(
      existing: DataFrame,
      incoming: DataFrame,
      key: String,
      version: String): DataFrame = {
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)), allowMissingColumns = true)
    val contentCols = tagged.columns.filterNot(_ == "__src").map(col).toSeq
    val w = Window.partitionBy(col(key))
      .orderBy(col(version).desc_nulls_last, col("__src").desc,
        md5(to_json(struct(contentCols: _*))))
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }
}
