package graft.streaming

import graft.queries.WebQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The URL family's STREAMING rung — the crawl-frontier screen every
  * continuous ingestion pipeline runs in front of fetch/store: pages
  * land as (doc_id, url, n_chars) JSON, each micro-batch is
  * canonicalized row-locally, deduplicated within the batch by
  * keep-best, and anti-joined against the persisted canonical-URL store
  * (FIRST STORED WINS across batches — the frontier contract: a URL
  * already fetched is never re-admitted, regardless of the newcomer's
  * size). Survivors append to the doc store and their canon keys to the
  * URL store.
  *
  * Completes the batch (`url_canonicalize`) → batch-dedup (`dedup_url`)
  * → streaming ladder, mirroring [[StreamingSpanScreen]]'s shape:
  *  1. canonicalize — the SHARED [[WebQueries.canonicalize]] parse
  *     (one rule set for batch, streaming, and the DuckDB twin);
  *  2. within-batch keep-best by (n_chars DESC, doc_id ASC) per canon
  *     key — one window over the micro-batch (batch-sized, cheap);
  *  3. probe the URL store with a LEFT ANTI join on the canon key; at
  *     100 TB the store is hash-bucketed on canon_url and the probe
  *     reads only matching buckets;
  *  4. append survivors; the store stays distinct by construction
  *     (within-batch dedup in step 2, cross-batch anti-join in step 3).
  *
  * Dedup semantics differ from batch `dedup_url` deliberately: batch
  * keep-best picks the globally best copy; a frontier CANNOT (the best
  * copy may not have arrived yet), so it keeps the first stored and
  * drops later copies — the standard crawl trade. The periodic batch
  * re-run reconciles (the Lambda split the incremental near-dup and
  * span screens document).
  *
  * State at scale: the URL store is the only unbounded artifact — one
  * canonical URL string per distinct page, hash-partitioned; no Spark
  * state-store entry exists (dedup state lives in the data layout,
  * shared with batch jobs and restart-safe).
  */
object StreamingUrlScreen {

  val pageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("url", StringType),
    StructField("n_chars", LongType)))

  /** Doc-store row shape (what [[screenAgainstStore]] emits). */
  val docStoreSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("canon_url", StringType),
    StructField("n_chars", LongType)))

  /** URL-store row shape: one canonical key per admitted page. */
  val urlStoreSchema: StructType =
    StructType(Seq(StructField("canon_url", StringType)))

  /** Consumer reads over the batch-keyed stores `drain` maintains. */
  def readDocStore(spark: SparkSession, docStoreDir: String): DataFrame =
    BatchKeyedStore.read(spark, docStoreDir, docStoreSchema)
  def readUrlStore(spark: SparkSession, urlStoreDir: String): DataFrame =
    BatchKeyedStore.read(spark, urlStoreDir, urlStoreSchema)

  /** Directory-count hygiene between drains: fold both stores' committed
    * batch directories into one base each
    * ([[BatchKeyedStore.compact]]) — a months-lived crawl frontier keeps
    * O(batches-since-compaction) directories instead of O(all batches).
    * Bounded by the checkpoint's commit log, so a directory written by a
    * crashed uncommitted attempt is never baked into the base. */
  def compactStores(spark: SparkSession, docStoreDir: String,
      urlStoreDir: String, checkpointDir: String): Unit =
    BatchKeyedStore.lastCommitted(spark, checkpointDir).foreach { last =>
      BatchKeyedStore.compact(spark, docStoreDir, docStoreSchema, last)
      BatchKeyedStore.compact(spark, urlStoreDir, urlStoreSchema, last)
    }

  /** One micro-batch: canonicalize, within-batch keep-best, drop
    * store-known canon keys. Returns (doc_id, canon_url, n_chars).
    * Exposed for the spec; `drain` wires it into foreachBatch. */
  private[streaming] def screenAgainstStore(
      batch: DataFrame, urlStore: Option[DataFrame]): DataFrame = {
    val canon = batch.select(col("doc_id"), col("n_chars"),
      WebQueries.canonicalize(col("url")).as("canon_url"))
    val w = Window.partitionBy("canon_url")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val bestInBatch = canon
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val novel = urlStore match {
      case Some(store) =>
        bestInBatch.join(store.select(col("canon_url")),
          Seq("canon_url"), "left_anti")
      case None => bestInBatch
    }
    novel.select(col("doc_id"), col("canon_url"), col("n_chars"))
  }

  /** Drain everything currently in `landingDir`: novel pages land in
    * `docStoreDir`, their canon keys in `urlStoreDir` — both
    * [[BatchKeyedStore]] layouts. Exactly-once per checkpoint: each
    * batch's two writes are batchId-keyed overwrites, and the store
    * probe reads only STRICTLY EARLIER batches, so a replayed batch
    * recomputes the identical novel set and replaces its own
    * directories regardless of where the first attempt crashed
    * (the idempotency argument is on [[BatchKeyedStore]]). Returns
    * after the drain. */
  def drain(spark: SparkSession, landingDir: String, docStoreDir: String,
      urlStoreDir: String, checkpointDir: String): Unit = {
    val q: StreamingQuery = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", 1) // page the drain like G3 micro-batching
      .json(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch, batchId, docStoreDir, urlStoreDir)
      }
      .start()
    q.awaitTermination()
  }

  /** The foreachBatch body — exposed `private[graft]` so the specs can
    * REPLAY a batch literally (a crash-replay is exactly a second
    * invocation with the same batchId and rows; Spark 4's checkpoint
    * concurrent-modification guard forbids forging one by editing the
    * commit log under a live session). */
  private[graft] def runBatch(batch: DataFrame, batchId: Long,
      docStoreDir: String, urlStoreDir: String): Unit = {
    val s = batch.sparkSession
    val store = BatchKeyedStore.readBefore(
      s, urlStoreDir, batchId, urlStoreSchema)
    // novel feeds both writes; persist so the canonicalize + window
    // + store probe run once, and unpersist — a long-lived stream
    // must not accumulate per-batch cache entries
    // coalesce(4): a micro-batch's survivors are batch-sized, but the
    // keep-best window runs at spark.sql.shuffle.partitions — written
    // raw, every batch would shed up to 32 near-empty part files per
    // store and the probe's file listing would grow 32× per batch
    // (measured as a per-batch latency TREND in URL_STREAM_SCALE)
    val novel = screenAgainstStore(batch, store).coalesce(4).persist()
    try {
      BatchKeyedStore.write(novel, docStoreDir, batchId)
      BatchKeyedStore.write(
        novel.select(col("canon_url")), urlStoreDir, batchId)
    } finally { novel.unpersist(); () }
  }
}
