package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming scale measurement of the three incremental screens, one
  * target per run:
  *
  *  - `curation`: [[graft.streaming.StreamingCuration.drainIncrementalNearDup]];
  *    the store-side cost is the band-signature scan of the accumulated
  *    store. Writes STREAM_SCALE.json.
  *  - `url`: [[graft.streaming.StreamingUrlScreen]] over pages synthesized
  *    with the shared [[graft.queries.WebQueries.rawUrlCol]], so the
  *    canon-collision structure matches the batch family's; the store-side
  *    cost is the canon-key anti-join probe. Writes URL_STREAM_SCALE.json.
  *  - `span`: [[graft.streaming.StreamingSpanScreen]]; the store-side cost
  *    is the distinct-gram index scan and anti-join. Writes
  *    SPAN_STREAM_SCALE.json.
  *
  * The ScaleUp 10× corpus is paged one shard file per micro-batch
  * (`maxFilesPerTrigger=1`) and per-batch wall latency recorded two ways:
  *
  *  1. batch-size scaling — equal-total drains at shard sizes S, 2S, 4S
  *     into FRESH stores, after one untimed warm-up drain at size S:
  *     per-batch latency should scale ~linearly with shard size (the
  *     O(batch) claim);
  *  2. store-growth — one long drain (the full corpus in fixed-size
  *     shards): the per-batch latency curve over batch id exposes the
  *     store-side cost, which at fixture scale is a flat columnar read and
  *     at 100 TB is partition-pruned (SCALE.md).
  *
  * Latency comes from Spark's own `StreamingQueryListener` progress
  * events (triggerExecution duration), not wrapper stopwatches, so the
  * numbers are the engine's micro-batch accounting. The record is written
  * into the current directory.
  *
  * Usage: StreamScale <curation|url|span> [docsParquet] [workDir]
  */
object StreamScale {
  final class Recorder extends StreamingQueryListener {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(-1L)
      if (p.numInputRows > 0)
        batches += ((p.batchId, p.numInputRows, dur))
    }
  }

  /** Split the first `maxDocs` documents (doc_id order) into JSON shard
    * files of `shardRows` rows each under `landing`, one file == one
    * micro-batch under maxFilesPerTrigger=1. `columns` are the landing
    * columns, computed from the documents table; they include doc_id. */
  def writeShards(spark: SparkSession, docsParquet: String, columns: Seq[Column],
      landing: String, shardRows: Int, maxDocs: Long): Int = {
    val docs = spark.read.parquet(docsParquet)
      .filter(col("doc_id").isNotNull)
      .select(columns: _*)
    // shard id by doc_id order — deterministic, contiguous ranges
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val sharded = docs
      .withColumn("rn", row_number().over(w) - 1)
      .filter(col("rn") < maxDocs)
      .withColumn("shard", (col("rn") / shardRows).cast("int"))
    val nShards = sharded.agg(max(col("shard"))).collect()(0).getInt(0) + 1
    sharded.select(("shard" +: docs.columns.toSeq).map(col): _*)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").json(landing + "/by_shard")
    // flatten part files into landing/shard-<k>.json so the file source
    // sees one file per shard, in shard order by name
    val fs = new org.apache.hadoop.fs.Path(landing)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0 until nShards).foreach { k =>
      val src = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$landing/by_shard/shard=$k/part-*"))
      require(src.nonEmpty, s"no part file for shard $k")
      // partitionBy(shard) writes each shard's rows into exactly one
      // partition dir; concatenate defensively if the writer split it
      val dst = fs.create(new org.apache.hadoop.fs.Path(
        f"$landing/shard-$k%04d.json"), true)
      src.foreach { st =>
        val in = fs.open(st.getPath)
        org.apache.hadoop.io.IOUtils.copyBytes(in, dst, 1 << 16, false)
        in.close()
      }
      dst.close()
    }
    fs.delete(new org.apache.hadoop.fs.Path(landing + "/by_shard"), true)
    nShards
  }

  /** One measured screen: its record name, default work dir, landing
    * columns, and drain of (landing, store prefix, checkpoint). */
  private final case class Target(record: String, defaultWork: String,
      columns: Seq[Column], drain: (SparkSession, String, String, String) => Unit)

  private def target(name: String): Target = name match {
    case "curation" => Target("STREAM_SCALE", "/tmp/graft-streamscale",
      Seq(col("doc_id"), col("text")),
      (spark, landing, store, ckpt) =>
        graft.streaming.StreamingCuration.drainIncrementalNearDup(
          spark, landing, s"$store-store", ckpt))
    case "url" => Target("URL_STREAM_SCALE", "/tmp/graft-urlscale",
      Seq(col("doc_id"), graft.queries.WebQueries.rawUrlCol(col("doc_id")).as("url"),
        col("n_chars")),
      (spark, landing, store, ckpt) =>
        graft.streaming.StreamingUrlScreen.drain(
          spark, landing, s"$store-docs", s"$store-urls", ckpt))
    case "span" => Target("SPAN_STREAM_SCALE", "/tmp/graft-spanscale",
      Seq(col("doc_id"), col("text")),
      (spark, landing, store, ckpt) =>
        graft.streaming.StreamingSpanScreen.drain(
          spark, landing, s"$store-docs", s"$store-grams", ckpt))
    case other => sys.error(s"unknown target $other: curation|url|span")
  }

  def main(args: Array[String]): Unit = {
    val t = target(args(0))
    val docsParquet = args.lift(1).getOrElse("scale10/documents.parquet")
    val work        = args.lift(2).getOrElse(t.defaultWork)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(work), true)

    def drain(landing: String, tag: String): Seq[(Long, Long, Long)] = {
      val rec = new Recorder
      spark.streams.addListener(rec)
      try t.drain(spark, landing, s"$work/$tag", s"$work/ckpt-$tag")
      finally spark.streams.removeListener(rec)
      rec.batches.toSeq
    }
    def stats(b: Seq[(Long, Long, Long)]): (Int, Double, Double) = {
      val ds = b.map(_._3.toDouble / 1000.0)
      (b.size, ds.sum / math.max(1, ds.size), if (ds.isEmpty) 0 else ds.max)
    }

    // 1) batch-size scaling: same 10k-doc total, shard sizes 625/1250/2500,
    // after one untimed drain of the smallest size: in a cold JVM the first
    // timed point would carry the JIT warm-up
    val sizes = Seq(625, 1250, 2500)
    val warm = s"$work/landing-warm"
    writeShards(spark, docsParquet, t.columns, warm, sizes.head, maxDocs = 10000)
    drain(warm, "warm")
    val sizeRows = sizes.map { s =>
      val landing = s"$work/landing-size$s"
      writeShards(spark, docsParquet, t.columns, landing, s, maxDocs = 10000)
      val (n, mean, mx) = stats(drain(landing, s"size$s"))
      println(f"SIZE shard=$s batches=$n mean=${mean}%.2fs max=${mx}%.2fs")
      (s, n, mean, mx)
    }

    // 2) store growth: full corpus in 2500-doc shards, one long drain
    val landing = s"$work/landing-growth"
    val nSh = writeShards(spark, docsParquet, t.columns, landing, 2500,
      maxDocs = Long.MaxValue)
    val growth = drain(landing, "growth")
    growth.foreach { case (id, rows, ms) =>
      println(f"GROWTH batch=$id rows=$rows sec=${ms / 1000.0}%.2f")
    }

    val sizeJson = sizeRows.map { case (s, n, mean, mx) =>
      f"""{"shard_rows":$s,"batches":$n,"mean_sec":$mean%.3f,"max_sec":$mx%.3f}"""
    }.mkString("[", ",", "]")
    val growthJson = growth.map { case (id, rows, ms) =>
      f"""{"batch":$id,"rows":$rows,"sec":${ms / 1000.0}%.3f}"""
    }.mkString("[", ",", "]")
    val line = s"""{"docs":"$docsParquet","shards_growth":$nSh,"size_scaling":$sizeJson,"store_growth":$growthJson}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${t.record}.json"), line + "\n")
    println(s"${t.record} $line")
    spark.stop()
  }
}
