package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming-packer scale probe: drive [[graft.streaming.StreamingPacker]]
  * over the ScaleUp 10× corpus paged in fixed-size micro-batches
  * (reusing [[StreamScale.writeShards]] for the landing layout and its
  * listener for engine-accounted latencies) and record the per-batch
  * trigger latency curve. The claim under test: the packer's state is
  * O(maxOpen · pack-shards) — independent of how many documents have
  * been packed — so per-batch latency stays FLAT as the packed history
  * grows, unlike anything that re-reads a store.
  *
  * Usage: PackStreamScale [docsParquet] [workDir]
  */
object PackStreamScale {
  def main(args: Array[String]): Unit = {
    val docsParquet = args.lift(0).getOrElse("/root/repo/scale10/documents.parquet")
    val work        = args.lift(1).getOrElse("/tmp/graft-packstream")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val landing = s"$work/landing"
    val nShards = StreamScale.writeShards(spark, docsParquet,
      Seq(col("doc_id"), col("text")), landing, shardRows = 2500, maxDocs = 50000L)

    val rec = new StreamScale.Recorder
    spark.streams.addListener(rec)
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(landing)
        // pack-shard key (state partitioning) is doc-hash, NOT the
        // arrival page: 64 keys × maxOpen 8 bins of state
        .select((col("doc_id") % 64).as("shard"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .as[graft.streaming.StreamingPacker.Doc]
      val q = graft.streaming.StreamingPacker
        .pack(docs, capacity = 256L, maxOpen = 8)
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.streams.removeListener(rec)

    val batches = rec.batches.sortBy(_._1)
    val js = batches.map { case (id, rows, ms) =>
      f"""{"batch":$id,"rows":$rows,"sec":${ms / 1000.0}%.3f}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"docs":"$docsParquet","pages":$nShards,"pack_shards":64,"max_open":8,"batches":$js}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STREAM_PACK.json"), line + "\n")
    println("STREAM_PACK " + line)
    spark.stop()
  }
}
