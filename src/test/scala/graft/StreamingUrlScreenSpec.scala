package graft

import graft.streaming.StreamingUrlScreen

/** The URL family's streaming rung: each landing micro-batch is
  * canonicalized, keep-best-deduped within the batch, and anti-joined
  * against the persisted canonical-URL store (first stored wins across
  * batches — the crawl-frontier contract). */
class StreamingUrlScreenSpec extends SparkSpec {

  private def page(id: Long, url: String, n: Long): String =
    s"""{"doc_id": $id, "url": "$url", "n_chars": $n}"""

  private def land(dir: String, file: String, rows: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, file),
      rows.mkString("\n").getBytes("UTF-8"))

  test("within-batch keep-best, cross-batch first-wins, canon variants collapse") {
    val landing = tmpDir("url-landing")
    val docs = tmpDir("url-store") + "/docs"
    val urls = tmpDir("url-store") + "/urls"
    val ckpt = tmpDir("url-ckpt")

    // drain 1: three raw variants of ONE canonical page (+ a distinct
    // page) — within-batch keep-best must leave the largest copy
    land(landing, "b1.json", Seq(
      page(1L, "http://www.Ex.org:80/a/?utm_s=1&x=1#f", 100L),
      page(2L, "HTTP://ex.org/a?x=1", 300L),
      page(3L, "http://EX.ORG/a/?x=1&utm_m=2", 200L),
      page(4L, "https://other.net/b", 50L)))
    StreamingUrlScreen.drain(spark, landing, docs, urls, ckpt)
    val afterOne = StreamingUrlScreen.readDocStore(spark, docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon_url"),
        r.getAs[Long]("n_chars"))).sortBy(_._1)
    assert(afterOne.toSeq == Seq(
      (2L, "http://ex.org/a?x=1", 300L),
      (4L, "https://other.net/b", 50L)),
      s"got ${afterOne.toSeq}")
    assert(StreamingUrlScreen.readUrlStore(spark, urls).count() == 2L)

    // drain 2: a LARGER copy of the stored page arrives — the frontier
    // never re-admits a known canon key (first stored wins); a genuinely
    // new page passes
    land(landing, "b2.json", Seq(
      page(5L, "http://ex.org/a?x=1", 900L),
      page(6L, "https://new.com/c", 70L)))
    StreamingUrlScreen.drain(spark, landing, docs, urls, ckpt)
    val afterTwo = StreamingUrlScreen.readDocStore(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id")).sorted.toSeq
    assert(afterTwo == Seq(2L, 4L, 6L), s"got $afterTwo")
    assert(StreamingUrlScreen.readUrlStore(spark, urls).count() == 3L)

    // the doc store's canon keys stay distinct across both drains
    val keys = StreamingUrlScreen.readDocStore(spark, docs).select("canon_url").collect()
      .map(_.getString(0)).toSeq
    assert(keys.distinct.size == keys.size)

    // a long-lived stream must not leak per-batch cache entries
    assert(spark.sharedState.cacheManager.isEmpty,
      "streaming drain left persisted blocks behind")
  }

  test("compaction mid-stream: a genuinely replayed batch recomputes against the base, end state unchanged") {
    val landing = tmpDir("url-cmp-landing")
    val docs = tmpDir("url-cmp-store") + "/docs"
    val urls = tmpDir("url-cmp-store") + "/urls"
    val ckpt = tmpDir("url-cmp-ckpt")

    // three files = three micro-batches (maxFilesPerTrigger=1); batch 2
    // repeats batch 0's canonical page, so its novel set DEPENDS on the
    // store probe — a replay that probed wrongly would change the state
    for ((rows, i) <- Seq(
      Seq(page(1L, "http://ex.org/a?x=1", 100L)),
      Seq(page(2L, "https://other.net/b", 50L)),
      Seq(page(3L, "HTTP://EX.ORG/a/?x=1", 900L), // store-known: dropped
          page(4L, "https://new.com/c", 70L))).zipWithIndex) {
      val f = java.nio.file.Paths.get(landing, s"b$i.json")
      java.nio.file.Files.write(f, rows.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000 + i * 2000))
    }
    StreamingUrlScreen.drain(spark, landing, docs, urls, ckpt)
    def state() = StreamingUrlScreen.readDocStore(spark, docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon_url"),
        r.getAs[Long]("n_chars"))).toSet
    val end = state()
    assert(end.map(_._1) == Set(1L, 2L, 4L), s"got $end")

    // crash position: batch 2's store writes landed but its checkpoint
    // commit never did, so the restart's compaction is bounded at
    // upTo = 1 (what compactStores would read from the commit log);
    // batch 2's orphaned dirs stay beside the base
    graft.streaming.BatchKeyedStore.compact(
      spark, docs, StreamingUrlScreen.docStoreSchema, upTo = 1L)
    graft.streaming.BatchKeyedStore.compact(
      spark, urls, StreamingUrlScreen.urlStoreSchema, upTo = 1L)
    def names(d: String) = new java.io.File(d).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(names(docs) == Set("base-00001", "batch-00002"), names(docs).toString)
    assert(names(urls) == Set("base-00001", "batch-00002"))

    // the replay: the stream re-invokes the foreachBatch body with the
    // SAME batchId and rows — its probe now reads the base, recomputes
    // the identical novel set, and overwrites batch 2's own directories
    val batch2 = spark.read.schema(StreamingUrlScreen.pageSchema)
      .json(java.nio.file.Paths.get(landing, "b2.json").toString)
    StreamingUrlScreen.runBatch(batch2, 2L, docs, urls)
    assert(state() == end,
      "a replay across the compaction must leave the end state unchanged")
    val keys = StreamingUrlScreen.readDocStore(spark, docs)
      .select("canon_url").collect().map(_.getString(0)).toSeq
    assert(keys.distinct.size == keys.size, "no duplicate canon keys")

    // and the real stream continues cleanly past the compacted store
    land(landing, "b3.json", Seq(page(7L, "https://tail.org/z", 10L)))
    StreamingUrlScreen.drain(spark, landing, docs, urls, ckpt)
    assert(state().map(_._1) == Set(1L, 2L, 4L, 7L))
  }

  test("end state equals the batch first-wins computation on the union, for two shard orders") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._

    // three canon groups spread across three shards; K1 and K2 have
    // copies in shards 0 AND 2 so the two permutations keep DIFFERENT
    // docs — the equivalence must hold for each arrival order, not
    // because the fixture is order-insensitive
    val shards: Map[Int, Seq[(Long, String, Long)]] = Map(
      0 -> Seq((1L, "http://www.Ex.org:80/a?utm_s=1&x=1#f", 100L),
               (2L, "https://www.beta.net:443/b", 50L)),
      1 -> Seq((3L, "HTTP://ex.org/a/?x=1", 300L),
               (4L, "http://solo.io/c", 70L)),
      2 -> Seq((5L, "http://EX.ORG/a?x=1&utm_m=2", 200L),
               (8L, "http://www.ex.org/a?x=1", 150L), // within-batch loser to doc 5
               (6L, "HTTPS://beta.net/b#x", 400L)))

    for (perm <- Seq(Seq(0, 1, 2), Seq(2, 0, 1))) {
      val landing = tmpDir(s"url-eq-landing")
      val docs = tmpDir("url-eq-store") + "/docs"
      val urls = tmpDir("url-eq-store") + "/urls"
      val ckpt = tmpDir("url-eq-ckpt")
      // one file per shard, named AND mtime'd in arrival order — with
      // maxFilesPerTrigger=1 each file is one micro-batch, in this order
      perm.zipWithIndex.foreach { case (shard, i) =>
        val f = java.nio.file.Paths.get(landing, s"b$i.json")
        java.nio.file.Files.write(f,
          shards(shard).map { case (id, u, n) => page(id, u, n) }
            .mkString("\n").getBytes("UTF-8"))
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 60000 + i * 2000))
      }
      StreamingUrlScreen.drain(spark, landing, docs, urls, ckpt)
      val got = StreamingUrlScreen.readDocStore(spark, docs).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon_url"),
          r.getAs[Long]("n_chars"))).toSet

      // the BATCH statement of the frontier contract on the union: per
      // canon key keep the row winning (batch_idx ASC, n_chars DESC,
      // doc_id ASC) — first batch wins, keep-best inside it
      import spark.implicits._
      val union = perm.zipWithIndex.flatMap { case (shard, i) =>
        shards(shard).map { case (id, u, n) => (id, u, n, i) }
      }.toDF("doc_id", "url", "n_chars", "batch_idx")
      val expected = union
        .withColumn("canon_url",
          graft.queries.WebQueries.canonicalize(col("url")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("canon_url").orderBy(
            col("batch_idx"), col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("canon_url"), col("n_chars"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

      assert(got == expected,
        s"arrival order $perm: streaming end state $got != batch first-wins $expected")
    }
  }
}
