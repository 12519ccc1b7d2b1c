package graft

import graft.ingest.Normalize
import graft.model.Email
import graft.operators.Scale
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join, hot key fanned out") {
    val left = (1 to 2000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val right = Seq(("hot", "H"), ("k7", "A"), ("k13", "B")).toDF("key", "tag")
    val plain = left.join(right, Seq("key"))
      .select("key", "v", "tag").collect().toSet
    val salted = Scale.saltedJoin(left, right, "key", saltFactor = 8)
      .select("key", "v", "tag").collect().toSet
    assert(salted == plain)
    assert(plain.count(_.getString(0) == "hot") == 200)
  }

  test("connected components: 60k-node graph with a 512-node chain converges in O(log d) rounds") {
    import graft.operators.ConnectedComponents
    import org.apache.spark.sql.functions._
    // worst-case topology for label propagation: one long path (diameter
    // 511) buried in 20k small cliques. Pointer jumping must resolve the
    // path in ~log2(512)=9 doubling rounds, not 511 propagation rounds —
    // the property that makes the loop viable on billion-doc corpora.
    val spark2 = spark
    import spark2.implicits._
    val chain = (0L until 511L).map(i => (i, i + 1))
    val cliques = (0 until 20000).flatMap { c =>
      val base = 1000L + c * 3L
      Seq((base, base + 1), (base + 1, base + 2))
    }
    // force the distributed loop (the property under test is pointer
    // jumping, which the small-graph local fast path would bypass)
    spark.conf.set("spark.graft.cc.localMaxPairs", "-1")
    val labels =
      try ConnectedComponents
        .resolve((chain ++ cliques).toDF("a_id", "b_id"), maxIters = 16)
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.cc.localMaxPairs")
    // the whole chain resolved to 0 — would fail at maxIters=16 without
    // pointer jumping (needs 511 pure-propagation rounds)
    (0L to 511L).foreach(v => assert(labels(v) == 0L))
    assert(labels.size == 512 + 3 * 20000)
    assert(labels(1000L + 42 * 3 + 2) == 1000L + 42 * 3)
  }

  test("mortonZ matches a bit-by-bit scalar Morton encode") {
    def mortonRef(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(7)
    val pts = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(Scale.mortonZ(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    assert(got == pts.map { case (x, y) => mortonRef(x, y) })
  }

  test("z-order bounds BOTH dimensions per bucket; lex sort only one") {
    // 64×64 grid: under z-order every 256-point bucket is a 16×16 tile
    // (span 15 in x AND y); under an x-major lex sort the same-size
    // bucket is 4 full columns (y span 63). This span gap is exactly the
    // parquet row-group min/max pruning a 100 TB scan filtered on y
    // gets from the z layout and not from the lex layout.
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val spans = grid
      .withColumn("__z", Scale.mortonZ(col("x"), col("y")))
      .groupBy((col("__z") / 256).cast("long").as("b"))
      .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
      .select(max("xs"), max("ys")).as[(Long, Long)].collect()(0)
    assert(spans == ((15L, 15L)), s"z-order tile spans: $spans")
    val lexSpans = grid
      .withColumn("b", expr("(x * 64 + y) div 256"))
      .groupBy("b")
      .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
      .select(max("xs"), max("ys")).as[(Long, Long)].collect()(0)
    assert(lexSpans == ((3L, 63L)), s"lex bucket spans: $lexSpans")
  }

  test("zorder writer: partitions are contiguous disjoint z-ranges") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(4000)((rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong))
      .toDF("x", "y")
    val laid = Scale.zorder(pts, "x", "y", partitions = 8)
    assert(laid.columns.toSeq == Seq("x", "y"))
    assert(laid.count() == 4000)
    // recompute z per partition: ranges must not overlap across partitions
    val ranges = Scale.mortonScaled(laid, "x", "y")
      .select(spark_partition_id().as("p"), col("__z"))
      .groupBy("p").agg(min("__z").as("lo"), max("__z").as("hi"))
      .orderBy("p")
      .as[(Int, Long, Long)].collect().toSeq
    assert(ranges.size > 1)
    ranges.sliding(2).foreach { case Seq((_, _, hi1), (_, lo2, _)) =>
      assert(hi1 <= lo2, s"overlapping z-ranges: $ranges")
    }
  }

  test("Dataset[Email] typed path over normalized rows") {
    val dir = tmpDir("typed")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "m.json"),
      (s"""{"id":"t1","threadId":"th","labelIds":["INBOX"],"snippet":"s","sizeEstimate":1,"historyId":"h",
          |"payload":{"partId":"0","mimeType":"text/plain","filename":"",
          |"headers":[{"name":"From","value":"Ann <ann@x.com>"},{"name":"Subject","value":"typed"},{"name":"Date","value":"Mon, 15 Jan 2024 10:00:00 +0000"}],
          |"body":{"data":"${b64url("typed body")}","size":1,"attachmentId":null}}}""".stripMargin.replaceAll("\n", ""))
        .getBytes("UTF-8"))
    val ds = Normalize.emails(Normalize.readRaw(spark, dir))
      .drop("metadata") // case class models the analytic columns
      .as[Email]
    val e = ds.filter(_.sender.contains("ann@x.com")).collect()(0)
    assert(e.message_id == "t1")
    assert(e.subject.contains("typed"))
    assert(e.body_plain.contains("typed body"))
    assert(!e.has_attachments)
  }
}
