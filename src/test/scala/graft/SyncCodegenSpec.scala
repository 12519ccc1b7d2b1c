package graft

import graft.api.EmailEtlApi
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.metrics.source.CodegenMetrics

/** Regression guard for code-cache thrash on the sync path. Spark keeps
  * its compiled classes in one JVM-wide LRU cache of 100 entries by
  * default; a sync whose queries need more distinct classes than that
  * evicts what the next sync needs and recompiles all of it every time.
  * Three syncs of the same shape run in one JVM; the third may compile
  * only the classes whose source really changes between syncs (its date
  * filter literal), and must stay within a fixed number of Spark jobs.
  *
  * That bound holds only while the sync's classes fit the cache's four
  * LRU segments of 25, and which segment a class lands in moves from JVM
  * to JVM. So the sync's working set is also bounded on its own: the
  * classes one steady-state sync leaves in a cache emptied before it. */
class SyncCodegenSpec extends SparkSpec {
  import ImportFixture._

  private val day0 = java.time.LocalDate.of(2024, 1, 1)
  private val rfc = java.time.format.DateTimeFormatter
    .ofPattern("EEE, dd MMM yyyy HH:mm:ss Z", java.util.Locale.US)

  /** `n` messages on day `d`, cycling through the body and attachment
    * shapes of a real inbox; every fifth line is repeated. */
  private def day(d: Int, n: Int): Seq[String] = (0 until n).flatMap { i =>
    val date = day0.plusDays(d.toLong).atTime(8 + i % 12, i % 60)
      .atZone(java.time.ZoneOffset.UTC).format(rfc)
    val words = s"report $d item $i budget meeting"
    val line = i % 4 match {
      case 0 => msg(s"m$d-$i", date, s"note $i", plain = Some(words))
      case 1 => msg(s"m$d-$i", date, s"page $i", html = Some(s"<p>$words</p>"),
        atts = Seq(Att(s"f$i.png", safe = true)))
      case 2 => msg(s"m$d-$i", date, s"both $i", plain = Some(words), html = Some(s"<b>$words</b>"),
        atts = Seq(Att(s"g$i.exe", safe = false)))
      case _ => msg(s"m$d-$i", date, s"bare $i")
    }
    if (i % 5 == 0) Seq(line, line) else Seq(line)
  }

  test("a steady-state sync fits the default code cache: <= 25 compilations and <= 20 jobs") {
    // the compilation counter is JVM-wide: a query or server thread that an
    // earlier suite left running would compile into it
    val threads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && !t.isDaemon).map(_.getName).sorted
    info(s"active streaming queries: ${spark.streams.active.length}; " +
      s"live non-daemon threads: ${threads.mkString(", ")}")
    val inbox = tmpDir("codegen-inbox")
    val api = new EmailEtlApi(spark, tmpDir("codegen-store"))
    write(inbox, "000.json", (0 until 30).flatMap(d => day(d, 4)))
    api.importFull(inbox)
    write(inbox, "001.json", day(30, 15))
    api.syncIncremental(inbox)
    write(inbox, "002.json", day(31, 15))
    api.syncIncremental(inbox)

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    write(inbox, "003.json", day(32, 15))
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val stats = try api.syncIncremental(inbox) finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    info(s"third sync: $compiled compilations, ${jobs.get} Spark jobs")
    assert(stats("processed") == 15L && stats("skipped") == 1L, s"$stats")
    assert(compiled <= 25 && jobs.get <= 20,
      s"third sync compiled $compiled classes and ran ${jobs.get} Spark jobs")
  }

  test("a steady-state sync needs at most 44 generated classes") {
    val inbox = tmpDir("codegen-ws-inbox")
    val api = new EmailEtlApi(spark, tmpDir("codegen-ws-store"))
    write(inbox, "000.json", (0 until 30).flatMap(d => day(d, 4)))
    api.importFull(inbox)
    write(inbox, "001.json", day(30, 15))
    api.syncIncremental(inbox)
    write(inbox, "002.json", day(31, 15))
    org.apache.spark.CodegenCache.clear()
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val stats = api.syncIncremental(inbox)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    val classes = org.apache.spark.CodegenCache.size
    info(s"sync from an empty code cache: $classes classes cached, $compiled compilations")
    assert(stats("processed") == 15L && stats("skipped") == 1L, s"$stats")
    assert(classes <= 44, s"a steady-state sync compiled $classes distinct classes")
  }
}
