package graft

import graft.api.EmailEtlApi
import graft.sinks.MarkdownSink
import graft.store.TableSwap

/** The store's file-set swap under faults, and the file layout of
  * `emails` that copy-on-write syncs leave behind. */
class TableSwapSpec extends SparkSpec {
  import ImportFixture._

  private final class Cut(step: String) extends RuntimeException(s"cut at $step")

  private def day(d: Int, n: Int, prefix: String): Seq[String] = (0 until n).map { i =>
    val date = java.time.LocalDate.of(2024, 3, 1).plusDays(d.toLong).atTime(9 + i, 0)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss Z", java.util.Locale.US))
    msg(s"$prefix$d-$i", date, s"subject $d $i", plain = Some(s"body $d $i"),
      atts = if (i % 2 == 0) Seq(Att(s"f$d$i.png", safe = true)) else Nil)
  }

  /** Order-insensitive hash of every store table and of the markdown
    * archive and index projected from `emails` ([[ImportFixture.tableHash]]). */
  private def hashes(store: String): Seq[String] =
    storeTables(spark, store).map { case (t, df) => s"$t ${tableHash(df)}" }

  private def copy(from: String): String = {
    val to = tmpDir("swap-store")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))
    to
  }

  test("a sync cut after any stage, move or delete recovers and replays to the tables of an uninterrupted sync") {
    val inbox = tmpDir("swap-inbox")
    val base = tmpDir("swap-base")
    write(inbox, "day1.json", day(0, 3, "a") ++ day(1, 3, "a"))
    new EmailEtlApi(spark, base).importFull(inbox)
    write(inbox, "day2.json", day(1, 1, "b") ++ day(2, 3, "b") ++ day(31, 2, "b"))
    val before = hashes(base)

    // the uninterrupted run: its steps, then one sync and a second one
    val clean = copy(base)
    val steps = scala.collection.mutable.ArrayBuffer[String]()
    TableSwap.onStep = steps += _
    try new EmailEtlApi(spark, clean).syncIncremental(inbox)
    finally TableSwap.onStep = _ => ()
    val once = hashes(clean)
    new EmailEtlApi(spark, clean).syncIncremental(inbox)
    val twice = hashes(clean)
    val committedAt = steps.indexOf("recorded")
    assert(committedAt > 0 && steps.exists(_.startsWith("moved")) &&
      steps.exists(_.startsWith("deleted")), steps.mkString(", "))
    assert(once != before && twice != once)

    steps.zipWithIndex.foreach { case (step, i) =>
      val store = copy(base)
      var n = 0
      TableSwap.onStep = s => { if (n == i) throw new Cut(s); n += 1 }
      try intercept[Cut](new EmailEtlApi(spark, store).syncIncremental(inbox))
      finally TableSwap.onStep = _ => ()
      TableSwap.recover(spark, store, EmailEtlApi.Tables)
      // every table of the commit or none: cut before the record, the
      // sync never happened; after it, it happened whole
      val committed = i >= committedAt
      assert(hashes(store) == (if (committed) once else before), s"after recovering a cut at $step")
      new EmailEtlApi(spark, store).syncIncremental(inbox)
      assert(hashes(store) == (if (committed) twice else once), s"after replaying a cut at $step")
      val left = new java.io.File(store).list().filter(f => f.contains("__stage") || f.startsWith("_swap"))
      assert(left.isEmpty, s"left behind after a cut at $step: ${left.mkString(", ")}")
    }
  }

  test("one-day syncs rewrite only the files they touch, and the file count stays logarithmic") {
    val inbox = tmpDir("cow-inbox")
    val store = tmpDir("cow-store")
    val api = new EmailEtlApi(spark, store)
    write(inbox, "000.json", (0 until 20).flatMap(d => day(d, 5, "m")))
    api.importFull(inbox)
    def files: Seq[String] = TableSwap.liveFiles(spark, s"$store/emails").map(_.name)
    def auditFiles: Int = TableSwap.liveFiles(spark, s"$store/audit").size
    // the first sync re-reads the newest message, which the import's one
    // file holds; from then on that file is left alone
    write(inbox, "020.json", day(20, 5, "m"))
    val imported = auditFiles
    api.syncIncremental(inbox)
    assert(auditFiles <= imported + 1, s"the first sync added ${auditFiles - imported} audit files")
    val oldest = files.head
    (21 until 36).foreach { d =>
      write(inbox, f"$d%03d.json", day(d, 5, "m"))
      val audited = auditFiles
      val stats = api.syncIncremental(inbox)
      assert(auditFiles <= audited + 1, s"day $d added ${auditFiles - audited} audit files")
      assert(stats("processed") == 5L && stats("skipped") == 1L, s"day $d: $stats")
      assert(files.head == oldest, s"day $d rewrote the oldest file")
      assert(files.size <= 6, s"day $d left ${files.size} files: ${files.mkString(", ")}")
      assert(stats("total") == 5L * (d + 1))
    }
    val rows = api.emails.select("message_id").collect().map(_.getString(0))
    assert(rows.length == 180 && rows.distinct.length == 180)
    assert(MarkdownSink.index(api.emails).count() == 180)
    assert(MarkdownSink.archive(api.emails).count() == 180)
  }
}
