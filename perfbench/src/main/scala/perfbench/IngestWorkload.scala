package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import graft.api.EmailEtlApi
import org.apache.spark.sql.functions.col

/** `ingest` — the write path. Set-up imports a base inbox into a fresh
  * store (`importFull`, embeddings on); it is done three times, each into
  * a new store, and the last store is kept. After one untimed sync, the
  * timed part adds one day of mail at a time to the inbox and runs
  * `syncIncremental`; after each sync one point read (`emailById`) looks
  * up a message that sync just added. The store grows with every sync,
  * so a sync whose cost follows the store rather than its batch shows as
  * a rising sync time. */
final class IngestWorkload(ctx: Ctx) {
  import IngestWorkload._
  private val spark = ctx.spark
  private val tracer = ctx.tracer

  def run(): Result = {
    val g = new Inbox.Gen(ctx.args.seed, "in")
    val base = g.file("000-base.json", BaseMsgs, Start, 86400L * BaseDays,
      dups = 12, bad = 6, brokenDates = 3)
    val slices = (1 to MaxSyncs).map(k => g.file(f"$k%03d-day.json", SliceMsgs,
      Start.plusSeconds(86400L * (BaseDays + k - 1)), 86400L, dups = 2, bad = 1))

    var api: EmailEtlApi = null
    var truth: Truth = null
    var dir: Path = null
    val setups = (0 until SetUps).map { i =>
      val t0 = System.nanoTime()
      dir = ctx.resetDir(ctx.work.resolve(s"store-$i"))
      Inbox.write(dir.resolve("inbox"), base)
      api = new EmailEtlApi(spark, dir.resolve("store").toString)
      truth = new Truth
      ctx.op("importFull") {
        tracer.span("importFull", "api", i.toLong)(api.importFull(dir.resolve("inbox").toString))
      }(truth.importFile(base, Seq(base), full = true).diff)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until SetUps - 1).foreach(i => ctx.resetDir(ctx.work.resolve(s"store-$i")))

    val inbox = dir.resolve("inbox")
    val syncMs, readMs = Vector.newBuilder[Double]
    var written = Vector(base)
    var k = 0
    /** Adds the next day to the inbox, syncs it and reads back one of
      * its messages; returns both latencies. */
    def syncDay(timed: Boolean): (Double, Double) = {
      val tag = if (timed) "" else "warmup."
      val slice = slices(k)
      Inbox.write(inbox, slice)
      written :+= slice
      k += 1
      val (sms, _) = ctx.op(tag + "syncIncremental") {
        tracer.span(tag + "syncIncremental", "api", 100L + k)(api.syncIncremental(inbox.toString))
      }(truth.importFile(slice, written, full = false).diff)
      val fresh = slice.msgs(slice.msgs.size / 2)
      val (rms, _) = ctx.op(tag + "emailById") {
        tracer.span(tag + "emailById", "search", 100L + k) {
          api.emailById(surrogate(fresh.id)).select(col("message_id"))
            .collect().map(_.getString(0)).toSeq
        }
      }(got => if (got == Seq(fresh.id)) None else Some(s"fresh read of ${fresh.id} returned $got"))
      (sms, rms)
    }
    // the first sync runs the merge path for the first time in this JVM,
    // and its cost would be JIT warm-up: it is checked but not timed
    (0 until WarmSyncs).foreach(_ => syncDay(timed = false))
    val t0 = System.nanoTime()
    val deadline = ctx.deadline(t0)
    var lastNs = 0L
    // whole syncs only: start one more only if it can finish in time
    while (k < slices.size &&
        (k < WarmSyncs + MinSyncs || System.nanoTime() + lastNs < deadline)) {
      val s0 = System.nanoTime()
      val (sms, rms) = syncDay(timed = true)
      syncMs += sms
      readMs += rms
      lastNs = System.nanoTime() - s0
    }
    val storeRatio = dirBytes(dir.resolve("store")).toDouble / written.map(_.bytes).sum
    val importRowsPerS = base.msgs.size / Stats.median(setups)
    val ops = syncMs.result() ++ readMs.result()

    val metrics =
      if (!tracer.enabled) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("p50_ms", Stats.median(syncMs.result()), "ms"),
        ("mix_ms", Stats.mix(Seq(syncMs.result(), readMs.result())), "ms"))
      else Layers.complete(
        Layers.common(ctx, syncMs.result(), ops, Set("syncIncremental", "emailById")) ++
          Layers.ingest(ctx, base, slices, importRowsPerS, storeRatio))
    Result(ctx.attempted, ctx.failureList.size, metrics,
      Seq("base_messages" -> BaseMsgs.toLong, "messages_per_sync" -> SliceMsgs.toLong,
        "syncs" -> (k - WarmSyncs).toLong, "warmup_syncs" -> WarmSyncs.toLong, "setups" -> SetUps.toLong),
      ctx.failureList,
      detail = Seq(
        "import_rows_per_s" -> importRowsPerS,
        "sync_p50_ms" -> Stats.median(syncMs.result()),
        "fresh_read_p50_ms" -> Stats.median(readMs.result()),
        "store_bytes_per_inbox_byte" -> storeRatio),
      samples = Seq("setup_s" -> setups, "sync_ms" -> syncMs.result(),
        "fresh_read_ms" -> readMs.result()))
  }
}

object IngestWorkload {
  val BaseMsgs = 300
  val BaseDays = 120
  val SliceMsgs = 20
  val WarmSyncs = 1
  val MinSyncs = 2
  val MaxSyncs = 7
  val SetUps = 3
  val Start: Instant = Instant.parse("2024-01-01T00:00:00Z")

  /** The engine's surrogate id of a message id: `xxhash64(message_id)`. */
  def surrogate(messageId: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(messageId),
      org.apache.spark.sql.types.StringType, 42L)

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
