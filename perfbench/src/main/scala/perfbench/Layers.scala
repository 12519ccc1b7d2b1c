package perfbench

import graft.api.EmailEtlApi
import graft.ingest.Normalize
import graft.operators.Upsert
import org.apache.spark.sql.DataFrame

/** Per-layer metrics of a traced run, read from the tracer's spans, jobs
  * and query records. Every workload reports the same names; a layer a
  * workload leaves idle reads 0. */
object Layers {
  type M = (String, Double, String)

  /** Names of every per-layer metric, in report order, with units. */
  def names: Seq[(String, String)] =
    Seq(
      "trace.p50_ms" -> "ms",
      "spark.jobs_per_op" -> "count", "spark.task_cpu_ms_per_op" -> "ms",
      "spark.cpu_utilization" -> "ratio", "jvm.gc_ms_per_op" -> "ms",
      "spark.plan_ms" -> "ms", "spark.plan_nodes" -> "count",
      "api.import.rows_per_s" -> "rows/s", "api.import.jobs" -> "count",
      "api.import.inbox_read_ratio" -> "ratio", "ingest.normalize_ms" -> "ms",
      "api.sync.jobs" -> "count",
      "api.sync.store_records_read_per_new_row" -> "ratio",
      "api.sync.bytes_written_per_new_row" -> "B",
      "operators.upsert.merge_ms" -> "ms", "sinks.archive_ms" -> "ms",
      "sinks.archive_rows_per_new_row" -> "ratio", "enrich.embed_ms" -> "ms",
      "store.bytes_per_inbox_byte" -> "ratio", "search.byid.rows_examined" -> "count",
      "api.rest.overhead_ms" -> "ms", "api.url_screen.plan_nodes" -> "count",
      "search.hybrid.ms" -> "ms",
      "search.hybrid.rows_examined_per_result" -> "ratio") ++
      RegistryProbe.Subset.flatMap(q => QueryFields.map { case (f, u) => s"queries.$q.$f" -> u })

  val QueryFields: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "task_cpu_ms" -> "ms", "shuffle_write_bytes" -> "B", "spill_bytes" -> "B",
    "gc_ms" -> "ms")

  /** Fills every name this workload did not measure with 0. */
  def complete(measured: Seq[M]): Seq[M] = {
    val have = measured.map(m => m._1 -> m).toMap
    names.map { case (n, u) => have.getOrElse(n, (n, 0.0, u)) }
  }

  private def wall(j: Tracer.JobRec): Double = (j.end - j.start).toDouble

  /** Scans of the store's tables (not of the inbox beside it). */
  def storeScan(path: String): Boolean = path.contains("/store/")

  /** `trace.p50_ms` over the workload's primary operations, and work
    * counters over all its timed operations (top-level spans named in
    * `timedSpans`). */
  def common(ctx: Ctx, primaryMs: Seq[Double], opsMs: Seq[Double],
      timedSpans: Set[String]): Seq[M] = {
    val t = ctx.tracer
    t.drain()
    val timed = t.allSpans.filter(s => s.parent == 0 && timedSpans(s.name))
    val jobs = timed.flatMap(t.jobsUnder).distinctBy(_.id)
    val qs = timed.flatMap(t.queriesUnder)
    val ops = math.max(1, opsMs.size).toDouble
    val cpuMs = jobs.map(_.cpuNs).sum / 1e6
    Seq(
      ("trace.p50_ms", Stats.median(primaryMs), "ms"),
      ("spark.jobs_per_op", jobs.size / ops, "count"),
      ("spark.task_cpu_ms_per_op", cpuMs / ops, "ms"),
      ("spark.cpu_utilization", cpuMs / (opsMs.sum * ctx.cores), "ratio"),
      ("jvm.gc_ms_per_op", jobs.map(_.gcMs).sum / ops, "ms"),
      ("spark.plan_ms", Stats.mean(qs.map(_.planMs)), "ms"),
      ("spark.plan_nodes", Stats.mean(qs.map(_.planNodes.toDouble)), "count"))
  }

  def ingest(ctx: Ctx, base: Inbox.InboxFile, slices: Seq[Inbox.InboxFile],
      importRowsPerS: Double, storeRatio: Double): Seq[M] = {
    val t = ctx.tracer
    val spans = t.allSpans
    val imports = spans.filter(_.name == "importFull")
    val syncs = spans.filter(_.name == "syncIncremental")
    val reads = spans.filter(_.name == "emailById")
    val inboxBytes = base.bytes.toDouble
    val importJobs = imports.map(s => t.jobsUnder(s).size.toDouble)
    val readRatio = imports.map { s =>
      t.queriesUnder(s).flatMap(_.scans).filter(_._1.contains("/inbox")).map(_._2).sum / inboxBytes
    }
    val perSync = syncs.map { s =>
      val js = t.jobsUnder(s)
      val newRows = slices.head.msgs.size.toDouble
      val storeRead = t.queriesUnder(s).flatMap(_.scans).filter(s => storeScan(s._1)).map(_._3).sum
      val sinkJobs = js.filter(j => Tracer.layerOf(t.jobCallSite(j)) == "sinks")
      val enrichJobs = js.filter(j => Tracer.layerOf(t.jobCallSite(j)) == "enrich")
      (js.size.toDouble, storeRead / newRows, js.map(_.outBytes).sum / newRows,
        sinkJobs.map(wall).sum, sinkJobs.map(_.outRecords).sum / newRows,
        enrichJobs.map(wall).sum)
    }
    val rowsExamined = reads.flatMap(s =>
      t.queriesUnder(s).map(_.scans.filter(s => storeScan(s._1)).map(_._3).sum.toDouble))
    Seq(
      ("api.import.rows_per_s", importRowsPerS, "rows/s"),
      ("api.import.jobs", Stats.median(importJobs), "count"),
      ("api.import.inbox_read_ratio", Stats.median(readRatio), "ratio"),
      ("ingest.normalize_ms", normalizeProbe(ctx, base), "ms"),
      ("api.sync.jobs", Stats.median(perSync.map(_._1)), "count"),
      ("api.sync.store_records_read_per_new_row", Stats.median(perSync.map(_._2)), "ratio"),
      ("api.sync.bytes_written_per_new_row", Stats.median(perSync.map(_._3)), "B"),
      ("operators.upsert.merge_ms", mergeProbe(ctx, slices.last), "ms"),
      ("sinks.archive_ms", Stats.median(perSync.map(_._4)), "ms"),
      ("sinks.archive_rows_per_new_row", Stats.median(perSync.map(_._5)), "ratio"),
      ("enrich.embed_ms", Stats.median(perSync.map(_._6)), "ms"),
      ("store.bytes_per_inbox_byte", storeRatio, "ratio"),
      ("search.byid.rows_examined", Stats.median(rowsExamined), "count"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timedMs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  /** Time of the ingest module's public functions over the base inbox:
    * parse, then normalize emails, attachments and audit rows. */
  private def normalizeProbe(ctx: Ctx, base: Inbox.InboxFile): Double = {
    val dir = ctx.resetDir(ctx.work.resolve("probe-normalize"))
    Inbox.write(dir, base)
    timedMs(3) {
      val raw = Normalize.readRaw(ctx.spark, dir.toString)
      val emails = Normalize.emails(raw)
      noop(emails)
      noop(Normalize.attachments(raw))
      noop(Normalize.auditRows(emails, "imported"))
    }
  }

  /** Time of `Upsert.mergeByKey` of one day's batch into the workload's
    * store, materialized without a write. */
  private def mergeProbe(ctx: Ctx, slice: Inbox.InboxFile): Double = {
    val dir = ctx.resetDir(ctx.work.resolve("probe-merge"))
    Inbox.write(dir, slice)
    val existing = new EmailEtlApi(ctx.spark,
      ctx.work.resolve(s"store-${IngestWorkload.SetUps - 1}").resolve("store").toString).emails
    val incoming = Normalize.emails(Normalize.readRaw(ctx.spark, dir.toString))
      .dropDuplicates("message_id")
    timedMs(3)(noop(Upsert.mergeByKey(existing, incoming, "message_id", "updated_at")))
  }
}
