package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: spans opened by the benchmark around each call into
  * the engine, a `SparkListener` that records every job, stage and task,
  * and a `QueryExecutionListener` that records each query's planning time,
  * plan size and file scans. Nothing inside the engine is touched.
  *
  * A span sets a thread-local Spark job tag, so jobs run by the calling
  * thread carry the span id. Jobs run on another thread (the REST
  * server's dispatch thread) carry no tag and are given to the innermost
  * span open when they started: the benchmark has one client, so at most
  * one request is in flight. Within a span, each job is put in a layer
  * by the engine frames of its call site (see [[Tracer.layerOf]]).
  *
  * Spans and records stay in memory; [[Tracer.writeSpans]] writes them
  * out when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private var nextId = 0L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val tags = prop("spark.job.tags").toSeq.flatMap(_.split(",")).filter(_.startsWith(TagPrefix))
      val rec = new JobRec(e.jobId, e.time,
        tags.headOption.map(_.stripPrefix(TagPrefix).toLong),
        prop("spark.sql.execution.id").map(_.toLong),
        e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse(""),
        e.stageInfos.size)
      e.stageInfos.foreach(s => stageToJob.put(s.stageId, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.outBytes += m.outputMetrics.bytesWritten
            j.outRecords += m.outputMetrics.recordsWritten
          }
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, new ExecRec(s.details,
          s.jobTags.find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toLong)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(QueryRec.of(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside a span. With tracing off this is a plain call. */
  def span[T](name: String, layer: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val s = synchronized {
        nextId += 1
        val sp = new Span(nextId, name, layer, parent.map(_.id).getOrElse(0L),
          if (request >= 0) request else parent.map(_.request).getOrElse(-1L),
          System.currentTimeMillis(), System.nanoTime())
        spans += sp; sp
      }
      stack.set(s :: stack.get)
      val sc = spark.sparkContext
      parent.foreach(p => sc.removeJobTag(TagPrefix + p.id))
      sc.addJobTag(TagPrefix + s.id)
      try body
      finally {
        sc.removeJobTag(TagPrefix + s.id)
        parent.foreach(p => sc.addJobTag(TagPrefix + p.id))
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
      }
    }

  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** The innermost span that contains time `t` (ms). */
  private def spanAt(t: Long): Option[Span] =
    allSpans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.startMs).lastOption

  private def spanById(id: Long): Option[Span] = allSpans.find(_.id == id)

  /** Each job's span: its tag, its SQL execution's tag, or time. */
  def jobSpan(j: JobRec): Option[Span] =
    j.span.orElse(j.exec.flatMap(x => Option(execs.get(x))).flatMap(_.span))
      .flatMap(spanById).orElse(spanAt(j.start))

  def jobCallSite(j: JobRec): String =
    j.exec.flatMap(x => Option(execs.get(x))).map(_.details)
      .filter(_.nonEmpty).getOrElse(j.callSite)

  /** Jobs whose span is `s` or one of its descendants. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val all = allSpans
    def under(x: Span): Boolean =
      x.id == s.id || (x.parent != 0 && all.find(_.id == x.parent).exists(under))
    jobs.values.asScala.toSeq.filter(j => jobSpan(j).exists(under)).sortBy(_.id)
  }

  def queriesUnder(s: Span): Seq[QueryRec] =
    queries.asScala.toSeq.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs)

  /** Writes every span, with the work of the jobs under it, as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = allSpans.map { s =>
      val js = jobsUnder(s)
      val fields = Seq(
        "id" -> s.id.toString, "name" -> quote(s.name), "layer" -> quote(s.layer),
        "parent" -> s.parent.toString, "request" -> s.request.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_ms" -> f"${s.wallMs}%.3f", "jobs" -> js.size.toString,
        "task_cpu_ms" -> f"${js.map(_.cpuNs).sum / 1e6}%.3f") ++
        s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> f"$v%.6f" }
      fields.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val TagPrefix = "perfbench-span-"

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  final class Span(val id: Long, val name: String, val layer: String,
      val parent: Long, val request: Long, val startMs: Long, val startNs: Long) {
    @volatile var endNs: Long = Long.MaxValue
    @volatile var endMs: Long = Long.MaxValue
    val counts = mutable.Map[String, Double]()
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  final class JobRec(val id: Int, val start: Long, val span: Option[Long],
      val exec: Option[Long], val callSite: String, val stages: Int) {
    @volatile var end: Long = start
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outBytes = 0L
    var outRecords = 0L
  }

  final class ExecRec(val details: String, val span: Option[Long])

  /** One planned-and-run query: planning time, plan size, file scans. */
  final case class QueryRec(startMs: Long, planMs: Double, planNodes: Long,
      scans: Seq[(String, Long, Long)]) // (root path, bytes, rows)

  object QueryRec {
    def of(qe: QueryExecution): QueryRec = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val planMs = phases.values.map(_.durationMs).sum.toDouble
      val plan = qe.optimizedPlan
      val nodes = plan.collect { case p => 1L + p.expressions.map(_.collect { case e => e }.size.toLong).sum }.sum
      val scans = try {
        import org.apache.spark.sql.execution._
        import org.apache.spark.sql.execution.adaptive._
        val helper = new AdaptiveSparkPlanHelper {}
        helper.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec =>
            (s.relation.location.rootPaths.map(_.toString).mkString(","),
              s.metrics.get("filesSize").map(_.value).getOrElse(0L),
              s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        }
      } catch { case _: Throwable => Nil }
      QueryRec(start, planMs, nodes, scans)
    }
  }

  /** The layer a job's work belongs to, from the innermost engine frame
    * of its call site that names a known module. */
  def layerOf(callSite: String): String = {
    val frames = callSite.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq
    val rules = Seq(
      "graft.sinks." -> "sinks",
      "graft.enrich." -> "enrich",
      "graft.api.EmailEtlApi.embedBacklog" -> "enrich",
      "graft.operators.Upsert" -> "operators",
      "graft.ingest." -> "ingest",
      "graft.search." -> "search",
      "graft.api." -> "api")
    frames.iterator.flatMap(f => rules.find(r => f.startsWith(r._1)).map(_._2))
      .nextOption().getOrElse("other")
  }
}
