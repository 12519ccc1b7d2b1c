package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py`:
  *
  * {{{
  * Main --workload <ingest|search_session> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Runs one workload on `local[<cores>]`, checks its outputs, and prints
  * one result line starting with `RESULT ` (the JSON object `run.py`
  * relays). Everything it reads or writes lives under `--work`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.work)
    val t0 = System.nanoTime()
    val spark = session(args.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, args.trace)
    val ctx = new Ctx(spark, tracer, args, cores)
    val w0 = System.nanoTime()
    val result =
      try args.workload match {
        case "ingest"         => new IngestWorkload(ctx).run()
        case "search_session" => new SearchWorkload(ctx).run()
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      } finally tracer.drain()
    tracer.writeSpans(args.work.resolve(s"spans-${args.workload}-${args.seed}.jsonl"))
    val env = Seq(
      "cores" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> Tracer.quote(spark.version),
      "java" -> Tracer.quote(System.getProperty("java.version")),
      "os" -> Tracer.quote(System.getProperty("os.name") + " " + System.getProperty("os.arch")),
      "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "jvm_start_to_session_s" -> f"${(System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
        (System.nanoTime() - t0) / 1e9 + sessionS}%.3f",
      "session_start_s" -> f"$sessionS%.3f",
      "workload_s" -> f"${(System.nanoTime() - w0) / 1e9}%.3f") ++
      result.sizes.map { case (k, v) => k -> v.toString }
    println("ENV " + Result.obj(env))
    println("DETAIL " + Result.obj(result.detail.map { case (k, v) => k -> Result.num(v) }))
    println("OPS " + Result.obj(result.samples.map { case (k, xs) =>
      k -> xs.map(x => f"$x%.1f").mkString("[", ",", "]") }))
    result.failures.take(20).foreach(f => println("FAIL " + f.replace('\n', ' ')))
    println("RESULT " + result.json)
    System.out.flush()
    // skip the orderly shutdown: run.py removes the run's temporary files
    Runtime.getRuntime.halt(0)
  }
}

/** What a workload hands back: counts, metrics, the sizes it ran at,
  * failed checks, the per-operation figures of the DETAIL line and the
  * timed latencies of the OPS line. */
final case class Result(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], sizes: Seq[(String, Long)],
    failures: Seq[String], detail: Seq[(String, Double)],
    samples: Seq[(String, Seq[Double])]) {
  def json: String = {
    val ms = Result.obj(metrics.map { case (n, v, u) =>
      n -> Result.obj(Seq("value" -> Result.num(v), "unit" -> Tracer.quote(u)))
    })
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}

object Result {
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => Tracer.quote(k) + ":" + v }.mkString("{", ",", "}")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Main.Args,
    val cores: Int) {
  val work: Path = args.work.resolve(s"${args.workload}-${args.seed}")
  private var failures = Vector.empty[String]
  private var attempts = 0L

  def resetDir(p: Path): Path = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
    Files.createDirectories(p)
  }

  /** Counts one attempted operation; a failed check or an exception
    * counts it as failed. Returns the latency in ms. */
  def op[T](what: String)(body: => T)(check: T => Option[String]): (Double, Option[T]) = {
    attempts += 1
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    out match {
      case Right(v) =>
        check(v).foreach(msg => failures :+= s"$what: $msg")
        (ms, Some(v))
      case Left(e) =>
        failures :+= s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        (ms, None)
    }
  }

  def attempted: Long = attempts
  def failureList: Seq[String] = failures
  /** The end of the timed window that starts at `start` (nanoTime). */
  def deadline(start: Long): Long = start + args.seconds * 1000000000L
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = s(pos.floor.toInt); val hi = s(pos.ceil.toInt)
      lo + (hi - lo) * (pos - pos.floor)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Typical latency of a mix of operation kinds: each kind's median,
    * weighted by how often it ran. Unlike a plain mean, one stalled
    * operation barely moves it. */
  def mix(kinds: Seq[Seq[Double]]): Double = {
    val n = kinds.map(_.size).sum
    if (n == 0) 0.0 else kinds.map(k => median(k) * k.size).sum / n
  }
}
