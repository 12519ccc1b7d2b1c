package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The analytic batch layer, measured in traced runs: a fixed subset of
  * the `SparkEntry.queries` registry runs over seeded synthetic tables,
  * each query consumed in full by the noop sink, with `graft.Bench`'s
  * rules — an untimed warm-up pass first, the cache cleared before every
  * query. The warm-up pass also hashes every output; the hash must equal
  * the one recorded for the seed's input class in `expected_hashes.tsv`.
  * Inputs come from `seed % InputClasses`, so every seed maps to one of a
  * few input sets whose hashes are recorded.
  *
  * The URL queries share the canonicalizer that `/api/urls/screen` runs,
  * so their per-query work explains that request's latency. */
object RegistryProbe {
  val InputClasses = 4
  val TimedPasses = 2

  /** The four drift controls of `graft.Bench` and the URL family, whose
    * plan size depends on the URL canonicalizer. */
  val Subset: Seq[String] = Seq(
    "b5_range_topk", "w1_window_suite", "c9_rollup", "graph_pagerank",
    "url_canonicalize", "url_quality_gate", "url_gate_adversarial", "dedup_url")

  /** Runs the subset and returns its per-query metrics. */
  def run(ctx: Ctx): Seq[Layers.M] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val inputClass = java.lang.Math.floorMod(ctx.args.seed, InputClasses.toLong)
    def clear(): Unit = {
      spark.catalog.clearCache()
      graft.operators.ConnectedComponents.freeAll()
    }
    val sf = ctx.resetDir(ctx.work.resolve("tables")).toString
    RegistryData.write(spark, sf, inputClass)
    val expected = ExpectedHashes.load()
    Subset.foreach { name =>
      clear()
      ctx.op(s"$name warm-up")(orderInsensitiveHash(SparkEntry.queries(name)(spark, sf))) { h =>
        expected.get((inputClass, name)) match {
          case Some(want) if want != h => Some(s"output hash $h, recorded $want")
          case None => Some(s"no recorded hash for input class $inputClass (got $h)")
          case _ => None
        }
      }
    }
    for (pass <- 0 until TimedPasses; name <- Subset) {
      clear()
      System.gc(); Thread.sleep(30) // settle outside the timed call, as Bench does
      ctx.op(name) {
        t.span(name, "queries", pass.toLong) {
          SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
        }
      }(_ => None)
    }
    t.drain()
    Subset.flatMap { name =>
      val spans = t.allSpans.filter(_.name == name)
      def med(f: Seq[Tracer.JobRec] => Double) = Stats.median(spans.map(s => f(t.jobsUnder(s))))
      Seq(
        (s"queries.$name.wall_ms", Stats.median(spans.map(_.wallMs)), "ms"),
        (s"queries.$name.jobs", med(_.size.toDouble), "count"),
        (s"queries.$name.stages", med(_.map(_.stages).sum.toDouble), "count"),
        (s"queries.$name.task_cpu_ms", med(_.map(_.cpuNs).sum / 1e6), "ms"),
        (s"queries.$name.shuffle_write_bytes", med(_.map(_.shuffleWrite).sum.toDouble), "B"),
        (s"queries.$name.spill_bytes", med(_.map(_.spill).sum.toDouble), "B"),
        (s"queries.$name.gc_ms", med(_.map(_.gcMs).sum.toDouble), "ms"))
    }
  }

  /** Row count and the sum of per-row hashes (mod a prime, so the sum
    * never overflows), with doubles rounded to 6 decimals so the
    * order of a floating-point aggregation cannot change the hash. */
  def orderInsensitiveHash(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast("double"), 6))
        case _ => c
      }).as(f.name)
    }
    val rounded = df.select(cols: _*)
    val row = struct(rounded.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = rounded.select(pmod(xxhash64(to_json(row)), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Recorded output hashes: lines of `query<TAB>input class<TAB>hash`. */
object ExpectedHashes {
  def load(): Map[(Long, String), String] = {
    val f = sys.props.get("perfbench.hashes").map(java.nio.file.Paths.get(_))
    f.filter(java.nio.file.Files.exists(_)).map { p =>
      scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).collect { case Array(q, c, h) => (c.toLong, q) -> h }.toMap
    }.getOrElse(Map.empty)
  }
}
