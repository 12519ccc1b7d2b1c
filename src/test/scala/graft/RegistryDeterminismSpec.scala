package graft

import org.apache.spark.sql.types._

/** The driver's hash compare assumes every registry query is
  * deterministic: same rows, same order, run after run. This suite
  * executes EVERY SparkEntry query twice at smoke scale from fresh plans
  * (cache cleared in between, so persisted stages recompute) and requires
  * identical row sequences — catching nondeterministic tie-breaks,
  * unordered outputs, or accidental dependence on partitioning before the
  * driver's oracle does.
  *
  * Oracle-checked queries additionally get a dtype-portability gate (the
  * ScalaTest twin of the dtype-strict tools/check.py): DuckDB surfaces
  * integer SQL arithmetic as BIGINT and decimal stringification diverges
  * from float64, so a computed column that lands as int32 / float32 /
  * Decimal on the Spark side WILL dtype-mismatch the oracle even when the
  * values agree. The only narrow types allowed through are the source
  * parquet columns that are themselves int32/float32 (both engines read
  * them identically), keyed by column name.
  */
class RegistryDeterminismSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** int32/float32 columns as they exist in the testdata parquet —
    * passthrough of these is portable because BOTH engines scan the same
    * physical type. Everything else must be widened before output. */
  private val narrowSourceColumns = Set(
    "c_nationkey", "label", "l_linenumber", "n_nationkey", "n_regionkey",
    "p_size", "r_regionkey", "s_nationkey", "embedding")

  /** Bound on the expression nodes of any registry query's optimized
    * plan, about twice the largest at smoke scale (text_lang_id, 751): a
    * builder whose tree grows with nesting fails here instead of
    * exhausting the heap. */
  private val MaxPlanNodes = 1500

  private def portable(name: String, dt: DataType): Boolean = dt match {
    case LongType | DoubleType | StringType | BooleanType |
         TimestampType | TimestampNTZType | DateType | BinaryType => true
    case IntegerType | FloatType | ShortType | ByteType =>
      narrowSourceColumns(name)
    case _: DecimalType => false // driver gotcha: Decimal vs float64 stringify
    case ArrayType(et, _) => portable(name, et)
    case _ => false
  }

  SparkEntry.registry.sortBy(_._1).foreach { case (name, q) =>
    test(s"$name is run-to-run deterministic") {
      spark.catalog.clearCache()
      val df = q.fn(spark, sf)
      if (q.oracle.isDefined) {
        val bad = df.schema.fields.filterNot(f => portable(f.name, f.dataType))
        assert(bad.isEmpty,
          s"non-DuckDB-portable dtypes in oracle-checked output: " +
            bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ") +
            " — widen computed ints to long / floats to double, cast final decimals to double")
      }
      val a = df.collect().toSeq
      val nodes = exprNodes(df.queryExecution.optimizedPlan)
      assert(nodes < MaxPlanNodes, s"optimized plan has $nodes expression nodes")
      spark.catalog.clearCache()
      val b = q.fn(spark, sf).collect().toSeq
      assert(a.size == b.size, s"row count changed: ${a.size} vs ${b.size}")
      a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
        assert(ra == rb, s"row $i differs:\n  $ra\n  $rb")
      }
    }
  }
}
