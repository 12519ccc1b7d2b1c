package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale primitives: skew-safe joins and z-order layout.
  *
  * These are the knobs SURVEY §4 calls out for the 100 TB posture: a
  * heavily-skewed join key (one sender with millions of emails, one
  * shingle shared by every document) turns a shuffle join into a single
  * straggler task; salting fans the hot key across `saltFactor`
  * partitions. AQE's skew-join handling covers the adaptive case;
  * explicit salting covers deterministic pipelines and pre-AQE engines.
  */
object Scale {

  /** Skew-safe inner equi-join: salt the (large, skewed) left side with a
    * deterministic `pmod(xxhash64(...), saltFactor)` and explode the right
    * side across all salt values. Result equals a plain inner join on
    * `key`, but the hot key's rows spread over `saltFactor` tasks. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    val salted = left.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(saltFactor.toLong)))
    val fanned = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
    salted.join(fanned, Seq(key, "__salt")).drop("__salt")
  }

  /** 32-bit Morton (z-order) interleave of two 16-bit non-negative
    * values: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Magic-number bit spreading — a static 9-op expression tree per
    * input, fully inside whole-stage codegen (no UDF, no loop). The
    * identical arithmetic is expressible in ANSI SQL shift/mask
    * operators, which is what keeps `layout_zorder` oracle-checkable. */
  def mortonZ(x: Column, y: Column): Column = {
    def spread(v0: Column): Column = {
      val v = v0.bitwiseAND(lit(0xFFFFL))
      val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
      val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
      c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** Scale two non-negative columns into the 16-bit Morton domain using
    * their global min/max (one tiny aggregate, broadcast back): integer
    * arithmetic only, truncating division, `greatest(range, 1)` guards a
    * constant column. */
  def mortonScaled(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val mm = df.agg(
      min(col(xCol)).cast("long").as("__minx"),
      max(col(xCol)).cast("long").as("__maxx"),
      min(col(yCol)).cast("long").as("__miny"),
      max(col(yCol)).cast("long").as("__maxy"))
    // `div` (exact BIGINT division) rather than `/`+cast: the double
    // round-trip loses integer exactness past 2^53, i.e. on real id
    // ranges at the 100 TB tier.
    def scaled(v: String, lo: String, hi: String): Column =
      expr(s"((cast(`$v` as bigint) - $lo) * 65535L) div greatest($hi - $lo, 1L)")
    df.crossJoin(broadcast(mm))
      .withColumn("__z", mortonZ(
        scaled(xCol, "__minx", "__maxx"),
        scaled(yCol, "__miny", "__maxy")))
      .drop("__minx", "__maxx", "__miny", "__maxy")
  }

  /** Z-order layout: cluster `df` by the Morton interleave of two
    * dimensions so every output partition covers a bounded range in BOTH
    * — the multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    * ZORDER shape). A lexicographic sort bounds only its leading column;
    * z-order lets parquet row-group min/max stats prune scans filtered on
    * EITHER dimension. One range shuffle + in-partition sort, no global
    * sort. The `__z` column is dropped: at 100 TB this feeds a plain
    * partitioned parquet write and the layout IS the index. */
  def zorder(df: DataFrame, xCol: String, yCol: String,
      partitions: Int): DataFrame = {
    val z = mortonScaled(df, xCol, yCol)
    z.repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }
}
