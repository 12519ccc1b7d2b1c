package graft.api

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Json.rows]] writes each row as `Dataset.toJSON` does, byte for byte
  * and in the same order; `toJSON` is the reference here. The frame is
  * built to break a serializer: nulls at every level, non-finite
  * doubles, timestamps before 1970 and with microseconds, escapes and
  * non-ASCII text, nested and empty collections, binary, decimals, and
  * column names that need quoting. */
class JsonRowsSpec extends SparkSpec {
  private val inner = StructType(Seq(
    StructField("s", StringType), StructField("n", LongType)))

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("x", DoubleType),
    StructField("f", FloatType),
    StructField("ts", TimestampType),
    StructField("day", DateType),
    StructField("amount", DecimalType(20, 6)),
    StructField("bytes", BinaryType),
    StructField("tags", ArrayType(StringType)),
    StructField("parts", ArrayType(inner)),
    StructField("attrs", MapType(StringType, IntegerType)),
    StructField("nested", inner),
    StructField("a.b", StringType),
    StructField("with space", IntegerType),
    StructField("back`tick", BooleanType)))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val frame: DataFrame = {
    def map(kv: (String, Integer)*) = scala.collection.immutable.ListMap(kv: _*)
    val rows = Seq(
      Row(1L, "plain", 1.5, 2.5f, ts("2024-03-01 10:00:00"), java.sql.Date.valueOf("2024-03-01"),
        new java.math.BigDecimal("12345.678901"), Array[Byte](0, 1, 2, -1),
        Seq("a", "b"), Seq(Row("p", 1L), Row(null, 2L)), map("k" -> 1, "v" -> null),
        Row("in", 7L), "dot", 3, true),
      Row(2L, null, Double.NaN, Float.NaN, ts("1969-12-31 23:59:59.999999"),
        java.sql.Date.valueOf("1901-01-01"), null, null, Seq(), Seq(), map(),
        Row(null, null), null, null, null),
      Row(3L, "quote \" back \\ slash, tab\t newline\n nul\u0000 bell\u0007 us\u001f",
        Double.PositiveInfinity, Float.NegativeInfinity, ts("1900-01-01 00:00:00.000001"),
        java.sql.Date.valueOf("1970-01-01"), new java.math.BigDecimal("-0.000001"),
        Array[Byte](), Seq(null, "", "x"), Seq(Row("", 0L)), map("ключ" -> -1),
        null, "", -1, false),
      Row(4L, "café über 漢字 \uD83D\uDE00 \u2028 line sep \u00a0", Double.NegativeInfinity, -0.0f,
        ts("2038-01-19 03:14:07.123456"), null, new java.math.BigDecimal("99999999999999.999999"),
        "é".getBytes("UTF-8"), null, null, null, Row("x\"y", Long.MinValue), "\\", Int.MaxValue, null),
      Row(5L, "", -0.0, Float.MaxValue, null, java.sql.Date.valueOf("0001-01-01"),
        new java.math.BigDecimal("0"), Array[Byte](127), Seq("é́"), Seq(Row(null, null)),
        map("" -> 0), Row("", 0L), "a.b", 0, true))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
  }

  private def same(df: DataFrame): Unit = {
    val want = df.toJSON.collect().toSeq
    assert(want.nonEmpty)
    assert(Json.lines(df) == want)
  }

  test("every row of the adversarial frame is written as toJSON writes it") {
    val sorted = frame.orderBy(col("id"))
    same(sorted)
    assert(Json.rows(sorted).size == 5)
  }

  test("the same bytes in another session time zone and with null fields written") {
    val sorted = frame.orderBy(col("id"))
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles")(same(sorted))
    withConf("spark.sql.jsonGenerator.ignoreNullFields" -> "false")(same(sorted))
  }

  test("a ranked frame's rows come in rank order, ties broken as the query breaks them") {
    val ranked = spark.range(0, 400, 1, 4)
      .select(col("id"), (col("id") % 7).cast("double").as("score"),
        concat(lit("m"), format_string("%03d", col("id") % 50)).as("message_id"))
      .orderBy(col("score").desc, col("message_id"), col("id"))
      .limit(25)
    same(ranked)
    same(ranked.select(col("message_id"), col("score")))
  }
}
