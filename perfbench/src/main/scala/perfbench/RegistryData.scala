package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables with the schemas of the engine's registry
  * inputs (FIXTURES.md §8 plus `events`, `documents` and `embeddings`),
  * written as one parquet file per table. Every value is a hash of
  * (seed, table, row, column), so the tables do not depend on how Spark
  * partitions the work. The row counts are a fortieth or less of the
  * engine's sf0.1 fixture: a query's time is then mostly planning and job
  * scheduling, which a shared box disturbs less than parallel scans. */
object RegistryData {
  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "the", "customer", "join", "vector")

  def write(spark: SparkSession, dir: String, seed: Long): Map[String, Long] = {
    def u(salt: String, c: Column): Column = // uniform in [0, 1)
      pmod(xxhash64(lit(seed), lit(salt), c), lit(1000003L)).cast("double") / 1000003.0
    def pick(salt: String, c: Column, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (floor(u(salt, c) * xs.size) + 1).cast("int"))
    def int(salt: String, c: Column, lo: Int, n: Int): Column =
      (floor(u(salt, c) * n) + lo).cast("int")
    def money(salt: String, c: Column, lo: Double, span: Double): Column =
      round(u(salt, c) * span + lo, 2)
    val id = col("id")
    def range(n: Long) = spark.range(0, n, 1, 4)
    val sizes = Map("customer" -> 400L, "supplier" -> 40L, "part" -> 500L,
      "orders" -> 2500L, "lineitem" -> 10000L, "events" -> 2500L,
      "documents" -> 200L, "embeddings" -> 100L)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(5).select(id.cast("int").as("r_regionkey"),
      pick("rn", id, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")).as("r_name")))
    save("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", range(sizes("customer")).select(id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"), int("cn", id, 0, 25).as("c_nationkey"),
      money("cb", id, -999.99, 10998.0).as("c_acctbal"),
      pick("cs", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save("supplier", range(sizes("supplier")).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id).as("s_name"), int("sn", id, 0, 25).as("s_nationkey"),
      money("sb", id, -999.99, 10998.0).as("s_acctbal")))
    save("part", range(sizes("part")).select(id.as("p_partkey"),
      concat_ws(" ", pick("pa", id, Seq("large", "hot", "small", "blue", "steel", "light")),
        pick("pb", id, Seq("ring", "bolt", "nut", "gear", "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), int("pr", id, 1, 25)).as("p_brand"),
      pick("pt", id, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL")).as("p_type"),
      int("ps", id, 1, 50).as("p_size"),
      (lit(900.0) + (id % 1000).cast("double") / 10.0).as("p_retailprice")))
    val day0 = to_timestamp(lit("1992-01-01 00:00:00"))
    save("orders", range(sizes("orders")).select(id.as("o_orderkey"),
      floor(u("oc", id) * sizes("customer")).cast("long").as("o_custkey"),
      pick("os", id, Seq("O", "F", "P")).as("o_orderstatus"),
      money("op", id, 900.0, 400000.0).as("o_totalprice"),
      timestamp_seconds(unix_timestamp(day0) + int("od", id, 0, 3650).cast("long") * 86400L)
        .as("o_orderdate"),
      pick("oy", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", range(sizes("lineitem")).select(
      floor(u("lo", id) * sizes("orders")).cast("long").as("l_orderkey"),
      floor(u("lp", id) * sizes("part")).cast("long").as("l_partkey"),
      floor(u("ls", id) * sizes("supplier")).cast("long").as("l_suppkey"),
      int("ln", id, 1, 7).as("l_linenumber"),
      int("lq", id, 1, 50).cast("double").as("l_quantity"),
      money("le", id, 900.0, 100000.0).as("l_extendedprice"),
      (int("ld", id, 0, 11).cast("double") / 100.0).as("l_discount"),
      (int("lt", id, 0, 9).cast("double") / 100.0).as("l_tax"),
      pick("lr", id, Seq("A", "N", "R")).as("l_returnflag"),
      pick("ll", id, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(unix_timestamp(day0) + int("lh", id, 0, 3650).cast("long") * 86400L)
        .as("l_shipdate")))
    val t0 = unix_timestamp(to_timestamp(lit("2024-01-01 00:00:00")))
    save("events", range(sizes("events")).select(id.as("event_id"),
      timestamp_micros((t0 + id * 60L).cast("long") * 1000000L +
        floor(u("em", id) * 60000000L).cast("long")).as("ts"),
      floor(u("eu", id) * 2000).cast("long").as("user_id"),
      pick("et", id, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
      money("ev", id, 0.0, 200.0).as("value"),
      concat(lit("{\"k\": "), int("ek", id, 0, 100), lit("}")).as("props")))
    // documents: one in five is a near copy of an earlier one (a few
    // words changed), so the dedup operators have clusters to find
    val words = array(Vocab.map(lit): _*)
    val src = when(u("dd", id) < 0.2 && id > 10, floor(u("dp", id) * id).cast("long")).otherwise(id)
    val docs = range(sizes("documents")).select(id.as("doc_id"), src.as("src"))
      .select(col("doc_id"), concat_ws(" ", transform(
        sequence(lit(1), (floor(u("dl", col("src")) * 60) + 8).cast("int")),
        i => element_at(words, (pmod(xxhash64(lit(seed), col("src"), i,
          when(pmod(xxhash64(lit(seed), col("doc_id"), i), lit(17L)) === 0, col("doc_id"))
            .otherwise(lit(-1L))), lit(Vocab.size.toLong)) + 1).cast("int")))).as("text"),
        pick("dg", col("doc_id"), Seq("en", "en", "en", "zh", "es", "fr", "de")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    save("documents", docs)
    // embeddings: 64-d vectors around one of ten label centroids
    val dims = 64
    save("embeddings", range(sizes("embeddings")).select(id.as("vec_id"),
      int("vl", id, 0, 10).as("label")).select(col("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), d =>
        ((pmod(xxhash64(lit(seed), col("label"), d), lit(2001L)).cast("double") / 1000.0 - 1.0) +
          (pmod(xxhash64(lit(seed), col("vec_id"), d), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.3)
          .cast("float")).as("embedding"),
      col("label")))
    sizes ++ Map("region" -> 5L, "nation" -> 25L)
  }
}
