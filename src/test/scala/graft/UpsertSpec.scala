package graft

import graft.operators.Upsert
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val existing = Seq(
    ("m1", "old subject 1", ts("2024-01-01 00:00:00")),
    ("m2", "old subject 2", ts("2024-01-01 00:00:00"))
  ).toDF("message_id", "subject", "updated_at")

  private val incoming = Seq(
    ("m2", "NEW subject 2", ts("2024-02-01 00:00:00")),
    ("m3", "subject 3", ts("2024-02-01 00:00:00"))
  ).toDF("message_id", "subject", "updated_at")

  test("A4 merge: insert new, update conflicting, keep untouched") {
    val merged = Upsert.mergeByKey(existing, incoming, "message_id", "updated_at")
      .orderBy("message_id").collect()
    assert(merged.map(_.getString(0)).toSeq == Seq("m1", "m2", "m3"))
    assert(merged(1).getString(1) == "NEW subject 2")
    assert(merged(0).getString(1) == "old subject 1")
  }

  test("A4 merge idempotence: applying the same batch twice == once") {
    val once = Upsert.mergeByKey(existing, incoming, "message_id", "updated_at")
    val twice = Upsert.mergeByKey(once, incoming, "message_id", "updated_at")
    assert(once.orderBy("message_id").collect().toSeq ==
      twice.orderBy("message_id").collect().toSeq)
  }

  test("A4 tie on version: incoming wins (last-writer-wins)") {
    val tied = incoming.withColumn("updated_at", lit(ts("2024-01-01 00:00:00")))
    val merged = Upsert.mergeByKey(existing, tied, "message_id", "updated_at")
    assert(merged.filter($"message_id" === "m2").collect()(0).getString(1)
      == "NEW subject 2")
  }

  test("A4 merge order is total: identical key+version+side with divergent content resolves the same way every run") {
    val dupBatch = Seq(
      ("m9", "variant A", ts("2024-03-01 00:00:00")),
      ("m9", "variant B", ts("2024-03-01 00:00:00"))
    ).toDF("message_id", "subject", "updated_at")
    val winners = (1 to 5).map { _ =>
      Upsert.mergeByKey(existing, dupBatch.repartition(4), "message_id", "updated_at")
        .filter($"message_id" === "m9").collect()(0).getString(1)
    }
    assert(winners.distinct.length == 1, s"nondeterministic winner: $winners")
  }
}
