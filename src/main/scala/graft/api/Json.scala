package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Shared JSON boundary helpers for the REST and MCP transports — ONE
  * implementation of the DataFrame→JSON serialization and the lenient
  * ISO-8601 timestamp parse, so the two surfaces cannot drift. */
private[api] object Json {
  implicit private val formats: Formats = DefaultFormats

  /** DataFrame rows as json4s values via Spark's own JSON encoder. */
  def rows(df: DataFrame): Seq[JValue] = lines(df).map(JsonMethods.parse(_))

  /** Each row of `df` as one JSON object, in order: what `Dataset.toJSON`
    * writes, byte for byte (`JsonRowsSpec`), from the same encoder. The
    * encoder runs as a `to_json(struct(<every column>))` projection inside
    * the query, where `toJSON` maps the rows the query returns. A ranked
    * query's `orderBy.limit` then stays the root of its plan and runs as
    * one `TakeOrderedAndProjectExec`, whose per-partition top-k the driver
    * merges; under `toJSON` it would be a shuffle and a second stage. */
  private[api] def lines(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(c => col(s"`${c.replace("`", "``")}`")).toSeq: _*)))
      .collect().map(_.getString(0)).toSeq

  /** The ImportStatus shape (reference: src/api/models.py:224-233): the
    * task's `status`, then its six counters, 0 when `s` lacks one. The MCP
    * tools return it with status "completed", since their dispatch blocks
    * on the ingest; the REST routes also report "running" and "failed". */
  def importStatus(status: String, s: Map[String, Long]): JObject = JObject(
    ("status" -> (JString(status): JValue)) ::
      List("total_found", "processed", "failed", "skipped",
        "attachments_processed", "attachments_rejected")
        .map(k => k -> (JInt(BigInt(s.getOrElse(k, 0L))): JValue)))

  /** Lenient ISO 8601 parse: accepts offsetted ("…Z", "…+02:00") and
    * offset-less ("2024-01-15T10:00:00") datetimes — the reference's
    * FastAPI models accept both. Unparseable input raises
    * IllegalArgumentException with the offending text, which the
    * transports surface as a 400, not a 500. */
  def timestamp(v: JValue): Option[java.sql.Timestamp] =
    v.extractOpt[String].map { s =>
      val instant =
        try java.time.OffsetDateTime.parse(s).toInstant
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDateTime.parse(s)
              .atOffset(java.time.ZoneOffset.UTC).toInstant
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"not an ISO 8601 datetime: '$s'")
            }
        }
      java.sql.Timestamp.from(instant)
    }
}
