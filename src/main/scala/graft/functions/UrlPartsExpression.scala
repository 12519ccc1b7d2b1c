package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A raw URL's canonical parts as one
  * `struct<scheme, host, port, pth, qs, canon_url>`:
  *  - the fragment (from the first `#`) is dropped;
  *  - `scheme` is lowercased, `http` when there is no `://`;
  *  - the authority ends at the first `/` or `?`; `host` is its part
  *    before the first `:`, lowercased, without a leading `www.`;
  *  - `port` is `:` and what follows the first `:` of the authority, or
  *    empty, and empty for `:80` on http and `:443` on https;
  *  - `pth` runs to the first `?`, without a trailing slash unless it is
  *    the bare root;
  *  - `qs` is the query's `&`-separated parameters without the empty
  *    ones and the `utm_*` ones, in binary order, joined by `&`;
  *  - `canon_url` is `scheme://host port pth`, then `?qs` if `qs` is not
  *    empty.
  *
  * "First" throughout, never the last occurrence, so the DuckDB twins'
  * `string_split(…)[1]` / `[2]` agree on any input. A null URL gives
  * `("http", null, "", null, null, null)`; nothing throws, ANSI mode
  * included, so one bad record cannot stop a streaming drain.
  *
  * The parse uses the `UTF8String` operations Spark's own `substring_index`,
  * `substr` (positions in code points), `contains` / `startswith` /
  * `endswith`, `split`, `array_sort` and `lower` run, so it gives the
  * values the same rules composed from those functions give. Lowercasing
  * follows `spark.sql.icu.caseMappings.enabled` as `lower` does.
  *
  * One node per use, however deeply it is nested: a composition of those
  * functions re-embeds its input in every piece, and applied to its own
  * output it grows multiplicatively. Codegen calls [[UrlParts.parse]], so
  * a projection of it stays inside whole-stage codegen.
  */
case class UrlParts(child: Expression) extends UnaryExpression {

  // read as `Lower` reads it: once per expression, on first use
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${t.sql}")
  }

  // a null URL still has a scheme and a port
  override def nullable: Boolean = false

  override def dataType: DataType =
    StructType(UrlParts.Fields.map(StructField(_, StringType, child.nullable)))

  override def prettyName: String = "url_parts"

  override def eval(input: InternalRow): Any =
    UrlParts.parse(child.eval(input).asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} =
      |  graft.functions.UrlParts.parse(${c.isNull} ? null : ${c.value}, $useICU);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlParts {

  /** The struct's fields, in order. */
  val Fields: Seq[String] = Seq("scheme", "host", "port", "pth", "qs", "canon_url")

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private val Empty = UTF8String.EMPTY_UTF8
  private val Hash = utf8("#")
  private val SchemeSep = utf8("://")
  private val Slash = utf8("/")
  private val Question = utf8("?")
  private val Colon = utf8(":")
  private val Amp = utf8("&")
  private val Www = utf8("www.")
  private val Utm = utf8("utm_")
  private val Http = utf8("http")
  private val Https = utf8("https")
  private val Port80 = utf8(":80")
  private val Port443 = utf8(":443")

  private def lower(s: UTF8String, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  /** `s` from code point `from` (1-based) to its end, as `substr` takes it. */
  private def from(s: UTF8String, pos: Int): UTF8String = s.substringSQL(pos, s.numChars)

  /** The parts of `raw` (null allowed), in [[Fields]] order. */
  def parse(raw: UTF8String, useICU: Boolean): InternalRow = {
    if (raw == null) return new GenericInternalRow(Array[Any](Http, null, Empty, null, null, null))
    val u = raw.subStringIndex(Hash, 1)
    val hasScheme = u.contains(SchemeSep)
    val beforeSep = u.subStringIndex(SchemeSep, 1)
    val scheme = if (hasScheme) lower(beforeSep, useICU) else Http
    val rest = if (hasScheme) from(u, beforeSep.numChars + 4) else u
    val hostport = rest.subStringIndex(Slash, 1).subStringIndex(Question, 1)
    val pathq = from(rest, hostport.numChars + 1)

    val beforeColon = hostport.subStringIndex(Colon, 1)
    val h0 = lower(beforeColon, useICU)
    val host = if (h0.startsWith(Www)) from(h0, 5) else h0
    val p0 =
      if (hostport.contains(Colon)) UTF8String.concat(Colon, from(hostport, beforeColon.numChars + 2))
      else Empty
    val port = if ((scheme == Http && p0 == Port80) || (scheme == Https && p0 == Port443)) Empty else p0

    val path = pathq.subStringIndex(Question, 1)
    val pth = if (path.endsWith(Slash) && path.numChars > 1) path.substringSQL(1, path.numChars - 1) else path
    val params = from(pathq, path.numChars + 2).split(Amp, -1)
      .filter(p => !p.startsWith(Utm) && p != Empty)
      .sortWith(_.binaryCompare(_) < 0)
    val qs = UTF8String.concatWs(Amp, params.toIndexedSeq: _*)

    val query = if (qs == Empty) Empty else UTF8String.concat(Question, qs)
    val canon = UTF8String.concat(scheme, SchemeSep, host, port, pth, query)
    new GenericInternalRow(Array[Any](scheme, host, port, pth, qs, canon))
  }

  /** Column wrapper. */
  def urlParts(raw: Column): Column =
    SparkBridge.column(UrlParts(SparkBridge.expression(raw)))
}
