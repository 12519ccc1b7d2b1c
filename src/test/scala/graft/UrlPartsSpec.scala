package graft

import graft.functions.UrlParts
import graft.queries.WebQueries
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** `UrlParts` against the Column-form canonicalizer it replaced, field for
  * field, on adversarial URLs and the synthesized corpus, under whole-stage
  * codegen and under interpreted evaluation; and the plan-size guard that
  * keeps a nested canonicalization linear. */
class UrlPartsSpec extends SparkSpec {
  import spark.implicits._

  // The reference: the parse as Column functions, each piece taking its
  // immediate input. substring_index keeps every step total (no regex, no
  // ANSI out-of-bounds throw), and "first occurrence" throughout.
  private def noFrag(raw: Column): Column = substring_index(raw, "#", 1)
  private def schemeFromU(u: Column): Column =
    when(u.contains("://"), lower(substring_index(u, "://", 1)))
      .otherwise("http")
  private def restFromU(u: Column): Column =
    when(u.contains("://"),
      u.substr(length(substring_index(u, "://", 1)) + 4, length(u)))
      .otherwise(u)
  private def hostportFromRest(rest: Column): Column =
    substring_index(substring_index(rest, "/", 1), "?", 1)
  private def pathqFrom(rest: Column, hp: Column): Column =
    rest.substr(length(hp) + 1, length(rest))
  private def hostFromHp(hp: Column): Column = {
    val h0 = lower(substring_index(hp, ":", 1))
    when(h0.startsWith("www."), h0.substr(lit(5), length(h0))).otherwise(h0)
  }
  private def portFrom(scheme: Column, hp: Column): Column = {
    val p0 = when(hp.contains(":"),
      concat(lit(":"),
        hp.substr(length(substring_index(hp, ":", 1)) + 2, length(hp))))
      .otherwise("")
    when(scheme === "http" && p0 === ":80", "")
      .when(scheme === "https" && p0 === ":443", "")
      .otherwise(p0)
  }
  private def pathFromPathq(pathq: Column): Column = {
    val p = substring_index(pathq, "?", 1)
    when(p.endsWith("/") && length(p) > 1, p.substr(lit(1), length(p) - 1))
      .otherwise(p)
  }
  private def sortedQueryFrom(pathq: Column): Column = {
    val q = pathq.substr(
      length(substring_index(pathq, "?", 1)) + 2, length(pathq))
    array_join(
      array_sort(filter(split(q, "&"),
        p => !p.startsWith("utm_") && p =!= "")), "&")
  }
  private def canonFrom(scheme: Column, host: Column, port: Column,
      pth: Column, qs: Column): Column =
    concat(scheme, lit("://"), host, port, pth,
      when(qs === "", "").otherwise(concat(lit("?"), qs)))

  private def reference(raw: Column): Column = {
    val u = noFrag(raw)
    val rest = restFromU(u)
    val hp = hostportFromRest(rest)
    val pathq = pathqFrom(rest, hp)
    val (scheme, host, port) = (schemeFromU(u), hostFromHp(hp), portFrom(schemeFromU(u), hp))
    val (pth, qs) = (pathFromPathq(pathq), sortedQueryFrom(pathq))
    struct(scheme.as("scheme"), host.as("host"), port.as("port"), pth.as("pth"),
      qs.as("qs"), canonFrom(scheme, host, port, pth, qs).as("canon_url"))
  }

  private val cases: Seq[String] = Seq(
    null, "", "#", "?", "://", "#http://h.com/",
    "example.org/x", "h.com", "http://a.com/x://y", "ftp://h://p/q",
    "HTTP://WWW.Example.COM/A", "www.", "http://www.", "http://www./x", "wWw.h.com",
    "h.com:", "http://h.com:/x", "https://h.com:80/x", "http://h.com:443/x",
    "http://h.com:80", "https://h.com:443", "http://h.com:8080:9/x", "http://:80/",
    "http://h.com/", "http://h.com//", "h.com//a//", "/", "//",
    "http://h.com/a?&&", "http://h.com/a?utm_a=1&utm_b=2", "http://h.com?b=1&a=2",
    "?x=1", "http://h.com/?z&&y&utm_&x=&B=1&a=1", "http://h.com/a?x=1?y=2#f?z=3",
    // non-ASCII hosts: É, Turkish İ, and three capitals that only ICU
    // lowercases (U+2C2F, astral U+10570, U+A7CB: newer than the JDK's
    // Unicode tables)
    "http://\u00C9.com/\u00C9", "HTTP://WWW.\u0130STANBUL.COM.TR/\u0130", "http://\u0130.com",
    "HTTPS://\u00C9\u00C7.ORG:443", "http://\u2C2F.com", "HTTP://\uD801\uDD70.COM/\uD801\uDD70",
    "https://WWW.\uA7CB.org",
    "http://h\uD83D\uDE00.com/p", "\uD83D\uDE00://x/y", "h\uD83D\uDE00:8\uD83D\uDE00/p?q=\uD83D\uDE00",
    "http://h.com/p?b=\uD83D\uDE00&a=\u00E9",
    // binary (code point) order puts U+FF21 before an astral code point;
    // UTF-16 order would not
    "http://h.com/p?\uD83D\uDE00=2&\uFF21=1")

  /** Every case above, the adversarial fixture, and the synthesized URL of
    * every id up to one past the synth's first 4200-id block (every
    * canon-relevant residue class, and a second block), as a scanned file
    * so the projection is planned over a real scan. */
  private lazy val input: String = {
    val dir = tmpDir("url-parts")
    val literal = (cases.zipWithIndex.map { case (u, i) => (-1L - i, u) } ++
      WebQueries.AdversarialUrls.map { case (id, u) => (-1000L - id, u) })
      .toDF("id", "raw")
    spark.range(0, 4400).select(col("id"), WebQueries.rawUrlCol(col("id")).as("raw"))
      .unionByName(literal)
      .coalesce(1).write.parquet(s"$dir/urls.parquet")
    s"$dir/urls.parquet"
  }

  /** The parts of each input by id: the native parse, projected on its
    * own so it is planned the way the settings ask, and the reference;
    * and whether the native projection ran inside whole-stage codegen. */
  private def bothParses(): (Map[Long, Row], Map[Long, Row], Boolean) = {
    val raw = spark.read.parquet(input)
    val native = raw.select(col("id"), UrlParts.urlParts(col("raw")).as("u"))
    val ref = raw.select(col("id"), reference(col("raw")).as("u"))
    assert(native.schema == ref.schema)
    val inCodegen = native.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.collect {
        case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[UrlParts]))
      }.exists(identity)
    }.exists(identity)
    def byId(df: DataFrame): Map[Long, Row] =
      df.collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    (byId(native), byId(ref), inCodegen)
  }

  private def assertSame(native: Map[Long, Row], ref: Map[Long, Row]): Unit = {
    assert(native.size == 4400 + cases.size + WebQueries.AdversarialUrls.size)
    assert(native.keySet == ref.keySet)
    for ((id, r) <- ref) {
      val label =
        if (id >= 0) s"synth $id"
        else if (id > -1000) s"case ${Option(cases((-1L - id).toInt))}"
        else s"adversarial ${-1000L - id}"
      assert(native(id) == r, s"$label: ${native(id)}, reference $r")
    }
  }

  test("a null URL parses to (http, null, \"\", null, null, null); the reference agrees") {
    val (native, ref, _) = bothParses()
    assert(native(-1L) == Row("http", null, "", null, null, null))
    assert(ref(-1L) == native(-1L))
  }

  test("url_parts matches the reference under whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true") {
      val (native, ref, inCodegen) = bothParses()
      assert(inCodegen, "the native parse's projection should be whole-stage codegen'd")
      assertSame(native, ref)
    }
  }

  test("url_parts matches the reference under interpreted evaluation") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val (native, ref, inCodegen) = bothParses()
      assert(!inCodegen)
      assertSame(native, ref)
    }
  }

  test("url_parts lowercases as lower does under either case-mapping setting") {
    val byIcu = Seq(false, true).map { icu =>
      withConf("spark.sql.icu.caseMappings.enabled" -> icu.toString) {
        val (native, ref, _) = bothParses()
        assertSame(native, ref)
        native
      }
    }
    val differ = cases.indices.map(i => -1L - i).filter(id => byIcu(0)(id) != byIcu(1)(id))
    assert(differ.nonEmpty, "some case should lowercase differently under ICU and the JDK")
  }

  test("url_parts rejects a non-string input at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(UrlParts.urlParts(col("id"))).collect()
    }
    assert(e.getMessage.contains("requires a string input"), e.getMessage)
  }

  test("canonicalize adds the same number of plan nodes at any nesting depth") {
    // a canonicalizer that re-embeds its input in every piece multiplies
    // the tree per application, and analysis of a nested use runs out of
    // heap; one that adds a constant keeps any nesting bounded
    val df = Seq(("x", 1L)).toDF("raw", "doc_id")
    def nodes(c: Column): Int = df.select(c.as("c")).queryExecution.analyzed
      .map(_.expressions.map(_.collect { case e => e }.size).sum).sum
    def growth(x: Column): Int = nodes(WebQueries.canonicalize(x)) - nodes(x)
    val bare = growth(col("raw"))
    assert(growth(WebQueries.rawUrlCol(col("doc_id"))) == bare)
    assert(growth(WebQueries.canonicalize(WebQueries.canonicalize(col("raw")))) == bare)
  }
}
