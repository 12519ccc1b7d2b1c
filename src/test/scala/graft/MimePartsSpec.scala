package graft

import graft.functions.MimeParts
import graft.ingest.Normalize
import graft.model.Schemas
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** `MimeParts` against the Column-form walk it replaced, element for
  * element, on adversarial payloads, under whole-stage codegen and under
  * interpreted evaluation. */
class MimePartsSpec extends SparkSpec {

  /** The reference: the walk as Column functions, one level per step
    * (payload first, then each level breadth-first), stopping before the
    * schema's leaf level. */
  private def allParts(payload: Column): Column = {
    def partStruct(p: Column): Column = struct(
      p.getField("partId").as("partId"),
      p.getField("mimeType").as("mimeType"),
      p.getField("filename").as("filename"),
      p.getField("body").as("body"))
    val level1 = coalesce(payload.getField("parts"), array())
    val rawLevels = Iterator.iterate(level1)(lvl =>
      flatten(filter(
        transform(lvl, p => coalesce(p.getField("parts"), array())),
        a => a.isNotNull)))
      .take(Schemas.mimeDepth - 1).toSeq
    concat(array(partStruct(payload)) +: rawLevels.map(transform(_, partStruct(_))): _*)
  }

  private def body(data: String): String =
    if (data == null) """{"data":null,"size":0,"attachmentId":null}"""
    else s"""{"data":"${b64url(data)}","size":${data.length},"attachmentId":null}"""

  /** One part; `parts` is spliced in verbatim when given (`null`, `[]`,
    * or a list that may hold `null`). */
  private def part(id: String, mime: String = "text/plain", filename: String = "",
      data: String = "x", bodyJson: Option[String] = None,
      parts: Option[String] = None): String = {
    val name = Option(filename).fold("null")(f => s""""$f"""")
    val b = bodyJson.getOrElse(body(data))
    val ps = parts.fold("")(p => s""","parts":$p""")
    s"""{"partId":${Option(id).fold("null")(i => s""""$i"""")},"mimeType":"$mime","filename":$name,"headers":[],"body":$b$ps}"""
  }

  private def list(ps: String*): Option[String] = Some(ps.mkString("[", ",", "]"))

  /** A chain of `levels` nested parts under the payload; the innermost is
    * an attachment at nesting level `levels`. */
  private def chain(levels: Int): String =
    (levels - 1 to 1 by -1).foldLeft(part(s"L$levels", "application/pdf", s"deep$levels.pdf"))(
      (inner, k) => part(s"L$k", "multipart/mixed", data = null, parts = list(inner)))

  private lazy val payloads: Seq[(String, String)] = Seq(
    "parts absent, body null" -> part("0", bodyJson = Some("null")),
    "parts null" -> part("0", parts = Some("null")),
    "parts empty" -> part("0", "multipart/mixed", data = null, parts = Some("[]")),
    "null elements at two levels" -> part("0", "multipart/mixed", data = null, parts = list(
      "null",
      part("1", "multipart/alternative", data = null, parts = list("null", part("1.1"), "null")),
      "null")),
    "breadth-first order, filenames at several depths" -> part("0", "multipart/mixed", data = null,
      parts = list(
        part("A", "multipart/mixed", data = null, parts = list(
          part("A1", "image/png", "a1.png"),
          part("A2", "multipart/mixed", data = null, parts = list(
            part("A21", "application/pdf", "a21.pdf", bodyJson = Some("null")))))),
        part("B", "multipart/mixed", data = null, parts = list(part("B1", "text/html"))),
        part("C", "text/plain", "c.txt"))),
    "a part at the full declared depth" -> part("0", "multipart/mixed", data = null,
      parts = list(chain(Schemas.mimeDepth - 1))),
    "nesting beyond the declared depth" -> part("0", "multipart/mixed", data = null,
      parts = list(chain(Schemas.mimeDepth + 1))),
    "null partId and filename" -> part(null, filename = null, parts = list(part(null, filename = null))))

  private lazy val inbox: String = {
    val dir = tmpDir("mime-parts")
    val lines = payloads.zipWithIndex.map { case ((_, p), i) => s"""{"id":"p$i","payload":$p}""" } :+
      """{"id":"no-payload"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "inbox.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  /** Each message's parts by id: the native walk, projected on its own so
    * it is planned the way the settings ask, and the reference. */
  private def bothWalks(): (Map[String, Seq[Row]], Map[String, Seq[Row]], Boolean) = {
    val raw = Normalize.readRaw(spark, inbox)
    val native = raw.select(col("id"), MimeParts.mimeParts(col("payload")).as("parts"))
    val reference = raw.select(col("id"), allParts(col("payload")).as("parts"))
    assert(native.schema == reference.schema)
    val inCodegen = native.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.collect {
        case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[MimeParts]))
      }.exists(identity)
    }.exists(identity)
    def byId(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Row]] =
      df.collect().map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
    (byId(native), byId(reference), inCodegen)
  }

  private def assertSame(native: Map[String, Seq[Row]], reference: Map[String, Seq[Row]]): Unit = {
    assert(native.keySet == reference.keySet && native.size == payloads.size + 1)
    val cases = payloads.map(_._1).zipWithIndex.map { case (c, i) => s"p$i" -> c }.toMap +
      ("no-payload" -> "payload absent")
    for ((id, ref) <- reference) {
      val got = native(id)
      assert(got.length == ref.length, s"${cases(id)}: ${got.length} parts, reference ${ref.length}")
      got.zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
        assert(g == r, s"${cases(id)}: part $i is $g, reference $r")
      }
    }
  }

  test("the reference walk is breadth-first and keeps null elements as all-null parts") {
    val (_, reference, _) = bothWalks()
    val ids = (i: Int) => reference(s"p$i").map(r => Option(r.getString(0)).getOrElse("-"))
    assert(ids(4) == Seq("0", "A", "B", "C", "A1", "A2", "B1", "A21"))
    assert(ids(3) == Seq("0", "-", "1", "-", "-", "1.1", "-"))
    assert(reference("p3")(1) == Row(null, null, null, null))
    assert(ids(5).last == s"L${Schemas.mimeDepth - 1}")
    assert(ids(6).last == s"L${Schemas.mimeDepth - 1}")
    assert(reference("no-payload") == Seq(Row(null, null, null, null)))
  }

  test("mime_parts matches the reference under whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true") {
      val (native, reference, inCodegen) = bothWalks()
      assert(inCodegen, "the native walk's projection should be whole-stage codegen'd")
      assertSame(native, reference)
    }
  }

  test("mime_parts matches the reference under interpreted evaluation") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val (native, reference, inCodegen) = bothWalks()
      assert(!inCodegen)
      assertSame(native, reference)
    }
  }

  test("mime_parts rejects a payload that is not a part tree at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(MimeParts.mimeParts(struct(lit("x").as("partId")))).collect()
    }
    assert(e.getMessage.contains("lacks"), e.getMessage)
  }
}
