package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._

/** Every MIME part of a provider payload as one array of
  * `struct<partId, mimeType, filename, body>`: the payload itself, then
  * each nesting level breadth-first, parents in order. A null element of
  * a `parts` array yields a struct whose four fields are null; a null or
  * absent `parts` yields no children. The walk stops at the input type's
  * leaf level (the first struct without `parts`), so the depth is the one
  * [[graft.model.Schemas.mimeDepth]] declares and nothing here repeats it.
  *
  * One node per use, however deep the schema (see `graft.ingest.Normalize`
  * for why that matters). Codegen calls [[walk]] on the expression
  * itself, held as a reference object, so a projection of it stays inside
  * whole-stage codegen.
  */
case class MimeParts(child: Expression) extends UnaryExpression {

  private lazy val levels: IndexedSeq[MimeParts.Level] =
    MimeParts.levels(child.dataType.asInstanceOf[StructType])

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType => MimeParts.layoutError(s).fold[TypeCheckResult](
      TypeCheckResult.TypeCheckSuccess)(e => TypeCheckResult.TypeCheckFailure(s"$prettyName: $e"))
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a MIME part struct, got ${t.sql}")
  }

  // a null payload still yields its own (all-null) element
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StructType(
    MimeParts.Fields.map(f => child.dataType.asInstanceOf[StructType](f).copy(nullable = true))),
    containsNull = false)

  override def prettyName: String = "mime_parts"

  override def eval(input: InternalRow): Any =
    walk(child.eval(input).asInstanceOf[InternalRow])

  /** The parts of `payload` (null allowed) in walk order. */
  def walk(payload: InternalRow): ArrayData = {
    val out = Array.newBuilder[Any]
    var level = 0
    var frontier = Array(payload)
    out += MimeParts.project(payload, levels(0))
    while (levels(level).parts >= 0) {
      val at = levels(level)
      val width = levels(level + 1).width
      val next = Array.newBuilder[InternalRow]
      frontier.foreach { p =>
        if (p != null && !p.isNullAt(at.parts)) {
          val children = p.getArray(at.parts)
          var i = 0
          while (i < children.numElements()) {
            next += (if (children.isNullAt(i)) null else children.getStruct(i, width))
            i += 1
          }
        }
      }
      level += 1
      frontier = next.result()
      frontier.foreach(p => out += MimeParts.project(p, levels(level)))
    }
    new GenericArrayData(out.result())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("mimeParts", this)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = $self.walk(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MimeParts {

  /** The fields each part contributes, in output order. */
  val Fields: Seq[String] = Seq("partId", "mimeType", "filename", "body")

  /** One nesting level: the ordinals of the four [[Fields]] and of
    * `parts` (-1 at the leaf level), and the field counts of the level's
    * struct and of its `body`. */
  final case class Level(fields: Array[Int], parts: Int, width: Int,
      bodyWidth: Int)

  /** One [[Level]] per nesting level of `t`, outermost first. */
  def levels(t: StructType): IndexedSeq[Level] = {
    val parts = t.fieldNames.indexOf("parts")
    val level = Level(Fields.map(t.fieldIndex).toArray, parts, t.length,
      t("body").dataType.asInstanceOf[StructType].length)
    if (parts < 0) IndexedSeq(level)
    else level +: levels(t(parts).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])
  }

  /** Why `payload` is not a part tree the walk can read, if it is not:
    * every level needs string `partId`/`mimeType`/`filename` and one
    * `body` struct type, and `parts`, where present, holds structs. */
  def layoutError(payload: StructType): Option[String] = {
    val body = payload.find(_.name == "body").map(_.dataType)
    def check(t: StructType): Option[String] = {
      val missing = Fields.filterNot(t.fieldNames.contains)
      if (missing.nonEmpty) Some(s"a part lacks ${missing.mkString(", ")}")
      else if (Fields.take(3).exists(f => t(f).dataType != StringType))
        Some("partId, mimeType and filename must be strings")
      else if (!t("body").dataType.isInstanceOf[StructType] || !body.contains(t("body").dataType))
        Some("body must be a struct of the same type at every level")
      else t.find(_.name == "parts").map(_.dataType) match {
        case None => None
        case Some(ArrayType(s: StructType, _)) => check(s)
        case Some(o) => Some(s"parts must be an array of structs, got ${o.sql}")
      }
    }
    check(payload)
  }

  private[functions] def project(p: InternalRow, at: Level): InternalRow =
    if (p == null) new GenericInternalRow(Fields.length)
    else {
      val f = at.fields
      new GenericInternalRow(Array[Any](
        if (p.isNullAt(f(0))) null else p.getUTF8String(f(0)),
        if (p.isNullAt(f(1))) null else p.getUTF8String(f(1)),
        if (p.isNullAt(f(2))) null else p.getUTF8String(f(2)),
        if (p.isNullAt(f(3))) null else p.getStruct(f(3), at.bodyWidth)))
    }

  /** Column wrapper. */
  def mimeParts(payload: Column): Column =
    SparkBridge.column(MimeParts(SparkBridge.expression(payload)))
}
