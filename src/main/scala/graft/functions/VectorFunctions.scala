package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._

/** Cosine similarity over two float/double array columns, computed as a
  * sequential double-precision fold:
  *
  *   dot = Σ aᵢ·bᵢ ; na = Σ aᵢ² ; nb = Σ bᵢ² ; sim = dot / (√na·√nb)
  *
  * Zero-norm (or empty) input yields 0.0, matching the reference's
  * `cosine_similarity` guard (reference: src/embeddings.py:151-166 — returns
  * 0.0 when either vector has zero norm) and the pgvector `<=>` operator it
  * stands in for (reference: scripts/init_db.sql:52-54, src/database.py:173).
  *
  * The fold order and double-only arithmetic are deliberate and part of the
  * spec: every engine evaluating this definition left-to-right in IEEE-754
  * doubles produces bit-identical results, which is what lets a SQL oracle
  * reproduce it exactly. Codegen (`doGenCode`) keeps the whole computation
  * inside WholeStageCodegen — no UDF boxing, no serialization of the arrays.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private lazy val leftFloat = elemIsFloat(left)
  private lazy val rightFloat = elemIsFloat(right)

  // Null-element guard, emitted only when a static element type is
  // nullable (parquet float arrays are): getFloat on a null slot reads
  // silent garbage into the similarity. The branch is a bitmap test that
  // never takes on real embeddings — measured in the noise on the d1_knn
  // brute-force scan — and tight-typed inputs compile without it.
  private lazy val mayHaveNulls = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _               => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNulls && (xs.isNullAt(i) || ys.isNullAt(i)))
        throw new IllegalArgumentException(
          s"$prettyName: null element at position $i — pre-filter malformed " +
            "vectors (size/isnull checks) before scoring")
      val x = if (leftFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rightFloat) ys.getFloat(i).toDouble else ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val getX = if (leftFloat) s"(double)$a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (rightFloat) s"(double)$b.getFloat($i)" else s"$b.getDouble($i)"
      val nullGuard = if (!mayHaveNulls) "" else
        s"""
          |if ($a.isNullAt($i) || $b.isNullAt($i)) {
          |  throw new IllegalArgumentException(
          |    "cosine_sim: null element at position " + $i + " — pre-filter " +
          |    "malformed vectors (size/isnull checks) before scoring");
          |}""".stripMargin
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $nullGuard
        |  double $x = $getX; double $y = $getY;
        |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |}
        |${ev.value} = ($na == 0.0 || $nb == 0.0)
        |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level vector helpers. */
object VectorFunctions {

  /** Cosine similarity (custom codegen'd Catalyst expression). */
  def cosineSim(a: Column, b: Column): Column =
    SparkBridge.column(
      CosineSimilarity(SparkBridge.expression(a), SparkBridge.expression(b)))

  /** Pure-builtin cosine similarity (zip_with + aggregate): identical
    * double fold as [[CosineSimilarity]]; kept as a cross-check and as the
    * form other engines can reproduce verbatim. */
  def cosineSimBuiltin(a: Column, b: Column): Column = {
    val ad = a.cast(ArrayType(DoubleType))
    val bd = b.cast(ArrayType(DoubleType))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(ad, lit(0.0), (acc, v) => acc + v * v)
    val nb = aggregate(bd, lit(0.0), (acc, v) => acc + v * v)
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dot / (sqrt(na) * sqrt(nb)))
  }

  /** Sequential-fold dot product in doubles (for IVF/score re-use). */
  def dot(a: Column, b: Column): Column = {
    val ad = a.cast(ArrayType(DoubleType))
    val bd = b.cast(ArrayType(DoubleType))
    aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
  }
}
