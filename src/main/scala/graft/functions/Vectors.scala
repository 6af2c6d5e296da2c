package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Cosine similarity over two `array<float>` embedding columns.
  *
  * This is the hot inner loop of the similarity-search / near-dup
  * operators: at 100 TB it runs billions of times per stage, so it is a
  * native Catalyst expression with `doGenCode` — the generated Java
  * loop stays inside whole-stage codegen (no boxing, no lambda
  * dispatch), unlike a Scala UDF or the higher-order
  * `aggregate(zip_with(...))` formulation (kept in [[VectorFunctions]]
  * as the differential-test partner).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  // accept array<float> or array<double> per side (SQL literals arrive
  // as array<double>)
  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }
  private lazy val leftDouble = elemIsDouble(left)
  private lazy val rightDouble = elemIsDouble(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (leftDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (rightDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val getA = if (leftDouble) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getB = if (rightDouble) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $getA;
         |  double $y = $getB;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level vector API. */
object VectorFunctions {
  import org.apache.spark.sql.functions._

  /** Codegen'd cosine similarity (native expression above). */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Higher-order-function formulation — built-ins only; the
    * differential-test partner of [[cosine]]. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / sqrt(na * nb))
  }

  /** L2 norm of an array<float>. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Sign bits of dot products against `k` deterministic pseudo-random
    * hyperplanes → a Long bucket id. This is the random-hyperplane LSH
    * used by the embedding near-dup and ANN bucketing paths: vectors
    * with high cosine similarity agree on most sign bits, so hashing to
    * the same bucket is likely. Planes are derived from (planeSeed, dim
    * index) via a splitmix-style integer mix — identical on every
    * executor with no broadcast of plane matrices.
    */
  def hyperplaneSignBits(vec: Column, bits: Int, seed: Long): Column =
    HashFunctions.hyperplaneSignBits(vec, bits, seed)
}
