package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native squared L2 distance of two array<double> columns — the codegen
  * target NativeDotRewrite substitutes for the interpreted
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, +)` fold of
  * [[graft.ops.Similarity.sqDist]]. The fold order is IDENTICAL
  * (ascending index, double accumulation), so results are bit-equal to
  * the interpreted path and to every SQL oracle's list_sum replay — the
  * only change is a fused primitive loop instead of per-element lambda
  * dispatch (the distance evaluates millions to billions of times in PQ
  * ground truth and the exact refine).
  * Like [[DotProduct]], ragged inputs fold over the SHORTER length
  * (every caller guarantees equal dims; pqFit fails loudly on ragged). */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_dist expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements() < $b.numElements()
         |  ? $a.numElements() : $b.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}
