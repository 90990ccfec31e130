package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression counting the positions at which two
  * `array<bigint>` columns hold equal non-null values — the MinHash verify
  * kernel (estimated Jaccard = match count / signature length), evaluated
  * once per bucket-colliding candidate pair in every LSH path (dd2's
  * self-join, the incremental serves, dd14's recall leg, the curation
  * gates).
  *
  * Why an Expression and not the HOF chain (the [[CosineSimilarity]]
  * rationale): `size(filter(zip_with(a, b, (x,y) => when(x === y, 1)),
  * v => v.isNotNull))` evaluates two interpreted lambdas per element and
  * allocates two intermediate arrays per pair. This is one fused loop in
  * whole-stage codegen.
  *
  * Semantics match that HOF chain bit-for-bit under the session's ANSI
  * defaults: `zip_with` pads the shorter array with NULLs, `when(x === y,
  * 1)` is NULL when either side is NULL, and the filter drops NULLs — so the
  * count is over positions below the SHORTER length where both elements are
  * non-null and equal. Inputs NULL → result NULL, as the chain's `size`
  * returns under ANSI (with ANSI off, legacy `sizeOfNull` makes it -1). A
  * count cannot overflow: it is at most the shorter array's length.
  */
case class SigMatchCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"sig_match_count expects (array<bigint>, array<bigint>), got ($l, $r)")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) && $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sig_match_count"
}
