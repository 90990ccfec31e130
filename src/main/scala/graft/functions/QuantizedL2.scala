package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression for integer squared L2 distance over two
  * `array<bigint>` columns — the hot inner loop of every EXACT ranking leg
  * in the ANN family (ann5's re-rank, ann6/6b's in-block and ann6c/6d's
  * global exact baselines), evaluated once per candidate/cross-join pair.
  *
  * Why an Expression and not `aggregate`/`zip_with` (the
  * [[CosineSimilarity]] rationale): Spark's higher-order array functions
  * evaluate their lambdas per element on the interpreted path — never fused
  * into whole-stage codegen — so a 64-dim distance built as
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)` pays two
  * lambda-driven walks plus allocation of the zipped intermediate array,
  * per pair, with query-side pair counts that grow with the corpus. This
  * expression generates one fused Java loop, no intermediates, and
  * participates in whole-stage codegen like any built-in.
  *
  * Semantics match the HOF formulation bit-for-bit under the session's ANSI
  * defaults and within the quantized value domain: Σ (aᵢ−bᵢ)² in 64-bit
  * integer arithmetic, left-to-right. Quantized micros lie in ±2²¹, so a
  * difference is within ±2²², its square ≤ 2⁴⁴ and a 64-dim sum ≤ 2⁵⁰ —
  * exact, no overflow. Outside that domain the two part: ANSI arithmetic
  * makes the HOF throw on a long overflow, where this loop wraps.
  * Mismatched lengths yield NULL exactly like `zip_with` of unequal arrays
  * (the padded tail's NULL terms turn the HOF aggregate NULL), as does a
  * NULL element on either side.
  */
case class QuantizedL2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"quantized_l2 expects (array<bigint>, array<bigint>), got ($l, $r)")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) null
    else {
      var d = 0L
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val t = a.getLong(i) - b.getLong(i)
        d += t * t
        i += 1
      }
      d
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val t = ctx.freshName("t")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $d = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $t = $a.getLong($i) - $b.getLong($i);
         |    $d += $t * $t;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $d; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "quantized_l2"
}
