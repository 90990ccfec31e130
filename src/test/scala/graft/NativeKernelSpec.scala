package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Bit-identity of the r20 native pair kernels against the HOF
  * formulations they replaced — the DedupAnnSpec pattern (native fused
  * expression ≡ interpreted reference on every edge the semantics note
  * names: equal arrays, disjoint arrays, unequal lengths, null elements,
  * null inputs).
  */
class NativeKernelSpec extends SparkSuite {
  import spark.implicits._

  private def l2Native(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    ColumnBridge.column(graft.functions.QuantizedL2(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def matchNative(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    ColumnBridge.column(graft.functions.SigMatchCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private val fixtures: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
    (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
    (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](3L, 2L, 1L)),
    (Seq[java.lang.Long](-5L, 0L, 2097151L), Seq[java.lang.Long](5L, 0L, -2097151L)),
    (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)), // unequal lengths
    (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)), // null element
    (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]))

  test("QuantizedL2 ≡ aggregate(zip_with((x-y)²)) on every edge case") {
    val df = fixtures.toDF("a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val out = df.select(l2Native(col("a"), col("b")).as("n"), hof.as("h")).collect()
    out.zip(fixtures).foreach { case (r, fx) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null-ness diverged on $fx: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"value diverged on $fx: $r")
    }
    // null INPUT array → null, like the HOF chain
    val nullIn = Seq((null.asInstanceOf[Seq[java.lang.Long]], Seq[java.lang.Long](1L)))
      .toDF("a", "b")
      .select(l2Native(col("a"), col("b")).as("n"), hof.as("h")).head()
    assert(nullIn.isNullAt(0) && nullIn.isNullAt(1))
  }

  test("SigMatchCount ≡ size(filter(zip_with(when(x===y,1)), isNotNull)) on every edge case") {
    val df = fixtures.toDF("a", "b")
    val hof = size(filter(zip_with(col("a"), col("b"), (x, y) => when(x === y, lit(1))),
      v => v.isNotNull))
    val out = df.select(matchNative(col("a"), col("b")).as("n"), hof.as("h")).collect()
    out.zip(fixtures).foreach { case (r, fx) =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"unexpected null on $fx: $r")
      assert(r.getInt(0) == r.getInt(1), s"count diverged on $fx: $r")
    }
    // null INPUT array → null, like the HOF chain under ANSI (size(NULL) is NULL)
    val nullIn = Seq((null.asInstanceOf[Seq[java.lang.Long]], Seq[java.lang.Long](1L)))
      .toDF("a", "b")
      .select(matchNative(col("a"), col("b")).as("n"), hof.as("h")).head()
    assert(nullIn.isNullAt(0) && nullIn.isNullAt(1))
  }

  test("the native kernels participate in whole-stage codegen (no interpreted fallback)") {
    val df = spark.range(100).select(
      transform(sequence(lit(0L), lit(15L)), i => col("id") + i).as("a"),
      transform(sequence(lit(0L), lit(15L)), i => col("id") * i).as("b"))
    val p = df.select(l2Native(col("a"), col("b")).as("d"),
      matchNative(col("a"), col("b")).as("c"))
    p.collect() // must not throw in generated code
    val plan = p.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"kernel projection fell out of codegen:\n$plan")
  }
}
