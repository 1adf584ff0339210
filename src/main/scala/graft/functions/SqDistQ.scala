package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression: exact integer squared L2 distance of
  * two QUANTIZED (array<bigint>) vectors in one codegen'd loop —
  * Σ (xᵢ − yᵢ)².
  *
  * Why (the [[CosineSimilarity]] rationale, guide §4): the
  * `aggregate(zip_with(...))` higher-order form is evaluated
  * interpreted, per element — measured ~60 µs/pair on 64-dim vectors
  * (the dominant cost of q_submodular_select's candidate-distance
  * build) vs a tight generated loop. Quantization itself (`round(v ·
  * scale)` per element) deliberately stays OUTSIDE this expression, in
  * a plain Spark `transform` projection over corpus-linear rows, so
  * Spark's own HALF_UP double rounding is used verbatim and this
  * expression is pure int64 arithmetic — bit-exact by construction
  * (subtract-of-rounds ≡ round-then-subtract; verified value-identical
  * to the HOF form in ScalaTest and against the DuckDB oracle).
  *
  * Degenerate-input note (the cosine_sim precedent): unequal lengths
  * fold over the shorter prefix, where `zip_with` would null-pad — the
  * corpus guarantees fixed-dimension vectors, so the divergence cannot
  * trigger; ragged inputs must be length-filtered first. A NULL
  * element inside the folded prefix makes the result NULL, as it does
  * in the `aggregate(zip_with(...))` form. */
case class SqDistQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e =>
      e.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sqdist_q expects two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sqdist_q"

  private def containsNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }
  override def nullable: Boolean =
    left.nullable || right.nullable || containsNull(left) || containsNull(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      // element null checks only for array types that can hold NULL;
      // the corpus's quantized vectors cannot, so their loop is unchanged
      val nullAt = Seq(left -> x, right -> y).collect {
        case (e, v) if containsNull(e) => s"$v.isNullAt($i)"
      }
      val nullCheck =
        if (nullAt.isEmpty) ""
        else s"if (${nullAt.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  long $d = $x.getLong($i) - $y.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistQ =
    copy(left = newLeft, right = newRight)
}

object SqDistQ {

  private[graft] val info = new ExpressionInfo(classOf[SqDistQ].getName, "sqdist_q")

  private[graft] val builder = (children: Seq[Expression]) => {
    require(children.length == 2, "sqdist_q takes exactly 2 arguments")
    SqDistQ(children.head, children(1))
  }

  /** Session-local registration so `expr("sqdist_q(a, b)")` resolves.
    * Idempotent (the cosine_sim pattern). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("sqdist_q")))
      reg.createOrReplaceTempFunction("sqdist_q", builder, "built-in")
  }
}
