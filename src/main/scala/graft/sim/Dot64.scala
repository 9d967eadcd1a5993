package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Ordered dot product of two numeric arrays in double precision, as a
  * codegen'd Catalyst expression.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0, +)` —
  * the strict left-fold `((0 + x₁y₁) + x₂y₂) + …` — but ~50× faster: the
  * higher-order-function form evaluates an interpreted lambda per element,
  * while this compiles to a tight Java loop inside WholeStageCodegen.
  * Keeping the exact fold order matters: results stay bit-identical to the
  * DuckDB oracle's `list_reduce` (see graft.oracle.Ora.dot64).
  *
  * NULL semantics match the documented equivalent too: mismatched array
  * lengths or a null element yield NULL (zip_with pads the shorter side
  * with nulls, and null × anything poisons the aggregate) — silently
  * truncating to the shorter array would return a plausible wrong number
  * on the public SQL surface.
  *
  * Accepts float or double element types on either side (embeddings are
  * float32; hyperplane literals are double); anything else is rejected at
  * analysis time.
  */
case class Dot64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // beyond child-null intolerance, the expression itself produces NULL
  // for mismatched lengths / null elements
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot64"

  private def isFloatArr(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArr(left.dataType).isEmpty || isFloatArr(right.dataType).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"dot64 needs array<float|double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val leftIsFloat = isFloatArr(left.dataType).get
  @transient private lazy val rightIsFloat = isFloatArr(right.dataType).get

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = aa.numElements()
    if (bb.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || bb.isNullAt(i)) return null
      val x = if (leftIsFloat) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y = if (rightIsFloat) bb.getFloat(i).toDouble else bb.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (leftIsFloat) "getFloat" else "getDouble"
    val bGet = if (rightIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.$aGet($i)) * ((double) $b.$bGet($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dot64 =
    copy(left = newLeft, right = newRight)
}

object Dot64 {
  def dot64(a: Column, b: Column): Column =
    shims.column(Dot64(shims.expression(a), shims.expression(b)))

  // The scalar kernel for executor-side Scala code (streaming state
  // functions, in-group reranks): the expression's strict left fold
  // ((0 + x₁y₁) + x₂y₂) + … with per-element double widening, so results
  // are bit-identical to dot64. Callers pass equal-length arrays.
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  def dot(a: Array[Float], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
    acc
  }
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
}
