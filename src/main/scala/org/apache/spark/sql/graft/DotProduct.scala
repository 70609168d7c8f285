// Hosted under org.apache.spark.sql because ExpectsInputTypes /
// AbstractDataType and the classic Column<->Expression bridge are
// private[sql]; this is the standard packaging for third-party
// Catalyst expressions built against Spark internals.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst dot-product over two double arrays, with
  * whole-stage codegen (`doGenCode`).
  *
  * Why a custom Expression: `aggregate(zip_with(a,b,*),0,+)` has the
  * right semantics but higher-order-function lambdas are interpreted
  * per element with a materialized intermediate array — on an
  * all-pairs similarity join that interpretation dominated the
  * benchmark (q34: 272s at sf0.1). This expression compiles to a tight
  * primitive loop inside the WholeStageCodegen stage: no intermediate
  * array, no per-element virtual calls.
  *
  * Semantics match the sequential left fold exactly: accumulation in
  * index order over doubles, so results stay bitwise identical to the
  * DuckDB `list_reduce` oracle (IEEE double ops are deterministic once
  * the order is pinned). Null arrays propagate null; null *elements*
  * are treated as 0 (the embedding tables carry none).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        acc += x.getDouble(i) * y.getDouble(i)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column API: codegen'd dot product of two `array<double>` columns. */
  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Self dot product (sum of squares): what `graft_dot(x, x)` means,
  * evaluated with ONE pass over ONE array — the child expression is
  * computed once instead of twice and each element is read once.
  * Produced by [[SelfDotRewrite]]; fold order matches [[DotProduct]]
  * exactly, so rewriting never changes a result bit.
  */
case class SelfDot(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_self_dot"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val v = x.getDouble(i)
        acc += v * v
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = $a.getDouble($i);
         |    $acc += $v * $v;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SelfDot =
    copy(child = c)
}

/** Native squared L2 distance over two `array<bigint>` columns —
  * exact int64 Σ(aᵢ−bᵢ)², the unit-micro-grid distance every
  * IVF/PQ/graph-ANN operator computes in its hot path. Same
  * motivation as [[DotProduct]]: the HOF form
  * `aggregate(zip_with(a,b,(x,y)=>(x−y)²),0,+)` is interpreted per
  * element with a materialized intermediate array and measurable
  * per-ROW interpreter setup (~40 µs/row — 5 s on a 124k-row
  * assignment join at sf0.1); this compiles to a tight primitive
  * loop inside WholeStageCodegen. Integer arithmetic is exact, so
  * swapping the form never changes a value. Null arrays propagate
  * null; null elements are treated as 0 (the unit grids carry
  * none). RAGGED arrays (unequal lengths) return NULL — exactly what
  * the HOF fold returns, because `zip_with` pads the shorter array
  * with nulls and the sum then nulls out; truncating to min(len)
  * would turn a malformed embedding row into a plausible wrong
  * distance instead of a visible null (round-11 ADVICE).
  */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
      ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sqdist"
  // Nullable even over non-null inputs: ragged lengths yield null.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0L else x.getLong(i)
      val yv = if (y.isNullAt(i)) 0L else y.getLong(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $dd = ($a.isNullAt($i) ? 0L : $a.getLong($i))
         |      - ($b.isNullAt($i) ? 0L : $b.getLong($i));
         |    $acc += $dd * $dd;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

object SqDistLong {
  /** Column API: codegen'd exact Σ(aᵢ−bᵢ)² of two `array<bigint>`
    * columns. */
  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(SqDistLong(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Exact int64 dot product Σ aᵢ·bᵢ of two long arrays — the integer
  * sibling of [[DotProduct]] with [[SqDistLong]]'s contract: compiled
  * primitive loop, null arrays propagate, RAGGED arrays return NULL
  * (exactly the HOF fold's value — zip_with pads with nulls and the
  * sum nulls out; round-11 ADVICE). A null ELEMENT in equal-length
  * arrays is the one divergence: it counts as 0 here, while the fold's
  * null product nulls the whole sum. So the fold's value is matched
  * only on null-free arrays — the q325/q336 grids carry no null
  * elements. Serves the milli/micro-grid similarity queries
  * (q325/q336 facility-location and Otsu frames) whose
  * `aggregate(zip_with(a,b,*),0,+)` ran interpreted per element. */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
      ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dot_long"
  // Nullable even over non-null inputs: ragged lengths yield null.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0L else x.getLong(i)
      val yv = if (y.isNullAt(i)) 0L else y.getLong(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ($a.isNullAt($i) ? 0L : $a.getLong($i))
         |      * ($b.isNullAt($i) ? 0L : $b.getLong($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

object DotLong {
  /** Column API: codegen'd exact Σ aᵢ·bᵢ of two `array<bigint>`
    * columns. */
  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(DotLong(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Optimizer rule: `graft_dot(x, x)` → `graft_self_dot(x)` whenever
  * both sides are semantically the same deterministic expression —
  * norms (`sqrt(dot(e, e))`) hit this on every vector query. The
  * standard Catalyst extension shape: a `Rule[LogicalPlan]` injected
  * via `SparkSessionExtensions.injectOptimizerRule` alongside the
  * function registrations ([[GraftExtensions]]).
  */
object SelfDotRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case DotProduct(l, r) if l.deterministic && l.semanticEquals(r) =>
        SelfDot(l)
    }
}
