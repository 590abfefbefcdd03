package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** Native vector arithmetic for the similarity/ANN hot paths, replacing
  * interpreted higher-order-function forms with tight JVM loops while
  * keeping the EXACT accumulation order — every expression here is
  * bit-identical to the `aggregate(zip_with(...))` / `transform(sequence)`
  * composition it replaces (and to the DuckDB oracle's `list_reduce`
  * folds), because IEEE adds/multiplies are emitted in the same sequence.
  *
  * Why native (guide §1.2 step 2, §4.1): a HOF lambda is evaluated by the
  * interpreter per ELEMENT — a closure call, boxing, and a null check per
  * double — and `zip_with` additionally materializes the intermediate
  * array per row. On the exact-distance truth legs (Q x N pairs x dim
  * doubles) that interpretation dominated entire queries' CPU.
  */
object VecOps {

  /** Shared analysis-time check: both inputs must be array<double>
    * (either nullability) — a wrong-typed input fails analysis instead
    * of a runtime ClassCastException. (ExpectsInputTypes is not usable
    * outside the sql package — AbstractDataType is private[sql] — so
    * the check is hand-rolled.)
    */
  private def checkVecInputs(name: String,
      types: Seq[DataType]): TypeCheckResult =
    if (types.forall {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<double> inputs, got ${types.mkString(", ")}")

  /** Squared L2 distance with index-order accumulation:
    * `(((0 + d0^2) + d1^2) + ...)` where `d_i = a[i] - b[i]` — the same
    * operation sequence as
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _ + _)`.
    * Inputs always have equal length in this library (fixed-dim vectors);
    * like [[VecDot]] the loop runs over the shorter length.
    */
  case class VecD2(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs("vec_d2", Seq(left.dataType, right.dataType))
    override def dataType: DataType = DoubleType
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): VecD2 =
      copy(left = newLeft, right = newRight)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $d = $a.getDouble($i) - $b.getDouble($i);
            $acc += $d * $d;
          }
          ${ev.value} = $acc;
        """
      })
  }

  /** Elementwise difference `a[i] - b[i]` as a non-null double array —
    * value-identical to `zip_with(a, b, (x, y) => x - y)` for the
    * equal-length vectors this library feeds it.
    */
  case class VecSub(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs("vec_sub", Seq(left.dataType, right.dataType))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): VecSub =
      copy(left = newLeft, right = newRight)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val out = ctx.freshName("out")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double[] $out = new double[$n];
          for (int $i = 0; $i < $n; $i++) {
            $out[$i] = $a.getDouble($i) - $b.getDouble($i);
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        """
      })
  }

  /** Index-order fold sum `(((0.0 + a[0]) + a[1]) + ...)` — the same
    * operation sequence as `aggregate(a, 0.0, (acc, x) => acc + x)` (and
    * the oracle's `list_reduce(list_prepend(0.0, a), ...)`), so results
    * are bit-identical. A null element nulls the sum, as it nulled the
    * HOF fold; arrays typed without null elements skip the check.
    */
  case class VecSum(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs("vec_sum", Seq(child.dataType))
    override def dataType: DataType = DoubleType
    private def elemNullable: Boolean = child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
    override def nullable: Boolean = child.nullable || elemNullable
    override protected def withNewChildInternal(newChild: Expression): VecSum =
      copy(child = newChild)

    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = x.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) return null
        acc += x.getDouble(i)
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val nullCheck =
          if (elemNullable) s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
          int $n = $a.numElements();
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $nullCheck
            $acc += $a.getDouble($i);
          }
          ${ev.value} = $acc;
        """
      })
  }

  /** Per-position ordered mean over an array of (key, vector) structs —
    * the k-means refine step's arithmetic:
    * for each position p: `(((0 + m_0.v[p]) + m_1.v[p]) + ...) / n`,
    * members in ARRAY ORDER (callers pass `sort_array(collect_list(...))`
    * so the fold order is the key order, bit-identical to the oracle's
    * `list_reduce` over `list(v ORDER BY key)`). The vector is the
    * struct's SECOND field; the dimension is the first member's length
    * (all members share it by construction). Replaces the O(dim x n)
    * interpreted form
    * `transform(sequence(1, dim), p => aggregate(mv, 0.0, (acc, m) =>
    *   acc + element_at(m.v, p)) / size(mv))`.
    * One evaluation per GROUP (not per row), so interpreted eval is fine
    * (CodegenFallback) — the inner loops are plain JVM arithmetic.
    */
  case class StructVecMean(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true

    // analysis-time contract: array of structs whose SECOND field is the
    // vector (array<double>) — a wrong-typed input fails analysis, not
    // with a runtime ClassCastException
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(st: StructType, _) if st.length >= 2 &&
          (st.fields(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"struct_vec_mean expects array<struct<_, array<double>>>, got $other")
    }
    override protected def withNewChildInternal(newChild: Expression): StructVecMean =
      copy(child = newChild)

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) return null
      val mv = v.asInstanceOf[ArrayData]
      val n = mv.numElements()
      if (n == 0) return null
      // dimension from the first member, like the HOF form's
      // size(element_at(mv, 1).v)
      val first = mv.getStruct(0, 2).getArray(1)
      val dim = first.numElements()
      val out = new Array[Double](dim)
      var p = 0
      while (p < dim) {
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += mv.getStruct(i, 2).getArray(1).getDouble(p)
          i += 1
        }
        out(p) = acc / n.toDouble
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  def vec_d2(a: Column, b: Column): Column =
    ColumnBridge.column(VecD2(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_sub(a: Column, b: Column): Column =
    ColumnBridge.column(VecSub(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_sum(a: Column): Column =
    ColumnBridge.column(VecSum(ColumnBridge.expression(a)))

  def struct_vec_mean(mv: Column): Column =
    ColumnBridge.column(StructVecMean(ColumnBridge.expression(mv)))
}
