package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

private[functions] trait DoubleArrayInputs { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall { c => c.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }}
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The composable form (`zip_with` + `aggregate`) materializes an
  * intermediate products array per row and walks two higher-order
  * function frames; these fuse the whole thing into one codegen'd
  * loop over the unsafe array data — the only place in this codebase
  * where a custom Expression beats the built-ins (SURVEY §7.3's
  * predicted exception). Bit-compatible with the composed form:
  * identical ascending-index double accumulation.
  */

/** dot(a, b) = Σ a[i]·b[i]; null when the arrays have different
  * lengths (matching the composed zip_with+aggregate form, where the
  * padding nulls poison the sum); null elements contribute 0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayInputs {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // may return null on length mismatch even for non-null inputs
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      $s += $a.getDouble($i) * $b.getDouble($i);
         |    }
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot/(‖a‖·‖b‖), all three accumulators in ONE pass.
  * Evaluates to exactly `dot / (sqrt(na) * sqrt(nb))` — bit-identical
  * to the composed form so DuckDB oracles keep matching. Null when
  * array lengths differ, like [[DotProduct]].
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayInputs {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $a.isNullAt($i) ? 0.0 : $a.getDouble($i);
         |    double $yv = $b.isNullAt($i) ? 0.0 : $b.getDouble($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Integer-code dot product — the quantized-cosine hot loop
  * (`Quantize.int8RecallAtK`, `Ivf.quantRank`): `Σ (a[i]*b[i] as
  * long)` over two `array<int>` code columns, one codegen'd loop in
  * place of the composed `aggregate(zip_with(a, b, (x, y) =>
  * (x*y).cast(long)), 0L, +)` form, which evaluated INTERPRETED per
  * element inside the candidate join (ArrayFnsSpec keeps it as the
  * parity reference). Exactly the
  * composed semantics: the per-element product is a 32-bit int
  * multiply widened AFTER (int8 codes cannot overflow it), and the
  * result is NULL when the arrays' lengths differ or any element is
  * null — zip_with pads the shorter side with null and a null
  * product poisons the fold.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall { c => c.dataType match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    }}
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dot_int"
  // null on length mismatch / null element even for non-null inputs
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += (x.getInt(i) * y.getInt(i)).toLong
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $s += (long) ($a.getInt($i) * $b.getInt($i));
         |    }
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}

/** Fused symmetric max-abs int8 quantizer —
  * `graft_int8_quant(vec: array<double>)` → `struct(scale double,
  * codes array<int>)`: `scale = max_i |v_i|`, `code_i = 0` when the
  * scale is 0 else `(int) floor(v_i / scale · 127 + 0.5)` — ONE
  * native two-pass loop per row in place of the two composed
  * `transform` lambdas ([[graft.llm.Quantize.maxAbsScale]] /
  * [[graft.llm.Quantize.int8Codes]], kept as the parity references
  * AND as the independent audit-side formulation), which evaluated
  * interpreted per element on every corpus row the quantized store /
  * IVF layout scans. Bit-identical: the max uses double-compare
  * ordering (NaN greatest — `array_max`'s ordering), the rounding is
  * the same `floor(x + 0.5)` → long → int chain, and a NULL vector
  * returns a NULL struct exactly as both composed columns go NULL;
  * an EMPTY vector yields (null scale, empty codes), matching
  * `array_max(empty) = null` + `transform(empty) = empty`.
  */
case class Int8Quant(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types.{StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = true),
    StructField("codes", ArrayType(org.apache.spark.sql.types.IntegerType,
      containsNull = false), nullable = false)))
  override def prettyName: String = "graft_int8_quant"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Int](0))))
    var scale = java.lang.Double.NEGATIVE_INFINITY
    var i = 0
    while (i < n) {
      val a = math.abs(x.getDouble(i))
      if (java.lang.Double.compare(a, scale) > 0) scale = a
      i += 1
    }
    val codes = new Array[Int](n)
    if (scale != 0d) {
      i = 0
      while (i < n) {
        codes(i) = math.floor(x.getDouble(i) / scale * 127d + 0.5d).toLong.toInt
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_int8_quant needs array<double>, got ${other.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): Int8Quant =
    copy(child = newChild)
}
