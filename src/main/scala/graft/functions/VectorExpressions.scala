package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector-math hot path (SURVEY.md
  * §2.2 Q41). The higher-order-function formulation
  * (`zip_with`+`aggregate`, kept in test scope as `HofRefs.*Hof` for
  * cross-checks) evaluates interpreted lambdas per element; these
  * generate a tight primitive loop inside whole-stage codegen instead —
  * the difference is the ANN scan cost at 100 TB.
  *
  * Semantics match the HOF formulation exactly: sequential left-fold
  * summation (bit-identical doubles, which the DuckDB oracle's
  * `list_dot_product` also uses), NULL if either array is NULL, lengths
  * differ, or ANY element is NULL (zip_with/the lambda product poison
  * the fold with NULL in the HOF version). When both input types carry
  * `containsNull = false` the per-element null check is elided at
  * codegen time, so typed embedding columns keep the tight loop.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq(left, right).map(_.dataType).exists {
      case ArrayType(DoubleType, _) => false
      case _ => true
    }
    if (bad)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** True iff either input's element type admits NULL slots — decides
    * (statically, at plan time) whether the element null check is
    * emitted at all.
    */
  protected final def elementsNullable: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })

  /** Fold over non-null arrays of equal length; java.lang.Double or null
    * (a NULL element reproduces the HOF's poisoned fold).
    */
  protected def evalArrays(x: ArrayData, y: ArrayData, checkNulls: Boolean): Any

  /** Java loop body; `$a`/`$b` are ArrayData vars, result into `$out`,
    * element-NULL poisoning into `$isNull`. All locals must come from
    * `ctx.freshName` — the same expression can appear several times in
    * one codegen context.
    */
  protected def genLoop(ctx: CodegenContext, a: String, b: String, n: String,
                        out: String, isNull: String): String

  /** Per-iteration guard: sets `$poison` and exits the loop when either
    * slot is NULL; empty string when the types prove nulls impossible.
    */
  protected final def nullGuard(a: String, b: String, i: String, poison: String): String =
    if (elementsNullable)
      s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $poison = true; break; }"
    else ""

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else evalArrays(x, y, elementsNullable)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  ${genLoop(ctx, a, b, n, ev.value, ev.isNull)}
         |}
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ with sequential left-fold order. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"

  override protected def evalArrays(x: ArrayData, y: ArrayData, checkNulls: Boolean): Any = {
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i); i += 1
    }
    s
  }

  override protected def genLoop(ctx: CodegenContext, a: String, b: String, n: String,
                                 out: String, isNull: String): String = {
    val s = ctx.freshName("s"); val i = ctx.freshName("i")
    val poison = ctx.freshName("poison")
    s"""
       |double $s = 0.0;
       |boolean $poison = false;
       |for (int $i = 0; $i < $n; $i++) {
       |  ${nullGuard(a, b, i, poison)}
       |  $s += $a.getDouble($i) * $b.getDouble($i);
       |}
       |if ($poison) { $isNull = true; } else { $out = $s; }
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** dot(a,b) / (√dot(a,a) · √dot(b,b)) in ONE pass over both arrays
  * (the composed-HOF version walks each array three times).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"

  override protected def evalArrays(x: ArrayData, y: ArrayData, checkNulls: Boolean): Any = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0; val n = x.numElements()
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def genLoop(ctx: CodegenContext, a: String, b: String, n: String,
                                 out: String, isNull: String): String = {
    val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
    val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
    val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
    val poison = ctx.freshName("poison")
    s"""
       |double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |boolean $poison = false;
       |for (int $i = 0; $i < $n; $i++) {
       |  ${nullGuard(a, b, i, poison)}
       |  final double $xi = $a.getDouble($i); final double $yi = $b.getDouble($i);
       |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
       |}
       |if ($poison) { $isNull = true; }
       |else { $out = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}
