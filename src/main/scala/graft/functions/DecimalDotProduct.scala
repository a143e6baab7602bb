package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: exact-decimal dot product of two
  * numeric-array columns in ONE codegen'd loop.
  *
  * Semantics (bit-identical to the DuckDB oracle twin
  * `list_sum(list_transform(..., CAST(a[i]*b[i] AS DECIMAL(28,14))))`):
  * each elementwise product is computed in IEEE double, rounded ONCE
  * to scale 14 (HALF_UP — Spark's non-ANSI double→decimal cast, i.e.
  * `java.math.BigDecimal.valueOf(p).setScale(14, HALF_UP)`, the
  * shortest-decimal-representation rounding of `Decimal(Double)`),
  * then summed EXACTLY. Decimal addition is associative, so the result
  * is independent of element order, partitioning, and engine — the
  * determinism contract of SparkEntry's oracle hashing.
  *
  * Note on the `zip_with` + `aggregate` route this replaces: Spark's
  * decimal `Add` inside that fold widens (38,14)+(28,14) to (38,13) —
  * a HALF_UP round of the accumulator's 14th decimal at EVERY step —
  * so the old route was ~1e-13-perturbed relative to the true sum.
  * This expression sums exactly, i.e. it is the more faithful mirror
  * of the oracle; `DecimalDotProductSpec` bounds the two routes'
  * divergence and checks all query outputs are unaffected at the
  * round-6 surface.
  *
  * Null semantics mirror `zip_with` (which null-pads the shorter
  * array, poisoning the decimal fold): result is null when either
  * array is null, lengths differ, any element is null, a product is
  * NaN/±Inf, or a rounded product overflows DECIMAL(28,14).
  *
  * Why an Expression and not the higher-order functions: the lambda
  * route interprets `ZipWith`/`ArrayAggregate` per element with a
  * boxed `Decimal` allocation per step and no whole-stage codegen —
  * measured ~10× slower at sf0.1 (ann_topk_bruteforce 13.7 s vs the
  * fused float expression's 1.4 s on identical data). This loop keeps
  * the exact-decimal contract AND stays inside WholeStageCodegen —
  * the 100 TB hot path for the similarity/dedup family (preference
  * order (b) of SURVEY.md §4.3).
  *
  * Hybrid rounding: `BigDecimal.valueOf(p)` routes through
  * `Double.toString` (a per-element parse + 2 allocations, the
  * dominant cost). Instead each element first tries scaled-long
  * arithmetic: with u = |p|·1e14 + 0.5 computed in double, the total
  * error vs the true (shortest-decimal-repr) unscaled value is
  * < 0.05 + 0.04·|p| units (½ulp for the repr + ½ulp for the multiply
  * + ½ulp for the add, each ≤ |p|·1e14·2⁻⁵³), so whenever u is
  * farther than that margin from every integer, `floor(u)` IS the
  * exact HALF_UP rounding and is accumulated into a long (spilled to
  * BigDecimal near ±8e18). Ambiguous elements — and any |p| > 11.25,
  * where the margin exceeds ½ — take the original BigDecimal path, so
  * the result is bit-identical to the pure-BigDecimal route on every
  * input (DecimalDotProductSpec cross-checks both).
  */
case class DecimalDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_decimal requires array<float|double> arguments, got " +
      s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DecimalType(38, 14)
  // Non-null inputs can still yield null (length mismatch / null
  // element / decimal overflow) — mirror of the poisoned fold.
  override def nullable: Boolean = true

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left.dataType).get, elemType(right.dataType).get)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var fastSum = 0L
    var slowAcc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val p = get(x, i, lt) * get(y, i, rt)
      if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) return null
      val ap = Math.abs(p)
      val t = ap * 1e14 + 0.5
      // DecimalDotProduct.MARGIN analysis: |computed − exact| ≤
      // 0.05 + 0.04·|p| unscaled units, so when t is farther than the
      // margin from every integer, floor(t) IS the exact HALF_UP
      // rounding of BigDecimal.valueOf(p).setScale(14) — take it with
      // long arithmetic (no Double.toString parse, no allocation).
      val margin = 0.05 + ap * 0.04
      val d = t - Math.rint(t) // |d| = distance to the nearest integer
      if (Math.abs(d) > margin) {
        val k = Math.floor(t).toLong
        if (Math.abs(fastSum) > 8000000000000000000L) {
          slowAcc = slowAcc.add(java.math.BigDecimal.valueOf(fastSum, 14))
          fastSum = 0L
        }
        fastSum += (if (p < 0) -k else k)
      } else {
        val e = java.math.BigDecimal.valueOf(p)
          .setScale(14, java.math.RoundingMode.HALF_UP)
        if (e.precision > 28) return null
        slowAcc = slowAcc.add(e)
      }
      i += 1
    }
    Decimal(slowAcc.add(java.math.BigDecimal.valueOf(fastSum, 14)), 38, 14)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(v: String, i: String, t: DataType) = t match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _         => s"$v.getDouble($i)"
      }
      val (lt, rt) = (elemType(left.dataType).get, elemType(right.dataType).get)
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val fs = ctx.freshName("fastSum")
      val p = ctx.freshName("p")
      val ap = ctx.freshName("ap")
      val t = ctx.freshName("t")
      val d = ctx.freshName("d")
      val k = ctx.freshName("k")
      val e = ctx.freshName("e")
      val bad = ctx.freshName("bad")
      // Fast path (see nullSafeEval): when u = |p|·1e14 + 0.5 is
      // farther than the error margin from every integer, floor(u) is
      // provably the exact HALF_UP rounding — pure long arithmetic,
      // no Double.toString parse, no allocation (~10× per element).
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |long $fs = 0L;
         |java.math.BigDecimal $acc = java.math.BigDecimal.ZERO;
         |for (int $i = 0; $i < $n && !$bad; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $p = (${getter(a, i, lt)}) * (${getter(b, i, rt)});
         |  if (Double.isNaN($p) || Double.isInfinite($p)) { $bad = true; break; }
         |  double $ap = Math.abs($p);
         |  double $t = $ap * 1e14 + 0.5;
         |  double $d = $t - Math.rint($t);
         |  if (Math.abs($d) > 0.05 + $ap * 0.04) {
         |    long $k = (long) Math.floor($t);
         |    if (Math.abs($fs) > 8000000000000000000L) {
         |      $acc = $acc.add(java.math.BigDecimal.valueOf($fs, 14));
         |      $fs = 0L;
         |    }
         |    $fs += ($p < 0) ? -$k : $k;
         |  } else {
         |    java.math.BigDecimal $e = java.math.BigDecimal.valueOf($p)
         |      .setScale(14, java.math.RoundingMode.HALF_UP);
         |    if ($e.precision() > 28) { $bad = true; break; }
         |    $acc = $acc.add($e);
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.apply(
         |    $acc.add(java.math.BigDecimal.valueOf($fs, 14)), 38, 14);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DecimalDotProduct {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column-API entry point. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DecimalDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
