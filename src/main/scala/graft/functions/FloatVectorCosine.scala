package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: fused cosine similarity over two
  * `array<float>` columns in one pass — dot product and both norms in
  * a single loop over primitive floats, with full whole-stage-codegen
  * support (`doGenCode` emits the loop; no boxing, no lambda
  * interpretation, no intermediate arrays).
  *
  * This is the HOT path for similarity search at scale (preference
  * order (b) of SURVEY.md §4.3 — a custom Expression where built-ins
  * are structurally slower). The decimal-exact route
  * (VectorOps.cosine) remains the oracle/correctness path: this fused
  * version sums in float order, so it is deterministic for a fixed
  * array but not bit-identical to the decimal reduction.
  *
  * Null semantics (mirroring `VectorOps.cosine`): null when either
  * input is null, lengths differ, or either vector has zero norm —
  * NaN/±Infinity never escape.
  */
case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine requires two array<float> arguments, got " +
      s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  // Non-null inputs yield null on length mismatch or a zero-norm side —
  // mirroring the decimal route (zip_with null-pads a shorter array and
  // poisons the fold; 0/0 never escapes as NaN).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if ($nx == 0.0 || $ny == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FloatVectorCosine {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column-API entry point. */
  def cosineFast(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVectorCosine(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
