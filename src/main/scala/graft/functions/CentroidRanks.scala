package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: rank all IVF centroids for one vector
  * by exact-decimal cosine, returning the `list_id`s ordered
  * (cosine DESC, list_id ASC) as `array<bigint>`.
  *
  * `element_at(ranks, 1)` is the nearest-centroid assignment;
  * `slice(ranks, 1, nprobe)` is the probe set — the two consumers in
  * ann_topk_ivf / kmeans_step.
  *
  * Semantics are bit-identical to the higher-order-function
  * formulation it replaces (`transform(cents, …dotDecimal…)` +
  * `array_sort` with a comparator lambda): per-element products in
  * IEEE double, rounded once to DECIMAL(28,14) via the same hybrid
  * scaled-long/BigDecimal HALF_UP as [[DecimalDotProduct]], summed
  * exactly, finished as double `dot / (nrm · cnorm)` — so assignments
  * (and therefore every downstream hash) are unchanged.
  *
  * Why an Expression: lambdas inside `transform`/`array_sort` are
  * interpreted per element — for assignment that is
  * nlist × dim interpreted evals per corpus row, the dominant cost of
  * the IVF family at scale. This loop runs inside WholeStageCodegen.
  *
  * Inputs: v `array<float>`, nrm `double` (precomputed vector norm),
  * cents `array<struct<list_id: bigint, centroid: array<double>,
  * cnorm: double>>` (the broadcast centroid table of
  * SimilarityQueries.ivfCentArr). Null anywhere → null; a dimension
  * mismatch or non-finite product → null (mirrors the poisoned
  * decimal fold).
  */
case class CentroidRanks(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), DoubleType,
            ArrayType(StructType(Array(
              StructField("list_id", LongType, _, _),
              StructField("centroid", ArrayType(DoubleType, _), _, _),
              StructField("cnorm", DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"centroid_ranks requires (array<float>, double, array<struct<list_id,centroid,cnorm>>), " +
        s"got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(vAny: Any, nrmAny: Any, centsAny: Any): Any = {
    val v = vAny.asInstanceOf[ArrayData]
    val nrm = nrmAny.asInstanceOf[Double]
    val cents = centsAny.asInstanceOf[ArrayData]
    val n = cents.numElements()
    val dim = v.numElements()
    val ccos = new Array[Double](n)
    val ids = new Array[Long](n)
    var j = 0
    while (j < n) {
      val c = cents.getStruct(j, 3)
      ids(j) = c.getLong(0)
      val cent = c.getArray(1)
      if (cent.numElements() != dim) return null
      var fastSum = 0L
      var slowAcc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < dim) {
        val p = v.getFloat(i).toDouble * cent.getDouble(i)
        if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) return null
        val ap = Math.abs(p)
        val t = ap * 1e14 + 0.5
        val d = t - Math.rint(t)
        if (Math.abs(d) > 0.05 + ap * 0.04) {
          val k = Math.floor(t).toLong
          if (Math.abs(fastSum) > 8000000000000000000L) {
            slowAcc = slowAcc.add(java.math.BigDecimal.valueOf(fastSum, 14))
            fastSum = 0L
          }
          fastSum += (if (p < 0) -k else k)
        } else {
          // Same DECIMAL(28,14) overflow contract as DecimalDotProduct:
          // a rounded product beyond precision 28 poisons the fold.
          val e = java.math.BigDecimal.valueOf(p)
            .setScale(14, java.math.RoundingMode.HALF_UP)
          if (e.precision > 28) return null
          slowAcc = slowAcc.add(e)
        }
        i += 1
      }
      val dot = slowAcc.add(java.math.BigDecimal.valueOf(fastSum, 14)).doubleValue()
      ccos(j) = dot / (nrm * c.getDouble(2))
      j += 1
    }
    // insertion sort: ccos desc, list_id asc (n = nlist, ~10)
    var a = 1
    while (a < n) {
      val cc = ccos(a); val id = ids(a)
      var b = a - 1
      while (b >= 0 && (ccos(b) < cc || (ccos(b) == cc && ids(b) > id))) {
        ccos(b + 1) = ccos(b); ids(b + 1) = ids(b); b -= 1
      }
      ccos(b + 1) = cc; ids(b + 1) = id
      a += 1
    }
    UnsafeArrayData.fromPrimitiveArray(ids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm, cents) => {
      val n = ctx.freshName("n")
      val dim = ctx.freshName("dim")
      val ccos = ctx.freshName("ccos")
      val ids = ctx.freshName("ids")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val fs = ctx.freshName("fastSum")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      val ap = ctx.freshName("ap")
      val t = ctx.freshName("t")
      val d = ctx.freshName("d")
      val k = ctx.freshName("k")
      val e = ctx.freshName("e")
      val bad = ctx.freshName("bad")
      val aIdx = ctx.freshName("a")
      val bIdx = ctx.freshName("b")
      val cc = ctx.freshName("cc")
      val id = ctx.freshName("id")
      s"""
         |int $n = $cents.numElements();
         |int $dim = $v.numElements();
         |double[] $ccos = new double[$n];
         |long[] $ids = new long[$n];
         |boolean $bad = false;
         |for (int $j = 0; $j < $n && !$bad; $j++) {
         |  InternalRow $c = $cents.getStruct($j, 3);
         |  $ids[$j] = $c.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cent = $c.getArray(1);
         |  if ($cent.numElements() != $dim) { $bad = true; break; }
         |  long $fs = 0L;
         |  java.math.BigDecimal $acc = java.math.BigDecimal.ZERO;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    double $p = ((double) $v.getFloat($i)) * $cent.getDouble($i);
         |    if (Double.isNaN($p) || Double.isInfinite($p)) { $bad = true; break; }
         |    double $ap = Math.abs($p);
         |    double $t = $ap * 1e14 + 0.5;
         |    double $d = $t - Math.rint($t);
         |    if (Math.abs($d) > 0.05 + $ap * 0.04) {
         |      long $k = (long) Math.floor($t);
         |      if (Math.abs($fs) > 8000000000000000000L) {
         |        $acc = $acc.add(java.math.BigDecimal.valueOf($fs, 14));
         |        $fs = 0L;
         |      }
         |      $fs += ($p < 0) ? -$k : $k;
         |    } else {
         |      java.math.BigDecimal $e = java.math.BigDecimal.valueOf($p)
         |        .setScale(14, java.math.RoundingMode.HALF_UP);
         |      if ($e.precision() > 28) { $bad = true; break; }
         |      $acc = $acc.add($e);
         |    }
         |  }
         |  if (!$bad) {
         |    $ccos[$j] = $acc.add(java.math.BigDecimal.valueOf($fs, 14)).doubleValue()
         |      / ($nrm * $c.getDouble(2));
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $aIdx = 1; $aIdx < $n; $aIdx++) {
         |    double $cc = $ccos[$aIdx]; long $id = $ids[$aIdx];
         |    int $bIdx = $aIdx - 1;
         |    while ($bIdx >= 0 && ($ccos[$bIdx] < $cc ||
         |           ($ccos[$bIdx] == $cc && $ids[$bIdx] > $id))) {
         |      $ccos[$bIdx + 1] = $ccos[$bIdx]; $ids[$bIdx + 1] = $ids[$bIdx]; $bIdx--;
         |    }
         |    $ccos[$bIdx + 1] = $cc; $ids[$bIdx + 1] = $id;
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($ids);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object CentroidRanks {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column-API entry point. */
  def apply(v: Column, nrm: Column, cents: Column): Column =
    ColumnBridge.column(CentroidRanks(
      ColumnBridge.expression(v), ColumnBridge.expression(nrm),
      ColumnBridge.expression(cents)))
}
