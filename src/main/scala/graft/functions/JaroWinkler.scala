package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro-Winkler similarity — the
  * record-linkage scorer Spark lacks as a built-in (it ships
  * `levenshtein` only). Semantics are the textbook Winkler variant,
  * verified case-for-case against DuckDB's `jaro_winkler_similarity`
  * (the oracle): match window `max(|a|,|b|)/2 − 1`, greedy first-free
  * matching, transpositions = out-of-order matches / 2, prefix boost
  * `j + ℓ·0.1·(1−j)` for the common prefix ℓ ≤ 4 applied when
  * `j > 0.7`, equal strings → 1, either empty → 0.
  *
  * Why an Expression: the per-pair loop is O(|a|·window) primitive
  * char ops; as a codegen'd static call it stays inside the
  * whole-stage span of the blocking join that feeds it (a Scala UDF
  * would box both strings and break the span). Comparison is by
  * UTF-16 code unit, which coincides with DuckDB's byte comparison on
  * ASCII (the corpus domain; supplementary-plane input would diverge
  * — documented, not oracle-visible).
  *
  * Null semantics: any null input → null.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires (string, string), got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaroWinkler {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Static kernel shared by eval and codegen. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val s1 = ua.toString
    val s2 = ub.toString
    if (s1 == s2) return 1.0
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val trans = t / 2
    val m = matches.toDouble
    val j = (m / l1 + m / l2 + (m - trans) / m) / 3.0
    if (j > 0.7) {
      var l = 0
      val maxL = math.min(4, math.min(l1, l2))
      while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }
}
