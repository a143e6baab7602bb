package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization
  * (`java.text.Normalizer`, canonical composition) of one string.
  *
  * Semantics match DuckDB's `nfc_normalize` (both implement UAX #15
  * canonical composition), which is the oracle leg for
  * `text_normalize`: decomposed sequences (`e` + U+0301) compose to
  * their precomposed forms (`é`); NFC-invariant text — all ASCII —
  * passes through unchanged.
  *
  * Why an Expression (not a UDF): this sits in the text-cleaning
  * projection ladder ahead of tokenization, the per-row scan stage a
  * 100 TB pipeline runs on everything — it must stay inside
  * whole-stage codegen with no boxing or Row round-trip. The fast
  * path short-circuits: `Normalizer.isNormalized` is O(n) with no
  * allocation, and real web corpora are overwhelmingly already-NFC,
  * so the common row costs one scan and returns the input UTF8String
  * unchanged (zero copy).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires string, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NfcNormalize {
  import org.apache.spark.sql.graft.ColumnBridge
  import java.text.Normalizer

  /** Shared kernel (interpreted + codegen): NFC-normalize one
    * UTF8String, returning the INPUT object untouched when it is
    * already normalized (the dominant case — no decode, no copy).
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** Column-API entry point. */
  def apply(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))
}
