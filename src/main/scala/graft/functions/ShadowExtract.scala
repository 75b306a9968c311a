package graft.functions

import graft.core.SpanKinds
import graft.engine.RuleCompiler
import graft.rules.RuleParser
import graft.spark.ExtractStep
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** SQL surface for the extraction engine (SURVEY.md §4.3):
  * `shadow_extract(spans, rules_json)` over the canonical
  * `array<struct<kind,text,media_ref,offset>>` column, returning
  * `struct<html, data_json, errors>`. The rules argument must be foldable
  * (a literal): the program is compiled once per task — reference analog:
  * ShadowApiInit::init compiles once, then streams documents
  * (shadow_api.rs:70-98). Each row runs the same decode-and-engine step
  * (`ExtractStep`) as the `ShadowExtract` plan node, so a null span or
  * field follows the decoder's null policy instead of failing the job.
  *
  * A per-row expression cannot be that plan node; it is the SQL surface.
  * Not codegen'd (CodegenFallback): the engine call dominates by orders of
  * magnitude, so the per-row boxing of a generated wrapper is noise.
  */
case class ShadowExtractExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ShadowExtractExpr.outType
  override def prettyName: String = "shadow_extract"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("shadow_extract: rules_json must be a literal")
    else if (!right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure("shadow_extract: rules_json must be a string")
    else left.dataType match {
      case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "shadow_extract: spans must be array<struct<kind,text,media_ref,offset>>")
    }
  }

  @transient private lazy val step: ExtractStep = {
    val errs = new ArrayBuffer[String]
    val rules = right.eval(null).asInstanceOf[UTF8String].toString
    val p = RuleCompiler.compile(Seq(RuleParser.parseStr(rules, errs)))
    new ExtractStep(p.copy(compileErrors = errs.toVector ++ p.compileErrors))
  }

  override def nullSafeEval(spansVal: Any, rulesVal: Any): Any = {
    val acc = step(spansVal.asInstanceOf[ArrayData])
    val html = new java.lang.StringBuilder
    var i = 0
    while (i < acc.n) {
      val kind = acc.kinds(i)
      if (kind == SpanKinds.Html || kind == SpanKinds.Data) html.append(acc.texts(i))
      i += 1
    }
    InternalRow(
      UTF8String.fromString(html.toString),
      UTF8String.fromString(acc.dataJson),
      new GenericArrayData(acc.errors.map(UTF8String.fromString).toArray[Any]))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShadowExtractExpr =
    copy(left = l, right = r)
}

object ShadowExtractExpr {
  val outType: StructType = StructType(Seq(
    StructField("html", StringType, nullable = false),
    StructField("data_json", StringType, nullable = false),
    StructField("errors", ArrayType(StringType, containsNull = false), nullable = false)))
}
