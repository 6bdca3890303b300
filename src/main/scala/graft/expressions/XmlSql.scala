package graft.expressions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{Flattener, LambdaTransform, Tokenizer}
import graft.xml.XmlShapeException

/** SQL front door for the XML path (reference dispatch:
  * file_flattener.py:156) — `spark.sql` users get the same tokenizer
  * and flatteners the Scala API composes:
  *
  * {{{
  * SELECT m['vehicleIdentifier']
  * FROM raw
  * LATERAL VIEW explode(graft_tokenize(content, '</NS1:message>')) t AS doc
  * LATERAL VIEW explode(graft_flatten(doc, 'ACOUSTIC')) f AS m
  * }}}
  *
  * Both generate code as one static kernel call (`defineCodeGen`), the
  * same shape as the hash/vector expressions: the XML parsing itself is
  * allocation-dominated and gains nothing from inlining, but staying
  * codegen-able keeps the SURROUNDING stage in whole-stage codegen and
  * skips the per-row interpreted-eval boxing a `CodegenFallback` would
  * pay at the dispatch site. Pinned in PlanAuditSpec.
  */

/** `graft_tokenize(content, endTag)` → ARRAY<STRING> of standalone,
  * re-terminated XML fragments; whitespace-only fragments are dropped
  * (U1/P1, reference file_flattener.py:47-55). Same core as
  * [[graft.operators.Tokenizer.tokenizeString]]. */
case class GraftTokenize(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokenize"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override protected def nullSafeEval(content: Any, endTag: Any): Any =
    GraftTokenize.kernel(
      content.asInstanceOf[UTF8String], endTag.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, e) => s"graft.expressions.GraftTokenize.kernel($c, $e)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftTokenize =
    copy(left = newLeft, right = newRight)
}

object GraftTokenize {
  /** Static kernel shared by eval and generated code. */
  def kernel(content: UTF8String, endTag: UTF8String): GenericArrayData = {
    val frags = Tokenizer.tokenizeString(content.toString, endTag.toString)
    new GenericArrayData(frags.map(UTF8String.fromString).toArray[Any])
  }
}

/** `graft_flatten(xml, readingType)` → ARRAY<MAP<STRING,STRING>>: one
  * map per flattened row, dispatching per row on readingType exactly
  * like the reference (signals → one row; vehicleComponent → one row
  * per component node). Strict mode: a grammar violation fails the
  * query (E6) — quarantine flows use the Scala-side flattenSafe. */
case class GraftFlatten(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(MapType(StringType, StringType, valueContainsNull = true), containsNull = false)
  override def prettyName: String = "graft_flatten"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override protected def nullSafeEval(xml: Any, readingType: Any): Any =
    GraftFlatten.kernel(
      xml.asInstanceOf[UTF8String], readingType.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, rt) => s"graft.expressions.GraftFlatten.kernel($x, $rt)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftFlatten =
    copy(left = newLeft, right = newRight)
}

object GraftFlatten {
  /** Static kernel shared by eval and generated code. */
  def kernel(xml: UTF8String, readingType: UTF8String): GenericArrayData = {
    val flattener = Flattener.forReadingType(readingType.toString)
    val rows = flattener.flatten(xml.toString)
    new GenericArrayData(rows.map { m =>
      val keys = new GenericArrayData(m.keysIterator.map(UTF8String.fromString).toArray[Any])
      val values = new GenericArrayData(m.valuesIterator
        .map(v => if (v == null) null else UTF8String.fromString(v)).toArray[Any])
      new ArrayBasedMapData(keys, values): Any
    }.toArray[Any])
  }
}

/** `LambdaRecord(unbase64(data))` → the lambda's declared record as one
  * STRUCT of [[graft.operators.LambdaTransform.Columns]] strings: the
  * Firehose-lambda parse ([[graft.operators.LambdaTransform]]) as a
  * codegen-able expression, so `transform` plans as one `Project` over
  * the source instead of a typed `mapPartitions` round trip. The input
  * is the decoded record body (UTF-8 XML bytes). Strict like the
  * reference: a contract violation, or a null body, fails the query. */
case class LambdaRecord(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LambdaRecord.Type
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lambda_record"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${child.dataType.simpleString}")

  override def eval(input: InternalRow): Any =
    LambdaRecord.kernel(child.eval(input).asInstanceOf[Array[Byte]])

  // a null body reaches the kernel (and fails there) instead of
  // short-circuiting to a null record, so no null-safe template
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.expressions.LambdaRecord.kernel(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LambdaRecord =
    copy(child = newChild)
}

object LambdaRecord {
  val Type: StructType = StructType(LambdaTransform.Columns.map(
    StructField(_, StringType, nullable = true)))

  /** Static kernel shared by eval and generated code. */
  def kernel(data: Array[Byte]): InternalRow = {
    if (data == null) throw new XmlShapeException("missing record data")
    val out = new Array[Any](LambdaTransform.Columns.length)
    LambdaTransform.parseXmlInto(new String(data, StandardCharsets.UTF_8), out)
    new GenericInternalRow(out)
  }
}
