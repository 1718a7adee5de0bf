package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.stages.Models

/** The model-feature pass (language ID + LM-ensemble perplexity) as one
  * native codegen'd expression probing the pinned broadcast model tables.
  *
  * The previous form was a fused Scala UDF: correct, but every row crossed
  * the UDF codec twice — UTF8String → String on the way in (unavoidable:
  * the tokenizers are char-level) plus a boxed `(String, Double,
  * Array[Double])` → Catalyst struct conversion on the way out (a
  * CatalystTypeConverter walk, a GenericArrayData, and a boxed Double per
  * ensemble member per row). This expression writes the result struct
  * directly as an InternalRow of unboxed doubles, keeps the whole feature
  * stage inside whole-stage codegen, and reuses interned UTF8String
  * language labels (the label set is the model's fixed language list).
  *
  * Broadcast pinning: TorrentBroadcast caches its deserialized value behind
  * a soft reference; under heap pressure every `bc.value` re-enters the
  * BlockManager whose lock serializes all task threads (measured in round 3:
  * a 32-thread futex storm capping scaling at ~0.48). The `@transient lazy
  * val` below re-resolves once per deserialized task closure and holds a
  * STRONG reference for the task's lifetime.
  *
  * Reference analog: the first-guess fields are loaded once and consulted
  * row-locally by every check (/root/reference/functions/IO/read_fgs.r:
  * 10-113, sct_fg_resistant.r:197,227-267).
  *
  * Null contract: callers coalesce null text to "" (detect("") and an empty
  * token stream reproduce the UDF's null-input behavior exactly); a null
  * child still yields a null struct via the UnaryExpression default.
  */
case class ModelFeaturesExpr(child: Expression, bc: Broadcast[Models], nMembers: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"model_features requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = StructType(
    StructField("det_lang", StringType, nullable = false) +:
      StructField("det_conf", DoubleType, nullable = false) +:
      (0 until nMembers).map(i => StructField(s"ppl$i", DoubleType, nullable = false)))

  override def prettyName: String = "model_features"

  override protected def withNewChildInternal(newChild: Expression): ModelFeaturesExpr =
    copy(child = newChild)

  // Strong per-task pin of the broadcast value (see scaladoc). The lms Seq
  // is flattened to an array once so the per-row member loop is an array
  // walk, and the fixed language-label set is interned as UTF8String so no
  // row allocates label bytes (struct writers copy them into the UnsafeRow).
  @transient private lazy val pinned: Models = bc.value
  @transient private lazy val lmArr: Array[graft.ml.NgramLMModel] = pinned.lms.toArray
  @transient private lazy val langUtf8: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]()
    (pinned.langId.profiles.keysIterator ++ Iterator("und")).foreach { l =>
      m.put(l, UTF8String.fromString(l))
    }
    m
  }

  def compute(s: UTF8String): InternalRow = {
    val t = s.toString
    val det = pinned.langId.detect(t)
    val toks = graft.ml.NgramLM.tokenHashes(t)
    val row = new GenericInternalRow(2 + nMembers)
    val lbl = langUtf8.get(det._1)
    row.update(0, if (lbl != null) lbl else UTF8String.fromString(det._1))
    row.setDouble(1, det._2)
    val arr = lmArr
    var i = 0
    while (i < arr.length) {
      row.setDouble(2 + i, arr(i).logPerplexityTokens(toks))
      i += 1
    }
    row
  }

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the reference object is this expression instance: its transient lazy
    // pin re-resolves once per deserialized task closure on the executor
    val ref = ctx.addReferenceObj("modelFeat", this, classOf[ModelFeaturesExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (InternalRow) $ref.compute($c);")
  }
}
