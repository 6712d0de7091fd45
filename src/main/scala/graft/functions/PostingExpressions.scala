package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `term_postings(tokens: array<string>)`: one doc's posting entries,
  * `array<struct<term, tf, positions>>`, one per distinct token in
  * first-occurrence order: its occurrence count and its ascending
  * 0-based offsets. Over one row per doc this is exactly what a
  * `groupBy(term, doc)` of the posexploded tokens gives (a null token
  * is one term, as it is one group key), without the shuffle. Null for
  * a null array. Interpreted: one hash pass per doc. */
case class TermPostingsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName: expects array<string>")
  }

  override def dataType: DataType = TermPostingsExpr.Type
  override def prettyName: String = "term_postings"

  override def nullSafeEval(in: Any): Any = {
    val toks = in.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val slot = new java.util.HashMap[UTF8String, Integer]()
    val terms = new Array[UTF8String](n)
    val counts = new Array[Int](n)
    val slotOf = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < n) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val s = slot.get(t)
      val j = if (s != null) s.intValue() else {
        // the key outlives the input row's buffer
        val own = if (t == null) null else t.clone()
        slot.put(own, k); terms(k) = own; k += 1; k - 1
      }
      counts(j) += 1; slotOf(i) = j; i += 1
    }
    val positions = Array.tabulate(k)(j => new Array[Int](counts(j)))
    val filled = new Array[Int](k)
    i = 0
    while (i < n) {
      val j = slotOf(i)
      positions(j)(filled(j)) = i; filled(j) += 1; i += 1
    }
    new GenericArrayData(Array.tabulate[Any](k)(j => InternalRow(
      terms(j), counts(j).toLong, new GenericArrayData(positions(j)))))
  }

  override protected def withNewChildInternal(newChild: Expression): TermPostingsExpr =
    copy(child = newChild)
}

object TermPostingsExpr {
  val Type: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType),
    StructField("tf", LongType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false), nullable = false))),
    containsNull = false)

  def apply(tokens: Column): Column =
    GraftBridge.column(TermPostingsExpr(GraftBridge.expression(tokens)))
}
