package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Set kernels over the hashed shingle sets of near-dup verification
  * ([[graft.operators.DedupApprox]]). Like [[VectorKernels]], they read
  * `ArrayData` directly: no boxing, no encoder round-trip. */
object SetKernels {

  /** |A ∩ B| / |A ∪ B| of two ascending, duplicate-free arrays of
    * non-null longs, by one merge pass: the intersection is counted,
    * the union is |A| + |B| − ∩. Null when both are empty (0/0 is
    * undefined; the DuckDB oracle's 0.0/0 is NULL too). The division is
    * the one `array_intersect`/`array_union` sizes gave (double over
    * int-as-double), so the result is bit-identical. */
  def sortedJaccard(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) null else java.lang.Double.valueOf(inter.toDouble / union)
  }

  /** True when `a` and `b` hold the same non-null value at some
    * position below `band`. */
  def collideBelow(a: ArrayData, b: ArrayData, band: Int): Boolean = {
    var j = 0
    while (j < band) {
      if (!a.isNullAt(j) && !b.isNullAt(j) && a.getLong(j) == b.getLong(j)) return true
      j += 1
    }
    false
  }
}

/** `sorted_jaccard(array<bigint>, array<bigint>) -> double`: exact
  * Jaccard of two sorted, duplicate-free hash sets
  * ([[SetKernels.sortedJaccard]]), null for empty-vs-empty. */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName: both sides must be array<bigint>")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    SetKernels.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("jac")
      s"""
         |java.lang.Double $tmp = graft.functions.SetKernels.sortedJaccard($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SortedJaccardExpr =
    copy(left = newLeft, right = newRight)
}

object SortedJaccardExpr {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(
      SortedJaccardExpr(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** `first_band_pairs(band, members)`: the member pairs of one LSH
  * bucket that this bucket's band is the LOWEST band they share. Each
  * member is `struct<id, bh: array<bigint>>`, `bh` the member's band
  * hashes with a null wherever its bucket was capped. A pair whose
  * hashes agree (non-null) at some lower band is emitted by that
  * band's bucket instead, so over all buckets each colliding pair comes
  * out exactly once. Output: `array<struct<a, b>>` of ids in member
  * order. Interpreted: one tight loop per bucket. */
case class FirstBandPairsExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  private def idType: DataType = right.dataType match {
    case ArrayType(s: StructType, _) => s.fields(0).dataType
    case _ => LongType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(StructType(Array(_, StructField(_, ArrayType(LongType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (int, array<struct<id, array<bigint>>>)")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", idType), StructField("b", idType))), containsNull = false)
  override def prettyName: String = "first_band_pairs"

  override def nullSafeEval(band: Any, members: Any): Any = {
    val k = band.asInstanceOf[Int]
    val ms = members.asInstanceOf[ArrayData]
    val n = ms.numElements()
    val rows = Array.tabulate(n)(i => ms.getStruct(i, 2))
    val bhs = rows.map(_.getArray(1))
    val t = idType
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (!SetKernels.collideBelow(bhs(i), bhs(j), k))
          out += InternalRow(rows(i).get(0, t), rows(j).get(0, t))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FirstBandPairsExpr =
    copy(left = newLeft, right = newRight)
}

object FirstBandPairsExpr {
  def apply(band: Column, members: Column): Column =
    GraftBridge.column(
      FirstBandPairsExpr(GraftBridge.expression(band), GraftBridge.expression(members)))
}
