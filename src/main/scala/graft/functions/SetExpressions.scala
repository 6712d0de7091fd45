package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression,
  InterpretedUnsafeProjection, UnsafeProjection, UnsafeRow}
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

/** The shingle sets an LSH bucket verifies against, by doc id: each id's
  * sets, one per input row that carries it (sorted, duplicate-free, as
  * [[SetKernels.sortedJaccard]] reads them). Ids are keyed by their
  * binary row form, so an id of any type looks up by value. Built on
  * the driver and shipped as a broadcast; the broadcast value is shared
  * by a JVM's tasks, so each caller looks up through a key projection
  * of its own ([[keys]]). */
final class ShingleTable private (idType: DataType,
                                  sets: java.util.HashMap[UnsafeRow, Array[ArrayData]])
    extends Serializable {

  /** A fresh key projection: field 0 of a row → its lookup key. Not
    * thread-safe (it reuses its output row). */
  def keys(): UnsafeProjection = ShingleTable.keyProjection(idType)

  /** The sets of a key from [[keys]] (none for an unknown id). */
  def setsOf(key: UnsafeRow): Array[ArrayData] = {
    val s = sets.get(key)
    if (s == null) Array.empty else s
  }
}

object ShingleTable {
  private def keyProjection(idType: DataType): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(
      Seq(BoundReference(0, idType, nullable = false)))

  /** The table of `(id, sh: array<bigint>)` rows in their internal
    * form, as a plan's `executeCollect` returns them (so no shingle is
    * boxed on the way). */
  def apply(idType: DataType, rows: Array[InternalRow]): ShingleTable = {
    val key = keyProjection(idType)
    val sets = new java.util.HashMap[UnsafeRow, Array[ArrayData]]
    rows.foreach { r =>
      val k = key(r).copy()
      val sh = r.getArray(1)
      val prev = sets.get(k)
      sets.put(k, if (prev == null) Array(sh) else prev :+ sh)
    }
    new ShingleTable(idType, sets)
  }

  /** The highest Jaccard over the two ids' row pairs, NaN when no pair
    * has one (only empty sets on both sides). */
  def bestJaccard(a: Array[ArrayData], b: Array[ArrayData]): Double = {
    var best = Double.NaN
    for (x <- a; y <- b) {
      val j = SetKernels.sortedJaccard(x, y)
      if (j != null && (best.isNaN || j > best)) best = j
    }
    best
  }
}

/** `spanning_edges(band, members)`: a spanning forest of one LSH
  * bucket's verified pairs. Members are [[FirstBandPairsExpr]]'s
  * `struct<id, bh>`, ascending by id. A union-find over the members
  * walks their pairs in id order and skips a pair whose hashes agree at
  * a lower band (that band's bucket settles it) or whose ends it has
  * already connected; any other pair is Jaccard-verified against
  * `table`, and one that reaches `threshold` is united and emitted. So
  * the edges connect exactly what the bucket's verified pairs connect,
  * a bucket of k docs emits at most k − 1 of them, and one whose
  * smallest id matches every other member verifies k − 1 pairs, not
  * k(k − 1)/2. Output: `array<struct<a, b, jaccard>>`, a < b.
  * Interpreted: one loop per bucket. */
case class SpanningEdgesExpr(left: Expression, right: Expression,
                             table: Broadcast[ShingleTable], threshold: Double)
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

  override def dataType: DataType = ArrayType(StructType(Seq(StructField("a", idType),
    StructField("b", idType), StructField("jaccard", DoubleType))), containsNull = false)
  override def prettyName: String = "spanning_edges"

  override def nullSafeEval(band: Any, members: Any): Any = {
    val k = band.asInstanceOf[Int]
    val ms = members.asInstanceOf[ArrayData]
    val n = ms.numElements()
    val rows = Array.tabulate(n)(i => ms.getStruct(i, 2))
    val bhs = rows.map(_.getArray(1))
    val tab = table.value
    val key = tab.keys()
    val sets = rows.map(r => tab.setsOf(key(r)))
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    val t = idType
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val ri = find(i); val rj = find(j)
        if (ri != rj && !SetKernels.collideBelow(bhs(i), bhs(j), k)) {
          val jac = ShingleTable.bestJaccard(sets(i), sets(j))
          if (jac >= threshold) {
            parent(math.max(ri, rj)) = math.min(ri, rj)
            out += InternalRow(rows(i).get(0, t), rows(j).get(0, t), jac)
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SpanningEdgesExpr =
    copy(left = newLeft, right = newRight)
}

object SpanningEdgesExpr {
  def apply(band: Column, members: Column, table: Broadcast[ShingleTable],
            threshold: Double): Column =
    GraftBridge.column(SpanningEdgesExpr(GraftBridge.expression(band),
      GraftBridge.expression(members), table, threshold))
}
