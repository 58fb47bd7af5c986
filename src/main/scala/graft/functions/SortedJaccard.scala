package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The input check and the two-pointer merge both sorted-array
  * expressions below share. The merge serves interpreted and generated
  * code alike (generated code calls it by [[Ref]]).
  */
object SortedLongMerge {

  /** Fully qualified name generated code calls [[intersection]] by. */
  val Ref: String = getClass.getName.stripSuffix("$")

  /** Both inputs must be array<bigint>; `name` labels the failure. */
  def checkInputs(name: String, l: DataType, r: DataType): TypeCheckResult =
    (l, r) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$name requires array<bigint> inputs, got $l / $r")
    }

  /** |xs ∩ ys| for two ascending arrays of distinct longs. */
  def intersection(xs: ArrayData, ys: ArrayData): Int = {
    val na = xs.numElements()
    val nb = ys.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = xs.getLong(i)
      val y = ys.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }
}

/** Jaccard similarity of two SORTED-DISTINCT long arrays via a linear
  * merge — the codegen'd fast path of the dedup verification joins.
  *
  * Contract: both inputs are ascending-sorted arrays of distinct longs
  * (e.g. `sort_array(collect_set(xxhash64(gram)))`). Intersection is then
  * a two-pointer merge: no per-pair hash sets, no string comparisons, and
  * gram payloads cross the shuffle as 8-byte longs instead of text.
  * Values equal [[JaccardSim]] over the original string sets whenever the
  * 64-bit gram hash is collision-free (P ≈ |G|²·2⁻⁶⁴ per doc).
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    SortedLongMerge.checkInputs(prettyName, left.dataType, right.dataType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val inter = SortedLongMerge.intersection(xs, ys)
    val union = xs.numElements() + ys.numElements() - inter
    if (union == 0) null else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
      s"""
         |int $inter = ${SortedLongMerge.Ref}.intersection($a, $b);
         |int $union = $a.numElements() + $b.numElements() - $inter;
         |if ($union == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = (double) $inter / $union; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongJaccard =
    copy(left = newLeft, right = newRight)
}

object SortedLongJaccard {
  def apply(a: Column, b: Column): Column =
    GraftBridge.toColumn(
      SortedLongJaccard(GraftBridge.toExpression(a), GraftBridge.toExpression(b)))
}

/** Intersection CARDINALITY of two sorted-distinct long arrays (same
  * contract and merge loop as [[SortedLongJaccard]]) — the building block
  * for asymmetric set scores (containment |A∩B|/|A|) where the caller
  * supplies its own denominator.
  */
case class SortedLongOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    SortedLongMerge.checkInputs(prettyName, left.dataType, right.dataType)

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedLongMerge.intersection(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]).toLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"(long) ${SortedLongMerge.Ref}.intersection($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongOverlap =
    copy(left = newLeft, right = newRight)
}

object SortedLongOverlap {
  def apply(a: Column, b: Column): Column =
    GraftBridge.toColumn(
      SortedLongOverlap(GraftBridge.toExpression(a), GraftBridge.toExpression(b)))
}
