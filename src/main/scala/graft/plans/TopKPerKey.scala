package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension: per-key top-k as a first-class plan node.
  *
  * The built-in formulation — `row_number() OVER (PARTITION BY k ORDER BY
  * o) <= n` — fully sorts every key group. This operator keeps a bounded
  * heap per key instead: O(n log k) with k rows of state per key, which
  * at 100 TB is the difference between a sort of everything and a single
  * streaming pass. The exec requires `ClusteredDistribution(keys)`, so
  * Spark plans exactly one shuffle on the keys (same as the window), and
  * the heap replaces the per-partition sort.
  *
  * Registered through `SparkSessionExtensions.injectPlannerStrategy`
  * (see [[GraftExtensions]]); user API: [[TopKPerKey.apply]].
  */
final case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val rowOrdering = new LazilyGeneratedOrdering(sortOrder, schema)
      // max-heap on the ordering: the root is the WORST of the current
      // top-k, evicted when a better row arrives
      val heapOrd = rowOrdering.reverse.asInstanceOf[Ordering[UnsafeRow]]
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      it.foreach { row =>
        val u = row.asInstanceOf[UnsafeRow]
        val key = keyProj(u)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](limit + 1, heapOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(u.copy())
        else if (rowOrdering.compare(u, heap.peek()) < 0) {
          heap.poll()
          heap.add(u.copy())
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
      heaps.values().forEach { h =>
        // drain each heap to emit rows in ascending order per key
        val rows = new Array[UnsafeRow](h.size())
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 }
        out ++= rows
      }
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Top `k` rows per key group. `orderBy` entries are
    * (columnName, ascending). Attributes are resolved against the input's
    * analyzed schema directly — the custom node enters the plan fully
    * resolved.
    */
  def apply(df: DataFrame, keyNames: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val lp = GraftBridge.analyzedPlan(df)
    def attr(name: String): Attribute =
      lp.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${lp.output.map(_.name).mkString(", ")}"))
    val keyExprs = keyNames.map(attr)
    val sortOrder = orderBy.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    GraftBridge.ofRows(df.sparkSession, TopKPerKeyPlan(keyExprs, sortOrder, k, lp))
  }
}
