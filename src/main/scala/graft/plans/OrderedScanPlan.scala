package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{ExplainUtils, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** A per-key ordered recurrence run by [[OrderedScanExec]]: one
  * [[ScanStep]] per task, reset at every key boundary and fed that
  * key's rows in order.
  */
trait ScanKernel extends Serializable {
  /** A fresh scanner over rows laid out as `input`; it emits rows in
    * the layout of the node's `output`.
    */
  def open(input: Seq[Attribute]): ScanStep
}

abstract class ScanStep {
  /** The next row starts a new key. */
  def reset(): Unit

  /** Consumes the next row of the current key. Returns the row to emit
    * (read before the next call, so a reused buffer is fine) or null.
    */
  def step(row: InternalRow): InternalRow
}

/** Ordered per-key scan: LogicalPlan + Strategy + physical pass.
  *
  * The node declares `ClusteredDistribution(keys)` and `keys ++ order`
  * ascending ordering, so EnsureRequirements plans exactly one hash
  * exchange and one sort (and elides them on an input already
  * partitioned and sorted that way), the same contract as
  * [[AsofJoinExec]] and [[CellScoreExec]]. The kernel then streams
  * each key through O(kernel) state; there is no Dataset or RDD
  * boundary, so the whole pipeline stays one lazy plan, visible in
  * `explain()`, with the scan's own SQLMetrics.
  *
  * `output` may reuse child attributes (columns the kernel passes
  * through) next to new ones; every child column is read, so column
  * pruning stops at the node: project the child to what the kernel
  * needs before building it.
  */
case class OrderedScanPlan(
    child: LogicalPlan,
    keys: Seq[Expression],
    order: Seq[Expression],
    kernel: ScanKernel,
    output: Seq[Attribute],
) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output) -- child.outputSet
  override def references: AttributeSet = child.outputSet
  override lazy val resolved: Boolean = childrenResolved
  override protected def withNewChildInternal(c: LogicalPlan): OrderedScanPlan = copy(child = c)
}

object OrderedScanStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OrderedScanPlan(child, keys, order, kernel, output) =>
      OrderedScanExec(planLater(child), keys, order, kernel, output) :: Nil
    case _ => Nil
  }
}

object OrderedScan {
  /** `kernel` over `df`, per `keys` in `order`, as a lazy DataFrame;
    * `output(child)` lays out its rows from the child's attributes.
    */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[String], kernel: ScanKernel)(
      output: Seq[Attribute] => Seq[Attribute]): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val child = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      child.output.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"column $name not in ${child.output.map(_.name)}"))
    val node = OrderedScanPlan(child, keys.map(attr), order.map(attr), kernel, output(child.output))
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, node)
  }

  private def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(OrderedScanStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ OrderedScanStrategy
    }
}

case class OrderedScanExec(
    child: SparkPlan,
    keys: Seq[Expression],
    order: Seq[Expression],
    kernel: ScanKernel,
    output: Seq[Attribute],
) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"),
  )

  override def producedAttributes: AttributeSet = AttributeSet(output) -- child.outputSet

  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keys ++ order).map(SortOrder(_, Ascending)))

  // formatted explain lists the scan's metrics with their values
  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |Kernel: $kernel
       |${ExplainUtils.generateFieldString("Keys", keys)}
       |${ExplainUtils.generateFieldString("Order", order)}
       |${ExplainUtils.generateFieldString("Output", output)}
       |Metrics: ${metrics.toSeq.sortBy(_._1).map { case (k, m) => s"$k=${m.value}" }.mkString(", ")}
       |""".stripMargin

  override protected def doExecute(): RDD[InternalRow] = {
    val inputAttrs = child.output
    val outputAttrs = output
    val keyExprs = keys
    val k = kernel
    val numIn = longMetric("numInputRows")
    val numOut = longMetric("numOutputRows")
    val kernelTime = longMetric("kernelTime")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, inputAttrs)
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val scan = k.open(inputAttrs)
      new Iterator[InternalRow] {
        private var curKey: UnsafeRow = null
        private var pending: InternalRow = null

        override def hasNext: Boolean = {
          while (pending == null && it.hasNext) {
            val row = it.next()
            numIn += 1
            val key = keyProj(row)
            val t0 = System.nanoTime()
            if (curKey == null || key != curKey) {
              curKey = key.copy()
              scan.reset()
            }
            val out = scan.step(row)
            if (out != null) pending = resultProj(out)
            kernelTime += System.nanoTime() - t0
          }
          pending != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          numOut += 1
          r
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): OrderedScanExec = copy(child = c)
}
