package org.apache.spark.sql.execution

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Broadcasts of driver-held rows, built on the driver.
  *
  * A broadcast exchange collects its child through
  * `SparkPlan.executeCollectIterator`, which always runs a Spark job —
  * even over a `LocalTableScanExec`, whose rows already sit on the driver
  * (a small dimension such as the day's exchange rates handed out as a
  * local relation). This rule gives such a broadcast a scan whose
  * collect iterator is its own rows: the hashed relation is built from
  * the same rows, in the same order, and no job is launched. It runs as
  * a pre-columnar rule, so it applies with and without adaptive
  * execution (there, once per broadcast stage). `executeCollectIterator`
  * is `private[spark]`, hence the package.
  */
object DriverLocalBroadcast extends Rule[SparkPlan] {

  /** A local table scan that collects without a job; plans and explains
    * as the scan it replaces. It never equals a plain scan, or the tree
    * transform would keep the node it replaces.
    */
  class Scan(output: Seq[Attribute], rows: Seq[InternalRow],
      stream: Option[SparkDataStream])
      extends LocalTableScanExec(output, rows, stream) {
    override def nodeName: String = "LocalTableScan"
    override def canEqual(that: Any): Boolean = that.isInstanceOf[Scan]
    override def equals(that: Any): Boolean =
      that.isInstanceOf[Scan] && super.equals(that)
    override private[spark] def executeCollectIterator()
        : (Long, Iterator[InternalRow]) = {
      val collected = executeCollect()
      (collected.length.toLong, collected.iterator)
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case b @ BroadcastExchangeExec(_, l: LocalTableScanExec)
        if !l.isInstanceOf[Scan] =>
      b.withNewChildren(Seq(new Scan(l.output, l.rows, l.stream)))
  }
}

/** The columnar-rule slot [[DriverLocalBroadcast]] is injected through. */
class DriverLocalBroadcastRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = DriverLocalBroadcast
}
