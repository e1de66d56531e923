package graft.plans

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Drops `repartition(1)` over a scan that already reads exactly one
  * partition.
  *
  * The CLI's producer pool is `repartition(--num.producers)`, which
  * defaults to 1, and the syslog source plans a batch of up to 65,536
  * rows as one input partition. The exchange then moves every row of a
  * micro-batch from one partition into one partition: a pure copy. Under
  * AQE (on for stateless streams) it also costs a separate shuffle-map
  * job per batch before the write job can start. Removing it leaves the
  * same rows in the same order in the same single partition.
  *
  * The rule fires only when all of these hold:
  *  - the exchange comes from `repartition(n)` (`REPARTITION_BY_NUM`),
  *    never from a join, an aggregate, `repartition(col)` or a rebalance;
  *  - it outputs exactly one partition;
  *  - its child is a DataSourceV2 scan with exactly one input partition
  *    (not zero: over an empty scan the exchange still outputs one
  *    partition, and removing it would leave none), reached only
  *    through projections and filters, which keep the partition count.
  *
  * A batch that spans two source chunks, or a pool of two producers,
  * keeps its exchange. Registered as a query-stage preparation rule in
  * [[graft.GraftExtensions]], so it runs inside AQE before stages are
  * cut.
  */
object OnePartitionRepartition extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
        e.outputPartitioning.numPartitions == 1 && readsOnePartition(e.child) =>
      e.child
  }

  private def readsOnePartition(p: SparkPlan): Boolean = p match {
    case s: DataSourceV2ScanExecBase => s.partitions.size == 1
    case p: ProjectExec => readsOnePartition(p.child)
    case f: FilterExec => readsOnePartition(f.child)
    case _ => false
  }
}
