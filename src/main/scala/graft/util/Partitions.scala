package graft.util

import org.apache.spark.sql.DataFrame

/** Partition-shape guards shared across operators. */
object Partitions {

  /** Decouple a per-row-heavy pipeline's parallelism from the INPUT's file
    * layout: a one-file (or otherwise narrower-than-core-count) table scans
    * as fewer partitions than cores, and any per-row-expensive consumer —
    * a broadcast cross-join argmin, an M×K posexplode fanout, a banded LSH
    * self-join — then serializes onto a handful of tasks no matter how many
    * executors exist. Caught three separate times on the 100×-sf0.1 rungs
    * (r17 cosineJoinLsh: 35+ min in one task; r18 AnnIndex.buildWith: 625M
    * dot products in one SortAggregate task; r18 ProductQuantizer.explodeSub:
    * a 5B-row explode in one codegen task).
    *
    * Widens ONLY when the scan is narrower than `defaultParallelism`, so
    * real multi-split inputs (any 100 TB table) never pay a gratuitous
    * corpus-wide shuffle. Costs one cheap `rdd.getNumPartitions` plan
    * materialization — call it once per pipeline, on the pruned/projected
    * frame that feeds the heavy consumer.
    */
  def widenNarrowScan(df: DataFrame): DataFrame = {
    // Streaming frames pass through untouched: the partition probe (`.rdd`)
    // is illegal on a streaming plan, and a micro-batch's parallelism is set
    // by the source's offset planning, not by at-rest file layout — an
    // unconditional repartition would shuffle every micro-batch even when
    // the source already feeds all cores.
    if (df.isStreaming) return df
    // rows already on the driver are not a file layout: a projection over
    // them is evaluated where they are
    if (df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
