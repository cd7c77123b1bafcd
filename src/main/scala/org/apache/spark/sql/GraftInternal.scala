package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, SparkSession => ClassicSparkSession}

/** Zero-copy escape hatch: run an Iterator[InternalRow] transform over a
  * DataFrame's Tungsten rows WITHOUT the Row-encoder boundary.
  *
  * Why it exists: `df.mapPartitions` deserializes every UnsafeRow into a
  * boxed GenericRow (one object + one box per field + decoded strings).
  * For a row-identity transform like adjacent-duplicate dropping that
  * allocation is the entire cost — at 32 threads the garbage rate inverts
  * scaling (measured: the fused dedup+write stage got SLOWER from 8→32
  * threads). Operating on UnsafeRows directly keeps the hot loop at two
  * pointer reads (getLong) and an occasional byte-compare.
  *
  * Contract for `f`: input rows may share a mutable buffer — `.copy()`
  * anything retained across `next()` calls; emitted rows may be reused
  * immediately by the consumer, which is fine for every Spark sink (they
  * copy on retention).
  */
object GraftInternal {
  def mapPartitionsUnsafe(df: DataFrame,
                          f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val spark = classic.sparkSession.asInstanceOf[ClassicSparkSession]
    spark.internalCreateDataFrame(
      classic.queryExecution.toRdd.mapPartitions(f), classic.schema)
  }

  /** Eager local checkpoint that ALSO returns aggregates of the
    * checkpointed rows, computed by the same materialization job.
    * Fixpoint loops (label propagation, k-core peeling, BFS, closure
    * doubling) need one convergence number per round — a row count, a
    * count of changed rows, a checksum — and paying a separate action for
    * it on top of the checkpoint doubles the per-round driver actions
    * (optimization guide §1.2).
    *
    * `aggs` are plain SQL aggregates (`count(lit(1))`,
    * `count_if(col("component") =!= col("prev"))`,
    * `sum(col("component").cast("decimal(38,0)"))`), returned in order as
    * one Row; on an empty frame they follow SQL (count 0, sum null). They
    * ride an `observe` at the root of the checkpointed plan, so they are
    * computed in the result stage, where Spark applies each task's
    * update exactly once.
    *
    * Why not `df.observe(...).localCheckpoint()`: the public checkpoint
    * stamps the origin plan's size estimate onto its result, and those
    * small estimates let the optimizer inject a runtime bloom filter into
    * resolveSameAs's rewrite tail — a whole-graph aggregation pass and
    * one more job per call (measured on the benchmark's analytics
    * workload). The frame returned here carries no estimate, so the
    * planner keeps the plans the fixpoint callers are tuned for.
    */
  def localCheckpointWith(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val name = s"graft_checkpoint_${java.util.UUID.randomUUID()}"
    val observed = df.observe(name, aggs.head, aggs.tail: _*).asInstanceOf[ClassicDataFrame]
    val spark = observed.sparkSession.asInstanceOf[ClassicSparkSession]
    val rdd = observed.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count()
    (spark.internalCreateDataFrame(rdd, observed.schema),
      observed.queryExecution.observedMetrics(name))
  }

  /** True when `df` is ALREADY a materialized RDD (a local/reliable
    * checkpoint or an internally-created frame over concrete rows) whose
    * columns are exactly `cols` — i.e. re-checkpointing it would be a
    * pure copy. Lets operators that defensively materialize an input
    * (e.g. updateClosure's stored-closure checkpoint) skip the redundant
    * O(rows) copy job when the caller hands them a frame that a sibling
    * operator just materialized.
    */
  def isMaterializedWithColumns(df: DataFrame, cols: Seq[String]): Boolean = {
    val lp = df.asInstanceOf[ClassicDataFrame].queryExecution.logical
    lp.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] &&
      lp.output.map(_.name) == cols
  }

  /** Drain the async listener bus (accessor is `private[spark]`):
    * metric listeners (e.g. per-run shuffle-byte accounting in
    * graft.Bench) must see every completed stage before a snapshot is
    * read — without the drain a snapshot races in-flight events.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
