package org.apache.spark.sql.execution

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.util.CollectionAccumulator

/** Support shims for [[graft.core.Lineage.cut]] and
  * [[graft.core.CheckpointStore.save]] (must live under
  * `org.apache.spark.sql` to reach the `private[sql]` pieces they rewrap).
  *
  * `Dataset.localCheckpoint(eager = true)` is exactly the right lineage cut
  * for an iterative superstep loop — it checkpoints the INTERNAL UnsafeRow
  * RDD (no InternalRow -> Row -> InternalRow codec round-trip) and the
  * resulting `LogicalRDD` keeps the physical plan's output partitioning, so
  * a loop whose state is already hash-partitioned on the next join key
  * re-enters the join with no new Exchange. But since SPARK-39748 the
  * `LogicalRDD` it builds also CARRIES THE ORIGIN PLAN'S STATISTICS, and
  * join-size estimates are *products* of child `sizeInBytes`: chained
  * across supersteps the captured estimate's digit count doubles every
  * iteration, and by iteration ~20 Catalyst burns whole minutes multiplying
  * million-digit BigInts (observed twice in this repo: an LPA run on a
  * 10-vertex graph, and round 6's first localCheckpoint-based cut hanging
  * the distributed-Leiden suite in `BigInteger.multiplyToomCook3`).
  *
  * [[dropOriginStats]] rebuilds the checkpoint's `LogicalRDD` with
  * `originStats = None` (and no inherited constraints): planning falls back
  * to the flat leaf default estimate — O(1) digits per superstep, like the
  * pre-checkpoint `createDataFrame(rdd, schema)` cut — while the
  * checkpointed internal rows, output partitioning and ordering are kept.
  */
object GraftLogicalRdd {
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.queryExecution.logical match {
      case lr: LogicalRDD =>
        // outputPartitioning/outputOrdering are dropped along with the
        // stats: a preserved partitioning makes every downstream Project
        // re-derive alias-mapped partitioning candidates
        // (PartitioningPreservingUnaryExecNode.outputPartitioning), and a
        // q_louvain probe caught the driver burning ~7 s of pure CPU in
        // that expansion — far more than the occasional saved Exchange is
        // worth on these loop shapes.
        Dataset.ofRows(ds.sparkSession,
          LogicalRDD(lr.output, lr.rdd)(ds.sparkSession, None, None))
      case _ => df
    }
  }

  /** `df` over its own internal rows, counting each partition as it is
    * drained: a task that finishes partition `i` after `k` rows adds
    * `(i, k)` to `counts`. Spark merges accumulator updates from successful
    * task attempts only (once per result partition), so after ONE action
    * on the returned frame — a write — `counts` holds every partition's row
    * count with no second job. Executing `df`'s physical plan here runs the
    * shuffle stages it needs, as writing `df` itself would.
    */
  def countingRows(df: org.apache.spark.sql.DataFrame,
                   counts: CollectionAccumulator[(Int, Long)]): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("countingRows"))(qe.toRdd)
      .mapPartitionsWithIndex { (pid, it) =>
        var k = 0L
        TaskContext.get().addTaskCompletionListener[Unit](_ => counts.add((pid, k)))
        it.map { r => k += 1; r }
      }
    Dataset.ofRows(ds.sparkSession, LogicalRDD(qe.analyzed.output, rows)(ds.sparkSession, None, None))
  }
}
