package graft

import graft.core.CheckpointStore
import org.apache.spark.EventTap
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("save is one Spark job and its metrics rows cover the snapshot's partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val store = new CheckpointStore(dir, "run1")
    // five partitions, the second one empty; then a single-partition state
    val states = Seq(
      1 -> spark.range(0, 1000, 1, 5).filter(col("id") < 200 || col("id") >= 400)
        .select(col("id"), (col("id") * 0.5).as("rank")),
      2 -> spark.range(0, 7, 1, 1).select(col("id"), (col("id") + 0.25).as("rank")))
    for ((iter, state) <- states) {
      val (reread, events) = EventTap(spark.sparkContext) {
        store.save(spark, iter, state, System.currentTimeMillis())
      }
      assert(events.jobs == 1, s"save of iter $iter ran ${events.jobs} jobs")
      assert(reread.columns.toSeq == Seq("id", "rank"))
      assert(reread.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ==
        state.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq)
    }
    assert(store.latestIter(spark).contains(2))
    val metrics = store.metrics(spark)
    for ((iter, _) <- states) {
      val rows = metrics.filter(col("iter") === iter && col("run_id") === "run1")
        .select("partition", "rows").collect().map(r => (r.getInt(0), r.getLong(1)))
      val parts = rows.map(_._1)
      assert(parts.nonEmpty && parts.distinct.length == parts.length, s"iter $iter partitions $parts")
      assert(rows.map(_._2).sum == store.load(spark, iter).count(), s"iter $iter rows ${rows.toSeq}")
    }
  }
}
