package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Test helper: the Spark jobs and stage names a block schedules, read from
  * a SparkListener once the listener bus has delivered every event. The bus
  * is package-private to Spark, hence this object's package.
  */
object EventTap {
  final case class Events(jobs: Int, stageNames: Seq[String])

  def apply[T](sc: SparkContext)(body: => T): (T, Events) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = { names.add(e.stageInfo.name); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      import scala.jdk.CollectionConverters._
      (out, Events(jobs.get, names.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
