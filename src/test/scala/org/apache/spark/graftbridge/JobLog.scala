package org.apache.spark.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spec helper: the description of every job `body` launches, in
  * submission order (null for an undescribed job). Listener events are
  * delivered asynchronously, so the bus is drained — a Spark-internal
  * call, hence this package — before the log is read. */
object JobLog {
  def descriptions[A](sc: SparkContext)(body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.jobId,
          Option(e.properties).map(_.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)).orNull))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
