package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. The block runs in its own job
  * group; afterwards a sentinel job in another group runs, and once the
  * listener has seen it, every earlier job-start event has been
  * delivered (the listener bus is ordered). */
object Jobs {
  def count(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val counted = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case `sentinel` => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "the sentinel job never reached the listener")
      counted.get
    } finally sc.removeSparkListener(listener)
  }
}
