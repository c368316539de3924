package org.apache.spark.graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{CleanerListener, SparkContext}

/** Waits until every event posted so far reached the listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Counts the RDDs, shuffles, broadcasts, accumulators and checkpoints
  * that Spark's context cleaner has released since `sc` started. */
final class CleanerCount(sc: SparkContext) extends CleanerListener {
  private val n = new AtomicLong
  sc.cleaner.foreach(_.attachListener(this))

  def get: Long = n.get

  def rddCleaned(rddId: Int): Unit = n.incrementAndGet()
  def shuffleCleaned(shuffleId: Int): Unit = n.incrementAndGet()
  def broadcastCleaned(broadcastId: Long): Unit = n.incrementAndGet()
  def accumCleaned(accId: Long): Unit = n.incrementAndGet()
  def checkpointCleaned(rddId: Long): Unit = n.incrementAndGet()
}
