package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{CleanerListener, SparkContext}

/** Access to driver internals that Spark keeps package-private. */
object Internals {
  /** Blocks until every posted event has reached every listener, so the
    * events of one operation are all in before the next one starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val lastCleanup = new AtomicLong(0L)
  private val attached =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())
  private val cleanerListener = new CleanerListener {
    private def seen(): Unit = lastCleanup.set(System.nanoTime())
    def rddCleaned(rddId: Int): Unit = seen()
    def shuffleCleaned(shuffleId: Int): Unit = seen()
    def broadcastCleaned(broadcastId: Long): Unit = seen()
    def accumCleaned(accId: Long): Unit = seen()
    def checkpointCleaned(rddId: Long): Unit = seen()
  }

  /** Collects garbage and waits until the context cleaner has removed the
    * shuffles, broadcasts and RDDs it freed (no cleanup for `quietMs`, at
    * most `maxMs`), so that this work does not spill into what runs next. */
  def settle(sc: SparkContext, quietMs: Long = 150, maxMs: Long = 5000): Unit = {
    sc.cleaner.foreach { c =>
      if (attached.put(c, java.lang.Boolean.TRUE) == null) c.attachListener(cleanerListener)
    }
    val start = System.nanoTime()
    lastCleanup.set(start)
    System.gc()
    while ((System.nanoTime() - lastCleanup.get()) / 1000000 < quietMs &&
        (System.nanoTime() - start) / 1000000 < maxMs) Thread.sleep(20)
    System.gc()
  }
}
