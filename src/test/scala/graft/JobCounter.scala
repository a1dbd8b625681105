package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts.
  *
  * Listener events arrive asynchronously, so the count is bracketed by
  * two trivial marker jobs: counting starts when the first marker's
  * start event arrives and stops at the second's. The listener bus
  * delivers events in order, so every job the block started has been
  * seen once the closing marker is, and no job from before the block
  * is counted. The markers themselves are not counted.
  */
object JobCounter {
  private val MarkerKey = "graft.test.jobMarker"

  def jobsIn[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val (open, close) = (s"open-${UUID.randomUUID}", s"close-${UUID.randomUUID}")
    val jobs = new AtomicInteger()
    val closed = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(MarkerKey)).orNull match {
          case `open` => counting = true
          case `close` => counting = false; closed.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(id: String): Unit = {
      sc.setLocalProperty(MarkerKey, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      val out = body
      marker(close)
      assert(closed.await(60, TimeUnit.SECONDS), "closing marker job never reported")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
