package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics of the benchmark's own session, folded per job group.
  * [[SparkTasks.measure]] runs a call under a fresh job group, then
  * drains the listener bus, so every task and job of that call has been
  * counted when it returns.
  */
final class SparkTasks extends SparkListener {
  final class Agg {
    var jobs = 0
    var gcMs = 0L
    var shuffleWriteB = 0L
    var shuffleReadB = 0L
    var spillB = 0L
    val taskMsByStage = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

    def taskMs: Long = taskMsByStage.valuesIterator.map(_.sum).sum

    /** Worst stage's slowest task over its median task (stages with at
      * least two tasks); 1.0 when no stage qualifies.
      */
    def skew: Double = {
      val r = taskMsByStage.valuesIterator.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(s(s.size / 2), 1L)
      }
      if (r.isEmpty) 1.0 else r.max
    }
  }

  private val groupOfStage = mutable.HashMap[Int, String]()
  private val aggs = mutable.HashMap[String, Agg]()

  def agg(group: String): Agg = synchronized(aggs.getOrElseUpdate(group, new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      e.stageIds.foreach(s => groupOfStage(s) = group)
      aggs.getOrElseUpdate(group, new Agg).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (group <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = aggs.getOrElseUpdate(group, new Agg)
      a.gcMs += m.jvmGCTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }
}

object SparkTasks {
  /** Runs `f` with its Spark jobs tagged `group` (tasks of earlier calls
    * under the same group add up).
    */
  def measure[A](sc: SparkContext, tasks: Option[SparkTasks], group: String)(f: => A): A =
    tasks match {
      case None => f
      case Some(_) =>
        sc.setJobGroup(group, group)
        try f
        finally {
          sc.clearJobGroup()
          drain(sc)
        }
    }

  /** Waits until the listener bus has delivered every posted event. The
    * bus has no public drain, so it is reached by reflection.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
