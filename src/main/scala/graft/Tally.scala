package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The scheduler's view of one body of work: jobs started, stages
  * completed, tasks ended, and the summed run, CPU and GC time of those
  * tasks. wall ≫ taskMs / cores with a small taskMs means the cost is the
  * per-job and per-round scheduling floor, not data-path compute.
  */
final case class Tally(jobs: Int, stages: Int, tasks: Int,
                       taskMs: Long, cpuMs: Long, gcMs: Long)

object Tally {

  /** Runs `body` and returns its result with what the scheduler ran for
    * it. The listener bus is drained before the listener is added, so no
    * event of earlier work is counted, and again before the counts are
    * read, so no event of `body` is lost. Work running concurrently on
    * the same SparkContext is counted too; a body that throws returns no
    * tally. A bus still busy after Spark's 10 s drain bound throws
    * TimeoutException rather than return short counts. */
  def of[A](spark: SparkSession)(body: => A): (A, Tally) = {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger
    val taskMs, cpuNs, gcMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
        }
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, Tally(jobs.get, stages.get, tasks.get, taskMs.get, cpuNs.get / 1000000L, gcMs.get))
    } finally sc.removeSparkListener(listener)
  }
}
