package perfbench

import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation Spark work, observed from outside the program: every
  * operation runs under its own job group, a listener sums the task
  * metrics of that group's jobs, and a query-execution listener sums the
  * Catalyst phase times of the actions the operation ran. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val stageOp = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, mutable.Map[String, Double]]
  @volatile private var current: String = null

  private def add(op: String, k: String, v: Double): Unit = totals.synchronized {
    val m = totals.getOrElseUpdate(op, mutable.Map.empty[String, Double])
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (op != null) {
        add(op, "jobs", 1)
        stageOp.synchronized(e.stageIds.foreach(stageOp(_) = op))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.synchronized(stageOp.get(e.stageId))
      val m = e.taskMetrics
      if (op.isDefined && m != null) {
        val o = op.get
        add(o, "tasks", 1)
        add(o, "task_ms", m.executorRunTime.toDouble)
        add(o, "cpu_ms", m.executorCpuTime / 1e6)
        add(o, "gc_ms", m.jvmGCTime.toDouble)
        add(o, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(o, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(o, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(o, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add(o, "records_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val phases = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val op = current
      if (op != null) qe.tracker.phases.foreach { case (phase, s) =>
        add(op, s"${phase}_ms", s.durationMs.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(phases)

  /** Runs `body` as operation `op`; its jobs and phases are attributed to `op`. */
  def within[A](op: String)(body: => A): A = {
    current = op
    sc.setJobGroup(op, op, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      BenchBus.drain(sc)
      current = null
    }
  }

  /** The Spark totals of `op`, with every key present. */
  def totalsOf(op: String): Map[String, Double] = {
    val keys = Seq("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "scan_bytes", "records_read",
      "analysis_ms", "optimization_ms", "planning_ms")
    val m = totals.synchronized(totals.get(op).map(_.toMap).getOrElse(Map.empty))
    keys.map(k => k -> m.getOrElse(k, 0.0)).toMap
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(phases)
  }
}

/** Wall time of `body` in milliseconds, with its result. */
object Clock {
  def ms[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}
