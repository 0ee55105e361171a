package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Scheduling-vs-compute profiler for single queries (optimization-round
  * tooling; the driver never runs this). For each named query it runs the
  * same count() action the bench times, under the bench's session config,
  * and reports wall seconds alongside the scheduler's view: job count,
  * stage count, task count, summed task run time, summed JVM GC time and
  * summed executor CPU time. wall >> Σtask/cores with small Σtask means
  * the cost is per-round scheduling floor, not data-path compute — the
  * signal that partition-count / round-count levers (guide §2) apply,
  * not expression tuning (guide §4).
  *
  * Each query runs twice and both passes print. For most queries pass 2
  * is the warm one to read. Queries that memoize a stage through
  * `Aux.share`/`Aux.shareBuilt` differ: pass 1 builds and writes the
  * memo, and pass 2 only reads the memoized parquet back — at sf0.01,
  * 3–4 jobs against 36–46 in pass 1 for q112, q124, q146, q163 and q282.
  * For those, pass 1 is the build: profile an operator they run from
  * pass 1 of a fresh aux root (-Dgraft.aux.root), never from pass 2.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.Profile <sfDir> q110 q274 ...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = args.drop(1).toSeq
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0)
    val gcMs = new AtomicLong(0)
    val cpuNs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
        }
      }
    })

    // same warmup as Bench so q1 doesn't absorb session costs
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
    }

    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        prefixes.isEmpty || prefixes.exists(n.startsWith) }
    // two passes: pass 1 warms codegen/footers for these plans (and
    // builds any Aux memo), pass 2 reruns them warm (see the scaladoc
    // for the Aux.share* queries, whose pass 2 only reads the memo)
    (1 to 2).foreach { pass =>
      named.foreach { case (name, fn) =>
        jobs.set(0); stages.set(0); tasks.set(0)
        taskMs.set(0); gcMs.set(0); cpuNs.set(0)
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // give the listener bus a moment to drain before reading
        // (the bus flush API is private[spark]; a short sleep suffices
        // for a dev-only tool)
        Thread.sleep(300)
        println(f"profile pass=$pass $name%-28s wall=$wall%7.3f s  " +
          f"jobs=${jobs.get}%4d stages=${stages.get}%4d tasks=${tasks.get}%5d  " +
          f"taskTime=${taskMs.get / 1000.0}%8.2f s  cpu=${cpuNs.get / 1e9}%8.2f s  " +
          f"gc=${gcMs.get / 1000.0}%6.2f s")
        Caches.releaseAll(spark)
      }
    }
    spark.stop()
  }
}
