package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate

/** [[Tally]]: the scheduler counts that Bench's detail lines and the
  * job-count specs read. */
class TallySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def fourTasks(): Long = spark.range(0, 100, 1, 4).rdd.count()

  // The bus delivers a job's last events a moment after the job returns,
  // so an undrained read comes up short (or counts earlier work) in 5–6
  // of 200 tallies on four idle cores: 500 rounds catch either missing
  // drain.
  test("an RDD count over 4 partitions counts 1 job, 1 stage and 4 tasks, in each of 500 tallies") {
    val tallies = (1 to 500).map { _ =>
      val (n, t) = Tally.of(spark)(fourTasks())
      assert(n == 100)
      assert(t.taskMs >= 0 && t.cpuMs >= 0 && t.gcMs >= 0)
      t
    }
    val short = tallies.filter(t => (t.jobs, t.stages, t.tasks) != (1, 1, 4))
    assert(short.isEmpty, s"${short.size} of 500 tallies short: ${short.take(3)}")
  }

  test("a materialized frame: Dataset.count() runs 2 jobs, .rdd.count() runs 1") {
    // the premise of every iterative loop's `.rdd.count()` (Kcore, Truss,
    // Bfs, ...): under AQE a Dataset count runs a map-stage job and a
    // final one, the RDD count one job over the checkpointed blocks
    val df = Iterate.materialize(spark.range(0, 100, 1, 4).toDF("id"))
    val (viaDataset, ds) = Tally.of(spark)(df.count())
    val (viaRdd, rdd) = Tally.of(spark)(df.rdd.count())
    assert(viaDataset == 100 && viaRdd == 100)
    assert(ds.jobs == 2)
    assert(rdd.jobs == 1)
  }

  test("events of work that ran just before the body are not counted") {
    val leaked = (1 to 500).map { _ => fourTasks(); Tally.of(spark)(())._2 }
      .filter(_ != Tally(0, 0, 0, 0, 0, 0))
    assert(leaked.isEmpty, s"${leaked.size} of 500 tallies leaked: ${leaked.take(3)}")
  }
}
