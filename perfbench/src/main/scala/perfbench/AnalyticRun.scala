package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Caches, SparkEntry}

/** Times `SparkEntry.queries` under a full-row `noop` sink and under
  * `count()`, which lets Catalyst prune every column the count does not
  * need. */
final class AnalyticRun(spark: SparkSession, data: String, work: String, rec: Records,
                        throwing: Option[String], heap: HeapPeak) {
  private val all = SparkEntry.queries

  private def construct(name: String): DataFrame =
    if (throwing.contains(name)) throw new IllegalStateException(s"$name failed on purpose")
    else all(name)(spark, data)

  /** Writes each query's full-row result for the oracle comparison. */
  def writeResults(names: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSqlFor(data)
    names.foreach { name =>
      val error = try {
        construct(name).write.mode("overwrite").parquet(s"$work/results/$name")
        null
      } catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}" }
      finally Caches.releaseAll(spark)
      rec.write("phase" -> "result", "query" -> name, "oracle" -> oracle.get(name), "error" -> error)
    }
  }

  /** One timed pass; `order` pairs each query with the sink that runs first.
    * With `sampleHeap`, the live heap is sampled after each query, before
    * its caches are released; each sample costs a full collection. */
  def pass(order: Seq[(String, String)], key: String, phase: String, sampleHeap: Boolean): Unit =
    order.foreach { case (name, first) => query(name, first, s"$key.$name", phase, sampleHeap) }

  /** Constructs one query and runs both sinks, `first` first; records the
    * three times. Returns the query's wall ms. */
  def query(name: String, first: String, key: String, phase: String, sampleHeap: Boolean,
            trace: Option[Trace] = None): Double = {
    def exec(): Either[Throwable, (Double, Double, Double, Long)] = try {
      val (df, constructMs) = Clock.ms(construct(name))
      def fullrow() = Clock.ms(df.write.format("noop").mode("overwrite").save())._2
      def count() = Clock.ms(df.count())
      val (fullMs, (rows, countMs)) =
        if (first == "fullrow") { val f = fullrow(); (f, count()) }
        else { val c = count(); (fullrow(), c) }
      Right((constructMs, fullMs, countMs, rows))
    } catch { case NonFatal(e) => Left(e) }
    val (res, ms) = Clock.ms(trace.fold(exec())(_.within(key)(exec())))
    val storage = Caches.storageBytes(spark)
    if (sampleHeap) heap.sample()
    Caches.releaseAll(spark)
    val base = Seq("phase" -> phase, "key" -> key, "query" -> name, "first" -> first)
    res match {
      case Right((c, f, n, rows)) =>
        val timing = Seq("construct_ms" -> c, "fullrow_exec_ms" -> f, "count_exec_ms" -> n,
          "rows_returned" -> rows, "error" -> null)
        val traced = trace.toSeq.flatMap(_.totalsOf(key).toSeq) ++
          trace.map(_ => "storage_bytes" -> storage)
        rec.write(base ++ timing ++ traced: _*)
      case Left(e) =>
        rec.write(base :+ ("error" -> s"${e.getClass.getName}: ${e.getMessage}"): _*)
    }
    ms
  }
}
