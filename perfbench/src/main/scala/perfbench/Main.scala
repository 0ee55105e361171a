package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._

/** Benchmark harness: executes a generated script against the program in
  * one JVM and writes one JSON record per operation. perfbench/run.py makes
  * the script, checks the records and reports the metrics.
  *
  * Usage: Main --script FILE --data DIR --work DIR --records FILE
  *             --seconds N --trace 0|1 [--inject source-fail|query-throw]
  */
object Main {
  // The window is a fixed amount of work sized from --seconds, so that every
  // run of a workload times the same operations: a round of seven tool calls
  // takes about 5 s on four cores, an analytic pass about 14 s. The analytic
  // window holds at least three passes, so that each query's time is a
  // median over passes.
  private val RoundSeconds = 5.0
  private val PassSeconds = 14.0
  private val MinPasses = 3

  private def session(work: String): SparkSession = {
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4).toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val script = Script.load(args("script"))
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val inject = args.get("inject")
    val rec = new Records(args("records"))
    val analytic = (script \ "mode") == JString("analytic")
    val providers = Op(script).strs("providers")
    val names = Op(script).strs("queries")
    val failProvider = if (inject.contains("source-fail")) providers.headOption else None
    val throwing = if (inject.contains("query-throw")) names.headOption else None
    val heap = new HeapPeak

    // Set-up, timed once and cold: session start, input registration and the
    // warm-up, so that JIT, codegen and the Aux memos land here. The tools'
    // warm-up is one call per entry point; the analytic warm-up is the pass
    // that writes every query's full-row result for the oracle check.
    var inputs: Inputs = null
    var queries: AnalyticRun = null
    val (spark, setupMs) = Clock.ms {
      val spark = session(work)
      if (analytic) {
        graft.tables.Tables.registerAll(spark, data)
        queries = new AnalyticRun(spark, data, work, rec, throwing, heap)
        queries.writeResults(names)
      } else {
        inputs = new Inputs(spark, data, providers, failProvider)
        val tools = new ToolRun(spark, inputs, work, rec)
        Script.ops(script \ "warmup").zipWithIndex.foreach { case (op, i) =>
          tools.run(op, s"w0.$i", "warmup")
        }
      }
      spark
    }
    rec.write("phase" -> "setup", "setup_ms" -> setupMs)
    heap.reset()

    if (analytic) {
      val passes = (script \ "passes") match {
        case JArray(ps) => ps.map(p => Script.ops(p).map(o => o.str("query") -> o.str("first")))
        case _          => Nil
      }
      if (!traced) {
        val count = math.max(MinPasses, math.round(seconds / PassSeconds).toInt)
        // The heap peak is taken in the first pass; the passes hold the same
        // queries, and a full collection after every query costs seconds.
        passes.take(count).zipWithIndex.foreach { case (order, p) =>
          queries.pass(order, s"p$p", "run", sampleHeap = p == 0)
        }
      } else {
        // as for the tools: each query untraced and traced, alternating
        val trace = new Trace(spark)
        var plain, withTrace = 0.0
        passes.head.zipWithIndex.foreach { case ((name, first), i) =>
          def untraced() =
            plain += queries.query(name, first, s"u0.$name", "untraced", sampleHeap = false)
          def traced() = withTrace +=
            queries.query(name, first, s"t0.$name", "trace", sampleHeap = false, Some(trace))
          if (i % 2 == 0) { untraced(); traced() } else { traced(); untraced() }
        }
        trace.close()
        rec.write("phase" -> "overhead", "untraced_ms" -> plain, "traced_ms" -> withTrace)
      }
    } else {
      val tools = new ToolRun(spark, inputs, work, rec)
      val sessions = (script \ "sessions") match {
        case JArray(ss) => ss.map(Script.ops)
        case _          => Nil
      }
      val rounds = Lanes(sessions)
      if (!traced) {
        rounds.take(math.max(1, math.round(seconds / RoundSeconds).toInt)).flatten.foreach {
          case (op, key) =>
            tools.run(op, key, "run")
            heap.sample()
        }
      } else {
        // A fixed call list, so that two traced runs of one seed do the same
        // work; each call runs once untraced and once traced, in alternating
        // order, so that neither side always pays the call's first execution.
        val trace = new Trace(spark)
        var plain, withTrace = 0.0
        rounds.take(2).flatten.zipWithIndex.foreach { case ((op, key), i) =>
          def untraced() = plain += tools.run(op, "u" + key.drop(1), "untraced")
          def traced() = withTrace += tools.run(op, "t" + key.drop(1), "trace", Some(trace))
          if (i % 2 == 0) { untraced(); traced() } else { traced(); untraced() }
        }
        trace.close()
        rec.write("phase" -> "overhead", "untraced_ms" -> plain, "traced_ms" -> withTrace)
      }
      rec.write("phase" -> "audit", "failures" -> tools.audit(providers))
    }
    rec.write("phase" -> "end", "heap_peak_mb" -> heap.peakMb)
    rec.close()
    spark.stop()
  }
}
