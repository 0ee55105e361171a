package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("salted join ≡ plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of the big side hits one key
    val big = (1 to 2000).map { i =>
      (if (i % 10 == 0) s"k${i % 7}" else "hot", s"payload$i")
    }.toDF("k", "payload")
    val small = Seq(("hot", 1), ("k0", 2), ("k3", 3), ("missing", 9))
      .toDF("k", "v")

    val plain = big.join(small, Seq("k")).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedJoin(big, small, "k", salts = 8).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
    // and salting actually spread the hot key across several partitions
    val saltSpread = big.withColumn("__salt",
        pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(8)))
      .filter(col("k") === "hot")
      .select("__salt").distinct().count()
    assert(saltSpread > 4)
  }

  test("AQE skew-join splits the hot partition at runtime (the automatic path)") {
    import spark.implicits._
    // AQE skew handling fires on sort-merge joins whose partitions exceed
    // the skew thresholds — lower them so the test-scale hot key trips it.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ, no broadcast
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = (1 to 20000).map { i =>
        (if (i % 20 == 0) i.toLong % 97 else 0L, s"payload-$i-$i-$i-$i")
      }.toDF("k", "payload")
      val other = (0L until 97L).map(k => (k, s"dim-$k")).toDF("k", "name")
      // global aggregate downstream: a groupBy(k) would REQUIRE the
      // join's hash partitioning, and AQE declines to split skewed
      // partitions when that would force an extra shuffle
      val joined = big.join(other, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("bytes"))
      val row = joined.collect().head
      assert(row.getLong(0) == 20000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(4000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
