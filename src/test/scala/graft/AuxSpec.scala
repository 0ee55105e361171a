package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The cross-session write-once discipline (content stamp + lock across
  * write) that keeps shared on-disk artifacts from being rewritten under
  * a concurrent reader — the rows-match/hash-mismatch hazard class of
  * CORRECTNESS_r03's q47. */
class AuxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("writeStamped skips the write when the stamp already matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stamp")
    val version = dir.resolve("_version_x")
    val lock = dir.resolve("_lock_x")
    var writes = 0
    // cold start: no stamp on disk → writes
    Aux.writeStamped(version, lock, "stamp-a") { writes += 1 }
    assert(writes == 1)
    // new "session", unchanged content → skipped (this is the fix: an
    // unconditional rewrite here is what a concurrent reader can race)
    Aux.writeStamped(version, lock, "stamp-a") { writes += 1 }
    assert(writes == 1)
    // content changed → exactly one rewrite
    Aux.writeStamped(version, lock, "stamp-b") { writes += 1 }
    assert(writes == 2)
    // stamp matches but the artifact itself is gone → rewrite
    Aux.writeStamped(version, lock, "stamp-b", complete = false) { writes += 1 }
    assert(writes == 3)
  }

  test("fingerprint is row-order-insensitive and content/schema-sensitive") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s")
    val shuffled = Seq((3L, "z"), (1L, "x"), (2L, "y")).toDF("id", "s")
    val edited = Seq((1L, "x"), (2L, "y"), (3L, "Z")).toDF("id", "s")
    val renamed = a.withColumnRenamed("s", "t")
    assert(Aux.fingerprint(a) == Aux.fingerprint(shuffled))
    assert(Aux.fingerprint(a) != Aux.fingerprint(edited))
    assert(Aux.fingerprint(a) != Aux.fingerprint(renamed))
    assert(Aux.fingerprint(a) != Aux.fingerprint(a.limit(2)))
  }
}
