package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The write-once store ([[Aux.writeOnce]]) behind every on-disk memo:
  * once per JVM, and across JVMs a content stamp plus a lock across the
  * write, which keeps shared on-disk artifacts from being rewritten under
  * a concurrent reader — the rows-match/hash-mismatch hazard class of
  * CORRECTNESS_r03's q47. [[Aux.forget]] stands in for a fresh JVM. */
class AuxSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val base: Path = Files.createTempDirectory("graft-auxspec")
  /** An sf name no other suite uses, so [[Aux.share]] writes its own
    * directory under the aux root. */
  private lazy val sf = base.toString

  /** A store caller: the root it writes, the `_SUCCESS` its completeness
    * test reads, the call, and whether the call ends in a read of the
    * root. */
  private case class Store(name: String, root: Path, success: Path,
                           call: () => Unit, reads: Boolean)

  private def frame: DataFrame = spark.range(0, 400)
    .selectExpr("id", "id % 7 AS k", "CAST(id * 37 % 101 AS DOUBLE) AS x",
      "CAST(id * 11 % 97 AS DOUBLE) AS y")
    .repartition(3)

  private lazy val stores: Seq[Store] = {
    val whole = Paths.get(Aux.dir(sf), "whole")
    val seg = base.resolve("segment")
    val z = base.resolve("zstore")
    Seq(
      Store("share", whole, whole.resolve("_SUCCESS"),
        () => Aux.share(frame, sf, "whole"), reads = true),
      Store("InvertedIndex.segmentCached", seg, seg.resolve("postings/_SUCCESS"),
        () => graft.operators.InvertedIndex.segmentCached(
          frame.withColumnRenamed("k", "bucket"), seg.toString), reads = false),
      Store("ZOrder.store", z, z.resolve("_SUCCESS"),
        () => graft.operators.ZOrder.store(frame, "x", "y", 2, z.toString), reads = false))
  }

  override def afterAll(): Unit =
    org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(Aux.dir(sf)))

  private def stampOf(root: Path): Path = root.resolveSibling(s"${root.getFileName}._stamp")

  /** Every file the store owns: the tree under `root` and its siblings
    * named `root.*` (stamp, lock, sidecars). */
  private def files(root: Path): Seq[Path] = {
    val under = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    val siblings = {
      val s = Files.list(root.getParent)
      try s.iterator.asScala
        .filter(_.getFileName.toString.startsWith(s"${root.getFileName}.")).toList
      finally s.close()
    }
    under ++ siblings
  }

  /** Backdates every file of the store, so any rewrite shows as a newer
    * mtime regardless of the file system's timestamp granularity. */
  private val Old = FileTime.fromMillis(1000000L)
  private def backdate(root: Path): Unit = files(root).foreach(Files.setLastModifiedTime(_, Old))
  private def untouched(root: Path): Boolean =
    files(root).forall(Files.getLastModifiedTime(_) == Old)

  /** The number of Spark jobs started while `f` ran. */
  private def jobsDuring(f: => Unit): Int = Tally.of(spark)(f)._2.jobs

  test("writeOnce skips the write when the stamp already matches") {
    val root = base.resolve("plain").toString
    var writes = 0
    def freshJvm(stamp: String, complete: Boolean = true): Unit = {
      Aux.forget(root)
      Aux.writeOnce(root, stamp, complete) { writes += 1 }
    }
    // cold start: no stamp on disk → writes
    freshJvm("stamp-a")
    assert(writes == 1)
    // same JVM: neither the stamp nor the completeness test is looked at
    Aux.writeOnce(root, sys.error("stamp forced"), sys.error("complete forced")) { writes += 1 }
    assert(writes == 1)
    // fresh JVM, unchanged content → skipped (an unconditional rewrite
    // here is what a concurrent reader can race)
    freshJvm("stamp-a")
    assert(writes == 1)
    // content changed → exactly one rewrite
    freshJvm("stamp-b")
    assert(writes == 2)
    // stamp matches but the artifact itself is gone → rewrite
    freshJvm("stamp-b", complete = false)
    assert(writes == 3)
    // stamp and lock are siblings of the root, never inside it
    assert(Files.readString(Paths.get(s"$root._stamp")) == "stamp-b")
    assert(Files.exists(Paths.get(s"$root._lock")))
  }

  test("writeOnce refuses a write body that re-enters the store") {
    val outer = base.resolve("outer").toString
    val inner = base.resolve("inner").toString
    val e = intercept[IllegalArgumentException] {
      Aux.writeOnce(outer, "s", complete = true) {
        Aux.writeOnce(inner, "s", complete = true) {}
      }
    }
    assert(e.getMessage.contains("re-entered"))
    // the refused write leaves the store usable
    var writes = 0
    Aux.writeOnce(outer, "s", complete = true) { writes += 1 }
    assert(writes == 1)
  }

  test("store callers: a second call in this JVM runs no job before its read") {
    stores.foreach { s =>
      s.call()
      val again = jobsDuring(s.call())
      val readJobs = if (s.reads) jobsDuring(spark.read.parquet(s.root.toString)) else 0
      assert(again == readJobs, s"${s.name}: $again jobs, its read alone runs $readJobs")
    }
  }

  test("store callers: a matching stamp in a fresh JVM leaves every file's mtime unchanged") {
    stores.foreach { s =>
      s.call()
      assert(Files.exists(stampOf(s.root)), s"${s.name}: no stamp beside the root")
      backdate(s.root)
      Aux.forget(s.root.toString)
      s.call()
      assert(untouched(s.root), s"${s.name}: a current store was rewritten")
    }
  }

  test("store callers: a stale stamp or a missing _SUCCESS causes exactly one rewrite") {
    stores.foreach { s =>
      s.call()
      val damages = Seq[(String, () => Unit)](
        "stale stamp" -> (() => Files.writeString(stampOf(s.root), "stale")),
        "missing _SUCCESS" -> (() => Files.delete(s.success)))
      damages.foreach { case (what, damage) =>
        damage()
        backdate(s.root)
        Aux.forget(s.root.toString)
        s.call()
        assert(!untouched(s.root) && Files.exists(s.success), s"${s.name}, $what: not rewritten")
        backdate(s.root)
        Aux.forget(s.root.toString)
        s.call()
        assert(untouched(s.root), s"${s.name}, $what: rewritten a second time")
      }
    }
  }

  test("shareBuilt forces build once across two calls") {
    var builds = 0
    def call(): DataFrame = Aux.shareBuilt(spark, sf, "built") { builds += 1; frame }
    val first = call().count()
    val second = call().count()
    assert(builds == 1 && first == 400L && second == 400L)
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
