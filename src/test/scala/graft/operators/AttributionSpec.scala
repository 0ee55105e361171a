package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  /** (event_id, ms, user_id, event_type) → events frame. */
  private def ev(rows: Seq[(Long, Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("event_id", "ms", "user_id", "event_type")
      .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
        col("user_id"), col("event_type"))
  }

  private def credits(rows: Seq[(Long, Long, Long, String)], horizonMs: Long) =
    Attribution.positionCredits(ev(rows), horizonMs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(4), r.getLong(5), r.getLong(6))))
      .toMap

  test("1 / 2 / 3-touch splits; same-ms and out-of-horizon touches excluded") {
    val rows = Seq(
      // user 1: conversion at 100000, horizon 10000 → window [90000, 99999]
      (100L, 100000L, 1L, "purchase"),
      (1L, 89999L, 1L, "click"),   // 1 ms too old — excluded
      (2L, 90000L, 1L, "view"),    // in (boundary)
      (3L, 95000L, 1L, "click"),   // in
      (4L, 99999L, 1L, "signup"),  // in
      (5L, 100000L, 1L, "click"),  // same ms as conversion — excluded
      // user 2: single touch
      (200L, 50000L, 2L, "purchase"),
      (6L, 45000L, 2L, "view"),
      // user 3: two touches
      (300L, 50000L, 3L, "purchase"),
      (7L, 45000L, 3L, "view"),
      (8L, 46000L, 3L, "click"),
      // user 4: conversion with no touches → absent
      (400L, 50000L, 4L, "purchase"),
      // user 5: touches but no conversion → absent
      (9L, 45000L, 5L, "click"))
    val got = credits(rows, horizonMs = 10000L)
    assert(got === Map(
      (100L, 2L) -> ((1, 3L, 400L)),
      (100L, 3L) -> ((2, 3L, 200L)),
      (100L, 4L) -> ((3, 3L, 400L)),
      (200L, 6L) -> ((1, 1L, 1000L)),
      (300L, 7L) -> ((1, 2L, 500L)),
      (300L, 8L) -> ((2, 2L, 500L))))
  }

  test("n=5: mod remainder rides on the first touch; every conversion sums to 1000") {
    val rows = Seq((900L, 100000L, 9L, "purchase")) ++
      (1L to 5L).map(i => (i, 90000L + i * 1000L, 9L, "view"))
    val got = credits(rows, horizonMs = 20000L)
    // n=5: middles get 200 div 3 = 66, remainder 200 mod 3 = 2 on first
    assert(got((900L, 1L)) === ((1, 5L, 402L)))
    assert(got((900L, 2L)) === ((2, 5L, 66L)))
    assert(got((900L, 3L)) === ((3, 5L, 66L)))
    assert(got((900L, 4L)) === ((4, 5L, 66L)))
    assert(got((900L, 5L)) === ((5, 5L, 400L)))
    assert(got.values.map(_._3).sum === 1000L)
  }

  test("one touch credits every conversion whose window contains it") {
    val rows = Seq(
      (100L, 10000L, 1L, "purchase"),
      (200L, 11000L, 1L, "purchase"),
      (1L, 9000L, 1L, "click")) // inside both windows
    val got = credits(rows, horizonMs = 5000L)
    assert(got === Map(
      (100L, 1L) -> ((1, 1L, 1000L)),
      (200L, 1L) -> ((1, 1L, 1000L))))
  }

  test("ties on touch_ms order deterministically by touch_id") {
    val rows = Seq(
      (100L, 10000L, 1L, "purchase"),
      (5L, 9000L, 1L, "click"),
      (3L, 9000L, 1L, "view"),
      (4L, 9000L, 1L, "signup"))
    val got = credits(rows, horizonMs = 5000L)
    assert(got((100L, 3L))._1 === 1)
    assert(got((100L, 4L))._1 === 2)
    assert(got((100L, 5L))._1 === 3)
  }
}
