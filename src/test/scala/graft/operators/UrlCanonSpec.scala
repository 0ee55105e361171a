package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class UrlCanonSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(UrlCanon.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq

  test("scheme, www, trailing slash, and param order all normalize away") {
    assert(canon(
      "http://www.ex.com/a/b?z=1&a=2",
      "https://ex.com/a/b/?a=2&z=1",
      "http://ex.com/a/b?a=2&z=1") ==
      Seq.fill(3)("ex.com/a/b?a=2&z=1"))
  }

  test("distinguishing parts survive: host, path, param SET, inner www") {
    assert(canon("http://ex.com/a", "http://ex.com/b").distinct.size == 2)
    assert(canon("http://ex.com/a?x=1", "http://ex.com/a?x=2").distinct.size == 2)
    assert(canon("http://ex.com/a?x=1", "http://ex.com/a").distinct.size == 2)
    // only a LEADING www. strips; a www subdomain deeper in is content
    assert(canon("http://a.www.ex.com/p") == Seq("a.www.ex.com/p"))
  }

  test("no query string: bare path canonical; only ONE trailing slash strips") {
    assert(canon("https://www.ex.com/p/") == Seq("ex.com/p"))
    assert(canon("https://ex.com/p//") == Seq("ex.com/p/"))
  }

  test("firstWins: n_urls, distinct raw variants, min-id keeper") {
    val df = Seq(
      (5L, "http://www.ex.com/a?b=2&a=1"),
      (3L, "https://ex.com/a/?a=1&b=2"),
      (9L, "https://ex.com/a/?a=1&b=2"), // exact raw dup of id 3
      (7L, "http://ex.com/other")
    ).toDF("doc_id", "url")
    val got = UrlCanon.firstWins(df, "url", "doc_id")
      .orderBy("canon").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("ex.com/a?a=1&b=2", 3L, 2L, 3L),
      ("ex.com/other", 1L, 1L, 7L)))
  }
}
