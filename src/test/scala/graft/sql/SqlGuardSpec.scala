package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's 12-case SQL security corpus
  * (mofdbsql_database/mofdb_test/test.py:354-457) to the plan-walk guard.
  */
class SqlGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def ok(sql: String): Unit =
    assert(SqlGuard.validate(spark, sql).isRight, s"should pass: $sql")
  private def rejected(sql: String): Unit =
    assert(SqlGuard.validate(spark, sql).isLeft, s"should be rejected: $sql")

  test("SELECT and WITH pass") {
    ok("SELECT 1")
    ok("SELECT * FROM range(10)")
    ok("WITH t AS (SELECT 1 AS x) SELECT x FROM t")
    ok("SELECT a.id FROM range(5) a JOIN range(5) b ON a.id = b.id")
    ok("SELECT id FROM range(10) ORDER BY id LIMIT 3;") // trailing ';' fine
  }

  test("DML rejected") {
    rejected("INSERT INTO t VALUES (1)")
    rejected("UPDATE t SET x = 1")
    rejected("DELETE FROM t WHERE x = 1")
    rejected("MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE")
  }

  test("DDL rejected") {
    rejected("DROP TABLE t")
    rejected("CREATE TABLE t (x INT)")
    rejected("ALTER TABLE t ADD COLUMN y INT")
    rejected("TRUNCATE TABLE t")
    rejected("CREATE OR REPLACE VIEW v AS SELECT 1")
  }

  test("session/command statements rejected") {
    rejected("SET spark.sql.shuffle.partitions=1")
    rejected("EXPLAIN SELECT 1")
    rejected("SHOW TABLES")
    rejected("ANALYZE TABLE t COMPUTE STATISTICS")
    rejected("CACHE TABLE t")
  }

  test("multi-statement rejected (parse failure)") {
    rejected("SELECT 1; DROP TABLE t")
    rejected("SELECT 1; SELECT 2")
  }

  test("empty / garbage rejected") {
    rejected("")
    rejected(";;;")
    rejected("not sql at all")
  }

  test("plan walk beats keyword grep: identifiers containing keywords pass") {
    // the reference's substring blocklist rejects these (documented quirk,
    // SURVEY §3.1); the plan walk correctly allows them
    ok("SELECT id AS created FROM range(3)")
    ok("SELECT id AS update_count FROM range(3)")
    ok("SELECT 'DROP' AS label")
  }

  test("LIMIT injection policy (server.py:110-117)") {
    assert(SqlGuard.applyLimit("SELECT * FROM t", 10) == "SELECT * FROM t LIMIT 10")
    assert(SqlGuard.applyLimit("SELECT * FROM t;", 10) == "SELECT * FROM t LIMIT 10")
    assert(SqlGuard.applyLimit("SELECT * FROM t LIMIT 500", 10) == "SELECT * FROM t LIMIT 10")
    assert(SqlGuard.applyLimit("SELECT * FROM t limit 500", 10) == "SELECT * FROM t LIMIT 10")
    // existing smaller limit is also rewritten (reference semantics)
    assert(SqlGuard.applyLimit("SELECT * FROM t LIMIT 3", 10) == "SELECT * FROM t LIMIT 10")
    // a LIMIT inside a subquery is NOT the statement's result cap: it is
    // preserved and the outer cap is appended (the old blanket regex
    // rewrote it, changing subquery semantics)
    assert(SqlGuard.applyLimit("SELECT * FROM (SELECT * FROM t LIMIT 5) u", 10) ==
      "SELECT * FROM (SELECT * FROM t LIMIT 5) u LIMIT 10")
    assert(SqlGuard.applyLimit("SELECT * FROM (SELECT * FROM t LIMIT 5) u LIMIT 99", 10) ==
      "SELECT * FROM (SELECT * FROM t LIMIT 5) u LIMIT 10")
    // a trailing OFFSET is preserved; only the LIMIT value is rewritten
    assert(SqlGuard.applyLimit("SELECT * FROM t LIMIT 500 OFFSET 20", 10) ==
      "SELECT * FROM t LIMIT 10 OFFSET 20")
  }

  test("fetchSql end-to-end: guard + injected limit") {
    val df = SqlGuard.fetchSql(spark, "SELECT id FROM range(100) ORDER BY id", 7)
    assert(df.count() == 7)
    assertThrows[SqlGuard.GuardError](
      SqlGuard.fetchSql(spark, "DROP TABLE x", 7))
  }
}
