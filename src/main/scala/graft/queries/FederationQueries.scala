package graft.queries

import org.apache.spark.sql.functions._
import graft.federate.Federation.{federatedQuery, Source}
import graft.tables.Tables

/** The federation pipeline (§3.2: fan-out → stats → fair quota → ranked
  * application → ordered dedup → truncation) run over driver tables, with
  * SQL oracles valid because the chosen sources are not capacity-bound
  * (each segment holds ≥ quota rows at every sf), so the fair plan
  * degenerates to the equal split the SQL can express.
  */
object FederationQueries {

  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val defs: Seq[QueryDef] = Seq(

    // 5 "providers" = customer segments; n=100 → quota 20 each;
    // final truncation to 30 → 20×AUTOMOBILE + 10×BUILDING
    QueryDef.sql("q31_federation_quota",
      """WITH ranked AS (
        |  SELECT c_mktsegment AS provider, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
        |  FROM customer)
        |SELECT provider, c_custkey, c_acctbal FROM ranked WHERE rn <= 20
        |ORDER BY provider, c_custkey LIMIT 30""".stripMargin) { (s, d) =>
      val sources = segments.map(seg => Source(seg, "customer", () =>
        Tables.customer(s, d).filter(col("c_mktsegment") === seg)))
      val fr = federatedQuery(s, sources, filter = None, nResults = 100,
        idCol = "c_custkey", orderCol = "c_custkey", maxReturned = 30)
      fr.data.select("provider", "c_custkey", "c_acctbal")
        .orderBy("provider", "c_custkey")
    },

    // 2 overlapping sources over orders; first-provider-wins dedup (D1)
    QueryDef.sql("q32_federation_dedup",
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice, 'urgent' AS provider, 0 AS pr
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  ORDER BY o_orderkey LIMIT 25),
        |b AS (
        |  SELECT o_orderkey, o_totalprice, 'pricey' AS provider, 1 AS pr
        |  FROM orders WHERE o_totalprice > 50000
        |  ORDER BY o_orderkey LIMIT 25),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        |d AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY pr) AS dd FROM u)
        |SELECT o_orderkey, o_totalprice, provider FROM d WHERE dd = 1
        |ORDER BY pr, o_orderkey LIMIT 30""".stripMargin) { (s, d) =>
      val sources = Seq(
        Source("urgent", "orders", () =>
          Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")),
        Source("pricey", "orders", () =>
          Tables.orders(s, d).filter(col("o_totalprice") > 50000)))
      val fr = federatedQuery(s, sources, filter = None, nResults = 50,
        idCol = "o_orderkey", orderCol = "o_orderkey", maxReturned = 30)
      fr.data.select("o_orderkey", "o_totalprice", "provider")
    },

    // S2/S3/S5 live-source parity: the nation dimension served through
    // the PagedJsonSource DataSourceV2 connector (paged "REST provider"
    // with server-side filter pushdown + response_fields pruning). The
    // jsonl provider DB is rebuilt from the driver's nation parquet (25
    // rows — a dimension, not data); the oracle queries the parquet
    // directly, so the whole connector path (count request, page
    // planning, pushdown evaluation, row decoding) is what's under test.
    QueryDef.sql("q61_v2_source",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey >= 2
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val db = s"${graft.Aux.dir(d)}/q61_provider.jsonl"
      val rows = Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
        .map(r => Map[String, Any](
          "n_nationkey" -> r.getInt(0), "n_name" -> r.getString(1),
          "n_regionkey" -> r.getInt(2)))
      // through the write-once store, like every other file under the
      // aux dir: a current file is not rewritten under a reader
      graft.Aux.writeOnce(db, scala.util.hashing.MurmurHash3.seqHash(rows.toSeq).toString,
          java.nio.file.Files.exists(java.nio.file.Paths.get(db))) {
        graft.sources.PagedJsonClient.writeJsonl(
          rows.toIndexedSeq, Seq("n_nationkey", "n_name", "n_regionkey"), db)
      }
      s.read.format("graft.sources.PagedJsonSource")
        .option("path", db)
        .option("schemaDDL", "n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("pageLimit", "5").load()
        .filter(col("n_regionkey") >= 2)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // T4 + A7 oracle-backed: fanOut's per-source ordered limit
    // (max_results_per_provider) followed by the stats() observation the
    // quota planner consumes. Five segment "providers", a global filter
    // that leaves SOME segments under the limit — so the oracle's
    // per-provider count is genuinely least(matching, limit), proving
    // both the T4 cap and the A7 counting. stats() collects
    // driver-side by design (a few rows per source); the query surfaces
    // that Seq relationally for the hash gate.
    QueryDef.sql("q200_federation_stats",
      """WITH f AS (
        |  SELECT c_mktsegment AS provider, c_custkey
        |  FROM customer WHERE c_acctbal < -800),
        |r AS (
        |  SELECT provider,
        |    row_number() OVER (PARTITION BY provider ORDER BY c_custkey) AS rn
        |  FROM f)
        |SELECT provider, CAST(count(*) AS BIGINT) AS n
        |FROM r WHERE rn <= 15 GROUP BY 1 ORDER BY provider""".stripMargin) { (s, d) =>
      val sources = segments.map(seg => Source(seg, "customer", () =>
        Tables.customer(s, d).filter(col("c_mktsegment") === seg)))
      val fo = graft.federate.Federation.fanOut(s, sources,
        filter = Some(col("c_acctbal") < -800),
        perSourceLimit = Some(15), orderCol = Some("c_custkey"))
      val st = graft.federate.Federation.stats(fo.data)
      import s.implicits._
      st.flatMap { case (p, us) => us.map { case (_, n) => (p, n.toLong) } }
        .toDF("provider", "n")
        .orderBy("provider")
    },

    // D2 oracle-backed: Mediation.orderedDistinct — the reference's
    // list(dict.fromkeys(...)) first-occurrence distinct
    // (Optimade_Server/server.py:164) — applied to the priority labels
    // of the first 100 orders by key. Driver-side by contract (the
    // reference runs it on ≤30-element lists); the input is a
    // deterministic ordered top-k (TakeOrderedAndProject), never a
    // full-table collect. The oracle re-derives first-occurrence order
    // via min(position) per value.
    QueryDef.sql("q201_ordered_distinct",
      """WITH s AS (
        |  SELECT o_orderpriority AS v,
        |    row_number() OVER (ORDER BY o_orderkey) AS pos
        |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 100)),
        |f AS (SELECT v, min(pos) AS first_pos FROM s GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY first_pos) AS BIGINT) AS rank, v
        |FROM f ORDER BY rank""".stripMargin) { (s, d) =>
      val seq = Tables.orders(s, d)
        .orderBy("o_orderkey").limit(100)
        .select("o_orderpriority")
        .collect().map(_.getString(0)).toSeq
      val distinct = graft.federate.Mediation.orderedDistinct(seq)
      import s.implicits._
      distinct.zipWithIndex.map { case (v, i) => (i + 1L, v) }
        .toDF("rank", "v")
        .orderBy("rank")
    },

    // S7 oracle-backed: the JSON structure sink's BYTES. The engine
    // writes one JSON file per nation row (CifWriter.writeStructures
    // asCif=false — the reference's per-structure save), reads each
    // file back, and returns its sha256; the oracle constructs the
    // byte-identical JSON text in SQL and hashes it. A content gate on
    // the writer surface itself, not just on the rows that fed it.
    QueryDef.sql("q202_json_sink_checksum",
      """SELECT n_nationkey AS id,
        |  sha256('{"id": ' || n_nationkey || ', "name": "' || n_name ||
        |         '", "region": ' || n_regionkey || '}') AS sha
        |FROM nation ORDER BY id""".stripMargin) { (s, d) =>
      val rows = Tables.nation(s, d)
        .select(col("n_nationkey").as("id"), col("n_name").as("name"),
          col("n_regionkey").as("region"))
        .orderBy("id")
      val dirPath = java.nio.file.Files.createTempDirectory("q202_sink")
      val hashed =
        try {
          val (files, warns) = graft.result.CifWriter.writeStructures(
            rows, dirPath.toString, asCif = false)
          require(warns.isEmpty, s"sink warnings: $warns")
          files.map { f =>
            val p = java.nio.file.Paths.get(f)
            val id = p.getFileName.toString.stripSuffix(".json").toInt
            val sha = java.security.MessageDigest.getInstance("SHA-256")
              .digest(java.nio.file.Files.readAllBytes(p))
              .map("%02x".format(_)).mkString
            (id, sha)
          }
        } finally {
          // hash-then-delete: the gate is on the written BYTES, already
          // captured above — leaving 25 files per execution (verify + 5
          // bench passes) was a slow tmp leak (ADVICE r7)
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      import s.implicits._
      hashed.toDF("id", "sha")
        .orderBy("id")
    },

    // Q1 water-fill under the oracle gate, CAPACITY-BOUND: five nation
    // "providers" where one (region 0 restricted to n_nationkey <= 5) has
    // only 2 matching rows, so nResults=20 exercises the planner's step-3
    // re-routing: equal split (4,4,4,4,4) → cap at (2,4,4,4,4) → leftover
    // 2 water-filled in precedence order → (2,5,5,4,4). The oracle joins
    // that plan as LITERALS, generated by executing the reference
    // algorithm (QuotaPlannerSpec "q206 literal plan" pins
    // distributeQuotaFair to exactly these numbers, so the literals can't
    // drift from the code). Capacities are sf-invariant (nation is the
    // same 25-row dimension at every sf).
    QueryDef.sql("q206_federation_waterfill",
      """WITH src AS (
        |  SELECT 'scarce' AS provider, n_nationkey, n_name FROM nation
        |    WHERE n_regionkey = 0 AND n_nationkey <= 5
        |  UNION ALL SELECT 'r1', n_nationkey, n_name FROM nation WHERE n_regionkey = 1
        |  UNION ALL SELECT 'r2', n_nationkey, n_name FROM nation WHERE n_regionkey = 2
        |  UNION ALL SELECT 'r3', n_nationkey, n_name FROM nation WHERE n_regionkey = 3
        |  UNION ALL SELECT 'r4', n_nationkey, n_name FROM nation WHERE n_regionkey = 4),
        |q AS (SELECT * FROM (VALUES ('scarce', 2), ('r1', 5), ('r2', 5),
        |                            ('r3', 4), ('r4', 4)) AS t(provider, quota)),
        |r AS (SELECT src.*, row_number() OVER (
        |        PARTITION BY provider ORDER BY n_nationkey) AS rn FROM src)
        |SELECT r.provider, n_nationkey, n_name
        |FROM r JOIN q ON r.provider = q.provider
        |WHERE rn <= quota
        |ORDER BY r.provider, n_nationkey""".stripMargin) { (s, d) =>
      val sources =
        Source("scarce", "nation", () => Tables.nation(s, d)
          .filter(col("n_regionkey") === 0 && col("n_nationkey") <= 5)) +:
        (1 to 4).map(r => Source(s"r$r", "nation", () =>
          Tables.nation(s, d).filter(col("n_regionkey") === r)))
      val fr = federatedQuery(s, sources, filter = None, nResults = 20,
        idCol = "n_nationkey", orderCol = "n_nationkey", maxReturned = 30)
      fr.data.select("provider", "n_nationkey", "n_name")
        .orderBy("provider", "n_nationkey")
    },

    // S6 oracle-backed: the MofSaver COPY writer's BYTES (the round-7
    // q202 technique applied to the last writer path). A fixture corpus
    // of CIF + compact-JSON siblings is built from nation rows, MofSaver
    // resolves each row's constructed core2014/<name>.cif path, copies
    // the CIF verbatim and re-serializes the JSON pretty (the reference's
    // json.load/json.dump(indent=2) round-trip, utils.py:153-207); the
    // query returns sha256 of every WRITTEN file and the oracle
    // reconstructs the byte-identical texts (incl. the 2-space pretty
    // layout) in SQL and hashes them. Fixture + output dirs are temp and
    // deleted after hashing (no per-run leak).
    QueryDef.sql("q207_mof_saver_checksum",
      """WITH n AS (
        |  SELECT n_nationkey AS k, n_name AS nm,
        |    replace(n_name, ' ', '_') AS safe_nm,
        |    row_number() OVER (ORDER BY n_nationkey) - 1 AS i
        |  FROM nation),
        |cif AS (
        |  SELECT 'CoREMOF_2014_' || safe_nm || '_' || i || '.cif' AS fname,
        |    sha256('data_' || nm || chr(10) ||
        |           '_cell_length_a ' || k || chr(10)) AS sha
        |  FROM n),
        |js AS (
        |  SELECT 'CoREMOF_2014_' || safe_nm || '_' || i || '.json' AS fname,
        |    sha256('{' || chr(10) || '  "name": "' || nm || '",' || chr(10) ||
        |           '  "id": ' || k || chr(10) || '}') AS sha
        |  FROM n)
        |SELECT fname, sha FROM (SELECT * FROM cif UNION ALL SELECT * FROM js) u
        |ORDER BY fname""".stripMargin) { (s, d) =>
      val rows = Tables.nation(s, d)
        .select(col("n_nationkey").as("k"),
          lit("CoREMOF 2014").as("database"), col("n_name").as("name"))
        .orderBy("k").collect().toSeq
      val fixture = java.nio.file.Files.createTempDirectory("q207_corpus")
      val outDir = java.nio.file.Files.createTempDirectory("q207_out")
      val hashed =
        try {
          val sub = fixture.resolve("core2014")
          java.nio.file.Files.createDirectories(sub)
          rows.foreach { r =>
            val k = r.getAs[Any]("k"); val nm = r.getAs[String]("name")
            java.nio.file.Files.writeString(sub.resolve(s"$nm.cif"),
              s"data_$nm\n_cell_length_a $k\n")
            java.nio.file.Files.writeString(sub.resolve(s"$nm.json"),
              s"""{"name":"$nm","id":$k}""")
          }
          val saved = graft.result.MofSaver.saveMofs(
            rows, outDir.toString, fixture.toString)
          require(saved.warnings.isEmpty, s"saver warnings: ${saved.warnings}")
          saved.files.map { f =>
            val p = java.nio.file.Paths.get(f)
            val sha = java.security.MessageDigest.getInstance("SHA-256")
              .digest(java.nio.file.Files.readAllBytes(p))
              .map("%02x".format(_)).mkString
            (p.getFileName.toString, sha)
          }
        } finally {
          import scala.jdk.CollectionConverters._
          Seq(outDir, fixture).foreach { root =>
            java.nio.file.Files.walk(root).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(java.nio.file.Files.deleteIfExists(_))
          }
        }
      import s.implicits._
      hashed.toDF("fname", "sha").orderBy("fname")
    }
  )
}
