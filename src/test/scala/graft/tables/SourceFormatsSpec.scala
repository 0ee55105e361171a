package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The engine's source-format breadth beyond parquet: the same documents
  * content round-trips through json and csv readers/writers, and the
  * nested MOF documents round-trip through json (the S4 ingestion
  * format is literally nested json in the reference).
  */
class SourceFormatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect().map(_.toString).toSeq

  test("documents round-trip through json") {
    val dir = Files.createTempDirectory("graft-json").toString
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
      .select(col("doc_id").cast("long"), col("text"), col("lang"),
        col("source"), col("n_chars").cast("long"))
    assert(canon(back) == canon(docs))
  }

  test("documents round-trip through csv with header") {
    val dir = Files.createTempDirectory("graft-csv").toString
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
      .select(col("doc_id").cast("long"), col("text"), col("lang"),
        col("source"), col("n_chars").cast("long"))
    assert(canon(back) == canon(docs))
  }

  test("nested MOF documents round-trip through json and re-shred identically") {
    import graft.schema.{MofFixtures, MofSchema}
    val nested = MofFixtures.nested(spark)
    val dir = Files.createTempDirectory("graft-mof-json").toString
    nested.write.mode("overwrite").json(dir)
    val back = spark.read.schema(nested.schema).json(dir)
    val a = MofSchema.shred(nested)("isotherm_species_data")
      .orderBy("id").collect().map(_.toString).toSeq
    val b = MofSchema.shred(back)("isotherm_species_data")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }
}
