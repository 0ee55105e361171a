package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-located joins — the storage-level answer to "this
  * join shuffles every time": write both tables bucketed (and sorted)
  * by the join key with the SAME bucket count, and every later
  * equi-join on that key runs with ZERO shuffle exchanges — each task
  * sort-merges bucket i of both sides. At 100 TB this converts the
  * recurring fact⋈fact shuffle (the single most expensive operation
  * a warehouse runs) into a one-time layout cost at ingest, exactly
  * like the IvfIndex/ZOrder persisted stores convert search/box-scan
  * cost.
  *
  * Tables are content-addressed: the managed-table name embeds
  * [[graft.Aux.fingerprint]] of the data (plus key/bucket config), so
  * a content change writes a NEW table instead of rewriting one that
  * concurrent readers may hold open — the r03-q47 rewrite-race class
  * is structurally impossible, and the stamp check doubles as the
  * cross-session cache hit. The write goes through the write-once
  * store [[graft.Aux.writeOnce]]; completeness is the parquet _SUCCESS
  * marker (a killed write leaves no marker and is redone).
  *
  * The no-shuffle claim is machine-checked in BucketedSpec (zero
  * ShuffleExchange nodes in the executed join plan); q103's oracle
  * checks CONTENT — the bucketed join must produce exactly the rows
  * of the plain join over the raw parquet.
  */
object Bucketed {

  /** Save `df` as an EXTERNAL bucketed table; returns the table name.
    * Idempotent per content: same data+key+buckets reuses the on-disk
    * layout. External (explicit LOCATION) rather than managed because
    * the default session catalog is per-JVM: the data outlives the
    * catalog entry, so a later session must be able to RE-REGISTER the
    * existing directory with a metadata-only DDL (a managed saveAsTable
    * would refuse — LOCATION_ALREADY_EXISTS — and rewriting data every
    * session defeats the layout's purpose). */
  def table(df: DataFrame, name: String, keyCol: String, nBuckets: Int): String = {
    val spark = df.sparkSession
    val stamp = graft.Aux.fingerprint(df).replace('-', '_')
    val tbl = s"graft_bkt_${name}_${stamp}_b$nBuckets".toLowerCase
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = java.nio.file.Paths.get(wh, tbl)
    def registerDdl(): Unit = spark.sql(
      s"""CREATE TABLE $tbl (${df.schema.toDDL}) USING PARQUET
         |CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $nBuckets BUCKETS
         |LOCATION '${dir.toUri}'""".stripMargin)
    graft.Aux.writeOnce(dir.toString, stamp,
        java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      if (java.nio.file.Files.exists(dir)) { // orphan of a killed write
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
      java.nio.file.Files.createDirectories(dir) // CREATE TABLE lists it
      registerDdl()
      df.write.mode("overwrite").insertInto(tbl)
    }
    if (!spark.catalog.tableExists(tbl)) registerDdl() // fresh session, warm dir
    tbl
  }

  /** Equi-join two [[table]]s on `keyCol` — with matching bucket
    * counts this plans with no shuffle on either side. */
  def colocatedJoin(spark: SparkSession, leftTbl: String, rightTbl: String,
                    keyCol: String): DataFrame =
    spark.table(leftTbl).join(spark.table(rightTbl), keyCol)
}
