package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Documents-table IO — SURVEY.md §2.1 (S2/S10/S11) and versioned snapshots.
  *
  * Parquet is the system of record (partition-friendly, predicate-pushdown);
  * header CSV is kept as the RFC-interop codec (documents.csv,
  * ftm_datalake/archive/documents.py:32,45-50,107-117). Snapshot layout:
  * `<root>/documents.parquet` plus `<root>/versions/<iso-ts>/` per version
  * and `<root>/versions/<iso-ts>.diff/` for the diff lines.
  */
object DocumentsStore {

  /** CSV scan with the fixed documents schema; a missing path yields an
    * empty frame with the right schema (reference: empty-DF-with-header,
    * documents.py:45-50). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    if (!exists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Model.documentsSchema)
    else
      spark.read.schema(Model.documentsSchema).option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)

  /** Parquet scan with the fixed documents schema — every writer of the
    * table (crawl, make, migrate, the bucketed layout) lands exactly
    * that schema, so the read launches no schema-inference job; a
    * missing path yields an empty frame like [[readCsv]]. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    if (!exists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Model.documentsSchema)
    else spark.read.schema(Model.documentsSchema).parquet(path)

  /** Write a snapshot: parquet system-of-record + single-file CSV for RFC
    * interop (coalesce(1) only at this small metadata boundary — the
    * documents table of one dataset, never the data plane). */
  def writeSnapshot(df: DataFrame, root: String, versionTs: String): Unit = {
    val ordered = df.orderBy("key")
    ordered.write.mode("overwrite").parquet(s"$root/documents.parquet")
    writeVersionCsv(ordered, root, versionTs)
  }

  /** The CSV half of a snapshot (RFC interop), layout-independent. */
  def writeVersionCsv(df: DataFrame, root: String, versionTs: String): Unit =
    df.orderBy("key").coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(s"$root/versions/$versionTs")

  def writeDiff(diffLines: DataFrame, root: String, versionTs: String): Unit =
    diffLines.coalesce(1).write.mode("overwrite")
      .text(s"$root/versions/$versionTs.diff")

  /** Write the documents table bucketed+sorted by `key` as a catalog table:
    * the 100 TB layout. Rebuild-kernel anti-joins, reconcile full-outers and
    * ledger anti-joins between two key-bucketed tables run with NO exchange
    * (verified in CoreSpec) — the co-location the reference's per-key task
    * model can't express. */
  def writeBucketed(df: DataFrame, tableName: String, buckets: Int = 64): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, "key").sortBy("key")
      .format("parquet")
      .saveAsTable(tableName)

  /** Bucketed layout variant rooted IN the lake: an external bucketed table
    * whose files live at `path` (so the dataset directory stays
    * self-contained) registered under `tableName`. Joins against the table
    * skip the documents-side exchange entirely — at 100 TB the rebuild /
    * reconcile / skip-existing joins shuffle only the (small) incoming
    * side. */
  def writeBucketedAt(df: DataFrame, tableName: String, path: String,
                      buckets: Int = 64): Unit = {
    val spark = df.sparkSession
    // overwrite of an external table: drop the catalog entry, clear the dir
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    df.write
      .bucketBy(buckets, "key").sortBy("key")
      .option("path", path)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Typed view of a documents table (Dataset[DocumentRow]) for call sites
    * where compile-time field checks pay (SURVEY §1.3). */
  def readTyped(spark: SparkSession, path: String): org.apache.spark.sql.Dataset[Model.DocumentRow] = {
    import spark.implicits._
    readParquet(spark, path).as[Model.DocumentRow]
  }

  /** Sorted version timestamps present under `<root>/versions` (O2/A5).
    * Hadoop FS listing, so versioned lakes on s3a://hdfs:// resolve the
    * same as local ones. */
  def versions(spark: SparkSession, root: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/versions")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName)
      .filterNot(_.endsWith(".diff")).sorted.toSeq
  }

  def currentVersion(spark: SparkSession, root: String): Option[String] =
    versions(spark, root).lastOption

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
