package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog-pluggable storage layer (SURVEY.md §7.0): the north star
  * targets Iceberg tables, but no Iceberg jar ships in this sandbox, so
  * the engine programs against this trait. The production binding is a
  * thin `IcebergStorage` (documented below, compiles only with the
  * iceberg-spark runtime jar on the classpath); tests and the driver
  * harness use `ParquetStorage`, whose layout mirrors Iceberg's
  * partition + snapshot semantics closely enough that ResumableJob's
  * lineage/overwrite logic is identical across both.
  *
  * Production Iceberg config (spark-submit):
  * {{{
  *   --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
  *   --conf spark.sql.catalog.graft=org.apache.iceberg.spark.SparkCatalog
  *   --conf spark.sql.catalog.graft.type=hive   # or rest/glue/hadoop
  *   // IcebergStorage.read  = spark.read.table("graft.db.docs")
  *   // IcebergStorage.write = df.writeTo("graft.db.extracted").overwritePartitions()
  *   // snapshotId           = SELECT snapshot_id FROM graft.db.docs.snapshots ORDER BY committed_at DESC LIMIT 1
  * }}}
  */
trait Storage {

  /** Read a table by logical name. */
  def read(spark: SparkSession, table: String): DataFrame

  /** Whether the table exists at all (Iceberg: `catalog.tableExists`). */
  def exists(spark: SparkSession, table: String): Boolean

  /** Overwrite only the partitions present in `df` (dynamic overwrite —
    * the idempotent-resume primitive; Iceberg: `overwritePartitions()`).
    */
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit

  /** Append rows (lineage records). */
  def append(df: DataFrame, table: String): Unit

  /** Current snapshot identifier of a table — stamped into lineage rows
    * so resume only skips work proven done against the SAME input.
    */
  def snapshotId(spark: SparkSession, table: String): String
}

/** Parquet-directory binding: table name = directory path. Snapshot id =
  * content fingerprint of the file listing (name, size, mtime) — changes
  * iff the data changes, like an Iceberg snapshot id.
  */
final class ParquetStorage extends Storage {

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)

  override def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit =
    df.write
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(table)

  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(table)

  private def fileSystem(spark: SparkSession, table: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(table match {
        case t if t.contains("://") => t
        case t => s"file://$t"
      }),
      spark.sparkContext.hadoopConfiguration)

  override def exists(spark: SparkSession, table: String): Boolean =
    fileSystem(spark, table).exists(new org.apache.hadoop.fs.Path(table))

  override def snapshotId(spark: SparkSession, table: String): String = {
    val fs = fileSystem(spark, table)
    val path = new org.apache.hadoop.fs.Path(table)
    if (!fs.exists(path)) return "absent"
    // recursive listing with the full relative path in the digest:
    // partitioned tables rewrite files inside subdirectories, and a
    // same-name/same-size rewrite must still flip the snapshot id.
    // Qualify the base first — listFiles returns qualified paths, so a
    // relative table path would never strip and the digest would embed
    // the absolute location (same content, different id per cwd)
    val qualified = fs.makeQualified(path)
    val base = qualified.toUri.getPath
    val it = fs.listFiles(qualified, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base)
      if (!rel.split('/').exists(_.startsWith("_")))
        buf += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    val parts = buf.sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(p => md5.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md5.digest().map("%02x".format(_)).mkString
  }
}

object Storage {
  /** Default binding for this environment. */
  val default: Storage = new ParquetStorage
}
