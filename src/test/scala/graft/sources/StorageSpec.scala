package graft.sources

import graft.util.Harness
import java.nio.file.{Files, Paths, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ParquetStorage snapshot fingerprints: content-addressed like an
  * Iceberg snapshot id — any file change anywhere under the table path
  * (including inside partition subdirectories) must flip the id, and
  * identical listings must agree.
  */
class StorageSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private val storage = new ParquetStorage

  private def write(p: Path, rel: String, bytes: Array[Byte], mtime: Long): Unit = {
    val f = p.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
    f.toFile.setLastModified(mtime)
  }

  test("nested rewrite with same name and size flips the snapshot id") {
    val dir = Files.createTempDirectory("graft-snap")
    write(dir, "part=a/data-001.parquet", "aaaa".getBytes, 1000000L)
    write(dir, "part=b/data-001.parquet", "bbbb".getBytes, 1000000L)
    val s1 = storage.snapshotId(spark, dir.toString)
    // rewrite a nested file: same name, same size, new mtime — the
    // pre-fix top-level listing missed this entirely (parent dir mtime
    // does not change on in-place overwrite)
    write(dir, "part=b/data-001.parquet", "cccc".getBytes, 2000000L)
    val s2 = storage.snapshotId(spark, dir.toString)
    assert(s1 !== s2)
  }

  test("same relative file in different partitions is distinguished; ids are stable") {
    val d1 = Files.createTempDirectory("graft-snap-a")
    val d2 = Files.createTempDirectory("graft-snap-b")
    // identical contents -> identical fingerprint (path-relative digest)
    write(d1, "part=a/f.parquet", "xyz".getBytes, 1000000L)
    write(d2, "part=a/f.parquet", "xyz".getBytes, 1000000L)
    assert(storage.snapshotId(spark, d1.toString) === storage.snapshotId(spark, d2.toString))
    // moving the file to another partition (same name/size/mtime) flips it
    val d3 = Files.createTempDirectory("graft-snap-c")
    write(d3, "part=b/f.parquet", "xyz".getBytes, 1000000L)
    assert(storage.snapshotId(spark, d1.toString) !== storage.snapshotId(spark, d3.toString))
  }

  test("underscore metadata files are ignored at any depth") {
    val dir = Files.createTempDirectory("graft-snap-m")
    write(dir, "part=a/f.parquet", "xyz".getBytes, 1000000L)
    val s1 = storage.snapshotId(spark, dir.toString)
    write(dir, "_SUCCESS", Array.emptyByteArray, 3000000L)
    write(dir, "part=a/_started_123", "tmp".getBytes, 3000000L)
    assert(storage.snapshotId(spark, dir.toString) === s1)
  }

  test("absent path reports absent") {
    assert(storage.snapshotId(spark, "/tmp/graft-definitely-missing-xyz") === "absent")
  }
}
