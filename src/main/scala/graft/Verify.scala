package graft
import graft.output.Assembly.js
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: extra args restrict the dump to the named queries
    // (the driver always calls with exactly two args → full dump)
    val only = args.drop(2).toSet
    val spark = graft.util.Harness.session(graft.util.Harness.envCpus)
    // the oracle SQL is generated from the BUILT-IN corpus constants — a
    // prior install() in this JVM would silently invalidate every
    // extraction-facet oracle, so normalize before dumping
    graft.matching.Corpora.reset()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
