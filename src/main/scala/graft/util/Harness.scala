package graft.util

import org.apache.spark.sql.SparkSession

/** The one session recipe and the one timer for the driver mains
  * (Bench, Verify, ResumeProbe, ScalingBench, app.Main's local fallback)
  * and the specs: a local master `cores` wide, shuffle partitions =
  * cores, UTC session time zone, UI off, WARN logging. Settings that
  * differ per caller ride along as `conf` pairs.
  */
object Harness {

  def session(cores: Int, conf: (String, String)*): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config(Map(
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++ conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count for the driver mains: `SPARK_GRAFT_CPUS`, else every
    * available processor.
    */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Result and wall seconds of `f`. */
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}
