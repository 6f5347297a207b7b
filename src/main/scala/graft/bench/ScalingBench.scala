package graft.bench

import graft.model.RawDoc
import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.{Files, Paths}

/** Two-parallelism scaling run — the sandbox stand-in for the north
  * rule's "N and 4N executor clusters" criterion (BASELINE.md): the SAME
  * fused extraction job over IDENTICAL input at local[N] and local[4N],
  * reporting docs/sec + pages/sec at both and scaling efficiency
  * = thr(4N) / (4 × thr(N)).
  *
  * Each level runs in its OWN JVM, pinned with `taskset -c` to exactly
  * that many physical cores, so the N-core measurement is not subsidized
  * by idle cores running GC/JIT threads — the honest analog of an N-core
  * cluster:
  *
  *   taskset -c 0-7  sbt "runMain graft.bench.ScalingBench measure <sfDir> 8  <repl> <reps> /tmp/n.json"
  *   taskset -c 0-31 sbt "runMain graft.bench.ScalingBench measure <sfDir> 32 <repl> <reps> /tmp/4n.json"
  *   sbt "runMain graft.bench.ScalingBench report /tmp/n.json /tmp/4n.json"
  *
  * `report` prints one JSON line; BENCH.md is kept by hand.
  *
  * The corpus is DocGen's deterministic interleaved mix (HTML/PDF/text +
  * 1-in-101 giant-doc skew tail) replicated `repl`× with distinct ids —
  * same rows, same bytes at both levels. Within each JVM: one warmup run
  * (JIT), then best-of-`reps` measured runs.
  */
object ScalingBench {

  /** Balanced corpus: replicate ids, then repartition the SMALL
    * (id, text) rows on `id`, before synthesis, so the expensive payload
    * construction is spread across all cores and full payloads never
    * shuffle (the parquet source is one file = one input split; without
    * this the whole synthesis stage runs on one core). Both exchanges
    * key on the id column itself: each row is an independent hash draw,
    * where a pmod'ed or composite key with few distinct values would be
    * hashed again into the partitions and collide whole groups.
    */
  def corpus(spark: SparkSession, sfDir: String, repl: Int, partitions: Int): Dataset[RawDoc] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    DocGen.docsTable(spark, sfDir)
      .select("doc_id", "text")
      // spread the base rows FIRST: the parquet source is one split, so
      // everything before the first exchange runs on one core — keep that
      // serial stage down to reading 5k small rows
      .repartition(partitions, col("doc_id"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        (0 until repl).iterator.map(r => (id * repl + r, text))
      }
      .toDF("id", "text")
      .repartition(partitions, col("id"))
      .as[(Long, String)]
      .map { case (id, text) => DocGen.synthesize(id, text) }
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the bench corpus is small (≈18MB / 128 files); with the 128MB /
      // 4MB defaults the whole scan coalesces into ~5 splits and the
      // scan+shuffle-write stage serializes. At 100 TB the defaults are
      // right — here they must shrink with the data so the scan fans out.
      .config("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize the corpus as a many-file parquet table (setup, NOT
    * measured) — the measured job then has the production shape: scan
    * partitioned parquet of raw docs → fused extraction. 128 output
    * files give both levels ample read splits.
    */
  def materialize(spark: SparkSession, sfDir: String, repl: Int, path: String): Unit = {
    corpus(spark, sfDir, repl, 128).write.mode("overwrite").parquet(path)
  }

  /** One measured run: parquet scan → `doc_id` repartition (the
    * production shuffle — payloads shuffle once) → fused extraction; count +
    * page-sum forces every stage. Result sink I/O excluded (both levels
    * would share one local disk, which a real cluster would not).
    */
  private def runOnce(spark: SparkSession, corpusPath: String): (Double, Long, Long) = {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism * 4
    val raw = spark.read.parquet(corpusPath).as[RawDoc]
    val t0 = System.nanoTime()
    val (docs, pages) = ExtractionPipeline.runCounting(spark, raw, partitions = p)
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, docs, pages)
  }

  private def measure(sfDir: String, cores: Int, repl: Int, reps: Int, outJson: String): Unit = {
    val s = session(cores)
    val corpusPath = s"/tmp/graft_bench_corpus_$repl"
    if (!Files.exists(Paths.get(corpusPath, "_SUCCESS"))) materialize(s, sfDir, repl, corpusPath)
    runOnce(s, corpusPath) // JIT warmup
    val results = (1 to reps).map(_ => runOnce(s, corpusPath))
    s.stop()
    val (sec, docs, pages) = results.minBy(_._1)
    val json =
      f"""{"cores":$cores,"sec":$sec%.2f,"docs":$docs,"pages":$pages,"repl":$repl,"reps":$reps,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
  }

  private def field(json: String, k: String): String =
    s""""$k":\\s*("?)([^,}"]*)\\1""".r.findFirstMatchIn(json).get.group(2)

  private def report(jsonNPath: String, json4NPath: String): Unit = {
    val jn = Files.readString(Paths.get(jsonNPath))
    val j4 = Files.readString(Paths.get(json4NPath))
    val n = field(jn, "cores").toInt
    val n4 = field(j4, "cores").toInt
    val secN = field(jn, "sec").toDouble
    val sec4N = field(j4, "sec").toDouble
    val docs = field(jn, "docs").toLong
    val pages = field(jn, "pages").toLong
    require(field(j4, "docs").toLong == docs, "corpus mismatch between levels")
    val thrN = docs / secN
    val thr4N = docs / sec4N
    val eff = thr4N / (n4.toDouble / n) / thrN
    val json =
      f"""{"sf":"${field(jn, "sf")}","docs":$docs,"pages":$pages,"cores_n":$n,"cores_4n":$n4,""" +
        f""""sec_n":$secN%.2f,"sec_4n":$sec4N%.2f,"docs_per_sec_n":$thrN%.1f,"docs_per_sec_4n":$thr4N%.1f,""" +
        f""""pages_per_sec_n":${pages / secN}%.1f,"pages_per_sec_4n":${pages / sec4N}%.1f,"scaling_efficiency":$eff%.3f}"""
    println(json)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "measure" :: sfDir :: cores :: repl :: reps :: outJson :: Nil =>
      measure(sfDir, cores.toInt, repl.toInt, reps.toInt, outJson)
    case "report" :: jsonN :: json4N :: Nil =>
      report(jsonN, json4N)
    case other =>
      sys.error(s"usage: measure <sfDir> <cores> <repl> <reps> <outJson> | report <jsonN> <json4N>; got $other")
  }
}
