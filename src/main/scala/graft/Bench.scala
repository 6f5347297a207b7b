package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Harness.session(graft.util.Harness.envCpus)
    // untimed warmup: session/codegen/scan-reader initialization must not
    // be attributed to whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/nation.parquet").count() catch { case _: Throwable => () }
    // timed warm:<family> entries: shared caches (extraction run,
    // shingles, LSH pairs, dup groups, embedding buckets) materialize
    // HERE, attributed explicitly — per-query numbers then measure the
    // query, not whichever one ran first in map order
    val warm = SparkEntry.warmFamilies(spark, sfDir)
    // best-of-2 per query (r4 lesson: a single slow host window inflated
    // 45/48 BENCH numbers 3-10x and corrupted the round's record) — both
    // passes are emitted so a consumer can see the spread; the headline
    // per-query value is the min. Warm families run ONCE by design:
    // they time one-time cache materialization, which a second pass
    // would measure as a no-op
    val names = SparkEntry.queries.toSeq
    val passes = (1 to 2).map { _ =>
      names.map { case (name, fn) => SparkEntry.timed(name) { fn(spark, sfDir).count() } }
    }
    // min over NON-FAILED passes only: a fast failure must never become
    // the headline number when a successful measurement exists (the
    // failed flag still records that one pass broke)
    val best = passes.head.zip(passes(1)).map { case ((k, v1, f1), (_, v2, f2)) =>
      val v = (f1, f2) match {
        case (false, true) => v1
        case (true, false) => v2
        case _             => math.min(v1, v2)
      }
      (k, v, f1 || f2)
    }
    val results = warm ++ best
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val passJson = passes.map(p =>
      p.map { case (k, v, _) => s"\"" + k + "\":" + v }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    // failures are machine-readable, not stderr-only: a fast failure must
    // never read as a fast query to a consumer comparing BENCH rounds
    val failed = results.collect { case (k, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passJson,"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
