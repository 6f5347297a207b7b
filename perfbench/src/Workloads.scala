package graftbench

import graft.model.{ExtractedDoc, RawDoc}
import graft.pipeline.{ExtractionPipeline, ResumableJob}
import graft.sim.Similarity
import graft.sources.Storage
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input directories of one run: the timed input and the warm-up input. */
final case class Dirs(in: String, warm: String)

/** One benchmark workload: its seeded input, its timed job and the check
  * of that job's output.
  */
trait Workload {
  def name: String

  /** Fewest timed repetitions of a run. */
  def minReps: Int

  /** Writes the inputs of `dirs` from the seed. */
  def generate(spark: SparkSession, seed: Long, dirs: Dirs): Unit

  /** (docs, pages) the job over `in` processes. */
  def inputSize(spark: SparkSession, in: String): (Long, Long)

  /** The timed job: reads `in`, writes its outputs under `out`. */
  def job(spark: SparkSession, in: String, out: String): Unit

  /** Untimed check of one job's output: digests and counts; a key
    * `problems` lists every internal inconsistency found.
    */
  def check(spark: SparkSession, in: String, out: String): Map[String, Any]

  /** Costlier untimed check, made once per run on the main input, in the
    * session that ran the job: its findings and its problems.
    */
  def deepCheck(spark: SparkSession, in: String, out: String): (Map[String, Any], Seq[String])
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    // the traced extract_web run also measures the curation layers
    case "extract_mix" => new Extraction(name, 2 * Gen.BaseDocs, Gen.mixDoc, curation = false)
    case "extract_web" => new Extraction(name, 300, Gen.webPage, curation = true)
    case "curate_dedup" => new Curate(seed, 4000, 1600)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent digest of a column: the exact sum of the 64-bit
    * hashes of each row's JSON form.
    */
  def digest(c: Column): Column = sum(xxhash64(to_json(c)).cast("decimal(38,0)")).cast("string")
}

/** Production extraction job over generated raw documents: parquet scan
  * → `ResumableJob.runResumable` (salted shuffle → fused `processDoc` →
  * bucketed parquet plus lineage), the path `graft.app.Main` takes.
  */
final class Extraction(val name: String, docs: Int, row: (Long, Long) => RawDoc,
    val curation: Boolean) extends Workload {

  /** Output buckets: Main's argument, scaled to the corpus so a bucket
    * file holds tens of docs (Main's default of 64 would make the sink
    * time mostly per-file overhead at this size).
    */
  val Buckets = 8
  val minReps = 4

  def generate(spark: SparkSession, seed: Long, dirs: Dirs): Unit = {
    import spark.implicits._
    val gen = row
    def write(from: Long, until: Long, path: String): Unit =
      spark.range(from, until, 1, 8).as[Long].map(k => gen(seed, k)).write.parquet(path)
    write(0, docs, dirs.in)
    // the warm-up pass runs the job over as many docs as a repetition: with
    // four busy task threads the JIT needs that long to settle
    write(docs, 2 * docs, dirs.warm)
  }

  def inputSize(spark: SparkSession, in: String): (Long, Long) = {
    val r = spark.read.parquet(in).agg(count(lit(1)), sum(col("page_count"))).head()
    (r.getLong(0), r.getLong(1))
  }

  def job(spark: SparkSession, in: String, out: String): Unit = {
    import spark.implicits._
    val snapshot = Storage.default.snapshotId(spark, in)
    ResumableJob.runResumable(spark, spark.read.parquet(in).as[RawDoc], out, Buckets, snapshot)
  }


  def check(spark: SparkSession, in: String, out: String): Map[String, Any] = {
    val d = ResumableJob.readData(spark, out)
    def h(cols: String*) = Workload.digest(struct(cols.map(col): _*))
    val r = d.agg(count(lit(1)), sum(size(col("spans"))), sum(size(col("entities"))),
      sum(size(col("canonical_entities"))), sum(size(col("facts"))),
      sum(when(!col("success"), 1L).otherwise(0L)), countDistinct(col("bucket")),
      sum(col("meta.page_count")),
      h("doc_id", "spans"), h("doc_id", "entities"), h("doc_id", "canonical_entities"),
      h("doc_id", "facts"), h("doc_id", "meta"), h("doc_id", "success", "error")).head()
    val reasons = d.filter(!col("success")).select("error").collect()
      .groupMapReduce(x => Extraction.reasonOf(x.getString(0)))(_ => 1L)(_ + _)
    val lin = ResumableJob.readLineage(spark, out)
      .agg(sum("doc_count"), sum("span_count"), sum("fail_count"), count(lit(1))).head()
    val counts = Map("docs" -> r.getLong(0), "spans" -> r.getLong(1), "entities" -> r.getLong(2),
      "canonical" -> r.getLong(3), "facts" -> r.getLong(4), "rejects" -> r.getLong(5),
      "buckets" -> r.getLong(6))
    val lineage = Seq(lin.getLong(0), lin.getLong(1), lin.getLong(2), lin.getLong(3))
    val problems = Seq(
      if (lineage != Seq(counts("docs"), counts("spans"), counts("rejects"), counts("buckets")))
        Some(s"lineage sums $lineage differ from sink (docs, spans, rejects, buckets) " +
          s"${Seq(counts("docs"), counts("spans"), counts("rejects"), counts("buckets"))}")
      else None).flatten
    counts ++ Map(
      "pages" -> r.getLong(7),
      "reasons" -> reasons,
      "digest" -> Seq("spans", "entities", "canonical", "facts", "meta", "rows")
        .zip((8 to 13).map(r.getString)).toMap,
      "problems" -> problems)
  }

  /** Sink rows must equal driver-side `processDoc` on a fixed sample: the
    * 64 docs with the smallest doc-id hashes.
    */
  def deepCheck(spark: SparkSession, in: String, out: String): (Map[String, Any], Seq[String]) = {
    import spark.implicits._
    val sample = spark.read.parquet(in).as[RawDoc].orderBy(xxhash64(col("doc_id"))).limit(64).collect()
    val ids = sample.map(_.doc_id)
    val sink = ResumableJob.readData(spark, out).drop("bucket").as[ExtractedDoc]
      .filter(col("doc_id").isin(ids: _*)).collect().map(d => d.doc_id -> d).toMap
    val problems = sample.toSeq.flatMap { raw =>
      val want = ExtractionPipeline.processDoc(raw)
      if (sink.get(raw.doc_id).contains(want)) None
      else Some(s"sink row of ${raw.doc_id} differs from driver-side processDoc")
    }
    (Map("sample_docs" -> sample.length), problems)
  }
}

object Extraction {
  /** Reject reason of a failed row. `exception` is the catch in
    * `processDoc`; every other reason is a by-design reject.
    */
  def reasonOf(error: String): String =
    if (error.startsWith("HTTP ")) "url_http"
    else if (error.startsWith("Unsupported content type")) "url_content_type"
    else if (error == "Empty content received") "url_empty"
    else if (error.startsWith("Content exceeds")) "url_too_large"
    else if (error.startsWith("skipped: ")) "pdf_pages"
    else if (error.startsWith("missing part") || error.startsWith("unsupported office kind")) "office"
    else "exception"
}

/** Curation job over a generated `documents` + `embeddings` pair: the
  * four outputs a curation job writes (t18 funnel, t21 repetition,
  * SimHash groups, embedding groups).
  */
final class Curate(seed: Long, docs: Int, vecs: Int) extends Workload {
  val name = "curate_dedup"
  // one repetition runs hundreds of Spark jobs (connected-components
  // rounds), so it alone fills the run length
  val minReps = 1
  val Outputs = Seq("funnel", "repetition", "simhash_groups", "embedding_groups")

  lazy val input: Gen.CurateInput = Gen.curate(seed, docs, vecs)

  def generate(spark: SparkSession, seed0: Long, dirs: Dirs): Unit = {
    def write(in: Gen.CurateInput, path: String): Unit = {
      spark.createDataFrame(in.docs).repartition(4).write.parquet(s"$path/documents.parquet")
      spark.createDataFrame(in.embeddings).repartition(4).write.parquet(s"$path/embeddings.parquet")
    }
    write(input, dirs.in)
    // warm-up input without planted families: the same operators, few
    // connected-components rounds, so repeated set-ups stay cheap
    write(Gen.curate(seed + 1000003L, docs / 8, vecs / 8, planted = false), dirs.warm)
  }

  def inputSize(spark: SparkSession, in: String): (Long, Long) = {
    val r = TextOps.docs(spark, in)
      .agg(count(lit(1)), sum(greatest(lit(1L), ceil(col("n_chars") / 3000.0)))).head()
    (r.getLong(0), r.getLong(1))
  }

  def job(spark: SparkSession, in: String, out: String): Unit = {
    TextOps.curationFunnel(spark, in).write.parquet(s"$out/funnel")
    TextOps.repetition(spark, in).write.parquet(s"$out/repetition")
    TextOps.simhashGroups(spark, in).write.parquet(s"$out/simhash_groups")
    Similarity.embeddingGroups(spark, in).write.parquet(s"$out/embedding_groups")
  }

  def check(spark: SparkSession, in: String, out: String): Map[String, Any] = {
    val frames = Outputs.map(o => o -> spark.read.parquet(s"$out/$o")).toMap
    val digests = frames.map { case (o, df) =>
      val r = df.agg(count(lit(1)), Workload.digest(struct(df.columns.sorted.map(col): _*))).head()
      o -> Map("rows" -> r.getLong(0), "digest" -> r.getString(1))
    }
    val flags = Seq("keep_final", "exact_dup", "near_dup_loser", "contaminated", "repetitive")
      .map(c => sum(when(col(c), 1L).otherwise(0L)).as(c))
    val f = frames("funnel").agg(flags.head, flags.tail: _*).head()
    val funnel = f.schema.fieldNames.zipWithIndex.map { case (c, i) => c -> f.getLong(i) }.toMap
    Map(
      "docs" -> spark.read.parquet(s"$in/documents.parquet").count(),
      "outputs" -> digests,
      "funnel" -> funnel,
      "simhash_groups" -> frames("simhash_groups").select("group_id").distinct().count(),
      "embedding_groups" -> frames("embedding_groups").select("group_id").distinct().count(),
      "problems" -> Seq.empty[String])
  }

  /** Recall of the planted near-duplicate families: text families against
    * the MinHash groups (the memo of the session that ran the job), and
    * embedding families against the written embedding groups.
    */
  def deepCheck(spark: SparkSession, in: String, out: String): (Map[String, Any], Seq[String]) = {
    def groupsOf(df: DataFrame, id: String): Map[Long, Long] =
      df.select(col(id), col("group_id")).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val text = Families.recall(input.textFamilies, groupsOf(TextOps.dupGroups(spark, in), "doc_id"))
    val emb = Families.recall(input.embFamilies,
      groupsOf(spark.read.parquet(s"$out/embedding_groups"), "vec_id"))
    val problems =
      if (text.getOrElse("0.02", 1.0) >= 0.6) Nil
      else Seq(s"near-duplicate families at 2% edits found at recall ${text("0.02")} < 0.6")
    (Map("recall" -> (text.map { case (k, v) => s"text_$k" -> v } ++
      emb.map { case (_, v) => "embedding" -> v })), problems)
  }
}

object Families {
  /** Per edit rate: the share of planted family members that landed in
    * their root's group.
    */
  def recall(families: Seq[Gen.Family], groupOf: Map[Long, Long]): Map[String, Double] =
    families.groupBy(_.editRate).map { case (rate, fs) =>
      val pairs = fs.flatMap(f => f.members.map(m => (f.root, m)))
      val hit = pairs.count { case (root, m) =>
        groupOf.get(root).exists(g => groupOf.get(m).contains(g))
      }
      f"$rate%.2f" -> hit.toDouble / math.max(1, pairs.size)
    }
}
