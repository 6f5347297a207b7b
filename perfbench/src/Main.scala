package graftbench

import graft.classify.Classifier
import graft.extract.Core8Extractor
import graft.matching.{AhoCorasick, Corpora, CorpusTable}
import graft.model.RawDoc
import graft.pipeline.ExtractionPipeline
import graft.sim.Similarity
import graft.textops.TextOps
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark JVM. Arguments are key=value:
  *
  *   workload=<name> seed=<n> seconds=<s> mode=<run|trace> cores=<n>
  *   inputs=<dir> work=<dir> result=<file> spans=<file>
  *
  * `run` times the workload's job; `trace` adds the per-layer run. The
  * seeded inputs live in `inputs`, generated there unless an earlier JVM
  * completed them. The result goes to `result` as one JSON object; the
  * launcher turns it into metrics.
  */
object Main {

  private def now: Double = System.nanoTime() / 1e9

  private def timed[A](f: => A): (A, Double) = {
    val t0 = now
    val r = f
    (r, now - t0)
  }

  /** Sentence that touches every automaton the extraction stages build. */
  private val ProbeText = "Contact John Smith of Acme Corp in Chicago on March 3, 2024 about OSHA " +
    "fall protection under 29 CFR 1926.501; call (555) 123-4567 or mail jsmith@example.com."

  final class Run(val w: Workload, val cores: Int, val work: String, val probe: Probe) {
    var spark: SparkSession = _
    private var serial = 0

    def freshDir(tag: String): String = { serial += 1; s"$work/out/$tag-$serial" }

    def open(): Unit = {
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"graft-bench-${w.name}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/tmp")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.addSparkListener(probe)
    }

    /** Corpus-bundle broadcast and install, plus the first use that
      * compiles its automatons; then the warm-up pass. Returns the two
      * times.
      */
    def setUp(warm: String): (Double, Double) = {
      val (_, install) = timed {
        CorpusTable.broadcastInstaller(spark, Corpora.bundle)()
        Core8Extractor.extractAll(ProbeText)
        Classifier.classify(ProbeText)
      }
      val (_, warmup) = timed { w.job(spark.newSession(), warm, freshDir("warm")) }
      (install, warmup)
    }

    /** Stops the session and drops every JVM-level memo a set-up builds,
      * so the next set-up pays for all of it again.
      */
    def close(): Unit = {
      spark.stop()
      AhoCorasick.evict(_ => true)
    }

    /** Drops the cached and checkpointed frames of earlier repetitions. */
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    def drainedProbe(): (Int, Int, Vector[TaskRec]) = {
      org.apache.spark.BenchAccess.drain(spark.sparkContext)
      probe.snapshot()
    }
  }

  /** Old-generation heap after a full GC, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    old.map(_.getUsage.getUsed / 1048576.0)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  def main(args: Array[String]): Unit = {
    val o = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val mode = o("mode")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val work = o("work")
    val w = Workload(o("workload"), seed)
    val run = new Run(w, o("cores").toInt, work, new Probe)
    val inputs = o("inputs")
    val dirs = Dirs(s"$inputs/in", s"$inputs/warm")
    val in = dirs.in
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "mode" -> mode, "cores" -> run.cores)
    val problems = mutable.ArrayBuffer.empty[String]
    try {
      run.open()
      val complete = Paths.get(inputs, "_COMPLETE")
      val genSec = if (Files.exists(complete)) 0.0 else timed {
        deleteTree(inputs)
        w.generate(run.spark, seed, dirs)
        Files.createFile(complete)
      }._2
      val (install, warmup) = run.setUp(dirs.warm)
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
      val setups = mutable.ArrayBuffer(System.currentTimeMillis() / 1e3 - jvmStart - genSec)
      // two more set-ups in a stopped-and-restarted session (setup_s is
      // an end-to-end metric: traced runs do not report it)
      if (mode == "run") for (_ <- 1 to 2) {
        run.close()
        setups += timed { run.open(); run.setUp(dirs.warm) }._2
      }
      result ++= Seq("gen_s" -> genSec, "setup_s" -> setups.toSeq,
        "corpus_install_s" -> install, "warmup_s" -> warmup)
      val (docs, pages) = w.inputSize(run.spark, in)
      result ++= Seq("input_docs" -> docs, "input_pages" -> pages)

      val (reps, deep) = timedReps(run, in, seconds,
        if (mode == "run") w.minReps else math.min(2, w.minReps), problems)
      result("reps") = reps
      result("deep_check") = deep
      if (mode == "trace")
        result("layers") = w match {
          case e: Extraction =>
            val layers = traceExtraction(run, e, in, o("spans"), problems)
            if (!e.curation) layers
            else {
              // the curation layers, on a curation table pair from the same seed
              val c = new Curate(seed, 2000, 800)
              val cd = Dirs(s"$work/curate", s"$work/curate-warm")
              c.generate(run.spark, seed, cd)
              c.job(run.spark.newSession(), cd.warm, run.freshDir("warm"))
              val cl = traceCurate(run, c, cd.in, o("spans").stripSuffix(".jsonl") + "-curation.jsonl")
              layers ++ Map(
                "metrics" -> (layers("metrics").asInstanceOf[Map[String, Double]] ++
                  cl("metrics").asInstanceOf[Map[String, Double]]),
                "curation" -> cl("trace"))
            }
          case c: Curate => traceCurate(run, c, in, o("spans"))
        }
      run.release()
    } catch {
      case e: Throwable =>
        problems += s"run failed: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    result("problems") = problems.toSeq
    Files.writeString(Paths.get(o("result")), Json.write(result))
    if (run.spark != null) run.spark.stop()
  }

  /** Repetitions until `seconds` of timed work (at least `min`), each in a
    * fresh session with a fresh output dir, the previous repetition's
    * frames released first. Per repetition: time, jobs, stages, task
    * failures, live heap, the Spark-layer counters and the output check;
    * after the first, the workload's deep check.
    */
  def timedReps(run: Run, in: String, seconds: Double, min: Int,
      problems: mutable.ArrayBuffer[String]): (Seq[Map[String, Any]], Map[String, Any]) = {
    val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var deepFound = Map.empty[String, Any]
    var total = 0.0
    while (total < seconds || reps.length < min) {
      if (reps.nonEmpty) run.release()
      val s = run.spark.newSession()
      val out = run.freshDir("rep")
      run.drainedProbe()
      run.probe.reset()
      val (_, sec) = timed(run.w.job(s, in, out))
      total += sec
      val (jobs, stages, tasks) = run.drainedProbe()
      val heap = liveHeapMb()
      val check = run.w.check(s, in, out)
      problems ++= check("problems").asInstanceOf[Seq[String]]
      if (reps.isEmpty) {
        val (found, ps) = run.w.deepCheck(s, in, out)
        deepFound = found
        problems ++= ps
      }
      deleteTree(out)
      reps += Map("sec" -> sec, "jobs" -> jobs, "stages" -> stages,
        "failed_tasks" -> tasks.count(_.failed), "heap_mb" -> heap,
        "check" -> (check - "problems"), "spark" -> Probe.layerMetrics(tasks).toMap)
    }
    // a memo hit would cut the counts by far more than the ±1% (at least
    // ±2) the curation operators' own connected-components rounds vary by
    def near(a: Int, b: Int) = math.abs(a - b) <= math.max(2, b / 100)
    val (jobs0, stages0) = (reps.head("jobs").asInstanceOf[Int], reps.head("stages").asInstanceOf[Int])
    if (!reps.forall(r => near(r("jobs").asInstanceOf[Int], jobs0) && near(r("stages").asInstanceOf[Int], stages0)))
      problems += s"repetitions ran different job/stage counts: ${reps.map(r => (r("jobs"), r("stages")))}"
    if (reps.map(_("check")).distinct.size != 1)
      problems += "repetitions produced different outputs"
    val heaps = reps.map(_("heap_mb").asInstanceOf[Double])
    if (heaps.last > heaps.min * 1.2 + 32)
      problems += s"live heap grew across repetitions: $heaps"
    (reps.toSeq, deepFound)
  }

  /** Per-layer run of an extraction workload: the Spark layers as
    * cumulative steps, then the per-doc replay of every document.
    */
  def traceExtraction(run: Run, w: Extraction, in: String, spansFile: String,
      problems: mutable.ArrayBuffer[String]): Map[String, Any] = {
    val spark = run.spark
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism * 2
    val tr = new Tracer("run")
    def step(name: String)(f: SparkSession => Any): Double = {
      run.release()
      val s = spark.newSession()
      val (_, sec) = timed(tr.span(name)(f(s)))
      sec
    }
    def raw(s: SparkSession) = s.read.parquet(in).as[RawDoc]
    val scan = step("pipeline.scan")(s => raw(s).foreachPartition((it: Iterator[RawDoc]) => it.foreach(_ => ())))
    val shuffle = step("pipeline.shuffle")(s =>
      ExtractionPipeline.salted(raw(s), p).foreachPartition((it: Iterator[RawDoc]) => it.foreach(_ => ())))
    val fused = step("pipeline.fused")(s => ExtractionPipeline.runCounting(s, raw(s), p))
    val encode = step("pipeline.encode")(s => ExtractionPipeline.run(s, raw(s), p).queryExecution.toRdd.count())
    val sink = step("pipeline.sink")(s => w.job(s, in, run.freshDir("sink")))

    run.release()
    val s = spark.newSession()
    val install = CorpusTable.broadcastInstaller(s, Corpora.bundle)
    val (parts, replaySec) = timed(ExtractionPipeline.salted(raw(s), p).rdd
      .mapPartitions { it => install(); Iterator.single(Replay.partition(it)) }
      .collect())
    val docNs = parts.flatMap(_.docNs).map(_.toDouble).sorted
    val counts = parts.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)
    val probeNs = parts.flatMap(_.probeNs).groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)
    val spans = parts.iterator.flatMap(_.spans).toVector ++ tr.spans
    val self = Spans.selfNs(spans).withDefaultValue(0L)
    parts.flatMap(_.mismatches).take(20).foreach(problems += _)
    val refNs = docNs.sum
    val stageNs = parts.map(_.stageNs).sum.toDouble
    val coverage = if (refNs > 0) stageNs / refNs else 0.0
    if (coverage < 0.95) problems += f"stage self times cover $coverage%.3f of processDoc time (< 0.95)"
    writeSpans(spansFile, spans)

    def sec(name: String) = self(name) / 1e9
    val htmlSec = sec("html.parse") + sec("html.boilerplate") + sec("html.emit")
    val entitySec = sec("extract.entities")
    val entityDocs = counts("entity_docs").toDouble
    val layers = mutable.LinkedHashMap[String, Double](
      "pipeline.scan_s" -> scan, "pipeline.shuffle_s" -> (shuffle - scan),
      "pipeline.fused_s" -> (fused - shuffle), "pipeline.encode_s" -> (encode - fused),
      "pipeline.sink_s" -> (sink - encode),
      "html.parse_s" -> sec("html.parse"), "html.boilerplate_s" -> sec("html.boilerplate"),
      "html.emit_s" -> sec("html.emit"),
      "html.mb_per_s" -> (if (htmlSec > 0) counts("html_bytes") / 1e6 / htmlSec else 0.0),
      "pdf.extract_s" -> sec("pdf.extract"),
      "extract.flags_s" -> sec("extract.flags"),
      "extract.clean_s" -> (sec("extract.clean") + sec("extract.truncate")),
      "extract.entities_s" -> entitySec,
      "extract.entity_mchars_per_core" -> (if (entitySec > 0) counts("entity_chars") / 1e6 / entitySec else 0.0),
      "extract.persons_s" -> probeNs("persons") / 1e9, "extract.orgs_s" -> probeNs("orgs") / 1e9,
      "extract.gazetteer_s" -> probeNs("gazetteer") / 1e9)
    Replay.Patterns.foreach { case (n, _) =>
      layers(s"extract.re.${n}_s") = probeNs(s"re.$n") / 1e9
      layers(s"extract.re.${n}_hit_ratio") = if (entityDocs > 0) counts(s"re.$n.hits") / entityDocs else 0.0
    }
    layers ++= Seq(
      "classify.classify_s" -> sec("classify.classify"),
      "classify.domain_entities_s" -> sec("classify.domain_entities"),
      "classify.skip_entities_docs" -> counts("skip_entities_docs").toDouble,
      "normalize.canonicalize_s" -> sec("normalize.canonicalize"),
      "facts.spo_s" -> sec("facts.spo"),
      "doc.p50_ms" -> Stats.pct(docNs, 50) / 1e6, "doc.p99_ms" -> Stats.pct(docNs, 99) / 1e6,
      "doc.max_ms" -> (if (docNs.isEmpty) 0.0 else docNs.last / 1e6))
    Seq("url_http", "url_content_type", "pdf_pages", "exception").foreach { r =>
      layers(s"doc.rejects.$r") = counts(s"rejects.$r").toDouble
    }
    val composedNs = parts.map(_.composedNs).sum.toDouble
    val n = counts("docs").toDouble
    // per-doc means beside the reference's per-stage targets (ms)
    def meanMs(names: String*) = if (n > 0) names.map(self).sum / 1e6 / n else 0.0
    Map("metrics" -> layers.toMap,
      "trace" -> Map("replay_s" -> replaySec, "docs" -> n, "coverage" -> coverage,
        "overhead" -> (if (refNs > 0) composedNs / refNs - 1 else 0.0),
        "traced_docs_per_core_s" -> (if (composedNs > 0) n / (composedNs / 1e9) else 0.0),
        "untraced_docs_per_core_s" -> (if (refNs > 0) n / (refNs / 1e9) else 0.0)),
      "stage_means_ms" -> Map(
        "convert" -> meanMs("html.parse", "html.boilerplate", "html.emit", "pdf.extract",
          "convert.text", "convert.csv", "convert.office", "convert.fallback", "convert.markdown"),
        "classify" -> meanMs("classify.classify"),
        "entities" -> meanMs("extract.entities"),
        "normalize" -> meanMs("normalize.canonicalize"),
        "semantic" -> meanMs("facts.spo", "classify.domain_entities"),
        "processDoc" -> (if (n > 0) refNs / 1e6 / n else 0.0)))
  }

  /** Per-layer run of the curation workload: each operator timed in
    * dependency order in one fresh session, so every step pays only its
    * own work on top of the memos the earlier steps left.
    */
  def traceCurate(run: Run, w: Curate, in: String, spansFile: String): Map[String, Any] = {
    run.release()
    val s = run.spark.newSession()
    val tr = new Tracer("run")
    def step[A](name: String)(f: => A): (A, Double) = timed(tr.span(name)(f))
    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var recall = Map.empty[String, Double]
    val (metrics, tracedSec) = timed {
      val (_, shingles) = step("textops.shingles")(TextOps.shingles(s, in).count())
      val (pairs, lsh) = step("textops.minhash_lsh")(TextOps.minhashLsh(s, in).count())
      val (groups, dup) = step("textops.dup_groups")(TextOps.dupGroups(s, in))
      val (_, simhash) = step("textops.simhash_groups")(TextOps.simhashGroups(s, in).count())
      val (_, rep) = step("textops.repetition")(noop(TextOps.repetition(s, in)))
      val (_, budget) = step("textops.token_budget")(noop(TextOps.tokenBudget(s, in)))
      val (_, cont) = step("textops.contamination")(noop(TextOps.contamination(s, in)))
      val (kept, funnel) = step("textops.funnel") {
        val f = TextOps.curationFunnel(s, in)
        noop(f)
        f.filter(org.apache.spark.sql.functions.col("keep_final")).count()
      }
      val (_, buckets) = step("sim.lsh_buckets")(Similarity.lshBuckets(s, in).count())
      val (_, emb) = step("sim.emb_groups")(Similarity.embeddingGroups(s, in).count())
      val embPairs = Similarity.embeddingDedup(s, in).count()
      recall = Families.recall(w.input.textFamilies,
        groups.select("doc_id", "group_id").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
      val g = groups.agg(org.apache.spark.sql.functions.countDistinct("group_id"),
        org.apache.spark.sql.functions.max("group_size")).head()
      val docs = TextOps.docs(s, in).count()
      Map("textops.shingles_s" -> shingles, "textops.minhash_lsh_s" -> lsh,
        "textops.lsh_pairs" -> pairs.toDouble, "textops.dup_groups_s" -> dup,
        "textops.dup_groups" -> g.getLong(0).toDouble,
        "textops.max_group" -> (if (g.isNullAt(1)) 0.0 else g.getLong(1).toDouble),
        "textops.simhash_groups_s" -> simhash, "textops.repetition_s" -> rep,
        "textops.token_budget_s" -> budget, "textops.contamination_s" -> cont,
        "textops.funnel_s" -> funnel, "textops.kept_ratio" -> kept.toDouble / docs,
        "sim.lsh_buckets_s" -> buckets, "sim.emb_groups_s" -> emb, "sim.emb_pairs" -> embPairs.toDouble)
    }
    writeSpans(spansFile, tr.spans)
    Map("metrics" -> metrics, "trace" -> Map("traced_s" -> tracedSec, "text_recall" -> recall))
  }

  def writeSpans(path: String, spans: Iterable[SpanRec]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try spans.foreach { s => w.write(Spans.json(s)); w.write('\n') } finally w.close()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}
