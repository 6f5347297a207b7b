package graft

import graft.extract.Core8Extractor
import graft.model.{ExtractedDoc, RawDoc}
import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query families:
  *   x_*  — the extraction engine (HTML/PDF/text/office → spans,
  *          classification, entities, normalization, facts, artifacts).
  *          Hash-gated by RECONSTRUCTION oracles (the deterministic
  *          synthesis re-derived as DuckDB arithmetic; see OracleSql);
  *          `_core` variants gate the downstream stages over the
  *          exactly-reconstructable modes, all-modes variants keep
  *          rows-only checks plus the ScalaTest golden suite.
  *   q*   — relational + streaming coverage over the TPC-H-ish tables
  *          (q1-q17) and the stream/batch session parity replay (q18),
  *          all DuckDB hash-verified.
  *   t*   — training-data text ops (tokens, quality, lang-id,
  *          fingerprints, exact/near dedup, dup GROUPS, corpus
  *          curation, LSH recall) over `documents`.
  *   s*   — embedding similarity (top-k, LSH/IVF ANN, centroids,
  *          near-dup groups) over `embeddings`.
  *   m*   — multimodal binary-payload ops.
  */
object SparkEntry {

  /** Every fused-pipeline run, keyed "<corpus>:<dir>" per session: the
    * x_* queries project different columns of the SAME run of each
    * corpus — recomputing the full pipeline per query would be a 10×
    * waste in Verify/Bench (and in any real consumer reading several
    * facets).
    */
  private val runs = new graft.util.SessionCache[Dataset[ExtractedDoc]]

  private def persistedRun(s: SparkSession, corpus: String, dir: String)(
      raw: => Dataset[RawDoc]): Dataset[ExtractedDoc] =
    runs.getOrElseUpdate(s, s"$corpus:$dir") {
      ExtractionPipeline.run(s, raw).persist(StorageLevel.MEMORY_AND_DISK)
    }

  private def extracted(s: SparkSession, dir: String): Dataset[ExtractedDoc] =
    persistedRun(s, "main", dir)(DocGen.rawDocs(s, dir))

  /** F13 office corpus: the OOXML synthesis of the same documents table
    * (lighter than the main run: no HTML parse).
    */
  private def officeExtracted(s: SparkSession, dir: String): Dataset[ExtractedDoc] =
    persistedRun(s, "office", dir)(DocGen.officeRawDocs(s, dir))

  /** F12/F15 aux corpus: csv + unknown-kind payloads (DocGen.auxRawDocs). */
  private def auxExtracted(s: SparkSession, dir: String): Dataset[ExtractedDoc] =
    persistedRun(s, "aux", dir)(DocGen.auxRawDocs(s, dir))

  /** Gazetteer realism tier: the full pipeline re-run under a
    * 430k-pattern corpus bundle (the reference's name-corpus scale,
    * `knowledge/corpus/foundation_data/`: 429K first / 99K last names),
    * exercising generate → loadVersioned (snapshot-hash) → broadcast →
    * per-JVM automaton build end-to-end (CorpusTableSpec covers the
    * parquet round trip of a corpus table).
    * The tier is hermetic w.r.t. the synthesis fixtures (pinned by
    * CorpusTableSpec), so the SAME reconstruction oracles gate this
    * run — installing 430k patterns must change nothing on fixture
    * text while the automaton path runs at reference scale.
    */
  val BigTierTarget = 430000

  private def bigExtracted(s: SparkSession, dir: String): Dataset[ExtractedDoc] =
    runs.getOrElseUpdate(s, s"big:$dir") {
      import s.implicits._
      val bundle = graft.matching.CorpusTable.loadVersioned(
        s, graft.matching.CorpusGen.rowsAt(BigTierTarget).toDF("kind", "value", "meta"))
      // run() captures the driver's active bundle eagerly, so the
      // install/restore window only needs to span the run() call; the
      // broadcast keeps the big bundle alive for lazy task execution
      val prev = graft.matching.Corpora.bundle
      graft.matching.Corpora.install(bundle)
      try {
        // localCheckpoint (eager): materializes NOW — local mode shares
        // one JVM, so later builtin-bundle queries must not interleave
        // with lazy big-bundle partitions — AND truncates lineage, so a
        // lost partition can never recompute under a restored builtin
        // bundle and silently mix bundles (r4 ADVICE; persist+count
        // left that recompute path open on executor loss)
        ExtractionPipeline.run(s, DocGen.rawDocs(s, dir)).localCheckpoint()
      } finally graft.matching.Corpora.install(prev)
    }

  private val streamReplayCache = new graft.util.SessionCache[DataFrame]

  /** One `Replay.run` replay of the raw corpus per (session, dir),
    * sinking FULL extracted docs (localCheckpoint'ed by docReplay) —
    * both stream parity facets project from this single replay.
    */
  private def streamExtracted(s: SparkSession, dir: String): DataFrame =
    streamReplayCache.getOrElseUpdate(s, dir) {
      graft.streaming.DocStream.docReplay(s, DocGen.rawDocs(s, dir))
    }

  /** Column-level doc-id arithmetic (doc_id = "doc<id>"): keeps facet
    * filters inside codegen instead of deserializing ExtractedDoc objects
    * for a typed lambda.
    */
  private def docIdNum = expr("CAST(substring(doc_id, 4) AS BIGINT)")

  /** DocGen's mode split (`kindOf`) restated as COLUMN predicates. A
    * typed lambda filter would deserialize every ExtractedDoc from the
    * columnar cache — all facet columns, including the heavy
    * span/entity/fact arrays — just to read the doc id; these keep the
    * facet predicate inside codegen so the InMemoryTableScan prunes to
    * exactly the columns the facet projects.
    */
  private def kindCol(kind: String) = {
    val mode = docIdNum % 10
    kind match {
      case "html"       => mode < 5
      case "pdf_blocks" => mode >= 5 && mode < 8
      case _            => mode >= 8
    }
  }

  private def nonPdfCol = !kindCol("pdf_blocks")

  /** The main run over the exactly-reconstructable modes (html + text;
    * pdf chunking mangles entity surface — see the oracle docs).
    */
  private def core(s: SparkSession, dir: String): Dataset[ExtractedDoc] =
    extracted(s, dir).filter(nonPdfCol)

  /** The shared facet projections, each defined ONCE. `Dataset[_]` (not
    * overloads — Dataset[ExtractedDoc] and DataFrame share an erasure)
    * so the typed extraction caches and the streamed replay DataFrame all
    * project through one definition: the all-modes, `_core`, office, big
    * and stream facets gate on the same shape, and a drifted copy would
    * go unseen wherever no oracle checks it. Each selects its columns
    * BEFORE any typed map, so the cache scan prunes to exactly them
    * (renderedOf alone reads the whole doc: the renderers need it).
    */
  private def spansOf(ds: Dataset[_]): DataFrame =
    ds.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))
      .orderBy(col("doc_id"), col("offset"))

  private def entitiesOf(ds: Dataset[_]): DataFrame =
    ds.select(col("doc_id"), explode(col("entities")).as("e"))
      .select(col("doc_id"), col("e.type").as("type"), col("e.value").as("value"),
        col("e.start").as("start"), col("e.end").as("end"))
      .orderBy(col("doc_id"), col("start"), col("type"))

  private def canonicalOf(ds: Dataset[_]): DataFrame =
    ds.select(col("doc_id"), explode(col("canonical_entities")).as("c"))
      .select(col("doc_id"), col("c.id").as("id"), col("c.type").as("type"),
        col("c.normalized").as("normalized"), col("c.count").as("count"))
      .orderBy(col("doc_id"), col("id"))

  private def factsOf(ds: Dataset[_]): DataFrame =
    ds.select(col("doc_id"), explode(col("facts")).as("f"))
      .select(col("doc_id"), col("f.fact_type").as("fact_type"),
        col("f.subject").as("subject"), col("f.predicate").as("predicate"),
        col("f.object").as("object"), col("f.confidence").as("confidence"),
        col("f.actionable").as("actionable"))
      .orderBy(col("doc_id"), col("fact_type"))

  private def factSummaryOf(ds: Dataset[_]): DataFrame = {
    val s = ds.sparkSession
    import s.implicits._
    ds.select(col("doc_id"), col("facts"))
      .as[(String, Seq[graft.model.Fact])]
      .map { case (id, facts) =>
        val sm = graft.facts.SpoExtractor.summarize(facts)
        (id, sm.total_facts.toLong, sm.actionable_facts.toLong,
          sm.fact_types.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(","))
      }
      .toDF("doc_id", "total_facts", "actionable_facts", "fact_types")
      .orderBy(col("doc_id"))
  }

  /** N11 global replacement + N12 stats on the pipeline's clean text. */
  private def normalizedOf(ds: Dataset[_]): DataFrame = {
    val s = ds.sparkSession
    import s.implicits._
    ds.select(col("doc_id"), col("spans.text").as("texts"), col("entities"))
      .as[(String, Seq[String], Seq[graft.model.EntityMention])]
      .map { case (id, texts, entities) =>
        val r = graft.normalize.Normalizer.run(Core8Extractor.cleanTextOf(texts), entities)
        (id, r.mentionCount.toLong, r.canonicalCount.toLong, r.reductionPct,
          r.normalizedText.length.toLong)
      }
      .toDF("doc_id", "mentions", "canonical", "reduction_pct", "norm_len")
      .orderBy(col("doc_id"))
  }

  /** Length + md5 of one rendered artifact per doc (O1 markdown, O2
    * knowledge JSON), as `<prefix>_len` and `<prefix>_md5`.
    */
  private def renderedOf(ds: Dataset[ExtractedDoc], prefix: String)(
      render: ExtractedDoc => String): DataFrame = {
    val s = ds.sparkSession
    import s.implicits._
    ds.map(d => (d.doc_id, render(d)))
      .toDF("doc_id", "rendered")
      .select(col("doc_id"), length(col("rendered")).as(s"${prefix}_len"),
        md5(col("rendered")).as(s"${prefix}_md5"))
      .orderBy(col("doc_id"))
  }

  /** Flagship: full fused extraction over the interleaved corpus at
    * sf0.001 — every stage exercised, spans exploded.
    */
  def entry(spark: SparkSession): DataFrame =
    spansOf(extracted(spark, "/root/testdata/sf0.001"))

  /** The bench timing/failure protocol, shared by [[warmFamilies]] and
    * Bench's per-query loop so the two report failures identically. A
    * failed stage still reports its elapsed time (the cost was paid and
    * must stay in the total), prints a loud failure marker to stderr,
    * AND carries the failure flag into the result so Bench can list it
    * machine-readably — a fast failure must never read as a fast query
    * to a JSON consumer comparing rounds.
    */
  def timed(name: String)(f: => Unit): (String, Double, Boolean) = {
    val (err, sec) = graft.util.Harness.secs {
      try { f; None } catch { case e: Throwable => Some(e) }
    }
    err.foreach(e => System.err.println(s"[graft] $name FAILED after ${sec}s: ${e.getMessage}"))
    (name, sec, err.isDefined)
  }

  /** Timed materialization of every cross-query shared cache, in
    * dependency order. Bench runs these FIRST and reports them as
    * explicit `warm:<family>` entries: the shared materialization cost
    * stays visible in the total but is no longer attributed to
    * whichever family query happens to run first in map order — that
    * attribution made per-query BENCH deltas incomparable across
    * rounds.
    */
  def warmFamilies(s: SparkSession, dir: String): Seq[(String, Double, Boolean)] = {
    Seq(
      timed("warm:extract") { extracted(s, dir).count() },
      timed("warm:office") { officeExtracted(s, dir).count() },
      timed("warm:aux") { auxExtracted(s, dir).count() },
      timed("warm:big_corpus") { bigExtracted(s, dir).count() },
      timed("warm:stream_replay") { streamExtracted(s, dir).count() },
      timed("warm:tokens") { graft.textops.TextOps.tokenBudget(s, dir).count() },
      timed("warm:shingles") { graft.textops.TextOps.shingles(s, dir).count() },
      timed("warm:ngram_pairs") { graft.textops.TextOps.ngramJaccard(s, dir).count() },
      timed("warm:lsh_pairs") { graft.textops.TextOps.minhashLsh(s, dir).count() },
      timed("warm:dup_groups") { graft.textops.TextOps.dupGroups(s, dir).count() },
      timed("warm:simhash_pairs") { graft.textops.TextOps.simhashDedup(s, dir).count() },
      timed("warm:simhash_groups") { graft.textops.TextOps.simhashGroups(s, dir).count() },
      timed("warm:emb_buckets") { graft.sim.Similarity.lshBuckets(s, dir).count() },
      timed("warm:emb_pairs") { graft.sim.Similarity.embeddingDedup(s, dir).count() },
      timed("warm:emb_groups") { graft.sim.Similarity.embeddingGroups(s, dir).count() },
      timed("warm:centroids") { graft.sim.Similarity.warmCentroids(s, dir) })
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction engine (rows-only checks; golden specs in sbt test)
    "x_html_spans" -> ((s, dir) => spansOf(extracted(s, dir).filter(kindCol("html")))),
    "x_pdf_spans" -> ((s, dir) => spansOf(extracted(s, dir).filter(kindCol("pdf_blocks")))),
    "x_text_spans" -> ((s, dir) => spansOf(extracted(s, dir).filter(kindCol("text")))),
    // streaming parity gates: the flagship extraction replayed through a
    // `Replay.run` child session (the q18 pattern) must emit exactly the
    // batch rows — each oracle is the same DuckDB reconstruction that
    // gates the batch facet, so stream == batch is proven through an
    // independent re-derivation rather than self-comparison. Spans gate
    // the conversion stages; entities additionally gate the
    // gazetteer-dependent stages (a span-only gate is bundle-blind)
    "x_stream_spans" -> ((s, dir) => spansOf(streamExtracted(s, dir))),
    "x_stream_entities" -> ((s, dir) =>
      entitiesOf(streamExtracted(s, dir).filter(nonPdfCol))),
    "x_office_spans" -> ((s, dir) => spansOf(officeExtracted(s, dir))),
    // F12 csv conversion + F15 universal fallback, each hash-gated by a
    // reconstruction oracle over the aux corpus (even ids = csv, odd =
    // unknown kind exercising all three fallback tiers)
    "x_csv_spans" -> ((s, dir) =>
      spansOf(auxExtracted(s, dir).filter(docIdNum % 2 === 0))),
    "x_fallback_spans" -> ((s, dir) =>
      spansOf(auxExtracted(s, dir).filter(docIdNum % 2 === 1))),
    // office corpus is chunk-free, so its downstream stages are exactly
    // reconstructable too — entity and fact hash-gates over the same run
    "x_office_entities" -> ((s, dir) => entitiesOf(officeExtracted(s, dir))),
    "x_office_facts" -> ((s, dir) => factsOf(officeExtracted(s, dir))),
    "x_content_flags" -> ((s, dir) =>
      extracted(s, dir).select(col("doc_id"), col("meta.content_detection.*"))
        .orderBy(col("doc_id"))),
    "x_classify" -> ((s, dir) =>
      extracted(s, dir).select(col("doc_id"),
        col("meta.primary_domain").as("primary_domain"),
        col("meta.primary_domain_confidence").as("confidence"),
        col("meta.primary_document_type").as("doc_type"))
        .orderBy(col("doc_id"))),
    // A5 keyword/topic/technical-score tagging (mvp-hyper-tagger):
    // document-local aggregations over the classify input string
    "x_keywords" -> ((s, dir) =>
      graft.classify.Tagger.keywordRows(extracted(s, dir))),
    "x_tags_meta" -> ((s, dir) =>
      graft.classify.Tagger.tagMeta(extracted(s, dir))),
    "x_entities" -> ((s, dir) => entitiesOf(extracted(s, dir))),
    // Core-8 extraction hash-gate over the exactly-reconstructable modes
    "x_entities_core" -> ((s, dir) => entitiesOf(core(s, dir))),
    // the same two gazetteer-sensitive facets under the 430k tier —
    // gated by the SAME oracle SQL (hermetic tier => identical results)
    "x_big_entities_core" -> ((s, dir) =>
      entitiesOf(bigExtracted(s, dir).filter(nonPdfCol))),
    "x_big_canonical_core" -> ((s, dir) =>
      canonicalOf(bigExtracted(s, dir).filter(nonPdfCol))),
    "x_canonical_entities" -> ((s, dir) => canonicalOf(extracted(s, dir))),
    // A2 distributed extension: corpus-level canonical entity table
    // (one groupBy shuffle on (type, normalized); see CorpusCanonical)
    "x_global_entities" -> ((s, dir) =>
      graft.normalize.CorpusCanonical.globalEntities(extracted(s, dir))),
    // the same corpus-level aggregation hash-gated over the
    // reconstructable modes (see x_canonical_core)
    "x_global_core" -> ((s, dir) =>
      graft.normalize.CorpusCanonical.globalEntities(core(s, dir))),
    // A2 mention-context half: sentence-window co-occurrence edges
    // between canonical entities, corpus-aggregated (EntityEdges)
    "x_entity_edges" -> ((s, dir) =>
      graft.normalize.EntityEdges.edges(extracted(s, dir))),
    "x_entity_edges_core" -> ((s, dir) =>
      graft.normalize.EntityEdges.edges(core(s, dir))),
    // per-mention ±50-char context windows (the disambiguator's raw
    // material), hash-gated over the reconstructable modes
    "x_mention_context_core" -> ((s, dir) =>
      graft.normalize.EntityEdges.mentionContexts(core(s, dir))),
    // A2 resolution: per-doc evidence-scored person/org decisions over
    // the ambiguous canonical surfaces, plus the corpus rollup (built on
    // the unsorted rows — the groupBy would discard a sort anyway)
    "x_disambig_core" -> ((s, dir) =>
      graft.normalize.Disambiguator.decisions(core(s, dir))),
    "x_disambig_global" -> ((s, dir) =>
      graft.normalize.Disambiguator.global(
        graft.normalize.Disambiguator.decisionRows(core(s, dir)))),
    // normalization hash-gate over the reconstructable modes
    "x_canonical_core" -> ((s, dir) => canonicalOf(core(s, dir))),
    "x_facts" -> ((s, dir) => factsOf(extracted(s, dir))),
    // SPO fact hash-gate over the reconstructable modes (see x_entities_core)
    "x_facts_core" -> ((s, dir) => factsOf(core(s, dir))),
    // X2 typed-fact breadth shipped as X3 CONFIG rows: the same SPO
    // engine with the typedPatterns set installed, gating only the NEW
    // fact types (the builtin rows stay x_facts_core's gate). Runs over
    // the cached extraction's spans — same clean text as the pipeline.
    "x_typed_facts_core" -> ((s, dir) => {
      import s.implicits._
      core(s, dir)
        .select(col("doc_id"), col("spans.text").as("texts"))
        .as[(String, Seq[String])]
        .flatMap { case (id, texts) =>
          graft.facts.SpoExtractor.extract(Core8Extractor.cleanTextOf(texts),
            graft.facts.SpoExtractor.typedPatterns)
            .filter(f => graft.facts.SpoExtractor.typedFactTypes.contains(f.fact_type))
            .map(f => (id, f.fact_type, f.subject, f.predicate,
              f.`object`, f.confidence, f.actionable))
        }
        .toDF("doc_id", "fact_type", "subject", "predicate", "object",
          "confidence", "actionable")
        .orderBy(col("doc_id"), col("fact_type"))
    }),
    "x_rejects" -> ((s, dir) =>
      extracted(s, dir).filter(!col("success"))
        .select(col("doc_id"), col("error")).orderBy(col("doc_id"))),
    // E15 gap discovery + its distributed learning aggregation over the
    // reconstructable modes (disabled in the pipeline by default, like
    // the reference — exercised here as its own facet)
    "x_discoveries_core" -> ((s, dir) =>
      graft.extract.GapDiscovery.discoverAll(core(s, dir))
        .orderBy(col("doc_id"), col("start"))),
    "x_discovery_learn_core" -> ((s, dir) =>
      graft.extract.GapDiscovery.learningCandidates(
        graft.extract.GapDiscovery.discoverAll(core(s, dir)))
        .orderBy(col("kind"), col("value"))),
    "x_domain_entities" -> ((s, dir) =>
      extracted(s, dir)
        .select(col("doc_id"), explode(col("meta.domain_entities")).as("domain_entity"))
        .orderBy(col("doc_id"), col("domain_entity"))),
    "x_fact_summary" -> ((s, dir) => factSummaryOf(extracted(s, dir))),
    "x_normalized_text" -> ((s, dir) => normalizedOf(extracted(s, dir))),
    "x_fact_summary_core" -> ((s, dir) => factSummaryOf(core(s, dir))),
    "x_normalized_core" -> ((s, dir) => normalizedOf(core(s, dir))),
    "x_markdown" -> ((s, dir) =>
      renderedOf(extracted(s, dir), "md")(graft.output.Assembly.assembleMarkdown)),
    "x_knowledge_json" -> ((s, dir) =>
      renderedOf(extracted(s, dir), "json")(graft.output.Assembly.knowledgeJson)),
    // byte-exact O1/O2 serialization gates over the reconstructable modes
    "x_markdown_core" -> ((s, dir) =>
      renderedOf(core(s, dir), "md")(graft.output.Assembly.assembleMarkdown)),
    "x_knowledge_core" -> ((s, dir) =>
      renderedOf(core(s, dir), "json")(graft.output.Assembly.knowledgeJson)),

    // ---- relational coverage (DuckDB-verified)
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q2_join_topk" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = broadcast(s.read.parquet(s"$dir/customer.parquet"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(10)
    }),
    "q3_multi_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = broadcast(s.read.parquet(s"$dir/nation.parquet"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),
    "q4_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q5_filter_distinct" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_discount") > 0.05 && col("l_quantity") < 25)
        .select(col("l_returnflag")).distinct()
        .orderBy(col("l_returnflag"))
    }),
    "q6_events_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- relational scale patterns (DuckDB-verified)
    "q7_rollup" -> ((s, dir) => graft.relational.Relational.rollupAgg(s, dir)),
    "q8_asof_join" -> ((s, dir) => graft.relational.Relational.asofJoin(s, dir)),
    "q9_anti_join" -> ((s, dir) => graft.relational.Relational.antiJoin(s, dir)),
    "q10_semi_join" -> ((s, dir) => graft.relational.Relational.semiJoin(s, dir)),
    "q11_setops" -> ((s, dir) => graft.relational.Relational.setOps(s, dir)),
    "q12_salted_agg" -> ((s, dir) => graft.relational.Relational.saltedAgg(s, dir)),
    "q13_sessions" -> ((s, dir) => graft.relational.Relational.sessionize(s, dir)),
    "q14_cube" -> ((s, dir) => graft.relational.Relational.cubeAgg(s, dir)),
    // the full SQL surface: same engine, ANSI SQL text in, Catalyst plan
    // out — views over the parquet tables, CTE + join + agg
    "q17_sql_surface" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("li_v")
      s.read.parquet(s"$dir/part.parquet").createOrReplaceTempView("part_v")
      s.sql(
        """WITH returned AS (
          |  SELECT l_partkey, count(*) AS n_ret, round(sum(l_quantity), 2) AS qty
          |  FROM li_v WHERE l_returnflag = 'R' GROUP BY l_partkey)
          |SELECT p.p_type, count(*) AS n_parts,
          |  sum(r.n_ret) AS n_returns, round(sum(r.qty), 2) AS total_qty
          |FROM returned r JOIN part_v p ON p.p_partkey = r.l_partkey
          |GROUP BY p.p_type ORDER BY p.p_type""".stripMargin)
    }),
    // the Structured Streaming transform run in batch mode — stream/batch
    // parity is the point: one definition, both execution modes
    "q16_windowed_events" -> ((s, dir) =>
      graft.streaming.EventStream.windowedCounts(
        s.read.parquet(s"$dir/events.parquet"))
        .orderBy(col("window_start"), col("event_type"))),
    "q15_percentiles" -> ((s, dir) => graft.relational.Relational.percentiles(s, dir)),
    // stream/batch parity for SESSIONS (q13's streaming twin): the
    // flatMapGroupsWithState transform replayed through `Replay.run`,
    // gated against the same gaps-and-islands oracle
    "q18_stream_sessions" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeReplay(
        s, s.read.parquet(s"$dir/events.parquet"))),

    // ---- training-data text ops (DuckDB-verified formulas)
    "t1_token_count" -> ((s, dir) => graft.textops.TextOps.tokenCount(s, dir)),
    "t2_quality_score" -> ((s, dir) => graft.textops.TextOps.qualityScore(s, dir)),
    "t3_lang_id" -> ((s, dir) => graft.textops.TextOps.langId(s, dir)),
    "t4_fingerprint" -> ((s, dir) => graft.textops.TextOps.fingerprint(s, dir)),
    "t5_dedup_exact" -> ((s, dir) => graft.textops.TextOps.dedupExact(s, dir)),
    "t6_ngram_jaccard" -> ((s, dir) => graft.textops.TextOps.ngramJaccard(s, dir)),
    "t7_minhash_lsh" -> ((s, dir) => graft.textops.TextOps.minhashLsh(s, dir)),
    "t8_simhash" -> ((s, dir) => graft.textops.TextOps.simhash(s, dir)),
    "t10_dup_groups" -> ((s, dir) => graft.textops.TextOps.dupGroups(s, dir)),
    "t11_corpus_select" -> ((s, dir) => graft.textops.TextOps.corpusSelect(s, dir)),
    "t12_lsh_recall" -> ((s, dir) => graft.textops.TextOps.lshRecall(s, dir)),
    "t13_rolling_fp" -> ((s, dir) => graft.textops.TextOps.rollingFingerprint(s, dir)),
    "t14_simhash_dedup" -> ((s, dir) => graft.textops.TextOps.simhashDedup(s, dir)),
    "t15_simhash_groups" -> ((s, dir) => graft.textops.TextOps.simhashGroups(s, dir)),
    // benchmark decontamination: n-gram membership of each train doc's
    // shingles in the held-out slice's vocabulary (doc_id % 10 == 0)
    "t16_contamination" -> ((s, dir) => graft.textops.TextOps.contamination(s, dir)),
    // token-budget language balancing: deterministic hash-threshold
    // down-sampling of dominant languages to an adaptive budget
    "t17_token_budget" -> ((s, dir) => graft.textops.TextOps.tokenBudget(s, dir)),
    // the composed end-to-end curation decision: quality + dedup +
    // decontamination + balancing, every flag re-derived by the oracle
    "t18_curation_funnel" -> ((s, dir) => graft.textops.TextOps.curationFunnel(s, dir)),
    // dedup at ingest: the streamed keeper table must equal the batch
    // group-by — min/count are arrival-order-insensitive, so the
    // complete-mode sink state is deterministic
    "t19_stream_dedup" -> ((s, dir) => graft.streaming.StreamDedup.dedupReplay(
      s, graft.textops.TextOps.docs(s, dir))),
    // the production state-BOUNDED variant: watermark horizon evicts
    // fingerprint state — in-horizon dup dropped, beyond-horizon dup
    // re-admitted; the emission-count vector gates both sides
    "t20_stream_dedup_bounded" -> ((s, dir) => graft.streaming.StreamDedup.boundedReplay(
      s, graft.textops.TextOps.docs(s, dir))),
    // Gopher-style within-document repetition signals: the curation
    // filter exact/near dedup cannot see (document-local, one scan)
    "t21_repetition" -> ((s, dir) => graft.textops.TextOps.repetition(s, dir)),

    // ---- multimodal media columns (binary payloads; DuckDB-verified)
    "m1_media_stats" -> ((s, dir) => graft.media.MediaOps.mediaStats(s, dir)),
    "m2_image_meta" -> ((s, dir) => graft.media.MediaOps.imageMeta(s, dir)),
    "m3_frame_sample" -> ((s, dir) => graft.media.MediaOps.frameSample(s, dir)),
    "m4_resize_plan" -> ((s, dir) => graft.media.MediaOps.resizePlan(s, dir)),
    "m5_audio_features" -> ((s, dir) => graft.media.MediaOps.audioFeatures(s, dir)),

    // ---- similarity search over embeddings (DuckDB-verified)
    "s1_cosine_topk" -> ((s, dir) => graft.sim.Similarity.cosineTopK(s, dir)),
    "s2_lsh_topk" -> ((s, dir) => graft.sim.Similarity.lshTopK(s, dir)),
    "s3_label_centroids" -> ((s, dir) => graft.sim.Similarity.labelCentroids(s, dir)),
    "s4_ivf_topk" -> ((s, dir) => graft.sim.Similarity.ivfTopK(s, dir)),
    "s6_ivf_recall" -> ((s, dir) => graft.sim.Similarity.ivfRecall(s, dir)),
    // the same measurement on the label-correlated clustered family:
    // recall at fixed nprobe as a function of cluster purity (s6's
    // near-uniform corpus is the probed-mass worst case)
    "s8_ivf_recall_clustered" -> ((s, dir) => graft.sim.Similarity.ivfRecallClustered(s, dir)),
    // int8 quantization with MEASURED reconstruction quality — the
    // vector-payload memory-footprint path (codes 4x smaller; exact
    // re-rank stays on the originals)
    "s9_quantize_int8" -> ((s, dir) => graft.sim.Similarity.quantizeInt8(s, dir)),
    "s7_lsh_ann_recall" -> ((s, dir) => graft.sim.Similarity.lshAnnRecall(s, dir)),
    "t9_embedding_dedup" -> ((s, dir) => graft.sim.Similarity.embeddingDedup(s, dir)),
    "s5_embedding_groups" -> ((s, dir) => graft.sim.Similarity.embeddingGroups(s, dir))
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_topk" ->
      """SELECT c_custkey, c_mktsegment,
        | round(sum(o_totalprice), 2) AS total_spent, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin,
    "q3_multi_join" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, rn, o_orderkey, price FROM (
        | SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q5_filter_distinct" ->
      """SELECT DISTINCT l_returnflag FROM lineitem
        |WHERE l_discount > 0.05 AND l_quantity < 25 ORDER BY 1""".stripMargin,
    "q6_events_agg" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q7_rollup" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q8_asof_join" ->
      """SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
        | c.event_id AS last_click_id, c.ts AS last_click_ts,
        | date_diff('second', c.ts, e.ts) AS gap_s
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY error_id""".stripMargin,
    "q9_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q10_semi_join" ->
      """SELECT p_brand, count(*) AS n_parts,
        | round(sum(p_retailprice), 2) AS retail_sum
        |FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_setops" ->
      """WITH large AS (SELECT p_brand FROM part WHERE p_size > 25),
        | cheap AS (SELECT p_brand FROM part WHERE p_retailprice < 1200.0)
        |SELECT p_brand, 'large_and_cheap' AS tag
        | FROM (SELECT p_brand FROM large INTERSECT SELECT p_brand FROM cheap)
        |UNION ALL
        |SELECT p_brand, 'large_only' AS tag
        | FROM (SELECT p_brand FROM large EXCEPT SELECT p_brand FROM cheap)
        |ORDER BY tag, p_brand""".stripMargin,
    "q12_salted_agg" ->
      """SELECT user_id, count(*) AS n_events,
        | sum(value::DECIMAL(18,2))::DOUBLE AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_sessions" ->
      """WITH o AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |  CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
        |   THEN 1 ELSE 0 END AS new_sess FROM o),
        |g AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        | date_diff('second', min(ts), max(ts)) AS duration_s
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q14_cube" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
        | CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q17_sql_surface" ->
      """WITH returned AS (
        |  SELECT l_partkey, count(*) AS n_ret, round(sum(l_quantity), 2) AS qty
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey)
        |SELECT p.p_type, count(*) AS n_parts,
        |  sum(r.n_ret)::BIGINT AS n_returns, round(sum(r.qty), 2) AS total_qty
        |FROM returned r JOIN part p ON p.p_partkey = r.l_partkey
        |GROUP BY p.p_type ORDER BY p.p_type""".stripMargin,
    "q18_stream_sessions" ->
      """WITH o AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |  CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
        |   THEN 1 ELSE 0 END AS new_sess FROM o),
        |g AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM f)
        |SELECT user_id, count(*) AS n_events,
        | date_diff('second', min(ts), max(ts)) AS duration_s
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, n_events, duration_s""".stripMargin,
    "q16_windowed_events" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q15_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // extraction-facet oracles: the full span sequences / flags / rejects
    // reconstructed as DuckDB arithmetic over the same documents table
    // (see OracleSql docSynthCte) — the engine's convert stage is now
    // hash-gated, not rows-only
    "x_rejects" -> OracleSql.xRejects,
    "x_discoveries_core" -> OracleSql.xDiscoveriesCore,
    "x_entity_edges_core" -> OracleSql.xEntityEdgesCore,
    "x_mention_context_core" -> OracleSql.xMentionContextCore,
    "x_disambig_core" -> OracleSql.xDisambigCore,
    "x_disambig_global" -> OracleSql.xDisambigGlobal,
    "x_discovery_learn_core" -> OracleSql.xDiscoveryLearnCore,
    "x_office_spans" -> OracleSql.xOfficeSpans,
    "x_csv_spans" -> OracleSql.xCsvSpans,
    "x_fallback_spans" -> OracleSql.xFallbackSpans,
    "x_office_entities" -> OracleSql.xOfficeEntities,
    "x_office_facts" -> OracleSql.xOfficeFacts,
    "x_classify" -> OracleSql.xClassify,
    "x_keywords" -> OracleSql.xKeywords,
    "x_tags_meta" -> OracleSql.xTagsMeta,
    "x_domain_entities" -> OracleSql.xDomainEntities,
    "x_entities_core" -> OracleSql.xEntitiesCore,
    "x_big_entities_core" -> OracleSql.xEntitiesCore,
    "x_big_canonical_core" -> OracleSql.xCanonicalCore,
    "x_facts_core" -> OracleSql.xFactsCore,
    "x_typed_facts_core" -> OracleSql.xTypedFactsCore,
    "x_canonical_core" -> OracleSql.xCanonicalCore,
    "x_normalized_core" -> OracleSql.xNormalizedCore,
    "x_global_core" -> OracleSql.xGlobalCore,
    "x_fact_summary_core" -> OracleSql.xFactSummaryCore,
    "x_knowledge_core" -> OracleSql.xKnowledgeCore,
    "x_markdown_core" -> OracleSql.xMarkdownCore,
    "x_text_spans" -> OracleSql.xTextSpans,
    "x_content_flags" -> OracleSql.xContentFlags,
    "x_pdf_spans" -> OracleSql.xPdfSpans,
    "x_html_spans" -> OracleSql.xHtmlSpans,
    "x_stream_spans" -> OracleSql.xStreamSpans,
    // the streamed entity facet must equal the batch facet — same oracle
    "x_stream_entities" -> OracleSql.xEntitiesCore,
    "t1_token_count" -> OracleSql.tokenCount,
    "t2_quality_score" -> OracleSql.qualityScore,
    "t3_lang_id" -> OracleSql.langId,
    "t4_fingerprint" -> OracleSql.fingerprint,
    "t5_dedup_exact" -> OracleSql.dedupExact,
    "t6_ngram_jaccard" -> OracleSql.ngramJaccard,
    "t7_minhash_lsh" -> OracleSql.minhashLsh,
    "t8_simhash" -> OracleSql.simhash,
    "t10_dup_groups" -> OracleSql.dupGroups,
    "t11_corpus_select" -> OracleSql.corpusSelect,
    "t12_lsh_recall" -> OracleSql.lshRecall,
    "t13_rolling_fp" -> OracleSql.rollingFingerprint,
    "t14_simhash_dedup" -> OracleSql.simhashDedup,
    "t15_simhash_groups" -> OracleSql.simhashGroups,
    "t16_contamination" -> OracleSql.contamination,
    "t17_token_budget" -> OracleSql.tokenBudget,
    "t18_curation_funnel" -> OracleSql.curationFunnel,
    "t19_stream_dedup" -> OracleSql.streamDedup,
    "t20_stream_dedup_bounded" -> OracleSql.streamDedupBounded,
    "t21_repetition" -> OracleSql.repetition,
    "m1_media_stats" -> OracleSql.mediaStats,
    "m2_image_meta" -> OracleSql.imageMeta,
    "m3_frame_sample" -> OracleSql.frameSample,
    "m4_resize_plan" -> OracleSql.resizePlan,
    "m5_audio_features" -> OracleSql.audioFeatures,
    "s1_cosine_topk" -> OracleSql.cosineTopK(),
    "s2_lsh_topk" -> OracleSql.lshTopK,
    "s3_label_centroids" -> OracleSql.labelCentroids,
    "s4_ivf_topk" -> OracleSql.ivfTopK(),
    "s6_ivf_recall" -> OracleSql.ivfRecall,
    "s8_ivf_recall_clustered" -> OracleSql.ivfRecallClustered,
    "s9_quantize_int8" -> OracleSql.quantizeInt8,
    "s7_lsh_ann_recall" -> OracleSql.lshAnnRecall,
    "t9_embedding_dedup" -> OracleSql.embeddingDedup,
    "s5_embedding_groups" -> OracleSql.embeddingGroups
  )
}
