package graft.textops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table: token
  * counting, quality scoring, language ID, fingerprinting, exact and
  * near-duplicate detection (shingle-join baseline + MinHash-LSH scale
  * path), SimHash. Every op is a declarative DataFrame plan — Catalyst
  * pushes the column prune + filters into the Parquet scan, and the
  * dedup joins shuffle on shingle/band keys (never a cross join), so the
  * same plan survives a 100× scale-up.
  *
  * Each formula is chosen to be expressible identically in DuckDB SQL so
  * the driver can hash-verify results (see SparkEntry.oracleSql).
  */
object TextOps {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // ------------------------------------------------------------- tokens

  /** BPE-ish pre-tokenizer regex (GPT-2-style, lowercased input):
    * contractions, optionally space-prefixed letter runs, digit runs,
    * punctuation runs — each alternative is one would-be token. Both
    * engines (Java regex / RE2) use leftmost-first alternation, and the
    * whitespace class is spelled out EXPLICITLY because Java's \s
    * includes vertical tab while RE2's does not — the oracle SQL is
    * generated from this same constant so the two cannot drift.
    */
  val BpeishPattern = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\t\n\f\r ']+"

  /** The whitespace class, spelled character-by-character: Java's \s
    * includes U+000B (vertical tab) where RE2's does not, so a bare
    * '\s'/'\S' silently diverges between Spark and DuckDB on any text
    * containing \x0B (r4 ADVICE, generalizing the r3 drift lesson). One
    * constant — every ws-keyed regex on BOTH engines (token counts,
    * the exact-dedup fingerprint's whitespace collapse) derives from it:
    * the oracle SQL interpolates verbatim (standard SQL strings keep
    * backslashes literal) and the Spark expr doubles the backslashes
    * for its escape-processing literal — so the engines cannot drift.
    */
  val WsClass: String = " \\t\\n\\x0B\\f\\r"

  /** Non-whitespace token: the '\S+' replacement. */
  val WsTokenRegex: String = s"[^$WsClass]+"

  /** Whitespace run: the '\s+' replacement (fingerprint collapse). */
  val WsSepRegex: String = s"[$WsClass]+"

  /** t1's whitespace-token count — the one ws-token rule the oracle SQL
    * mirrors; every consumer (t1, t17) must use THIS column, never a
    * re-spelled copy (the r3 Java-vs-RE2 drift lesson).
    */
  private def wsTokenCount: Column =
    size(expr(s"regexp_extract_all(text, '${WsTokenRegex.replace("\\", "\\\\")}', 0)")).cast("long")

  /** First 8 md5 hex chars of a column as a BIGINT — the portable
    * cross-engine hash (DuckDB: `('0x' || substr(md5(x),1,8))::BIGINT`)
    * shared by the minhash, rolling-fingerprint and budget-bucket ops.
    */
  private[graft] def md5Head8(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Whitespace tokens + word tokens + BPE-ish tokens per doc. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      wsTokenCount.as("n_ws_tokens"),
      size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long").as("n_word_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(BpeishPattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  // ------------------------------------------------------------ quality

  private val stopwordsSqlList: String =
    graft.matching.Corpora.englishStopwords.toSeq.sorted.map(w => s"'$w'").mkString(", ")

  /** Quality score — length, punctuation ratio, stopword ratio
    * (the reference-style heuristics re-expressed as columns):
    * score = min(tokens/100,1)*0.4 + (1-punct_ratio)*0.3 + min(stop_ratio*4,1)*0.3.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("punct_len",
        // ws class from the shared constant (Java \s vs RE2 \s drift)
        length(regexp_replace(col("text"), s"[A-Za-z0-9$WsClass]", "")))
      .withColumn("stop_n",
        size(expr(s"filter(toks, t -> t IN ($stopwordsSqlList))")))
      .withColumn("punct_ratio",
        round(col("punct_len").cast("double") / greatest(col("n_chars"), lit(1)), 4))
      .withColumn("stop_ratio",
        round(col("stop_n").cast("double") / greatest(col("n_tokens"), lit(1)), 4))
      .withColumn("quality_score", round(
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.4 +
        (lit(1.0) - col("punct_ratio")) * 0.3 +
        least(col("stop_ratio") * 4.0, lit(1.0)) * 0.3, 4))
      .select("doc_id", "n_chars", "n_tokens", "punct_ratio", "stop_ratio", "quality_score")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ lang id

  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "est", "dans", "pour", "une", "du", "au"))

  /** N-gram/stopword-heuristic language ID: per-language stopword hit
    * counts (+ CJK char count for zh); argmax with fixed tiebreak order
    * en < es < de < fr < zh (first max wins).
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    def hits(lang: String): Column = {
      val lst = langStopwords(lang).map(w => s"'$w'").mkString(", ")
      size(expr(s"filter(regexp_extract_all(lower(text), '[a-z]+', 0), t -> t IN ($lst))")).cast("long")
    }
    docs(s, dir)
      .withColumn("s_en", hits("en"))
      .withColumn("s_es", hits("es"))
      .withColumn("s_de", hits("de"))
      .withColumn("s_fr", hits("fr"))
      .withColumn("s_zh", length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")).cast("long"))
      .withColumn("mx", greatest(col("s_en"), col("s_es"), col("s_de"), col("s_fr"), col("s_zh")))
      .withColumn("lang_pred",
        when(col("mx") === 0, lit("und"))
          .when(col("s_en") === col("mx"), "en")
          .when(col("s_es") === col("mx"), "es")
          .when(col("s_de") === col("mx"), "de")
          .when(col("s_fr") === col("mx"), "fr")
          .otherwise("zh"))
      .select("doc_id", "s_en", "s_es", "s_de", "s_fr", "s_zh", "lang_pred")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------- fingerprint

  /** Whitespace-normalized lowercase MD5 document fingerprint. */
  def fingerprintCol: Column =
    md5(trim(regexp_replace(lower(col("text")), WsSepRegex, " ")))

  /** t13: ROLLING-HASH document fingerprint — a polynomial hash folded
    * over the token stream (base 31 mod 2^31-1, per-token values from
    * the portable md5-derived hash), the Rabin-Karp-style fingerprint a
    * training pipeline uses when it needs order-sensitive fingerprints
    * cheap enough to recompute incrementally. Pure column fold — one
    * scan, no shuffle; mod keeps every intermediate under 2^36 (ANSI
    * overflow-safe) and identical in DuckDB's list_reduce.
    */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    val p = MinhashP
    val toks = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    val rolled = aggregate(toks, lit(0L),
      (acc, w) => (acc * 31L + md5Head8(w) % p) % p)
    docs(s, dir)
      .select(col("doc_id"), rolled.as("rolling_fp"),
        size(toks).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), fingerprintCol.as("fp")).orderBy("doc_id")

  /** Exact dedup: rank docs within identical fingerprints; rn>1 = dup. */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    docs(s, dir).select(col("doc_id"), fingerprintCol.as("fp"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("is_dup", col("rn") > 1)
      .select("doc_id", "fp", "rn", "is_dup")
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- shingles

  /** Distinct word-3-gram shingles per doc — the shared base of the
    * n-gram Jaccard and MinHash ops. Shuffle key = shingle string.
    * Persisted once per (session, dir): t5-t7 all start from this frame.
    */
  private val shingleCache = new graft.util.SessionCache[DataFrame]

  def shingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(s, dir)({
      val df = docs(s, dir)
        .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t)-3), " +
          "i -> concat_ws(' ', element_at(t, i+1), element_at(t, i+2), element_at(t, i+3)))")).as("sh"))
        .distinct()
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    })

  /** Stop-shingle document-frequency cap for the pairing join: a shingle
    * appearing in k docs emits k² pair rows, so one hot trigram ("of the
    * and"-class boilerplate) degenerates the equi-join toward all-pairs at
    * corpus scale. Every production near-dup pipeline drops these; the
    * Jaccard is then computed over the capped shingle space on BOTH sides
    * of the ratio (sizes + intersections), mirrored exactly in the oracle.
    * Join cardinality bound: Σ min(df, maxDf)² per shingle.
    */
  val MaxShingleDf = 1000

  private def cappedShingles(sh: DataFrame, maxDf: Int): DataFrame = {
    val keep = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    sh.join(keep, Seq("sh"), "left_semi")
  }

  /** t6's Jaccard cut: the n-gram baseline keeps pairs at ≥ 0.2, a
    * superset of the ≥ JaccardThreshold pairs t12 measures LSH against.
    */
  val NgramThreshold = 0.2

  /** N-gram Jaccard near-dup baseline: pairs sharing a shingle →
    * |∩| / |∪| ≥ NgramThreshold. Join on shingle (equi-join shuffle),
    * never a cross join — candidate pairs are bounded by shingle
    * co-occurrence, and the DF cap above bounds the per-key blowup.
    */
  private val ngramPairCache = new graft.util.SessionCache[DataFrame]

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairCache.getOrElseUpdate(s, dir) {
      // localCheckpoint, not persist: the pair frame is tiny but its
      // logical tree is the whole shingle pipeline — a persist keeps
      // that tree in every consumer's plan and the optimizer re-walks
      // it per action (measured seconds per action at sf0.1).
      // Trade-off, deliberate: checkpoint blocks are unreplicated and
      // lineage is gone, so on a cluster with executor churn a lost
      // block fails the consumer instead of recomputing — there, swap
      // for reliable checkpointing (sparkContext.setCheckpointDir +
      // .checkpoint()), which keeps the lineage truncation and adds
      // durable storage; the memo pattern is unchanged.
      ngramJaccardUncached(s, dir).localCheckpoint()
    }

  private def ngramJaccardUncached(s: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingles(shingles(s, dir), MaxShingleDf)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jaccard", round(col("i").cast("double") /
        (col("na") + col("nb") - col("i")), 4))
      .filter(col("jaccard") >= NgramThreshold)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")
  }

  // ---------------------------------------------------- decontamination

  /** A train doc with ≥ this fraction of its distinct shingles present
    * in the benchmark vocabulary is flagged for removal.
    */
  val ContaminationThreshold = 0.5

  /** Benchmark decontamination (t16): flag training documents whose
    * n-grams leak a held-out evaluation set — the standard LLM
    * data-prep step run alongside dedup (n-gram-overlap decontamination
    * as published for the large-LM training corpora). The deterministic
    * benchmark slice here is `doc_id % 10 == 0`; production passes any
    * second corpus. Reuses the memoized shingle frame, so the scan cost
    * is shared with t5-t7.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    contaminationFrom(sh.filter(col("doc_id") % 10 =!= 0), sh.filter(col("doc_id") % 10 === 0))
  }

  /** Core: per train doc, the fraction of its distinct shingles found
    * in the benchmark shingle vocabulary. One semi-join on the shingle
    * key + two per-doc aggregations — never a pair join: contamination
    * is doc×vocabulary MEMBERSHIP, not doc×doc similarity, so cost is
    * |train shingles| + |bench vocab| no matter how contaminated the
    * corpus is (no per-key blowup to cap). The benchmark side of a real
    * pipeline (eval suites) is tiny next to the training corpus, so the
    * deduped vocabulary broadcasts; at adversarially equal sizes the
    * semi-join degrades to one shuffle on the shingle key.
    *
    * PRECONDITION: `train` must be distinct per (doc_id, sh) — the
    * internal shingles() frame is; an external caller passing a raw
    * exploded frame would count one leaked shingle once per occurrence
    * and inflate the fraction. The bench side is deduped here because
    * vocabulary membership is inherently a set question.
    */
  def contaminationFrom(train: DataFrame, bench: DataFrame): DataFrame = {
    val vocab = bench.select("sh").distinct()
    val hits = train.join(vocab, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4))
      .withColumn("is_contaminated", col("contamination") >= ContaminationThreshold)
      .select("doc_id", "n_shingles", "n_contaminated", "contamination", "is_contaminated")
      .orderBy("doc_id")
  }

  // ------------------------------------------------- curation funnel

  /** The quality-score floor of the t11 and t18 keep decisions. */
  val MinQuality = 0.5

  /** Full curation funnel (t18): the end-to-end per-document keep
    * decision a training-data pipeline materializes once per corpus —
    * quality gate + exact dedup + near-dup groups (t11's stages,
    * language-agnostic here: t17's balancing replaces t11's hard lang
    * filter) + benchmark decontamination (t16) + token-budget
    * balancing (t17) + within-document repetition (t21, r5). Every
    * input is a memoized stage frame, so the
    * funnel itself is a handful of per-doc-row joins; at corpus scale
    * each stage frame is written once and the funnel is the join of
    * those decision tables.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(s, dir).select(col("doc_id"), col("quality_score"))
    val ex = dedupExact(s, dir).select(col("doc_id"), col("rn"))
    val nd = dupGroups(s, dir).select(col("doc_id"), col("group_id"))
    val cont = contamination(s, dir).select(col("doc_id"), col("is_contaminated"))
    val bud = tokenBudget(s, dir).select(col("doc_id"), col("kept").as("budget_kept"))
    val rep = repetition(s, dir).select(col("doc_id"), col("repetitive"))
    docs(s, dir).select("doc_id")
      .join(q, "doc_id").join(ex, "doc_id")
      .join(nd, Seq("doc_id"), "left")
      // benchmark docs and <3-token docs have no contamination row:
      // the former are excluded by is_train, the latter count as clean
      .join(cont, Seq("doc_id"), "left")
      .join(bud, "doc_id")
      .join(rep, "doc_id")
      .withColumn("is_train", col("doc_id") % 10 =!= 0)
      .withColumn("quality_ok", col("quality_score") >= MinQuality)
      .withColumn("exact_dup", col("rn") > 1)
      .withColumn("near_dup_loser",
        col("group_id").isNotNull && col("group_id") =!= col("doc_id"))
      .withColumn("contaminated", coalesce(col("is_contaminated"), lit(false)))
      .withColumn("keep_final", col("is_train") && col("quality_ok") &&
        !col("exact_dup") && !col("near_dup_loser") &&
        !col("contaminated") && col("budget_kept") && !col("repetitive"))
      .select("doc_id", "is_train", "quality_ok", "exact_dup", "near_dup_loser",
        "contaminated", "budget_kept", "repetitive", "keep_final")
      .orderBy("doc_id")
  }

  // ------------------------------------------------ corpus balancing

  /** Hash-bucket modulus for the sampling threshold. */
  val BudgetBuckets = 10000L

  /** Token-budget language balancing (t17): down-sample dominant
    * languages toward a per-language token budget — the data-mixing
    * move when one language dwarfs the rest. The adaptive target here
    * is half the largest language's total (integer arithmetic:
    * `(max + 1) div 2`); production passes any per-language budget
    * table. Reads only (doc_id, lang, text) and tokenizes with t1's
    * whitespace rule.
    */
  private val tokenFrameCache = new graft.util.SessionCache[DataFrame]

  def tokenBudget(s: SparkSession, dir: String): DataFrame =
    // memoized + checkpointed narrow frame: tokenBudgetFrom consumes its
    // input twice (totals + probe side), and the regexp tokenize over
    // all text is the dominant cost — pay it once per (session, dir),
    // shared with t18, not twice per action
    tokenBudgetFrom(tokenFrameCache.getOrElseUpdate(s, dir) {
      docs(s, dir).select(col("doc_id"), col("lang"),
        wsTokenCount.as("n_tokens")).localCheckpoint()
    })

  /** Core: keep doc iff `bucket(doc) × total_tokens(lang) < budget ×
    * BudgetBuckets` — a deterministic md5 hash threshold in pure
    * integer arithmetic (mirrored exactly in the oracle; no float
    * rounding to diverge between engines). NOT an exact cumulative
    * cut: that needs a sequential per-language window — a
    * single-partition scan of the dominant language at corpus scale —
    * while this is one vocabulary-bounded aggregate + a broadcast join
    * + a map, landing within sampling noise of the budget. The
    * unpartitioned max window runs on the ≤|langs|-row totals frame,
    * never the corpus. `d` is consumed twice — pass a materialized
    * frame at scale (the dir entry point memoizes + checkpoints).
    */
  def tokenBudgetFrom(d: DataFrame): DataFrame = {
    val budgets = d.groupBy("lang").agg(sum("n_tokens").as("total_tokens"))
      .withColumn("budget", expr("(max(total_tokens) OVER () + 1) div 2"))
    d.join(broadcast(budgets), Seq("lang"))
      .withColumn("bucket", md5Head8(col("doc_id").cast("string")) % BudgetBuckets)
      .withColumn("kept",
        col("bucket") * col("total_tokens") < col("budget") * BudgetBuckets)
      .select("doc_id", "lang", "n_tokens", "bucket", "kept")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ minhash

  val MinhashP = 2147483647L // 2^31 - 1
  val NumHashes = 16
  val NumBands = 4 // rows per band r = 4
  /** Deterministic hash-family coefficients (odd a, arbitrary b). */
  val hashA: Seq[Long] = (0 until NumHashes).map(i => ((i + 1) * 2654435761L % MinhashP) | 1L)
  val hashB: Seq[Long] = (0 until NumHashes).map(i => (i + 1) * 40503L * 65537L % MinhashP)

  /** Portable shingle hash: first 8 hex chars of MD5 → bigint mod p —
    * identical in Spark and DuckDB, so the whole MinHash signature is
    * oracle-verifiable.
    */
  private def shingleHash: Column = md5Head8(col("sh")) % MinhashP

  /** MinHash signatures: one groupBy with 16 min-aggregates (map-side
    * partial aggregation — one shuffle of 16 longs per doc).
    */
  private def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    val hs = sh.select(col("doc_id"), shingleHash.as("h"))
    val aggs = (0 until NumHashes).map(i =>
      min((lit(hashA(i)) * col("h") + lit(hashB(i))) % MinhashP).as(s"m$i"))
    hs.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Exact-dedup-first: one keeper doc per fingerprint (the min id).
    * Identical documents collapse BEFORE near-dup candidate generation —
    * a crawl corpus is dominated by byte-identical reposts, and every
    * such cluster of size k would otherwise land in the same LSH bucket
    * in every band and emit k²/2 candidate pairs per band. groupBy(fp)
    * gets map-side partial aggregation (one row per fingerprint per
    * partition crosses the wire), unlike the t5 window.
    */
  private def exactKeepers(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), fingerprintCol.as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")

  /** Max docs per band bucket, for all three near-dup families (t7
    * MinHash, t14 SimHash, t9 embedding sign-LSH). A degenerate hot
    * bucket (boilerplate or near-empty docs whose signatures collide)
    * pairs quadratically inside the bucket, re-creating the blowup LSH
    * exists to avoid — production pipelines drop such buckets (their
    * contents are exactly the junk dedup is trying to kill) and log the
    * count (no silent caps). Mirrored in the t7, t14 and t9 oracles;
    * bounded pair cost: Σ min(bucket, cap)² per (band, key).
    */
  val MaxBandBucket = 1000

  /** The one capped band join of the near-dup families: `bands` is
    * (id, band, key). Count each (band, key) bucket, drop over-cap
    * buckets from pairing and LOG the drop — never truncate silently —
    * then self-join on (band, key, a < b). Returns the distinct
    * candidate pairs (a, b): O(collisions), never O(n²).
    */
  private[graft] def bandPairs(bands: DataFrame, family: String): DataFrame = {
    val bsz = bands.groupBy("band", "key").agg(count(lit(1)).as("bsz"))
    val nDropped = bsz.filter(col("bsz") > MaxBandBucket).count()
    if (nDropped > 0)
      System.err.println(
        s"[graft] $family: dropped $nDropped band buckets over cap $MaxBandBucket from candidate generation")
    val ok = bands.join(
      bsz.filter(col("bsz") <= MaxBandBucket).select("band", "key"),
      Seq("band", "key"), "left_semi")
    ok.as("x").join(ok.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** The one verify tail: attach each side's value from `values` (id, v)
    * to the candidate pairs, score exactly |cand| pairs, keep, and
    * materialize `(a, b, name)` sorted — eager localCheckpoint, so the
    * pairs exist NOW and consumer plans stay leaf-sized.
    */
  private[graft] def verifiedPairs(cand: DataFrame, values: DataFrame, name: String)(
      score: (Column, Column) => Column, keep: Column => Column): DataFrame =
    cand
      .join(values.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(values.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn(name, score(col("va"), col("vb")))
      .filter(keep(col(name)))
      .select("a", "b", name)
      .orderBy("a", "b")
      .localCheckpoint()

  /** The verified-Jaccard cut of the MinHash family (t7, t10-t12, t18). */
  val JaccardThreshold = 0.5

  /** MinHash+LSH near-dup: band the signature (4 bands × 4 rows), bucket
    * by band hash, equi-join buckets for candidates, verify candidates
    * with true Jaccard, keep ≥ JaccardThreshold. The scale path:
    * candidate generation is O(collisions), not O(n²). Exact dups are
    * collapsed first and over-cap buckets dropped (see
    * exactKeepers/MaxBandBucket). Verified pairs are memoized per
    * (session, dir): t7, t10 and t11 all consume them.
    */
  private val lshPairCache = new graft.util.SessionCache[DataFrame]

  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    lshPairCache.getOrElseUpdate(s, dir) {
      // the builder checkpoints its own result (lineage truncation, same
      // reason as ngramJaccard above) so it can release its intermediate
      // band/candidate caches once the pairs are materialized
      minhashLshUncached(s, dir)
    }

  private def minhashLshUncached(s: SparkSession, dir: String): DataFrame = {
    // one shingle computation feeds BOTH the signatures and the verify
    // stage (persisted by the shingles() memo); candidates are tiny
    val sh0 = shingles(s, dir)
    val shk = sh0.join(exactKeepers(s, dir), Seq("doc_id"), "left_semi")
    val sig = minhashSignaturesFrom(shk)
    val r = NumHashes / NumBands
    // one row per (doc, band) from ONE signature aggregate: a per-band
    // union would prune the aggregate to each band's mins and run it 4×
    val keys = (0 until NumBands).map(b =>
      md5(concat_ws(",", (b * r until (b + 1) * r).map(i => col(s"m$i")): _*)))
    val bands = sig
      .select(col("doc_id").as("id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandPairs(bands, "t7").cache()
    // verify candidates with exact Jaccard computed per candidate PAIR:
    // collect each candidate doc's shingle set (bounded by its own
    // shingle count) and intersect the two arrays per pair. This touches
    // exactly |cand| pairs — a shingle self-join over candidate docs
    // would instead materialize ALL shingle-sharing pairs among them,
    // which in a near-dup-heavy corpus (the whole point of dedup)
    // degenerates toward the all-pairs cost LSH exists to avoid.
    val candDocs = cand.select(col("a").as("doc_id"))
      .unionByName(cand.select(col("b").as("doc_id"))).distinct()
    val sets = shk.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id").as("id")).agg(collect_set(col("sh")).as("v"))
    val out = verifiedPairs(cand, sets, "jaccard")((sa, sb) => {
      val i = size(array_intersect(sa, sb)).cast("long")
      round(i.cast("double") / (size(sa) + size(sb) - i), 4)
    }, _ >= JaccardThreshold)
    // the band/candidate caches have zero readers once the pairs are
    // checkpointed — release them instead of pinning storage memory for
    // the session lifetime (one leak per dir memo key)
    bands.unpersist(false)
    cand.unpersist(false)
    out
  }

  // --------------------------------------------------------- dup groups

  /** The one grouping step of the near-dup families — dedup needs GROUPS
    * (one keeper per component), not pairwise edges: every id in some
    * verified pair (a, b) as `idName`, its component id (min id in the
    * component) and the component size, in id order. One exchange brings
    * the pairs to a single partition, and that task runs a union-find
    * over the edges as the shuffle reader streams them (see `unionFind`).
    *
    * Precondition: the vertex set of the verified pair graph fits in one
    * task. The capped band join bounds the candidates by Σ min(bsz, cap)²
    * (MaxBandBucket), and the verified pairs are a subset of those. At
    * sf0.1 the largest graph is t14's SimHash pairs, 5,397 edges over
    * 2,368 vertices; t7's MinHash pairs are 241 edges over 468 vertices
    * and t9's embedding pairs 700 over 976.
    *
    * The result is localCheckpointed, not cached: a cache keeps the
    * upstream logical plan (for t10 the whole shingle → signature → band
    * → verify tree) inside every consumer's plan, and the analyzer
    * re-walks it on every action. A checkpoint is a leaf RDD scan.
    */
  private[graft] def groupsOf(pairs: DataFrame, idName: String): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.select(col("a"), col("b")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions(unionFind)
      .toDF(idName, "group_id", "group_size")
      .localCheckpoint()
  }

  /** Union by the smaller id, so each root is its component's minimum id,
    * with path compression. Holds only the vertex → parent map.
    */
  private def unionFind(edges: Iterator[(Long, Long)]): Iterator[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val ids = parent.keys.toArray.sorted
    val roots = ids.map(find)
    val size = scala.collection.mutable.LongMap.empty[Long]
    roots.foreach(r => size(r) = size.getOrElse(r, 0L) + 1)
    ids.indices.iterator.map(i => (ids(i), roots(i), size(roots(i))))
  }

  /** t10: duplicate groups from the MinHash-LSH verified pairs.
    * Memoized per (session, dir) — t11's curation reuses the same
    * components.
    */
  private val dupGroupCache = new graft.util.SessionCache[DataFrame]

  def dupGroups(s: SparkSession, dir: String): DataFrame =
    dupGroupCache.getOrElseUpdate(s, dir) {
      groupsOf(minhashLsh(s, dir), "doc_id")
    }

  // --------------------------------------------------------- lsh recall

  /** t12: measured LSH quality — recall/precision of the banded MinHash
    * candidates against the exact shingle-Jaccard ground truth at the
    * same JaccardThreshold. Ground truth uses the DF-capped shingle
    * space (the t6 baseline); LSH verification runs uncapped —
    * near-threshold pairs can differ between the two spaces, which is
    * part of what the metric reports. Truth pairs are restricted to exact-dedup keepers,
    * because t7 deliberately collapses exact dups before candidate
    * generation — the metric measures the banding MECHANISM, not that
    * policy. One row; the joins run over the two small pair frames,
    * both already memoized.
    */
  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    // NO broadcast hint: keepers are O(corpus) rows (one per distinct
    // fingerprint), not dimension data — a forced broadcast would
    // collect the whole doc_id set on the driver at 10^9 docs. The
    // plain semi-joins shuffle doc_id pairs only.
    val keepers = exactKeepers(s, dir)
    // JaccardThreshold ≥ NgramThreshold, so the truth is a FILTER of the
    // memoized t6 frame, not a second shingle self-join
    val truth = ngramJaccard(s, dir).filter(col("jaccard") >= JaccardThreshold)
      .select("a", "b")
      .join(keepers.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .join(keepers.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
      .select("a", "b")
    import s.implicits._
    Seq(recallOf(truth, minhashLsh(s, dir), Seq("a", "b")))
      .toDF("n_truth", "n_candidates", "n_hits", "recall", "precision")
  }

  /** The one recall/precision measurement (t12 here; s6, s7 and s8 in
    * Similarity): full-outer join the candidate rows against the truth
    * rows on `keys` and count all three numbers in ONE action, then round
    * via rint to mirror the oracles' round_even. Returns (n_truth,
    * n_candidates, n_hits, recall, precision); an empty side scores 1.0.
    */
  private[graft] def recallOf(truth: DataFrame, cand: DataFrame,
      keys: Seq[String]): (Long, Long, Long, Double, Double) = {
    val agg = truth.select(keys.map(col): _*).withColumn("in_t", lit(1))
      .join(cand.select(keys.map(col): _*).withColumn("in_c", lit(1)), keys, "full_outer")
      .agg(
        coalesce(sum(col("in_t")), lit(0L)).as("nt"),
        coalesce(sum(col("in_c")), lit(0L)).as("nc"),
        coalesce(sum(when(col("in_t").isNotNull && col("in_c").isNotNull, 1L)), lit(0L)).as("nh"))
      .head()
    val (nTruth, nCand, nHits) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    def ratio(n: Long): Double = if (n == 0) 1.0 else math.rint(nHits.toDouble / n * 10000) / 10000
    (nTruth, nCand, nHits, ratio(nTruth), ratio(nCand))
  }

  // ------------------------------------------------------ corpus select

  /** t11: the composed curation decision a training-data pipeline ends
    * with — language filter + quality floor + exact-dup removal +
    * near-dup group keeper selection (keep only the min-id doc of each
    * near-dup component), with per-doc reasons for auditability. Three
    * doc_id equi-joins (co-partitioned after the first shuffle) plus a
    * left join against the tiny dup-group frame.
    */
  def corpusSelect(s: SparkSession, dir: String): DataFrame = {
    val lang = langId(s, dir).select(col("doc_id"), col("lang_pred"))
    val q = qualityScore(s, dir).select(col("doc_id"), col("quality_score"))
    val ex = dedupExact(s, dir).select(col("doc_id"), col("rn"))
    val nd = dupGroups(s, dir).select(col("doc_id"), col("group_id"))
    docs(s, dir).select("doc_id")
      .join(lang, "doc_id").join(q, "doc_id").join(ex, "doc_id")
      .join(nd, Seq("doc_id"), "left")
      .withColumn("lang_ok", col("lang_pred") === "en")
      .withColumn("quality_ok", col("quality_score") >= MinQuality)
      .withColumn("exact_dup", col("rn") > 1)
      .withColumn("near_dup_loser",
        col("group_id").isNotNull && col("group_id") =!= col("doc_id"))
      .withColumn("keep",
        col("lang_ok") && col("quality_ok") && !col("exact_dup") && !col("near_dup_loser"))
      .select("doc_id", "lang_ok", "quality_ok", "exact_dup", "near_dup_loser", "keep")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ simhash

  /** 62-bit SimHash from word-token MD5s: per token take two 31-bit
    * halves of md5 as bit sources, majority-vote bits weighted by term
    * frequency. Column-only (no UDF): per-bit sums via explode +
    * conditional aggregation. 62 bits keeps the hash a positive BIGINT
    * under ANSI overflow checking (and matches DuckDB's signed BIGINT).
    */
  val SimhashBits = 62

  /** (doc_id, simhash) — memoized per (session, dir): t8 dumps it, and
    * the t14 banding probes it twice (band emission + pair verification).
    */
  private val simhashCache = new graft.util.SessionCache[DataFrame]

  private def simhashFrame(s: SparkSession, dir: String): DataFrame =
    simhashCache.getOrElseUpdate(s, dir) {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .withColumn("h1", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
        .withColumn("h2", expr("cast(conv(substring(md5(tok), 9, 8), 16, 10) as bigint)"))
      // bit b: bits 0..30 from h1, 31..61 from h2
      val bitSums = (0 until SimhashBits).map { b =>
        val src = if (b < 31) col("h1") else col("h2")
        val shift = b % 31
        sum(when(shiftright(src, shift).bitwiseAND(1) === 1, col("tf"))
          .otherwise(-col("tf"))).as(s"b$b")
      }
      val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val hashExpr = (0 until SimhashBits).map { b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
      sums.select(col("doc_id"), hashExpr.as("simhash")).localCheckpoint()
    }

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashFrame(s, dir).orderBy("doc_id")

  // ------------------------------------------------- simhash banded dedup

  /** t14 layout: 62 bits → 4 bands of 16 (the top band carries 14 live
    * bits). Two near-dup docs at hamming distance d collide in some band
    * unless all d differing bits spread across all four bands — the
    * standard pigeonhole guarantee: d ≤ 3 ⇒ collision certain, and this
    * corpus's d ≤ HammingMax pairs still collide with high probability.
    */
  val SimhashBands = 4
  val SimhashBandBits = 16

  /** Hamming verify threshold: ≤ 6 of 62 bits ≈ 90% bitwise agreement —
    * the near-dup band observed between t7's jaccard-0.5 pairs and
    * unrelated docs (hamming mode ~13) on this corpus shape.
    */
  val HammingMax = 6

  /** t14: SimHash hamming-band near-dup — the third dedup family a
    * training pipeline runs alongside MinHash (t7) and embedding (t9)
    * dedup, sharing their 100 TB shape: exact-dedup-first keepers, band
    * bucket equi-join (candidates = O(collisions), never O(n²)), the
    * same MaxBandBucket hot-bucket cap, then exact hamming verification
    * on exactly |candidates| pairs via bit_count(xor).
    */
  private val simhashPairCache = new graft.util.SessionCache[DataFrame]

  def simhashDedup(s: SparkSession, dir: String): DataFrame =
    simhashPairCache.getOrElseUpdate(s, dir) {
      simhashDedupUncached(s, dir)
    }

  private def simhashDedupUncached(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashFrame(s, dir)
    val shk = sh.join(exactKeepers(s, dir), Seq("doc_id"), "left_semi")
    val keys = (0 until SimhashBands).map(b =>
      shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(lit((1L << SimhashBandBits) - 1)))
    val bands = shk
      .select(col("doc_id").as("id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = verifiedPairs(bandPairs(bands, "t14"),
      sh.select(col("doc_id").as("id"), col("simhash").as("v")), "hamming")(
      (sa, sb) => bit_count(sa.bitwiseXOR(sb)).cast("long"), _ <= HammingMax)
    bands.unpersist(false)
    out
  }

  /** t15: duplicate groups over the hamming-verified pairs — the same
    * union-find components as t10, one keeper per cluster.
    */
  private val simhashGroupCache = new graft.util.SessionCache[DataFrame]

  def simhashGroups(s: SparkSession, dir: String): DataFrame =
    simhashGroupCache.getOrElseUpdate(s, dir) {
      groupsOf(simhashDedup(s, dir), "doc_id")
    }

  // ------------------------------------------ t21: n-gram repetition

  /** Gopher-style repetition thresholds (Rae et al. 2021, Table A1:
    * top-2-gram character fraction 0.20, top-3-gram 0.18 — applied here
    * to the TOKEN-coverage fraction `count·n / n_tokens`, the
    * whitespace-token analog).
    */
  val TopBigramFracMax = 0.20
  val TopTrigramFracMax = 0.18

  /** t21: per-doc n-gram repetition signals — the curation filter that
    * catches boilerplate/generated text exact-dedup and near-dedup both
    * miss (repetition INSIDE one document). Top bigram/trigram with
    * deterministic tie-break (count desc, gram asc), coverage fractions,
    * and the Gopher-threshold flag. Document-local map over the same
    * `[a-z]+` tokenization the shingle family uses — zero shuffle
    * beyond the facet sort, so the 100 TB cost is one scan. Memoized +
    * checkpointed per (session, dir) like the other funnel stage frames:
    * t18 and t21 tokenize once.
    */
  private val repetitionCache = new graft.util.SessionCache[DataFrame]

  def repetition(s: SparkSession, dir: String): DataFrame =
    repetitionCache.getOrElseUpdate(s, dir) {
      import s.implicits._
      val tokenRx = java.util.regex.Pattern.compile("[a-z]+")
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val toks = {
            val b = scala.collection.mutable.ArrayBuffer.empty[String]
            val m = tokenRx.matcher(text.toLowerCase)
            while (m.find()) b += m.group()
            b.toArray
          }
          def top(n: Int): (String, Long) =
            if (toks.length < n) ("", 0L)
            else {
              val counts = scala.collection.mutable.HashMap.empty[String, Long]
              var i = 0
              while (i + n <= toks.length) {
                val g = toks.slice(i, i + n).mkString(" ")
                counts.update(g, counts.getOrElse(g, 0L) + 1L)
                i += 1
              }
              counts.minBy { case (g, c) => (-c, g) }
            }
          val nTok = toks.length.toLong
          def frac(count: Long, n: Int): Double =
            if (nTok == 0) 0.0
            else math.rint(count * n.toDouble / nTok * 10000) / 10000
          val (g2, c2) = top(2)
          val (g3, c3) = top(3)
          val f2 = frac(c2, 2)
          val f3 = frac(c3, 3)
          (id, nTok, g2, f2, g3, f3, f2 > TopBigramFracMax || f3 > TopTrigramFracMax)
        }
        .toDF("doc_id", "n_tokens", "top_bigram", "bigram_frac",
          "top_trigram", "trigram_frac", "repetitive")
        .orderBy("doc_id")
        .localCheckpoint()
    }
}
