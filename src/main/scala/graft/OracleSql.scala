package graft

import graft.extract.GapDiscovery
import graft.sim.Similarity.{NumQueries, TopK}
import graft.textops.TextOps

/** DuckDB-dialect oracle SQL for the text/similarity operators —
  * generated from the SAME Scala constants the Spark plans use (hash
  * coefficients, stopword lists, band layout), so the two sides cannot
  * drift. Where the dialects differ (hex parse, list lambdas, unnest
  * ordinality) the semantics are kept bit-identical: same operation
  * order for float math, same MD5-derived hashes.
  */
object OracleSql {

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  val rollingFingerprint: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      | list_reduce([0::BIGINT] || list_transform(toks,
      |   w -> ('0x' || substr(md5(w), 1, 8))::BIGINT % 2147483647),
      |  (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_fp,
      | len(toks)::BIGINT AS n_tokens
      |FROM t ORDER BY doc_id""".stripMargin

  val tokenCount: String = {
    // generated from the SAME pattern constant the engine compiles
    // (control chars embed literally; Verify's JSON dump escapes them)
    val bpe = TextOps.BpeishPattern.replace("'", "''")
    s"""SELECT doc_id,
       ! len(regexp_extract_all(text, '${TextOps.WsTokenRegex}')) AS n_ws_tokens,
       ! len(regexp_extract_all(lower(text), '[a-z]+')) AS n_word_tokens,
       ! len(regexp_extract_all(lower(text), '$bpe'))::BIGINT AS n_bpe_tokens
       !FROM documents ORDER BY doc_id""".stripMargin('!')
  }

  val qualityScore: String = {
    val stops = sqlList(graft.matching.Corpora.englishStopwords.toSeq.sorted)
    s"""WITH q AS (
       | SELECT doc_id, length(text) AS n_chars,
       |  regexp_extract_all(lower(text), '[a-z]+') AS toks,
       |  length(regexp_replace(text, '[A-Za-z0-9${TextOps.WsClass}]', '', 'g')) AS punct_len
       | FROM documents),
       |q2 AS (
       | SELECT doc_id, n_chars, len(toks) AS n_tokens,
       |  round(punct_len::DOUBLE / greatest(n_chars, 1), 4) AS punct_ratio,
       |  round(len(list_filter(toks, t -> t IN ($stops)))::DOUBLE
       |    / greatest(len(toks), 1), 4) AS stop_ratio
       | FROM q)
       |SELECT doc_id, n_chars, n_tokens, punct_ratio, stop_ratio,
       | round(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4
       |   + (1.0 - punct_ratio) * 0.3
       |   + least(stop_ratio * 4.0, 1.0) * 0.3, 4) AS quality_score
       |FROM q2 ORDER BY doc_id""".stripMargin
  }

  val langId: String = {
    def hits(lang: String) =
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), t -> t IN (${sqlList(TextOps.langStopwords(lang))})))"
    s"""WITH s AS (
       | SELECT doc_id,
       |  ${hits("en")} AS s_en, ${hits("es")} AS s_es,
       |  ${hits("de")} AS s_de, ${hits("fr")} AS s_fr,
       |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS s_zh
       | FROM documents),
       |m AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS mx FROM s)
       |SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
       | CASE WHEN mx = 0 THEN 'und'
       |  WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
       |  WHEN s_de = mx THEN 'de' WHEN s_fr = mx THEN 'fr'
       |  ELSE 'zh' END AS lang_pred
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ws class generated from the shared TextOps constant (Java \s and
  // RE2 \s disagree on U+000B — same discipline as WsTokenRegex)
  private val fpExpr =
    s"md5(trim(regexp_replace(lower(text), '${TextOps.WsSepRegex}', ' ', 'g')))"

  val fingerprint: String =
    s"SELECT doc_id, $fpExpr AS fp FROM documents ORDER BY doc_id"

  val dedupExact: String =
    s"""SELECT doc_id, fp, rn, rn > 1 AS is_dup FROM (
       | SELECT doc_id, $fpExpr AS fp,
       |  row_number() OVER (PARTITION BY $fpExpr ORDER BY doc_id) AS rn
       | FROM documents) ORDER BY doc_id""".stripMargin

  /** t19: the streamed keeper table must equal the batch group-by. */
  val streamDedup: String =
    s"""SELECT $fpExpr AS fp, min(doc_id)::BIGINT AS keeper_id,
       | count(*)::BIGINT AS n_docs
       |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin

  /** t20: the watermark-bounded replay contract (see
    * StreamDedup.boundedReplay) — every exact-dedup keeper emits once;
    * the id%3=0 keepers, whose duplicate arrives beyond the horizon
    * after their state was evicted, emit a second time; the id%3!=0
    * keepers' in-horizon duplicate is dropped. The count vector is the
    * state-bounding behavior itself.
    */
  val streamDedupBounded: String =
    s"""WITH k AS (SELECT min(doc_id)::BIGINT AS keeper_id FROM documents GROUP BY $fpExpr)
       |SELECT keeper_id, (CASE WHEN keeper_id % 3 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_emits
       |FROM k ORDER BY keeper_id""".stripMargin

  /** t21 oracle: the Gopher-style repetition signals re-derived — same
    * tokenization, same (count desc, gram asc) tie-break, round-half-
    * even fractions, thresholds interpolated from the engine constants.
    */
  val repetition: String = {
    def topCte(n: Int, tag: String): String = {
      val gram = (1 to n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
      s"""g$tag AS (SELECT doc_id, unnest(list_transform(range(len(t) - ${n - 1}), i -> $gram)) AS g
         | FROM toks WHERE len(t) >= $n),
         |c$tag AS (SELECT doc_id, g, count(*) AS c FROM g$tag GROUP BY 1, 2),
         |top$tag AS (SELECT doc_id, g, c FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c$tag)
         | WHERE rn = 1)""".stripMargin
    }
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
       |${topCte(2, "2")},
       |${topCte(3, "3")},
       |j AS (SELECT toks.doc_id, len(t)::BIGINT AS n_tokens,
       |  coalesce(top2.g, '') AS top_bigram,
       |  CASE WHEN len(t) = 0 THEN 0.0 ELSE round_even(coalesce(top2.c, 0) * 2.0 / len(t) * 10000, 0) / 10000 END AS bigram_frac,
       |  coalesce(top3.g, '') AS top_trigram,
       |  CASE WHEN len(t) = 0 THEN 0.0 ELSE round_even(coalesce(top3.c, 0) * 3.0 / len(t) * 10000, 0) / 10000 END AS trigram_frac
       | FROM toks LEFT JOIN top2 ON toks.doc_id = top2.doc_id
       |  LEFT JOIN top3 ON toks.doc_id = top3.doc_id)
       |SELECT doc_id, n_tokens, top_bigram, bigram_frac, top_trigram, trigram_frac,
       | (bigram_frac > ${TextOps.TopBigramFracMax} OR trigram_frac > ${TextOps.TopTrigramFracMax}) AS repetitive
       |FROM j ORDER BY doc_id""".stripMargin
  }

  /** Shared shingle CTE (distinct word-3-grams). */
  private val shinglesCte =
    """toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents),
      |sh_raw AS (SELECT doc_id,
      |  unnest(list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
      | FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, sh FROM sh_raw)""".stripMargin

  /** t17: per-language token totals → adaptive budget (half the largest
    * language, integer arithmetic) → deterministic md5-bucket keep
    * decision, all integer compares so both engines agree bit-for-bit.
    */
  val tokenBudget: String =
    s"""WITH d AS (SELECT doc_id, lang,
       !  len(regexp_extract_all(text, '${TextOps.WsTokenRegex}'))::BIGINT AS n_tokens FROM documents),
       !t AS (SELECT lang, sum(n_tokens)::BIGINT AS total_tokens FROM d GROUP BY 1),
       !b AS (SELECT lang, total_tokens, (max(total_tokens) OVER () + 1) // 2 AS budget FROM t)
       !SELECT d.doc_id, d.lang, d.n_tokens,
       ! ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % ${TextOps.BudgetBuckets} AS bucket,
       ! (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % ${TextOps.BudgetBuckets})
       !   * b.total_tokens < b.budget * ${TextOps.BudgetBuckets} AS kept
       !FROM d JOIN b USING (lang)
       !ORDER BY d.doc_id""".stripMargin('!')

  /** t16: per train doc (doc_id % 10 <> 0), the fraction of its
    * distinct shingles present in the benchmark slice's (doc_id % 10
    * = 0) shingle vocabulary — membership, not pair similarity, so the
    * reconstruction is two aggregations over the shared shingle CTE.
    */
  val contamination: String =
    s"""WITH $shinglesCte,
       |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
       |train AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 <> 0),
       |hits AS (SELECT t.doc_id, count(*) AS n_contaminated
       | FROM train t JOIN bench b ON t.sh = b.sh GROUP BY 1),
       |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1)
       |SELECT s.doc_id, s.n_shingles::BIGINT AS n_shingles,
       | coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       | round(coalesce(h.n_contaminated, 0)::DOUBLE / s.n_shingles, 4) AS contamination,
       | round(coalesce(h.n_contaminated, 0)::DOUBLE / s.n_shingles, 4) >= ${TextOps.ContaminationThreshold}::DOUBLE AS is_contaminated
       |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
       |ORDER BY s.doc_id""".stripMargin

  val ngramJaccard: String = ngramPairsAt(TextOps.NgramThreshold)

  /** The t6 pairs at Jaccard ≥ `cut`: t6 cuts at NgramThreshold, t12's
    * truth at JaccardThreshold.
    */
  private def ngramPairsAt(cut: Double): String =
    s"""WITH $shinglesCte,
       |keep AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
       | WHERE df <= ${TextOps.MaxShingleDf}),
       |shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       | FROM shf x JOIN shf y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |WHERE round(i::DOUBLE / (sa.n + sb.n - i), 4) >= $cut
       |ORDER BY a, b""".stripMargin

  val minhashLsh: String = {
    import TextOps.{MinhashP => p, NumHashes, NumBands, hashA, hashB}
    val r = NumHashes / NumBands
    val mins = (0 until NumHashes).map(i =>
      s"min((${hashA(i)} * h + ${hashB(i)}) % $p) AS m$i").mkString(",\n  ")
    val bandSelects = (0 until NumBands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => s"m$i").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bh FROM sig"
    }.mkString("\n UNION ALL\n ")
    s"""WITH $shinglesCte,
       |keepers AS (SELECT min(doc_id) AS doc_id
       | FROM (SELECT doc_id, $fpExpr AS fp FROM documents) GROUP BY fp),
       |shk AS (SELECT s.doc_id, s.sh FROM sh s JOIN keepers k ON s.doc_id = k.doc_id),
       |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT % $p AS h FROM shk),
       |sig AS (SELECT doc_id,
       |  $mins
       | FROM hs GROUP BY doc_id),
       |bands AS (
       | $bandSelects),
       |bsz AS (SELECT band, bh, count(*) AS n FROM bands GROUP BY 1, 2),
       |bandsok AS (SELECT b.doc_id, b.band, b.bh FROM bands b
       | JOIN bsz ON b.band = bsz.band AND b.bh = bsz.bh AND bsz.n <= ${TextOps.MaxBandBucket}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       | FROM bandsok x JOIN bandsok y
       | ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY 1),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       | FROM shk x JOIN shk y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT c.a AS a, c.b AS b, round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
       |FROM cand c JOIN inter ON inter.a = c.a AND inter.b = c.b
       |JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
       |WHERE round(i::DOUBLE / (sa.n + sb.n - i), 4) >= ${TextOps.JaccardThreshold}
       |ORDER BY c.a, c.b""".stripMargin
  }

  /** t10 oracle: transitive closure over the LSH-verified pairs via a
    * recursive CTE, min label per component (the pair set is tiny, so
    * full reachability is cheap in DuckDB).
    */
  val dupGroups: String = {
    val inner = minhashLsh.stripSuffix("ORDER BY c.a, c.b").trim
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($inner)),
       |dedges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |verts AS (SELECT DISTINCT a AS v FROM dedges),
       |reach(doc, other) AS (
       | SELECT v, v FROM verts
       | UNION
       | SELECT r.doc, e.b FROM reach r JOIN dedges e ON e.a = r.other),
       |comp AS (SELECT doc AS doc_id, min(other) AS group_id FROM reach GROUP BY doc),
       |sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1)
       |SELECT c.doc_id, c.group_id, s.group_size
       |FROM comp c JOIN sizes s USING (group_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  /** t11 oracle: the curation decision composed from the same lang /
    * quality / exact-dup / dup-group SQL the individual ops use.
    */
  val corpusSelect: String =
    s"""WITH lang AS (SELECT doc_id, lang_pred FROM ($langId)),
       |qual AS (SELECT doc_id, quality_score FROM ($qualityScore)),
       |ex AS (SELECT doc_id, rn FROM ($dedupExact)),
       |nd AS (SELECT doc_id, group_id FROM ($dupGroups))
       |SELECT d.doc_id,
       | (lang_pred = 'en') AS lang_ok,
       | (quality_score >= ${TextOps.MinQuality}) AS quality_ok,
       | (rn > 1) AS exact_dup,
       | (nd.group_id IS NOT NULL AND nd.group_id <> d.doc_id) AS near_dup_loser,
       | ((lang_pred = 'en') AND (quality_score >= ${TextOps.MinQuality}) AND NOT (rn > 1)
       |  AND NOT (nd.group_id IS NOT NULL AND nd.group_id <> d.doc_id)) AS keep
       |FROM documents d
       |JOIN lang USING (doc_id) JOIN qual USING (doc_id) JOIN ex USING (doc_id)
       |LEFT JOIN nd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** t18 oracle: the funnel re-derived by composing the stage oracles
    * as subqueries (the t11 pattern), so every flag is independently
    * reconstructed rather than copied from the engine's stage outputs.
    */
  val curationFunnel: String =
    s"""WITH qual AS (SELECT doc_id, quality_score FROM ($qualityScore)),
       |ex AS (SELECT doc_id, rn FROM ($dedupExact)),
       |nd AS (SELECT doc_id, group_id FROM ($dupGroups)),
       |cont AS (SELECT doc_id, is_contaminated FROM ($contamination)),
       |bud AS (SELECT doc_id, kept FROM ($tokenBudget)),
       |rep AS (SELECT doc_id, repetitive FROM ($repetition))
       |SELECT d.doc_id,
       | (d.doc_id % 10 <> 0) AS is_train,
       | (quality_score >= ${TextOps.MinQuality}) AS quality_ok,
       | (rn > 1) AS exact_dup,
       | (nd.group_id IS NOT NULL AND nd.group_id <> d.doc_id) AS near_dup_loser,
       | coalesce(cont.is_contaminated, FALSE) AS contaminated,
       | bud.kept AS budget_kept,
       | rep.repetitive AS repetitive,
       | ((d.doc_id % 10 <> 0) AND (quality_score >= ${TextOps.MinQuality}) AND NOT (rn > 1)
       |  AND NOT (nd.group_id IS NOT NULL AND nd.group_id <> d.doc_id)
       |  AND NOT coalesce(cont.is_contaminated, FALSE) AND bud.kept
       |  AND NOT rep.repetitive) AS keep_final
       |FROM documents d
       |JOIN qual USING (doc_id) JOIN ex USING (doc_id)
       |LEFT JOIN nd USING (doc_id) LEFT JOIN cont USING (doc_id)
       |JOIN bud USING (doc_id) JOIN rep USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** t12 oracle: compose the exact-Jaccard and LSH pair SQL. Truth is
    * restricted to exact-dedup keepers, matching TextOps.lshRecall.
    */
  val lshRecall: String = {
    val truth = ngramPairsAt(TextOps.JaccardThreshold).stripSuffix("ORDER BY a, b").trim
    val lsh = minhashLsh.stripSuffix("ORDER BY c.a, c.b").trim
    s"""WITH tkeep AS (SELECT min(doc_id) AS doc_id
       | FROM (SELECT doc_id, $fpExpr AS fp FROM documents) GROUP BY fp),
       |truth AS (SELECT a, b FROM ($truth)
       | WHERE a IN (SELECT doc_id FROM tkeep) AND b IN (SELECT doc_id FROM tkeep)),
       |lsh AS (SELECT a, b FROM ($lsh)),
       |h AS (SELECT count(*) AS n FROM truth JOIN lsh USING (a, b)),
       |t AS (SELECT count(*) AS n FROM truth),
       |l AS (SELECT count(*) AS n FROM lsh)
       |SELECT t.n::BIGINT AS n_truth, l.n::BIGINT AS n_candidates, h.n::BIGINT AS n_hits,
       | CASE WHEN t.n = 0 THEN 1.0 ELSE round_even(h.n::DOUBLE / t.n * 10000, 0) / 10000 END AS recall,
       | CASE WHEN l.n = 0 THEN 1.0 ELSE round_even(h.n::DOUBLE / l.n * 10000, 0) / 10000 END AS precision
       |FROM t, l, h""".stripMargin
  }

  /** Shared simhash CTE chain: exposes `simq(doc_id, simhash)`. */
  private val simhashCte: String = {
    import TextOps.SimhashBits
    val bitSums = (0 until SimhashBits).map { b =>
      val src = if (b < 31) "h1" else "h2"
      val shift = b % 31
      s"sum(CASE WHEN ($src >> $shift) & 1 = 1 THEN tf ELSE -tf END) AS b$b"
    }.mkString(",\n  ")
    val hashSum = (0 until SimhashBits).map { b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |h AS (SELECT doc_id, tf,
       |  ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
       |  ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2 FROM tf),
       |sums AS (SELECT doc_id,
       |  $bitSums
       | FROM h GROUP BY doc_id),
       |simq AS MATERIALIZED (SELECT doc_id, $hashSum AS simhash FROM sums)""".stripMargin
  }

  val simhash: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM simq ORDER BY doc_id""".stripMargin

  /** t14 oracle: the banded hamming near-dup — same keepers / bucket-cap
    * / verify structure as minhashLsh, generated from the same band and
    * threshold constants the Spark plan uses.
    */
  val simhashDedup: String = {
    import TextOps.{SimhashBands, SimhashBandBits, MaxBandBucket, HammingMax}
    val mask = (1L << SimhashBandBits) - 1
    val bandSelects = (0 until SimhashBands).map { b =>
      s"SELECT doc_id, $b AS band, (simhash >> ${b * SimhashBandBits}) & $mask AS bv FROM shk"
    }.mkString("\n UNION ALL\n ")
    s"""WITH $simhashCte,
       |keepers AS (SELECT min(doc_id) AS doc_id
       | FROM (SELECT doc_id, $fpExpr AS fp FROM documents) GROUP BY fp),
       |shk AS (SELECT s.doc_id, s.simhash FROM simq s JOIN keepers k ON s.doc_id = k.doc_id),
       |bands AS (
       | $bandSelects),
       |bsz AS (SELECT band, bv, count(*) AS n FROM bands GROUP BY 1, 2),
       |bandsok AS (SELECT b.doc_id, b.band, b.bv FROM bands b
       | JOIN bsz ON b.band = bsz.band AND b.bv = bsz.bv AND bsz.n <= $MaxBandBucket),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       | FROM bandsok x JOIN bandsok y
       | ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT c.a AS a, c.b AS b,
       | bit_count(xor(sa.simhash, sb.simhash))::BIGINT AS hamming
       |FROM cand c JOIN simq sa ON sa.doc_id = c.a JOIN simq sb ON sb.doc_id = c.b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $HammingMax
       |ORDER BY a, b""".stripMargin
  }

  /** t15 oracle: recursive components over the t14 pairs (the dupGroups
    * pattern).
    */
  val simhashGroups: String = {
    val inner = simhashDedup.stripSuffix("ORDER BY a, b").trim
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($inner)),
       |dedges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |verts AS (SELECT DISTINCT a AS v FROM dedges),
       |reach(doc, other) AS (
       | SELECT v, v FROM verts
       | UNION
       | SELECT r.doc, e.b FROM reach r JOIN dedges e ON e.a = r.other),
       |comp AS (SELECT doc AS doc_id, min(other) AS group_id FROM reach GROUP BY doc),
       |sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1)
       |SELECT c.doc_id, c.group_id, s.group_size
       |FROM comp c JOIN sizes s USING (group_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  // ------------------------------------------------- extraction facets
  //
  // DuckDB reconstruction of the DocGen synthesis (sources/DocGen.scala)
  // plus the pipeline's span emission for each content mode. The base
  // corpus text is lowercase words with no punctuation/digits (verified
  // across all sf dirs), so sentence splitting is the identity and every
  // entity/fact/structure token comes from the deterministic injected
  // sentences — making the full span sequences pure arithmetic of
  // (doc_id, text). The same Spark-side behaviors mirrored here:
  //  - expand: 1+id%4 copies, 40 for every 101st (DocGen.expand)
  //  - mode split html/pdf/text = id%10 in [0,5)/[5,8)/[8,10)
  //  - PDF: 240-char chunks, 4 slots/page, vertical-gap merge collapses
  //    each column to ONE block per page (slot gap 20 < 30 threshold),
  //    two-column layout for id%3==0 reads left column then right
  //    (PdfExtractor.mergeBlocks/readingOrder), page headers/separators
  //  - HTML: boilerplate-stripped article walk (MarkdownEmitter), h2 on
  //    id%2==0, image only when BOTH a third paragraph exists (id%3==0)
  //    and id%4==0, list/blockquote/table/code on id%7/6/5/8==0
  //  - rejects: pdf docs with id%97==0 carry 101+id%20 pages > 100 cap
  //
  // Precondition: the reconstructions assume every doc's clean text
  // stays under Core8Extractor.TruncateAt (50KB) — true for the driver
  // corpora (base texts ≤ ~550 chars; the 40x giants reach ~22KB). A
  // corpus with base texts over ~1.25KB would need the E1 truncation
  // modeled here (entity sentences sit after the expanded text and
  // would be cut on giants).

  /** Shared synthesis CTEs: expanded text, injected entity sentences,
    * full body string per doc. Margin char '!' — span texts contain '|'.
    */
  private val docSynthCte: String =
    """syn AS (
      !  SELECT doc_id AS id, 'doc' || doc_id AS did,
      !    (doc_id % 10 < 5) AS is_html,
      !    (doc_id % 10 >= 5 AND doc_id % 10 < 8) AS is_pdf,
      !    (doc_id % 10 >= 8) AS is_text,
      !    (doc_id % 10 >= 5 AND doc_id % 10 < 8 AND doc_id % 97 = 0) AS is_reject,
      !    (doc_id % 10 < 5 AND (doc_id % 89 = 34 OR doc_id % 83 = 13)) AS is_url_reject,
      !    array_to_string(list_transform(
      !      range(CASE WHEN doc_id % 101 = 100 THEN 40 ELSE 1 + doc_id % 4 END), x -> text), ' ') AS expanded
      !  FROM documents),
      !ent AS (
      !  SELECT *,
      !    'Contact ' || (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT]
      !      || ' ' || (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT]
      !      || ' at (555) ' || (100 + id % 900) || '-' || (1000 + id % 9000)
      !      || ' regarding the audit.' AS s1,
      !    'The inspection is scheduled for '
      !      || (['January','February','March','April','June','July','August','September','October','November'])[(id % 10 + 1)::INT]
      !      || ' ' || (id % 28 + 1) || ', ' || (2020 + id % 6)
      !      || ' at ' || (id % 11 + 1) || ':' || (CASE WHEN id % 2 = 0 THEN '30' ELSE '15' END)
      !      || ' PM in ' || (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(id % 6 + 1)::INT]
      !      || '.' AS s2,
      !    'Violations carry a penalty of $' || format('{:,}', (id % 90 + 10) * 250)
      !      || ' under 29 CFR 1926.' || (id % 400 + 100) || '.' AS s3,
      !    'Guardrails must measure ' || (id % 20 + 20) || '-' || (id % 20 + 27)
      !      || ' inches and reports shall be filed within ' || (id % 90 + 1) || ' days.' AS s4,
      !    'Mr. ' || (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT]
      !      || ' approved the findings.' AS s5,
      !    'OSHA and NIOSH published workplace safety and fall protection guidance '
      !      || 'in the Federal Register covering scaffold, guardrail and lockout tagout hazards, '
      !      || 'with PPE and respirator requirements under the hazcom standard.' AS s6,
      !    'President ' || (['Wexford','Tarlow','Quimby','Ashford'])[(id % 4 + 1)::INT]
      !      || ' of the Department of ' || (['Harborview','Glenfield','Marwick','Ostrander'])[((id // 4) % 4 + 1)::INT]
      !      || ' visited ' || (['Pinecrest','Eastbrook','Larkspur','Dunmore','Hollybrook'])[((id // 10) % 5 + 1)::INT]
      !      || ' Valley.' AS s7,
      !    'The contractor ' || (['Varnell','Tredgold','Mallorby','Quenton'])[(id % 4 + 1)::INT]
      !      || ' operates in the ' || (['paving','glazing','joinery','dredging'])[((id // 4) % 4 + 1)::INT]
      !      || ' sector.' AS s8
      !  FROM syn),
      !bodyq AS (
      !  SELECT *,
      !    expanded || ' ' || s1 || ' ' || s2 || ' ' || s3 || ' ' || s4 || ' ' || s5
      !      || CASE WHEN id % 3 = 0 THEN ' ' || s6 ELSE '' END
      !      || CASE WHEN is_text THEN ' ' || s7 || ' ' || s8 ELSE '' END AS body
      !  FROM ent)""".stripMargin('!')

  val xRejects: String =
    s"""WITH $docSynthCte
       !SELECT did AS doc_id,
       ! 'skipped: ' || (101 + id % 20) || ' pages exceeds 100-page limit' AS error
       !FROM bodyq WHERE is_reject
       !UNION ALL
       !SELECT did AS doc_id,
       ! CASE WHEN id % 89 = 34 THEN 'HTTP 404 - not processable'
       !  ELSE 'Unsupported content type: application/octet-stream' END AS error
       !FROM bodyq WHERE is_url_reject
       !ORDER BY doc_id""".stripMargin('!')

  val xTextSpans: String =
    s"""WITH $docSynthCte
       !SELECT did AS doc_id, 0::INTEGER AS "offset", 'text' AS kind, body AS text, '' AS media_ref
       !FROM bodyq WHERE is_text ORDER BY doc_id""".stripMargin('!')

  val xContentFlags: String =
    s"""WITH $docSynthCte
       !SELECT did AS doc_id,
       ! (ok_html AND id % 5 = 0) AS has_tables,
       ! ((ok_html AND id % 12 = 0) OR (is_pdf AND NOT is_reject AND id % 4 = 0)) AS has_images,
       ! false AS has_formulas,
       ! (ok_html AND id % 8 = 0) AS has_code,
       ! false AS has_links,
       ! (ok_html AND id % 7 = 0) AS has_lists,
       ! (ok_html OR (is_pdf AND NOT is_reject)) AS has_headers,
       ! false AS has_footnotes,
       ! false AS has_citations,
       ! (ok_html AND id % 5 = 0) AS has_structured_data
       !FROM (SELECT *, is_html AND NOT is_url_reject AS ok_html FROM bodyq)
       !ORDER BY doc_id""".stripMargin('!')

  val xPdfSpans: String =
    s"""WITH $docSynthCte,
       !pchunks AS (
       !  SELECT *, ((length(body) + 239) // 240)::INT AS nchunks,
       !    list_transform(range((length(body) + 239) // 240),
       !      i -> trim(substr(body, (i * 240 + 1)::INT, 240))) AS ch
       !  FROM bodyq WHERE is_pdf AND NOT is_reject),
       !pspans AS (
       !  SELECT did,
       !    [{'kind': 'heading', 'text': '# ' || did, 'media_ref': ''}] ||
       !    flatten(list_transform(range((nchunks + 3) // 4), p ->
       !      [{'kind': 'page_break', 'text': '## Page ' || (p + 1), 'media_ref': ''}] ||
       !      list_transform(
       !        CASE WHEN id % 3 = 0 THEN
       !          [array_to_string(list_filter(ch[(p*4+1)::INT:least(nchunks, p*4+4)::INT], (x, i) -> i % 2 = 1), chr(10))] ||
       !          CASE WHEN least(nchunks, p*4+4) - p*4 > 1 THEN
       !            [array_to_string(list_filter(ch[(p*4+1)::INT:least(nchunks, p*4+4)::INT], (x, i) -> i % 2 = 0), chr(10))]
       !          ELSE [] END
       !        ELSE [array_to_string(ch[(p*4+1)::INT:least(nchunks, p*4+4)::INT], chr(10))] END,
       !        t -> {'kind': 'text', 'text': t, 'media_ref': ''}) ||
       !      CASE WHEN p = 0 AND id % 4 = 0 THEN
       !        [{'kind': 'image_ref', 'text': 'diagram for doc ' || id, 'media_ref': 'img://doc' || id || '/p1/0'}]
       !      ELSE [] END ||
       !      CASE WHEN p < (nchunks + 3) // 4 - 1 THEN
       !        [{'kind': 'page_break', 'text': '---', 'media_ref': ''}]
       !      ELSE [] END)) AS spans
       !  FROM pchunks)
       !SELECT did AS doc_id, (generate_subscripts(spans, 1) - 1)::INTEGER AS "offset",
       !  unnest(spans, recursive := true)
       !FROM pspans ORDER BY doc_id, "offset"""".stripMargin('!')

  val xHtmlSpans: String =
    raw"""WITH $docSynthCte,
       !hp AS (
       !  SELECT *,
       !    expanded || ' ' || s1 || ' ' || s2 AS para0,
       !    s3 || ' ' || s4 || ' ' || s5 AS para1
       !  FROM ent WHERE id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13)),
       !hspans AS (
       !  SELECT did,
       !    [{'kind': 'heading', 'text': '# Document ' || id || ' Report', 'media_ref': ''}] ||
       !    [{'kind': 'text', 'text': CASE WHEN id % 3 = 0
       !        THEN regexp_replace(para0, '^(\w+) (\w+)', '**\1** *\2*')
       !        ELSE para0 END, 'media_ref': ''}] ||
       !    CASE WHEN id % 2 = 0 THEN [{'kind': 'heading', 'text': '## Section 1 Findings', 'media_ref': ''}] ELSE [] END ||
       !    [{'kind': 'text', 'text': para1, 'media_ref': ''}] ||
       !    CASE WHEN id % 3 = 0 THEN
       !      CASE WHEN id % 4 = 0 THEN
       !        [{'kind': 'image_ref', 'text': 'figure 2 for doc ' || id,
       !           'media_ref': 'https://cdn.example.com/img/' || id || '-2.png'}]
       !      ELSE [] END ||
       !      [{'kind': 'text', 'text': s6, 'media_ref': ''}]
       !    ELSE [] END ||
       !    CASE WHEN id % 7 = 0 THEN
       !      [{'kind': 'list_item', 'text': '- inspection checklist', 'media_ref': ''},
       !       {'kind': 'list_item', 'text': '- equipment log', 'media_ref': ''},
       !       {'kind': 'list_item', 'text': '- training record', 'media_ref': ''}]
       !    ELSE [] END ||
       !    CASE WHEN id % 6 = 0 THEN
       !      [{'kind': 'blockquote', 'text': '> Compliance is verified during each quarterly review.', 'media_ref': ''}]
       !    ELSE [] END ||
       !    CASE WHEN id % 5 = 0 THEN
       !      [{'kind': 'table', 'text': '| Item | Qty |' || chr(10) || '| --- | --- |' || chr(10) ||
       !         '| unit-' || id || ' | ' || (id % 100) || ' |' || chr(10) ||
       !         '| spare | ' || (id % 7) || ' |', 'media_ref': ''}]
       !    ELSE [] END ||
       !    CASE WHEN id % 8 = 0 THEN
       !      [{'kind': 'code', 'text': 'status = check(sensor)' || chr(10) || 'if status: alert()', 'media_ref': ''}]
       !    ELSE [] END AS spans
       !  FROM hp)
       !SELECT did AS doc_id, (generate_subscripts(spans, 1) - 1)::INTEGER AS "offset",
       !  unnest(spans, recursive := true)
       !FROM hspans ORDER BY doc_id, "offset"""".stripMargin('!')

  /** Streaming parity oracle: the replayed stream must emit exactly the
    * batch span rows, i.e. the UNION of the three per-mode span
    * reconstructions (rejected docs emit no spans in any mode).
    * DuckDB scopes each mode's CTE chain inside its own subquery, so
    * the shared synthesis CTE names don't collide.
    */
  val xStreamSpans: String =
    s"""SELECT * FROM ($xTextSpans) tq
       !UNION ALL SELECT * FROM ($xPdfSpans) pq
       !UNION ALL SELECT * FROM ($xHtmlSpans) hq
       !ORDER BY doc_id, "offset"""".stripMargin('!')

  // --------------------------------------- classification facet oracles
  //
  // The classifier's weighted-AC scoring re-expressed as SQL generated
  // from the SAME Corpora constants the engine compiles automatons from
  // (the established pattern: two sides cannot drift). Occurrence
  // counting: single-token keywords count exact token matches
  // ([a-z0-9_]+ tokenization ≡ the automaton's word-boundary predicate);
  // multi-word/punctuated keywords count boundary-context regex matches
  // — equivalent unless two such phrases sit ≤1 char apart (cannot
  // happen in this corpus; single-token keywords are immune by
  // construction). All keyword weights are exact binary multiples of
  // 0.5, so the SQL's sum order matches the automaton's fold exactly.

  private def reEscape(s: String): String = s.replaceAll("([^a-zA-Z0-9 _])", "\\\\$1")

  /** Occurrence count of one keyword over (toks, padded lmd). */
  private def kwCount(kw: String, tokCol: String, textCol: String): String =
    if (kw.matches("[a-z0-9_]+")) s"len(list_filter($tokCol, t -> t = '$kw'))"
    else s"len(regexp_extract_all(' ' || $textCol || ' ', '(^|[^a-z0-9_])(${reEscape(kw)})($$|[^a-z0-9_])'))"

  private def scoreColumns(fam: Map[String, Map[String, Double]], prefix: String,
      tokCol: String, textCol: String): String =
    fam.toSeq.sortBy(_._1).map { case (dom, kws) =>
      "(" + kws.toSeq.sortBy(_._1)
        .map { case (kw, w) => s"${kwCount(kw, tokCol, textCol)} * $w" }
        .mkString(" + ") + s") AS ${prefix}_$dom"
    }.mkString(",\n  ")

  private def famNames(fam: Map[String, Map[String, Double]]): Seq[String] =
    fam.keys.toSeq.sorted

  /** Markdown reconstruction per non-reject doc (spans joined by \n —
    * exactly ExtractionPipeline's classify input), tokenized. Requires
    * the docSynthCte prefix. MATERIALIZED: the score columns reference
    * toks/lmd ~120×, and DuckDB would otherwise inline the regex chain
    * per reference.
    */
  /** Shared HTML-markdown reconstruction (hp paragraphs + hmd span
    * texts joined) — interpolated by mdCte and every _core oracle so
    * a DocGen synthesis change is mirrored in exactly one place.
    */
  private val htmlMdCte: String =
    """hp AS (
      !  SELECT *, expanded || ' ' || s1 || ' ' || s2 AS para0, s3 || ' ' || s4 || ' ' || s5 AS para1
      !  FROM ent WHERE id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13)),
      !hmd AS (
      !  SELECT did, id, array_to_string(
      !    ['# Document ' || id || ' Report'] ||
      !    [CASE WHEN id % 3 = 0 THEN regexp_replace(para0, '^(\w+) (\w+)', '**\1** *\2*') ELSE para0 END] ||
      !    CASE WHEN id % 2 = 0 THEN ['## Section 1 Findings'] ELSE [] END ||
      !    [para1] ||
      !    CASE WHEN id % 3 = 0 THEN
      !      CASE WHEN id % 4 = 0 THEN ['figure 2 for doc ' || id] ELSE [] END || [s6]
      !    ELSE [] END ||
      !    CASE WHEN id % 7 = 0 THEN ['- inspection checklist', '- equipment log', '- training record'] ELSE [] END ||
      !    CASE WHEN id % 6 = 0 THEN ['> Compliance is verified during each quarterly review.'] ELSE [] END ||
      !    CASE WHEN id % 5 = 0 THEN ['| Item | Qty |' || chr(10) || '| --- | --- |' || chr(10) ||
      !       '| unit-' || id || ' | ' || (id % 100) || ' |' || chr(10) || '| spare | ' || (id % 7) || ' |'] ELSE [] END ||
      !    CASE WHEN id % 8 = 0 THEN ['status = check(sensor)' || chr(10) || 'if status: alert()'] ELSE [] END,
      !    chr(10)) AS md
      !  FROM hp)""".stripMargin('!')

  private val mdCte: String =
    """pchunks AS (
      !  SELECT *, ((length(body) + 239) // 240)::INT AS nchunks,
      !    list_transform(range((length(body) + 239) // 240),
      !      i -> trim(substr(body, (i * 240 + 1)::INT, 240))) AS ch
      !  FROM bodyq WHERE is_pdf AND NOT is_reject),
      !pmd AS (
      !  SELECT did, id,
      !    '# ' || did || chr(10) ||
      !    array_to_string(flatten(list_transform(range((nchunks + 3) // 4), p ->
      !      ['## Page ' || (p + 1)] ||
      !      (CASE WHEN id % 3 = 0 THEN
      !        [array_to_string(list_filter(ch[(p*4+1)::INT:least(nchunks, p*4+4)::INT], (x, i) -> i % 2 = 1), chr(10))] ||
      !        CASE WHEN least(nchunks, p*4+4) - p*4 > 1 THEN
      !          [array_to_string(list_filter(ch[(p*4+1)::INT:least(nchunks, p*4+4)::INT], (x, i) -> i % 2 = 0), chr(10))]
      !        ELSE [] END
      !      ELSE [array_to_string(ch[(p*4+1)::INT:least(nchunks, p*4+4)::INT], chr(10))] END) ||
      !      CASE WHEN p = 0 AND id % 4 = 0 THEN ['diagram for doc ' || id] ELSE [] END ||
      !      CASE WHEN p < (nchunks + 3) // 4 - 1 THEN ['---'] ELSE [] END)), chr(10)) AS md
      !  FROM pchunks),
      !$htmlMdCte,
      !mdq AS (
      !  SELECT did, id, md FROM pmd
      !  UNION ALL SELECT did, id, md FROM hmd
      !  UNION ALL SELECT did, id, body AS md FROM bodyq WHERE is_text),
      !tokd AS MATERIALIZED (SELECT did, id, lower(md) AS lmd,
      !  regexp_extract_all(lower(md), '[a-z0-9_]+') AS toks FROM mdq)""".stripMargin('!')
      .replace("$htmlMdCte", htmlMdCte)

  /** C1-C3 classification oracle: weighted keyword scores →
    * percent-normalize → argmax with name-asc tiebreak; rejects fall to
    * the general/document defaults.
    */
  val xClassify: String = {
    import graft.matching.Corpora.{domainKeywords, doctypeKeywords}
    val dScores = scoreColumns(domainKeywords, "dom", "toks", "lmd")
    val tScores = scoreColumns(doctypeKeywords, "dt", "toks", "lmd")
    val dN = famNames(domainKeywords)
    val tN = famNames(doctypeKeywords)
    val dTotal = dN.map(d => s"dom_$d").mkString(" + ")
    val tTotal = tN.map(d => s"dt_$d").mkString(" + ")
    val dMx = "greatest(" + dN.map(d => s"dom_$d").mkString(", ") + ")"
    val tMx = "greatest(" + tN.map(d => s"dt_$d").mkString(", ") + ")"
    val dArg = "CASE " + dN.map(d => s"WHEN dom_$d = mx THEN '$d'").mkString(" ") + " END"
    val tArg = "CASE " + tN.map(d => s"WHEN dt_$d = mx2 THEN '$d'").mkString(" ") + " END"
    s"""WITH $docSynthCte,
       !$mdCte,
       !scored AS MATERIALIZED (
       ! SELECT did, id,
       !  $dScores,
       !  $tScores
       ! FROM tokd),
       !agg AS (
       ! SELECT *, $dTotal AS dom_total, $dMx AS mx,
       !  $tTotal AS dt_total, $tMx AS mx2
       ! FROM scored)
       !SELECT did AS doc_id,
       ! CASE WHEN dom_total <= 0 THEN 'general' ELSE $dArg END AS primary_domain,
       ! CASE WHEN dom_total <= 0 THEN 100.0 ELSE round_even(mx / dom_total * 10000, 0) / 100 END AS confidence,
       ! CASE WHEN dt_total <= 0 THEN 'document' ELSE $tArg END AS doc_type
       !FROM agg
       !UNION ALL
       !SELECT did AS doc_id, 'general' AS primary_domain, 100.0 AS confidence,
       ! 'document' AS doc_type
       !FROM bodyq WHERE is_reject OR is_url_reject
       !ORDER BY doc_id""".stripMargin('!')
  }

  /** C4 deep-domain entity oracle: docs with primary confidence >= 60
    * match domain-entity terms (word-boundary) over the CLEANED text
    * against every domain that scored > 0.
    */
  val xDomainEntities: String = {
    import graft.matching.Corpora.{domainKeywords, domainEntities}
    val dScores = scoreColumns(domainKeywords, "dom", "toks", "lmd")
    val dN = famNames(domainKeywords)
    val dTotal = dN.map(d => s"dom_$d").mkString(" + ")
    val dMx = "greatest(" + dN.map(d => s"dom_$d").mkString(", ") + ")"
    // cleanFormatting in SQL (Core8Extractor.cleanFormatting): the
    // emphasis unwrap loses its lookarounds (RE2), equivalent on text
    // where single-star runs never abut word chars — true by synthesis
    val cleanExpr =
      """regexp_replace(regexp_replace(regexp_replace(replace(replace(lmd, '**', ''), '`', ''),
        !    '\*([^*\n]+)\*', '\1', 'g'),
        !    '(^|\n)#+ +', '\1', 'g'),
        !    '(^|\n)> +', '\1', 'g')""".stripMargin('!')
    val entityCases = domainEntities.toSeq.sortBy(_._1).flatMap { case (dom, ents) =>
      ents.sorted.map { e =>
        s"CASE WHEN dom_$dom > 0 AND ${kwCount(e, "ctoks", "lclean")} > 0 THEN '$dom/$e' END"
      }
    }.mkString("[", ",\n  ", "]")
    s"""WITH $docSynthCte,
       !$mdCte,
       !scored AS MATERIALIZED (
       ! SELECT did, id, lmd,
       !  $dScores
       ! FROM tokd),
       !agg AS (
       ! SELECT *, $dTotal AS dom_total, $dMx AS mx FROM scored),
       !deep AS MATERIALIZED (
       ! SELECT *,
       !  $cleanExpr AS lclean,
       !  regexp_extract_all($cleanExpr, '[a-z0-9_]+') AS ctoks
       ! FROM agg
       ! WHERE dom_total > 0 AND round_even(mx / dom_total * 10000, 0) / 100 >= 60)
       !SELECT did AS doc_id,
       ! unnest(list_filter($entityCases, x -> x IS NOT NULL)) AS domain_entity
       !FROM deep
       !ORDER BY doc_id, domain_entity""".stripMargin('!')
  }

  /** A5 keyword oracle: the tagger's frequency keywords recomputed in
    * SQL over the same reconstructed classify input (tokd.lmd) — word
    * regex, stoplist, length/frequency gates and top-K all generated
    * from the Tagger constants.
    */
  val xKeywords: String = {
    import graft.classify.Tagger
    val stop = Tagger.StopWords.toSeq.sorted.map(w => s"'$w'").mkString(", ")
    s"""WITH $docSynthCte,
       !$mdCte,
       !w AS (SELECT did, unnest(regexp_extract_all(lmd, '${Tagger.KeywordWordRegex}')) AS w FROM tokd),
       !f AS (SELECT did, w, count(*)::BIGINT AS freq FROM w
       !  WHERE length(w) >= ${Tagger.MinKeywordLen} AND w NOT IN ($stop)
       !  GROUP BY did, w HAVING count(*) >= ${Tagger.MinKeywordFreq}),
       !r AS (SELECT did, w, freq,
       !  row_number() OVER (PARTITION BY did ORDER BY freq DESC, w) AS rank
       !  FROM f)
       !SELECT did AS doc_id, rank::BIGINT AS rank, w AS keyword, freq
       !FROM r WHERE rank <= ${Tagger.MaxKeywords} ORDER BY doc_id, rank""".stripMargin('!')
  }

  /** A5 tag-metadata oracle: topics (domain-keyed substring checks with
    * the general fallback), the technical score (density formula with
    * round-half-even), and word/unique-term counts — every regex,
    * topic phrase, cue and constant interpolated from Tagger so the
    * engines cannot drift. The domain argmax CTE is the xClassify one.
    */
  val xTagsMeta: String = {
    import graft.classify.Tagger
    import graft.matching.Corpora.domainKeywords
    val dScores = scoreColumns(domainKeywords, "dom", "toks", "lmd")
    val dN = famNames(domainKeywords)
    val dTotal = dN.map(d => s"dom_$d").mkString(" + ")
    val dMx = "greatest(" + dN.map(d => s"dom_$d").mkString(", ") + ")"
    val dArg = "CASE " + dN.map(d => s"WHEN dom_$d = mx THEN '$d'").mkString(" ") + " END"
    def topicList(topics: Seq[String]): String =
      "list_filter([" + topics.map { t =>
        val cond = t.split(" ").map(w => s"contains(lmd, '$w')").mkString(" OR ")
        s"CASE WHEN $cond THEN '$t' ELSE NULL END"
      }.mkString(", ") + "], x -> x IS NOT NULL)"
    val fallback = "list_filter([" + Tagger.FallbackTopics.map { case (cue, t) =>
      s"CASE WHEN contains(lmd, '$cue') THEN '$t' ELSE NULL END"
    }.mkString(", ") + "], x -> x IS NOT NULL)"
    val topicsExpr = "CASE " +
      Tagger.topicsByDomain.keys.toSeq.sorted.map { d =>
        val l = topicList(Tagger.topicsByDomain(d))
        s"WHEN dom2 = '$d' AND len($l) > 0 THEN $l"
      }.mkString(" ") + s" ELSE $fallback END"
    s"""WITH $docSynthCte,
       !$mdCte,
       !scored AS MATERIALIZED (
       ! SELECT did, id, lmd,
       !  $dScores,
       !  len(regexp_extract_all(lmd, '${Tagger.TechnicalRegex}'))::BIGINT AS tech,
       !  len(regexp_extract_all(lmd, '${Tagger.CodeRegex}'))::BIGINT AS code,
       !  len(regexp_extract_all(lmd, '${Tagger.NumberRegex}'))::BIGINT AS nums,
       !  len(regexp_extract_all(lmd, '${Tagger.SpecialCharClassRegex}'))::BIGINT AS spec,
       !  len(regexp_extract_all(lmd, '${TextOps.WsTokenRegex}'))::BIGINT AS wc,
       !  len(list_distinct(regexp_extract_all(lmd, '${TextOps.WsTokenRegex}')))::BIGINT AS uniq
       ! FROM tokd),
       !agg AS (
       ! SELECT *, $dTotal AS dom_total, $dMx AS mx FROM scored),
       !dom AS (
       ! SELECT *, CASE WHEN dom_total <= 0 THEN 'general' ELSE $dArg END AS dom2 FROM agg)
       !SELECT did AS doc_id,
       ! coalesce(array_to_string(list_slice($topicsExpr, 1, ${Tagger.MaxTopics}), ','), '') AS topics,
       ! CASE WHEN wc = 0 THEN 0.0 ELSE
       !  round_even(least(1.0::DOUBLE,
       !    (tech + code * 2)::DOUBLE / wc * 10 + nums::DOUBLE / wc * 5 + spec::DOUBLE / wc * 2) * 100, 0) / 100
       ! END AS technical_score,
       ! wc AS word_count, uniq AS unique_terms
       !FROM dom ORDER BY doc_id""".stripMargin('!')
  }

  /** E1-E19 Core-8 extraction oracle over the modes whose clean text is
    * exactly reconstructable (html + text). PDF two-column docs split
    * sentences at 240-char chunk boundaries and reorder columns, so
    * their entity surface is a function of the chunking — those stay
    * under the rows-check + span-sequence oracle. Here every entity's
    * (type, value, start, end) is arithmetic: the injected sentences
    * are the only entity-bearing text, each value occurs exactly once,
    * and offsets follow from strpos over the cleaned markdown (the same
    * text Core8Extractor runs on).
    */
  val xEntitiesCore: String =
    """WITH SYNTH,
      !$htmlMdCte,
      !mdq AS (
      !  SELECT did, id, md FROM hmd
      !  UNION ALL SELECT did, id, body AS md FROM bodyq WHERE is_text),
      !cleanq AS MATERIALIZED (
      !  SELECT did, id,
      !    regexp_replace(regexp_replace(regexp_replace(replace(replace(md, '**', ''), '`', ''),
      !      '\*([^*\n]+)\*', '\1', 'g'),
      !      '(^|\n)#+ +', '\1', 'g'),
      !      '(^|\n)> +', '\1', 'g') AS clean
      !  FROM mdq),
      !vals AS (
      !  SELECT did, id,
      !    (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT] || ' ' ||
      !      (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT] AS v_person,
      !    '(555) ' || (100 + id % 900) || '-' || (1000 + id % 9000) AS v_phone,
      !    (['January','February','March','April','June','July','August','September','October','November'])[(id % 10 + 1)::INT]
      !      || ' ' || (id % 28 + 1) || ', ' || (2020 + id % 6) AS v_date,
      !    (id % 11 + 1) || ':' || (CASE WHEN id % 2 = 0 THEN '30' ELSE '15' END) || ' PM' AS v_time,
      !    (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(id % 6 + 1)::INT] AS v_gpe,
      !    '$' || format('{:,}', (id % 90 + 10) * 250) AS v_money,
      !    '29 CFR 1926.' || (id % 400 + 100) AS v_reg,
      !    (id % 20 + 20) || '-' || (id % 20 + 27) || ' inches' AS v_meas1,
      !    (id % 90 + 1) || ' days' AS v_meas2,
      !    'Mr. ' || (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT] AS v_person2
      !  FROM ent),
      !ents AS (
      !  SELECT c.did, c.clean,
      !    unnest([
      !      {'type': 'PERSON', 'value': v_person},
      !      {'type': 'PHONE', 'value': v_phone},
      !      {'type': 'DATE', 'value': v_date},
      !      {'type': 'TIME', 'value': v_time},
      !      {'type': 'GPE', 'value': v_gpe},
      !      {'type': 'MONEY', 'value': v_money},
      !      {'type': 'REGULATION', 'value': v_reg},
      !      {'type': 'MEASUREMENT', 'value': v_meas1},
      !      {'type': 'MEASUREMENT', 'value': v_meas2},
      !      {'type': 'PERSON', 'value': v_person2}] ||
      !      CASE WHEN v.id % 3 = 0 THEN [{'type': 'GPE', 'value': 'OSHA'}] ELSE [] END) AS e
      !  FROM cleanq c JOIN vals v ON v.did = c.did)
      !SELECT did AS doc_id, e['type'] AS type, e['value'] AS value,
      !  (strpos(clean, e['value']) - 1)::INTEGER AS start,
      !  (strpos(clean, e['value']) - 1 + length(e['value']))::INTEGER AS "end"
      !FROM ents
      !ORDER BY doc_id, start, type""".stripMargin('!').replace("WITH SYNTH", s"WITH $docSynthCte").replace("$htmlMdCte", htmlMdCte)

  /** X1 SPO fact oracle over the reconstructable modes: each non-pdf doc
    * carries exactly four facts from the injected sentences — the
    * financial-impact amount, the regulation citation (whose object
    * keeps the sentence period: the `[\d.]+` citation regex eats it),
    * the modal requirement (whose lazy subject spans up to the second
    * modal verb), and the within-N-days time requirement. Confidences
    * are constant because the token arities of every subject/object are
    * fixed by the sentence templates.
    */
  val xFactsCore: String =
    s"""WITH $docSynthCte,
       !nonpdf AS (SELECT * FROM ent WHERE (id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13))
       !  OR id % 10 >= 8),
       !facts AS (
       !  SELECT did, id, unnest([
       !    {'fact_type': 'financial_impact', 'subject': 'penalty', 'predicate': 'HAS_AMOUNT',
       !     'obj': '$$' || format('{:,}', (id % 90 + 10) * 250),
       !     'confidence': 0.8, 'actionable': false},
       !    {'fact_type': 'regulation_citation', 'subject': 'Regulation', 'predicate': 'CITES',
       !     'obj': '29 CFR 1926.' || (id % 400 + 100) || '.',
       !     'confidence': 0.9, 'actionable': false},
       !    {'fact_type': 'requirement',
       !     'subject': 'Guardrails must measure ' || (id % 20 + 20) || '-' || (id % 20 + 27)
       !       || ' inches and reports',
       !     'predicate': 'REQUIRED_TO',
       !     'obj': 'filed within ' || (id % 90 + 1) || ' days',
       !     'confidence': 0.9, 'actionable': true},
       !    {'fact_type': 'time_requirement', 'subject': 'Time Requirement', 'predicate': 'HAS_VALUE',
       !     'obj': (id % 90 + 1) || ' days',
       !     'confidence': 0.9, 'actionable': true}]) AS f
       !  FROM nonpdf)
       !SELECT did AS doc_id, f['fact_type'] AS fact_type, f['subject'] AS subject,
       !  f['predicate'] AS predicate, f['obj'] AS object,
       !  f['confidence'] AS confidence, f['actionable'] AS actionable
       !FROM facts ORDER BY doc_id, fact_type""".stripMargin('!')

  /** X2 typed-fact oracle over the reconstructable modes: the eight
    * typed CONFIG rows fire on fixed sentence templates, so subjects,
    * objects and confidences are pure arithmetic — the causal effect
    * clause stops at the subordinate ' under', the contact object is the
    * synthesized phone, the event object the synthesized date, and the
    * person_fact (title + org affiliation over the discovery sentence)
    * and company fact (contractor sentence) exist only in text mode.
    * Confidences are constant by token arity: 0.78+0.05 (4-word effect),
    * 0.82+0.05+0.05, 0.8+0.05+0.05, 0.8+0.05 (1-word surname),
    * 0.8+0.05 (2-token measurement object), 0.85+0.05 (5-word scope,
    * id%3=0 docs only), 0.8 (1-word city), 0.8 (1-word sector).
    */
  val xTypedFactsCore: String =
    s"""WITH $docSynthCte,
       !nonpdf AS (SELECT * FROM ent WHERE (id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13))
       !  OR id % 10 >= 8),
       !tf AS (
       !  SELECT did, id, unnest([
       !    {'fact_type': 'causal', 'subject': 'Violations', 'predicate': 'RESULTS_IN',
       !     'obj': 'a penalty of $$' || format('{:,}', (id % 90 + 10) * 250),
       !     'confidence': 0.83, 'actionable': false},
       !    {'fact_type': 'contact_info',
       !     'subject': (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT] || ' ' ||
       !       (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT],
       !     'predicate': 'HAS_PHONE',
       !     'obj': '(555) ' || (100 + id % 900) || '-' || (1000 + id % 9000),
       !     'confidence': 0.92, 'actionable': false},
       !    {'fact_type': 'event', 'subject': 'The inspection', 'predicate': 'SCHEDULED_FOR',
       !     'obj': (['January','February','March','April','June','July','August','September','October','November'])[(id % 10 + 1)::INT]
       !       || ' ' || (id % 28 + 1) || ', ' || (2020 + id % 6),
       !     'confidence': 0.9, 'actionable': true},
       !    {'fact_type': 'measurement_requirement', 'subject': 'Guardrails',
       !     'predicate': 'MUST_MEASURE',
       !     'obj': (id % 20 + 20) || '-' || (id % 20 + 27) || ' inches',
       !     'confidence': 0.85, 'actionable': true},
       !    {'fact_type': 'geographic', 'subject': 'geographic', 'predicate': 'LOCATED_IN',
       !     'obj': (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(id % 6 + 1)::INT],
       !     'confidence': 0.8, 'actionable': false}] ||
       !    CASE WHEN id % 3 = 0 THEN [
       !      {'fact_type': 'regulatory_authority', 'subject': 'OSHA',
       !       'predicate': 'HAS_AUTHORITY_OVER',
       !       'obj': 'workplace safety and fall protection',
       !       'confidence': 0.9, 'actionable': false}] ELSE [] END ||
       !    CASE WHEN id % 10 >= 8 THEN [
       !      {'fact_type': 'person_fact',
       !       'subject': (['Wexford','Tarlow','Quimby','Ashford'])[(id % 4 + 1)::INT],
       !       'predicate': 'AFFILIATED_WITH',
       !       'obj': 'the Department of ' || (['Harborview','Glenfield','Marwick','Ostrander'])[((id // 4) % 4 + 1)::INT],
       !       'confidence': 0.85, 'actionable': false},
       !      {'fact_type': 'company',
       !       'subject': (['Varnell','Tredgold','Mallorby','Quenton'])[(id % 4 + 1)::INT],
       !       'predicate': 'OPERATES_IN',
       !       'obj': (['paving','glazing','joinery','dredging'])[((id // 4) % 4 + 1)::INT],
       !       'confidence': 0.8, 'actionable': false}] ELSE [] END) AS f
       !  FROM nonpdf)
       !SELECT did AS doc_id, f['fact_type'] AS fact_type, f['subject'] AS subject,
       !  f['predicate'] AS predicate, f['obj'] AS object,
       !  f['confidence'] AS confidence, f['actionable'] AS actionable
       !FROM tf ORDER BY doc_id, fact_type""".stripMargin('!')

  /** N1-N10 canonicalization oracle over the reconstructable modes:
    * every non-pdf doc canonicalizes to the same 10 (9 without the
    * safety sentence) entities with arithmetic normalized forms — ISO
    * date (the month list skips May, so positions map to calendar
    * numbers), E.164 phone, 24h time, inches→meters at 3-decimal
    * round (DOUBLE arithmetic: a DECIMAL literal would keep trailing
    * zeros in the cast), and the two person mentions folding to one
    * p001 with count 2.
    */
  val xCanonicalCore: String =
    s"""WITH $docSynthCte,
       !nonpdf AS (SELECT * FROM ent WHERE (id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13)) OR id % 10 >= 8),
       !canon AS (
       !  SELECT did, id, unnest(
       !    [{'cid': 'd001', 'ctype': 'DATE',
       !       'norm': (2020 + id % 6) || '-' || (['01','02','03','04','06','07','08','09','10','11'])[(id % 10 + 1)::INT]
       !         || '-' || lpad((id % 28 + 1)::VARCHAR, 2, '0'), 'cnt': 1},
       !     {'cid': 'g001', 'ctype': 'GPE',
       !       'norm': (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(id % 6 + 1)::INT], 'cnt': 1}] ||
       !    CASE WHEN id % 3 = 0 THEN [{'cid': 'g002', 'ctype': 'GPE', 'norm': 'OSHA', 'cnt': 1}] ELSE [] END ||
       !    [{'cid': 'm001', 'ctype': 'MONEY', 'norm': '$$' || format('{:,}', (id % 90 + 10) * 250), 'cnt': 1},
       !     {'cid': 'ms001', 'ctype': 'MEASUREMENT',
       !       'norm': round((id % 20 + 20) * 0.0254::DOUBLE, 3)::VARCHAR || '-' || round((id % 20 + 27) * 0.0254::DOUBLE, 3)::VARCHAR || ' m', 'cnt': 1},
       !     {'cid': 'ms002', 'ctype': 'MEASUREMENT', 'norm': (id % 90 + 1) || ' days', 'cnt': 1},
       !     {'cid': 'p001', 'ctype': 'PERSON',
       !       'norm': (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT] || ' ' ||
       !         (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT], 'cnt': 2},
       !     {'cid': 'ph001', 'ctype': 'PHONE',
       !       'norm': '+1555' || (100 + id % 900) || (1000 + id % 9000), 'cnt': 1},
       !     {'cid': 'rg001', 'ctype': 'REGULATION', 'norm': '29 CFR 1926.' || (id % 400 + 100), 'cnt': 1},
       !     {'cid': 't001', 'ctype': 'TIME',
       !       'norm': (id % 11 + 13) || ':' || (CASE WHEN id % 2 = 0 THEN '30' ELSE '15' END), 'cnt': 1}]) AS c
       !  FROM nonpdf)
       !SELECT did AS doc_id, c['cid'] AS id, c['ctype'] AS type, c['norm'] AS normalized,
       !  c['cnt']::INTEGER AS count
       !FROM canon ORDER BY doc_id, id""".stripMargin('!')

  /** X4 fact-summary oracle over the reconstructable modes: every
    * non-pdf doc summarizes its four template facts identically.
    */
  val xFactSummaryCore: String =
    s"""WITH $docSynthCte
       !SELECT did AS doc_id, 4::BIGINT AS total_facts, 2::BIGINT AS actionable_facts,
       ! 'financial_impact:1,regulation_citation:1,requirement:1,time_requirement:1' AS fact_types
       !FROM bodyq
       !WHERE (id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13)) OR id % 10 >= 8
       !UNION ALL
       !SELECT did AS doc_id, 0::BIGINT AS total_facts, 0::BIGINT AS actionable_facts,
       ! '' AS fact_types
       !FROM bodyq WHERE is_url_reject
       !ORDER BY doc_id""".stripMargin('!')

  /** A2 corpus-level canonical aggregation oracle over the
    * reconstructable modes: groupBy (type, normalized) of the same
    * arithmetic canonical rows, with the engine's content-hash
    * global_id. Verifies the distributed aggregation end-to-end —
    * group counts, mention sums, and id derivation.
    */
  val xGlobalCore: String = {
    val inner = xCanonicalCore.stripSuffix("ORDER BY doc_id, id").trim
    s"""WITH rows0 AS ($inner)
       !SELECT substr(md5(type || '|' || normalized), 1, 12) AS global_id,
       !  type, normalized,
       !  count(DISTINCT doc_id) AS n_docs,
       !  sum(count)::BIGINT AS n_mentions
       !FROM rows0 GROUP BY type, normalized
       !ORDER BY type, normalized""".stripMargin('!')
  }

  /** N11/N12 oracle over the reconstructable modes: the global
    * mention replacement is PERFORMED in SQL (11 chained replaces
    * with the same \u2016canonical\u2016id\u2016 markers) and the resulting text
    * length plus mention/canonical counts and reduction percentage
    * must match the engine; URL-rejected docs contribute zero rows.
    */
  val xNormalizedCore: String =
    """WITH SYNTH,
       !$htmlMdCte,
       !mdq AS (
       !  SELECT did, id, md FROM hmd
       !  UNION ALL SELECT did, id, body AS md FROM bodyq WHERE is_text),
       !cleanq AS MATERIALIZED (
       !  SELECT did, id,
       !    regexp_replace(regexp_replace(regexp_replace(replace(replace(md, '**', ''), '`', ''),
       !      '\*([^*\n]+)\*', '\1', 'g'),
       !      '(^|\n)#+ +', '\1', 'g'),
       !      '(^|\n)> +', '\1', 'g') AS clean
       !  FROM mdq),
       !vals AS (
       !  SELECT c.did, c.id, c.clean,
       !    (['John','Sarah','Michael','Emily','David','Jane'])[(c.id % 6 + 1)::INT] AS fn,
       !    (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((c.id // 6) % 6 + 1)::INT] AS ln,
       !    (['January','February','March','April','June','July','August','September','October','November'])[(c.id % 10 + 1)::INT]
       !      || ' ' || (c.id % 28 + 1) || ', ' || (2020 + c.id % 6) AS v_date,
       !    (2020 + c.id % 6) || '-' || (['01','02','03','04','06','07','08','09','10','11'])[(c.id % 10 + 1)::INT]
       !      || '-' || lpad((c.id % 28 + 1)::VARCHAR, 2, '0') AS n_date,
       !    (c.id % 11 + 1) || ':' || (CASE WHEN c.id % 2 = 0 THEN '30' ELSE '15' END) || ' PM' AS v_time,
       !    (c.id % 11 + 13) || ':' || (CASE WHEN c.id % 2 = 0 THEN '30' ELSE '15' END) AS n_time,
       !    (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(c.id % 6 + 1)::INT] AS city,
       !    '$' || format('{:,}', (c.id % 90 + 10) * 250) AS v_money,
       !    '(555) ' || (100 + c.id % 900) || '-' || (1000 + c.id % 9000) AS v_phone,
       !    '+1555' || (100 + c.id % 900) || (1000 + c.id % 9000) AS n_phone,
       !    '29 CFR 1926.' || (c.id % 400 + 100) AS v_reg,
       !    (c.id % 20 + 20) || '-' || (c.id % 20 + 27) || ' inches' AS v_meas1,
       !    round((c.id % 20 + 20) * 0.0254::DOUBLE, 3)::VARCHAR || '-' || round((c.id % 20 + 27) * 0.0254::DOUBLE, 3)::VARCHAR || ' m' AS n_meas1,
       !    (c.id % 90 + 1) || ' days' AS v_meas2
       !  FROM cleanq c),
       !rep AS (
       !  SELECT did, id,
       !    CASE WHEN id % 3 = 0 THEN 11 ELSE 10 END AS mentions,
       !    CASE WHEN id % 3 = 0 THEN 10 ELSE 9 END AS canonical,
       !    length(
       !      replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(
       !        clean,
       !        fn || ' ' || ln, chr(8214) || fn || ' ' || ln || chr(8214) || 'p001' || chr(8214)),
       !        'Mr. ' || ln, chr(8214) || fn || ' ' || ln || chr(8214) || 'p001' || chr(8214)),
       !        v_phone, chr(8214) || n_phone || chr(8214) || 'ph001' || chr(8214)),
       !        v_date, chr(8214) || n_date || chr(8214) || 'd001' || chr(8214)),
       !        v_time, chr(8214) || n_time || chr(8214) || 't001' || chr(8214)),
       !        city, chr(8214) || city || chr(8214) || 'g001' || chr(8214)),
       !        'OSHA', chr(8214) || 'OSHA' || chr(8214) || 'g002' || chr(8214)),
       !        v_money, chr(8214) || v_money || chr(8214) || 'm001' || chr(8214)),
       !        v_reg, chr(8214) || v_reg || chr(8214) || 'rg001' || chr(8214)),
       !        v_meas1, chr(8214) || n_meas1 || chr(8214) || 'ms001' || chr(8214)),
       !        v_meas2, chr(8214) || v_meas2 || chr(8214) || 'ms002' || chr(8214))
       !    ) AS norm_len
       !  FROM vals)
       !SELECT did AS doc_id, mentions::BIGINT AS mentions, canonical::BIGINT AS canonical,
       !  round_even((1.0 - canonical::DOUBLE / mentions) * 10000, 0) / 100 AS reduction_pct,
       !  norm_len::BIGINT AS norm_len
       !FROM rep
       !UNION ALL
       !SELECT did AS doc_id, 0::BIGINT AS mentions, 0::BIGINT AS canonical,
       !  0.0 AS reduction_pct, 0::BIGINT AS norm_len
       !FROM bodyq WHERE is_url_reject
       !ORDER BY doc_id""".stripMargin('!').replace("WITH SYNTH", s"WITH $docSynthCte").replace("$htmlMdCte", htmlMdCte)

  /** O2 knowledge-JSON oracle over the reconstructable modes: the
    * ENTIRE serialized artifact is reassembled in SQL (stable field
    * order, canonical array in type-then-mention order, fact spans
    * via strpos anchors) and compared by length + md5 — byte
    * equality with the engine's serializer, driver-checked.
    */
  val xKnowledgeCore: String =
    """WITH SYNTH,
       !$htmlMdCte,
       !mdq AS (
       !  SELECT did, id, md FROM hmd
       !  UNION ALL SELECT did, id, body AS md FROM bodyq WHERE is_text),
       !cleanq AS MATERIALIZED (
       !  SELECT m.did, m.id, e.s4,
       !    regexp_replace(regexp_replace(regexp_replace(replace(replace(m.md, '**', ''), '`', ''),
       !      '\*([^*\n]+)\*', '\1', 'g'),
       !      '(^|\n)#+ +', '\1', 'g'),
       !      '(^|\n)> +', '\1', 'g') AS clean
       !  FROM mdq m JOIN ent e ON e.did = m.did),
       !vals AS (
       !  SELECT did, id, clean, s4,
       !    (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT] || ' ' ||
       !      (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT] AS v_person,
       !    '$' || format('{:,}', (id % 90 + 10) * 250) AS v_money,
       !    '29 CFR 1926.' || (id % 400 + 100) AS v_reg,
       !    (id % 20 + 20) || '-' || (id % 20 + 27) || ' inches' AS v_meas1,
       !    round((id % 20 + 20) * 0.0254::DOUBLE, 3)::VARCHAR || '-' || round((id % 20 + 27) * 0.0254::DOUBLE, 3)::VARCHAR || ' m' AS n_meas1,
       !    (id % 90 + 1) || ' days' AS v_meas2,
       !    (2020 + id % 6) || '-' || (['01','02','03','04','06','07','08','09','10','11'])[(id % 10 + 1)::INT]
       !      || '-' || lpad((id % 28 + 1)::VARCHAR, 2, '0') AS n_date,
       !    (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(id % 6 + 1)::INT] AS city,
       !    '+1555' || (100 + id % 900) || (1000 + id % 9000) AS n_phone,
       !    (id % 11 + 13) || ':' || (CASE WHEN id % 2 = 0 THEN '30' ELSE '15' END) AS n_time,
       !    strpos(clean, 'penalty of $') - 1 AS f_a,
       !    strpos(clean, 'under 29 CFR') - 1 AS f_b,
       !    strpos(clean, 'Guardrails must measure') - 1 AS f_c,
       !    strpos(clean, 'within ') - 1 AS f_d
       !  FROM cleanq),
       !kj AS (
       !  SELECT did,
       !    '{"source_info":{"doc_id":"' || did || '","engine":"graft-spark-1.0","success":true},'
       !    || '"semantic_summary":{"total_facts":4,"actionable_facts":2,"fact_types":{'
       !    || '"financial_impact":1,"regulation_citation":1,"requirement":1,"time_requirement":1}},'
       !    || '"canonical_entities":['
       !    || '{"id":"d001","type":"DATE","normalized":"' || n_date || '","count":1},'
       !    || '{"id":"g001","type":"GPE","normalized":"' || city || '","count":1},'
       !    || CASE WHEN id % 3 = 0 THEN '{"id":"g002","type":"GPE","normalized":"OSHA","count":1},' ELSE '' END
       !    || '{"id":"ms001","type":"MEASUREMENT","normalized":"' || n_meas1 || '","count":1},'
       !    || '{"id":"ms002","type":"MEASUREMENT","normalized":"' || v_meas2 || '","count":1},'
       !    || '{"id":"m001","type":"MONEY","normalized":"' || v_money || '","count":1},'
       !    || '{"id":"p001","type":"PERSON","normalized":"' || v_person || '","count":2},'
       !    || '{"id":"ph001","type":"PHONE","normalized":"' || n_phone || '","count":1},'
       !    || '{"id":"rg001","type":"REGULATION","normalized":"' || v_reg || '","count":1},'
       !    || '{"id":"t001","type":"TIME","normalized":"' || n_time || '","count":1}],'
       !    || '"facts":['
       !    || '{"fact_type":"financial_impact","subject":"penalty","predicate":"HAS_AMOUNT","object":"'
       !    || v_money || '","confidence":0.8,"span":{"start":' || f_a || ',"end":'
       !    || (f_a + 11 + length(v_money)) || '},"actionable":false},'
       !    || '{"fact_type":"regulation_citation","subject":"Regulation","predicate":"CITES","object":"'
       !    || v_reg || '.","confidence":0.9,"span":{"start":' || f_b || ',"end":'
       !    || (f_b + 6 + length(v_reg) + 1) || '},"actionable":false},'
       !    || '{"fact_type":"requirement","subject":"Guardrails must measure ' || v_meas1
       !    || ' and reports","predicate":"REQUIRED_TO","object":"filed within ' || v_meas2
       !    || '","confidence":0.9,"span":{"start":' || f_c || ',"end":' || (f_c + length(s4))
       !    || '},"actionable":true},'
       !    || '{"fact_type":"time_requirement","subject":"Time Requirement","predicate":"HAS_VALUE","object":"'
       !    || v_meas2 || '","confidence":0.9,"span":{"start":' || f_d || ',"end":'
       !    || (f_d + 7 + length(v_meas2)) || '},"actionable":true}]}' AS kjson
       !  FROM vals)
       !SELECT did AS doc_id, length(kjson)::INTEGER AS json_len, md5(kjson) AS json_md5 FROM kj
       !UNION ALL
       !SELECT did AS doc_id,
       !  length('{"source_info":{"doc_id":"' || did || '","engine":"graft-spark-1.0","success":false},'
       !    || '"semantic_summary":{"total_facts":0,"actionable_facts":0,"fact_types":{}},'
       !    || '"canonical_entities":[],"facts":[]}')::INTEGER AS json_len,
       !  md5('{"source_info":{"doc_id":"' || did || '","engine":"graft-spark-1.0","success":false},'
       !    || '"semantic_summary":{"total_facts":0,"actionable_facts":0,"fact_types":{}},'
       !    || '"canonical_entities":[],"facts":[]}') AS json_md5
       !FROM bodyq WHERE is_url_reject
       !ORDER BY doc_id""".stripMargin('!').replace("WITH SYNTH", s"WITH $docSynthCte").replace("$htmlMdCte", htmlMdCte)

  /** O1 markdown-artifact oracle over the reconstructable modes: the
    * FULL .md artifact — YAML frontmatter (conversion + URL block,
    * classification with the raw-score-ordered domains flow map and
    * fmtD number rendering, content flags, entity insights) plus the
    * assembled markdown body — is rebuilt byte-for-byte in SQL and
    * compared by length + md5. The classification numbers come from the
    * same generated scoring SQL as xClassify; DuckDB rtrim needs the
    * explicit whitespace set (default trims spaces only).
    */
  val xMarkdownCore: String = {
    import graft.matching.Corpora.{domainKeywords, doctypeKeywords}
    val dScores = scoreColumns(domainKeywords, "dom", "toks", "lmd")
    val tScores = scoreColumns(doctypeKeywords, "dt", "toks", "lmd")
    val dN = famNames(domainKeywords)
    val tN = famNames(doctypeKeywords)
    val dTotal = dN.map(d => s"dom_$d").mkString(" + ")
    val tTotal = tN.map(d => s"dt_$d").mkString(" + ")
    val tMx = "greatest(" + tN.map(d => s"dt_$d").mkString(", ") + ")"
    val tArg = "CASE " + tN.map(d => s"WHEN dt_$d = mx2 THEN '$d'").mkString(" ") + " END"
    val dStructs = dN.map(d =>
      s"{'ns': -dom_$d, 'd': '$d', 'v': round_even(dom_$d / dom_total * 10000, 0) / 100}").mkString(", ")
    val sorted = s"list_sort(list_filter([$dStructs], x -> x['v'] > 0))"
    def fmtd(v: String) =
      s"CASE WHEN $v = floor($v) THEN floor($v)::BIGINT || '.0' ELSE $v::VARCHAR END"
    raw"""WITH $docSynthCte,
       !$mdCte,
       !scored AS MATERIALIZED (
       ! SELECT did, id,
       !  $dScores,
       !  $tScores
       ! FROM tokd),
       !agg AS (
       ! SELECT *, $dTotal AS dom_total, $tTotal AS dt_total, $tMx AS mx2 FROM scored),
       !cls AS MATERIALIZED (
       ! SELECT did, id,
       !  CASE WHEN dom_total <= 0 THEN '{general: 100.0}'
       !   ELSE '{' || array_to_string(list_transform($sorted,
       !     x -> x['d'] || ': ' || ${fmtd("x['v']")}), ', ') || '}' END AS dflow,
       !  CASE WHEN dom_total <= 0 THEN 'general' ELSE $sorted[1]['d'] END AS pd,
       !  CASE WHEN dom_total <= 0 THEN '100.0' ELSE ${fmtd(s"$sorted[1]['v']")} END AS pdc,
       !  CASE WHEN dt_total <= 0 THEN 'document' ELSE $tArg END AS pt
       ! FROM agg),
       !hbody AS (
       ! SELECT h.did, h.id,
       !  rtrim(
       !   '# Document ' || h.id || ' Report' || e'\n\n' ||
       !   (CASE WHEN h.id % 3 = 0 THEN regexp_replace(h.para0, '^(\w+) (\w+)', '**\1** *\2*') ELSE h.para0 END) || e'\n\n' ||
       !   CASE WHEN h.id % 2 = 0 THEN '## Section 1 Findings' || e'\n\n' ELSE '' END ||
       !   h.para1 || e'\n\n' ||
       !   CASE WHEN h.id % 3 = 0 THEN
       !     CASE WHEN h.id % 4 = 0 THEN '![figure 2 for doc ' || h.id || '](https://cdn.example.com/img/' || h.id || '-2.png)' || e'\n\n' ELSE '' END ||
       !     h.s6 || e'\n\n'
       !   ELSE '' END ||
       !   CASE WHEN h.id % 7 = 0 THEN '- inspection checklist' || e'\n' || '- equipment log' || e'\n' || '- training record' || e'\n' ELSE '' END ||
       !   CASE WHEN h.id % 6 = 0 THEN '> Compliance is verified during each quarterly review.' || e'\n\n' ELSE '' END ||
       !   CASE WHEN h.id % 5 = 0 THEN '| Item | Qty |' || e'\n' || '| --- | --- |' || e'\n' ||
       !     '| unit-' || h.id || ' | ' || (h.id % 100) || ' |' || e'\n' || '| spare | ' || (h.id % 7) || ' |' || e'\n\n' ELSE '' END ||
       !   CASE WHEN h.id % 8 = 0 THEN '```' || e'\n' || 'status = check(sensor)' || e'\n' || 'if status: alert()' || e'\n' || '```' || e'\n\n' ELSE '' END
       !  , e' \t\n\r') || e'\n' AS body, 1 AS pc
       ! FROM hp h),
       !tbody AS (
       ! SELECT did, id, body || e'\n' AS body,
       !  greatest(1, (length(body) + 2999) // 3000) AS pc
       ! FROM bodyq WHERE is_text),
       !okdocs AS (
       ! SELECT b.did, b.id, b.body, b.pc, (b.id % 10 < 5) AS is_html_doc,
       !  c.dflow, c.pd, c.pdc, c.pt
       ! FROM (SELECT * FROM hbody UNION ALL SELECT * FROM tbody) b
       ! JOIN cls c ON c.did = b.did),
       !art AS (
       ! SELECT did,
       !  '---' || e'\n' || 'conversion:' || e'\n' ||
       !  '  engine: graft-spark-1.0' || e'\n' ||
       !  '  doc_id: ' || did || e'\n' ||
       !  '  page_count: ' || pc || e'\n' ||
       !  '  success: true' || e'\n' ||
       !  CASE WHEN is_html_doc THEN
       !    '  source_type: url' || e'\n' ||
       !    '  source_path: https://docs.example.com/' || did || '.html' || e'\n' ||
       !    '  content_type: text/html; charset=utf-8' || e'\n' ||
       !    '  http_status: 200' || e'\n' ||
       !    '  validation_success: true' || e'\n' ||
       !    '  proceed_to_classification: true' || e'\n'
       !  ELSE '' END ||
       !  'classification:' || e'\n' ||
       !  '  primary_domain: ' || pd || e'\n' ||
       !  '  primary_domain_confidence: ' || pdc || e'\n' ||
       !  '  primary_document_type: ' || pt || e'\n' ||
       !  '  domains: ' || dflow || e'\n' ||
       !  'content_detection: {has_tables: ' || (is_html_doc AND id % 5 = 0) ||
       !  ', has_images: ' || (is_html_doc AND id % 12 = 0) ||
       !  ', has_formulas: false, has_code: ' || (is_html_doc AND id % 8 = 0) ||
       !  ', has_links: false, has_lists: ' || (is_html_doc AND id % 7 = 0) ||
       !  ', has_headers: ' || is_html_doc ||
       !  ', has_footnotes: false, has_citations: false, has_structured_data: ' || (is_html_doc AND id % 5 = 0) || '}' || e'\n' ||
       !  'entity_insights:' || e'\n' ||
       !  '  total_entities: ' || (CASE WHEN id % 3 = 0 THEN 11 ELSE 10 END) || e'\n' ||
       !  '  has_financial_data: true' || e'\n' ||
       !  '  has_contact_info: true' || e'\n' ||
       !  '  has_temporal_references: true' || e'\n' ||
       !  '  has_external_references: true' || e'\n' ||
       !  '---' || e'\n' || body AS md
       ! FROM okdocs),
       !rart AS (
       ! SELECT did,
       !  '---' || e'\n' || 'conversion:' || e'\n' ||
       !  '  engine: graft-spark-1.0' || e'\n' ||
       !  '  doc_id: ' || did || e'\n' ||
       !  '  page_count: 0' || e'\n' ||
       !  '  success: false' || e'\n' ||
       !  '  error: ' || (CASE WHEN id % 89 = 34 THEN 'HTTP 404 - not processable'
       !    ELSE 'Unsupported content type: application/octet-stream' END) || e'\n' ||
       !  '  source_type: url' || e'\n' ||
       !  '  source_path: https://docs.example.com/' || did || '.html' || e'\n' ||
       !  '  content_type: ' || (CASE WHEN id % 83 = 13 THEN 'application/octet-stream' ELSE 'text/html; charset=utf-8' END) || e'\n' ||
       !  '  http_status: ' || (CASE WHEN id % 89 = 34 THEN 404 ELSE 200 END) || e'\n' ||
       !  '  validation_success: false' || e'\n' ||
       !  '  proceed_to_classification: false' || e'\n' ||
       !  'classification:' || e'\n' ||
       !  '  primary_domain: general' || e'\n' ||
       !  '  primary_domain_confidence: 100.0' || e'\n' ||
       !  '  primary_document_type: document' || e'\n' ||
       !  '  domains: {general: 100.0}' || e'\n' ||
       !  'content_detection: {has_tables: false, has_images: false, has_formulas: false, has_code: false, has_links: false, has_lists: false, has_headers: false, has_footnotes: false, has_citations: false, has_structured_data: false}' || e'\n' ||
       !  'entity_insights:' || e'\n' ||
       !  '  total_entities: 0' || e'\n' ||
       !  '  has_financial_data: false' || e'\n' ||
       !  '  has_contact_info: false' || e'\n' ||
       !  '  has_temporal_references: false' || e'\n' ||
       !  '  has_external_references: false' || e'\n' ||
       !  '---' || e'\n\n' AS md
       ! FROM bodyq WHERE is_url_reject)
       !SELECT did AS doc_id, length(md)::INTEGER AS md_len, md5(md) AS md_md5 FROM art
       !UNION ALL
       !SELECT did AS doc_id, length(md)::INTEGER AS md_len, md5(md) AS md_md5 FROM rart
       !ORDER BY doc_id""".stripMargin('!')
  }

  /** A2 mention-context oracle over the reconstructable modes: every
    * canonical mention with its ±50-char clean-text windows
    * (`entity_disambiguator.py` EntityContext) — offsets and snippets
    * are strpos/substr arithmetic over the reconstructed clean text.
    */
  val xMentionContextCore: String =
    """WITH SYNTH,
      !$htmlMdCte,
      !mdq AS (
      !  SELECT did, id, md FROM hmd
      !  UNION ALL SELECT did, id, body AS md FROM bodyq WHERE is_text),
      !cleanq AS MATERIALIZED (
      !  SELECT did, id,
      !    regexp_replace(regexp_replace(regexp_replace(replace(replace(md, '**', ''), '`', ''),
      !      '\*([^*\n]+)\*', '\1', 'g'),
      !      '(^|\n)#+ +', '\1', 'g'),
      !      '(^|\n)> +', '\1', 'g') AS clean
      !  FROM mdq),
      !vals AS (
      !  SELECT c.did, c.id, c.clean,
      !    (['John','Sarah','Michael','Emily','David','Jane'])[(c.id % 6 + 1)::INT] || ' ' ||
      !      (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((c.id // 6) % 6 + 1)::INT] AS v_person,
      !    'Mr. ' || (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((c.id // 6) % 6 + 1)::INT] AS v_person2,
      !    '(555) ' || (100 + c.id % 900) || '-' || (1000 + c.id % 9000) AS v_phone,
      !    '+1555' || (100 + c.id % 900) || (1000 + c.id % 9000) AS n_phone,
      !    (['January','February','March','April','June','July','August','September','October','November'])[(c.id % 10 + 1)::INT]
      !      || ' ' || (c.id % 28 + 1) || ', ' || (2020 + c.id % 6) AS v_date,
      !    (2020 + c.id % 6) || '-' || (['01','02','03','04','06','07','08','09','10','11'])[(c.id % 10 + 1)::INT]
      !      || '-' || lpad((c.id % 28 + 1)::VARCHAR, 2, '0') AS n_date,
      !    (c.id % 11 + 1) || ':' || (CASE WHEN c.id % 2 = 0 THEN '30' ELSE '15' END) || ' PM' AS v_time,
      !    (c.id % 11 + 13) || ':' || (CASE WHEN c.id % 2 = 0 THEN '30' ELSE '15' END) AS n_time,
      !    (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(c.id % 6 + 1)::INT] AS v_gpe,
      !    '$' || format('{:,}', (c.id % 90 + 10) * 250) AS v_money,
      !    '29 CFR 1926.' || (c.id % 400 + 100) AS v_reg,
      !    (c.id % 20 + 20) || '-' || (c.id % 20 + 27) || ' inches' AS v_meas1,
      !    round((c.id % 20 + 20) * 0.0254::DOUBLE, 3)::VARCHAR || '-' || round((c.id % 20 + 27) * 0.0254::DOUBLE, 3)::VARCHAR || ' m' AS n_meas1,
      !    (c.id % 90 + 1) || ' days' AS v_meas2
      !  FROM cleanq c),
      !ents AS (
      !  SELECT did, clean,
      !    unnest([
      !      {'type': 'PERSON', 'value': v_person, 'norm': v_person},
      !      {'type': 'PHONE', 'value': v_phone, 'norm': n_phone},
      !      {'type': 'DATE', 'value': v_date, 'norm': n_date},
      !      {'type': 'TIME', 'value': v_time, 'norm': n_time},
      !      {'type': 'GPE', 'value': v_gpe, 'norm': v_gpe},
      !      {'type': 'MONEY', 'value': v_money, 'norm': v_money},
      !      {'type': 'REGULATION', 'value': v_reg, 'norm': v_reg},
      !      {'type': 'MEASUREMENT', 'value': v_meas1, 'norm': n_meas1},
      !      {'type': 'MEASUREMENT', 'value': v_meas2, 'norm': v_meas2},
      !      {'type': 'PERSON', 'value': v_person2, 'norm': v_person}] ||
      !      CASE WHEN id % 3 = 0 THEN [{'type': 'GPE', 'value': 'OSHA', 'norm': 'OSHA'}] ELSE [] END) AS e
      !  FROM vals),
      !pos AS (
      !  SELECT did, clean, e, strpos(clean, e['value']) AS p FROM ents)
      !SELECT did AS doc_id, e['type'] AS type, e['norm'] AS normalized,
      !  e['value'] AS mention,
      !  (p - 1)::INTEGER AS start,
      !  substr(clean, greatest(1, p - 50), least(50, p - 1)) AS left_context,
      !  substr(clean, p + length(e['value']), 50) AS right_context
      !FROM pos
      !ORDER BY doc_id, start, type""".stripMargin('!').replace("WITH SYNTH", s"WITH $docSynthCte").replace("$htmlMdCte", htmlMdCte)

  /** A2 relationship-edge oracle over the reconstructable modes: the
    * injected sentences pin which canonical entities share a sentence
    * window — (person, phone) from the contact sentence, the
    * (date, gpe, time) triangle from the scheduling sentence,
    * (money, regulation) from the penalty sentence and the measurement
    * pair from the guardrail sentence; the second person mention, OSHA
    * and the discovery sentence sit alone, contributing no edges. Pair
    * order is (type, normalized) asc — the measurement pair's meter
    * norm always starts "0." and the day norm never does, so the meter
    * side sorts first.
    */
  val xEntityEdgesCore: String =
    s"""WITH $docSynthCte,
       !nonpdf AS (SELECT * FROM ent WHERE (id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13)) OR id % 10 >= 8),
       !vals AS (
       !  SELECT did,
       !    (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT] || ' ' ||
       !      (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT] AS person,
       !    '+1555' || (100 + id % 900) || (1000 + id % 9000) AS phone,
       !    (2020 + id % 6) || '-' || (['01','02','03','04','06','07','08','09','10','11'])[(id % 10 + 1)::INT]
       !      || '-' || lpad((id % 28 + 1)::VARCHAR, 2, '0') AS n_date,
       !    (id % 11 + 13) || ':' || (CASE WHEN id % 2 = 0 THEN '30' ELSE '15' END) AS n_time,
       !    (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(id % 6 + 1)::INT] AS city,
       !    '$$' || format('{:,}', (id % 90 + 10) * 250) AS money,
       !    '29 CFR 1926.' || (id % 400 + 100) AS reg,
       !    round((id % 20 + 20) * 0.0254::DOUBLE, 3)::VARCHAR || '-' || round((id % 20 + 27) * 0.0254::DOUBLE, 3)::VARCHAR || ' m' AS meters,
       !    (id % 90 + 1) || ' days' AS days
       !  FROM nonpdf),
       !edges AS (
       !  SELECT did, unnest([
       !    {'ta': 'PERSON', 'na': person, 'tb': 'PHONE', 'nb': phone},
       !    {'ta': 'DATE', 'na': n_date, 'tb': 'GPE', 'nb': city},
       !    {'ta': 'DATE', 'na': n_date, 'tb': 'TIME', 'nb': n_time},
       !    {'ta': 'GPE', 'na': city, 'tb': 'TIME', 'nb': n_time},
       !    {'ta': 'MONEY', 'na': money, 'tb': 'REGULATION', 'nb': reg},
       !    {'ta': 'MEASUREMENT', 'na': meters, 'tb': 'MEASUREMENT', 'nb': days}]) AS e
       !  FROM vals)
       !SELECT e['ta'] AS type_a, e['na'] AS norm_a, e['tb'] AS type_b, e['nb'] AS norm_b,
       !  count(DISTINCT did)::BIGINT AS n_docs
       !FROM edges GROUP BY 1, 2, 3, 4
       !ORDER BY 1, 2, 3, 4""".stripMargin('!')

  /** A2 disambiguation-decision oracle over the reconstructable modes:
    * the evidence arithmetic is pinned by the synthesis — the person's
    * "Mr. <last>" mention carries a title cue (person → 0.8) and its
    * sentence an action verb ("approved", +0.15 → 0.95), while OSHA's
    * safety sentence carries business-context cues ("published",
    * "guidance": org 0.1 + 0.1 = 0.2 > person 0.1) — so the GPE acronym
    * resolves to ORG, the evidence-driven flip the operator exists for.
    */
  val xDisambigCore: String =
    s"""WITH $docSynthCte,
       !nonpdf AS (SELECT * FROM ent WHERE (id % 10 < 5 AND NOT (id % 89 = 34 OR id % 83 = 13)) OR id % 10 >= 8),
       !rows0 AS (
       !  SELECT did, id, unnest(
       !    [{'typ': 'PERSON',
       !      'norm': (['John','Sarah','Michael','Emily','David','Jane'])[(id % 6 + 1)::INT] || ' ' ||
       !        (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((id // 6) % 6 + 1)::INT],
       !      'dec': 'PERSON', 'ps': 0.95::DOUBLE, 'os': 0.1::DOUBLE}] ||
       !    CASE WHEN id % 3 = 0 THEN
       !      [{'typ': 'GPE', 'norm': 'OSHA', 'dec': 'ORG', 'ps': 0.1::DOUBLE, 'os': 0.2::DOUBLE}]
       !    ELSE [] END) AS d
       !  FROM nonpdf)
       !SELECT did AS doc_id, d['typ'] AS type, d['norm'] AS normalized,
       !  d['dec'] AS decided_type, d['ps'] AS person_score, d['os'] AS org_score
       !FROM rows0 ORDER BY doc_id, type, normalized""".stripMargin('!')

  /** A2 corpus rollup of the same decisions. */
  val xDisambigGlobal: String = {
    val inner = xDisambigCore.stripSuffix("ORDER BY doc_id, type, normalized").trim
    s"""WITH rows1 AS ($inner)
       !SELECT type, normalized, decided_type,
       !  count(DISTINCT doc_id) AS n_docs,
       !  max(person_score) AS person_score, max(org_score) AS org_score
       !FROM rows1 GROUP BY 1, 2, 3
       !ORDER BY type, normalized, decided_type""".stripMargin('!')
  }

  /** Shared E15 discovery-value CTE: the three deterministic pattern
    * hits per text-mode doc (see DocGen.discoverySentence).
    */
  private val discCte: String =
    """disc AS (
      !  SELECT did, body,
      !    (['Wexford','Tarlow','Quimby','Ashford'])[(id % 4 + 1)::INT] AS sur,
      !    'Department of ' || (['Harborview','Glenfield','Marwick','Ostrander'])[((id // 4) % 4 + 1)::INT] AS dept,
      !    (['Pinecrest','Eastbrook','Larkspur','Dunmore','Hollybrook'])[((id // 10) % 5 + 1)::INT] || ' Valley' AS gfeat
      !  FROM bodyq WHERE is_text)""".stripMargin('!')

  /** E15 gap-discovery oracle: text-mode docs carry the injected
    * discovery sentence (DocGen.discoverySentence) — its three proper
    * nouns are invisible to Core-8 (unknown surname, leading-cue
    * agency, un-gazetteered valley) so the sentence survives as a gap
    * sentence, and the three pattern hits + confidences + spans are
    * pure arithmetic. HTML docs' gap sentences (list/table/code tails)
    * contain no pattern-shaped text, so they contribute zero rows;
    * confidences are the `_calculate_confidence` constants (title
    * single word 0.8+istitle, 3-word agency 0.85+2·0.05, 2-word
    * title-case feature 0.8+0.05+0.05).
    */
  val xDiscoveriesCore: String =
    s"""WITH $docSynthCte,
       !$discCte,
       !rows0 AS (
       !  SELECT did, body, unnest([
       !    {'type': 'PERSON', 'text': sur, 'confidence': 0.85::DOUBLE, 'pattern': 'title_person'},
       !    {'type': 'ORG', 'text': dept, 'confidence': 0.95::DOUBLE, 'pattern': 'government_agency'},
       !    {'type': 'LOC', 'text': gfeat, 'confidence': 0.9::DOUBLE, 'pattern': 'geographic_feature'}]) AS d
       !  FROM disc)
       !SELECT did AS doc_id, d['type'] AS type, d['text'] AS text,
       !  d['confidence'] AS confidence,
       !  (strpos(body, d['text']) - 1)::INTEGER AS start,
       !  (strpos(body, d['text']) - 1 + length(d['text']))::INTEGER AS "end",
       !  d['pattern'] AS pattern
       !FROM rows0 ORDER BY doc_id, start""".stripMargin('!')

  /** E15 learning-loop oracle: the corpus-level aggregation of the same
    * discovery rows — groupBy (type, text), n_docs ≥ LearnMinDocs and
    * mean confidence ≥ LearnThreshold, emitted as the (kind, value,
    * meta) corpus rows CorpusTable.load ingests (single-token PERSON →
    * last_name).
    */
  val xDiscoveryLearnCore: String =
    s"""WITH $docSynthCte,
       !$discCte,
       !rows0 AS (
       !  SELECT did, unnest([
       !    {'type': 'PERSON', 'text': sur, 'conf': 0.85::DOUBLE},
       !    {'type': 'ORG', 'text': dept, 'conf': 0.95::DOUBLE},
       !    {'type': 'LOC', 'text': gfeat, 'conf': 0.9::DOUBLE}]) AS d
       !  FROM disc),
       !agg AS (
       !  SELECT d['type'] AS type, d['text'] AS text,
       !    count(DISTINCT did) AS n_docs, round(avg(d['conf']), 4) AS mean_conf
       !  FROM rows0 GROUP BY 1, 2),
       !flt AS (SELECT * FROM agg WHERE n_docs >= ${GapDiscovery.LearnMinDocs} AND mean_conf >= ${GapDiscovery.LearnThreshold})
       !SELECT DISTINCT
       !  CASE WHEN type = 'ORG' THEN 'org' WHEN type = 'LOC' THEN 'loc'
       !   ELSE 'last_name' END AS kind,
       !  lower(text) AS value,
       !  'discovered:' || n_docs AS meta
       !FROM flt ORDER BY kind, value""".stripMargin('!')

  /** F12 csv-conversion oracle over the aux corpus (DocGen.synthCsv →
    * CsvText): the `' | '`-joined conversion of the deterministic csv —
    * header line plus 3..7 rows whose quoted note field ("w1, w2")
    * collapses to one field — emitted as a single table span.
    */
  val xCsvSpans: String =
    """WITH w AS (SELECT doc_id AS id, 'doc' || doc_id AS did, str_split(text, ' ') AS ws,
      !    len(str_split(text, ' ')) AS n
      !  FROM documents WHERE doc_id % 2 = 0),
      !rows0 AS (SELECT did,
      !  'row_id | item | qty | note' || chr(10) ||
      !  array_to_string(list_transform(range(3 + id % 5), i ->
      !    (i + 1) || ' | ' || ws[((id + i) % n + 1)::INT] || ' | ' || ((id * 7 + i * 3) % 100)
      !      || ' | ' || ws[((id + 2*i) % n + 1)::INT] || ', ' || ws[((id + 2*i + 1) % n + 1)::INT]),
      !  chr(10)) AS t FROM w)
      !SELECT did AS doc_id, 0::INTEGER AS "offset", 'table' AS kind, t AS text, '' AS media_ref
      !FROM rows0 ORDER BY doc_id""".stripMargin('!')

  /** F15 universal-fallback oracle over the aux corpus (odd ids,
    * DocGen.synthBin → UniversalFallback): id%6==1 docs are mostly
    * printable (tier 1 text passthrough), id%6==3 docs interleave words
    * with control bytes (tier 2 printable-strings harvest = the words of
    * length ≥ 4, each its own run), id%6==5 docs are pure control bytes
    * (tier 3 placeholder). The synthesized payloads sit far under the
    * 500/1000 run caps, so the caps never bind here (LshCapSpec-style
    * adversarial cases live in UniversalFallbackSpec).
    */
  val xFallbackSpans: String =
    """WITH w AS (SELECT doc_id AS id, 'doc' || doc_id AS did, text, str_split(text, ' ') AS ws
      !  FROM documents WHERE doc_id % 2 = 1),
      !b AS (SELECT *, (id % 6) AS m, list_filter(ws, x -> length(x) >= 4) AS keep FROM w)
      !SELECT did AS doc_id, 0::INTEGER AS "offset", 'text' AS kind,
      ! CASE WHEN m = 1 THEN text
      !      WHEN m = 3 THEN (CASE WHEN len(keep) = 0 THEN '[Binary file: ' || did || ']'
      !                       ELSE array_to_string(keep, chr(10)) END)
      !      ELSE '[Binary file: ' || did || ']' END AS text,
      ! '' AS media_ref
      !FROM b ORDER BY doc_id""".stripMargin('!')

  /** Office-corpus CLEAN text (span texts joined by \n, heading-prefix
    * strip applied): every office mode is chunk-free, so the Core-8
    * input is exactly reconstructable — the basis of the office entity
    * and fact facets below.
    */
  private val officeCleanCte: String =
    """oclean AS (
      !  SELECT did, id,
      !    CASE (id % 3)::INT
      !    WHEN 0 THEN expanded || chr(10) || s1 || chr(10) || s2 || chr(10) || s3
      !      || chr(10) || s4 || chr(10) || s5 || chr(10) || s6
      !    WHEN 1 THEN 'Slide 1' || chr(10) || expanded || chr(10) || s1 || chr(10) || s2
      !      || chr(10) || 'Slide 2' || chr(10) || s3 || chr(10) || s4 || chr(10) || s5
      !    ELSE '=== Data ===' || chr(10) || '0 | ' || expanded || chr(10) || '1 | ' || s1
      !      || chr(10) || '2 | ' || s2 || chr(10) || '3 | ' || s3 || chr(10) || '4 | ' || s4
      !      || chr(10) || '5 | ' || s5
      !    END AS clean
      !  FROM ent)""".stripMargin('!')

  /** Office-corpus entity oracle: the same injected entity values as the
    * main corpus (docx docs are the id % 3 = 0 slice, so exactly they
    * carry the safety sentence's OSHA), with offsets re-derived by
    * strpos over the office clean text — each value occurs exactly once.
    */
  val xOfficeEntities: String =
    s"""WITH $docSynthCte,
       !$officeCleanCte,
       !vals AS (
       !  SELECT o.did, o.id, o.clean,
       !    (['John','Sarah','Michael','Emily','David','Jane'])[(o.id % 6 + 1)::INT] || ' ' ||
       !      (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((o.id // 6) % 6 + 1)::INT] AS v_person,
       !    '(555) ' || (100 + o.id % 900) || '-' || (1000 + o.id % 9000) AS v_phone,
       !    (['January','February','March','April','June','July','August','September','October','November'])[(o.id % 10 + 1)::INT]
       !      || ' ' || (o.id % 28 + 1) || ', ' || (2020 + o.id % 6) AS v_date,
       !    (o.id % 11 + 1) || ':' || (CASE WHEN o.id % 2 = 0 THEN '30' ELSE '15' END) || ' PM' AS v_time,
       !    (['Chicago','Houston','Seattle','Boston','Denver','Atlanta'])[(o.id % 6 + 1)::INT] AS v_gpe,
       !    '$$' || format('{:,}', (o.id % 90 + 10) * 250) AS v_money,
       !    '29 CFR 1926.' || (o.id % 400 + 100) AS v_reg,
       !    (o.id % 20 + 20) || '-' || (o.id % 20 + 27) || ' inches' AS v_meas1,
       !    (o.id % 90 + 1) || ' days' AS v_meas2,
       !    'Mr. ' || (['Smith','Johnson','Garcia','Chen','Patel','Brown'])[((o.id // 6) % 6 + 1)::INT] AS v_person2
       !  FROM oclean o),
       !ents AS (
       !  SELECT did, clean,
       !    unnest([
       !      {'type': 'PERSON', 'value': v_person},
       !      {'type': 'PHONE', 'value': v_phone},
       !      {'type': 'DATE', 'value': v_date},
       !      {'type': 'TIME', 'value': v_time},
       !      {'type': 'GPE', 'value': v_gpe},
       !      {'type': 'MONEY', 'value': v_money},
       !      {'type': 'REGULATION', 'value': v_reg},
       !      {'type': 'MEASUREMENT', 'value': v_meas1},
       !      {'type': 'MEASUREMENT', 'value': v_meas2},
       !      {'type': 'PERSON', 'value': v_person2}] ||
       !      CASE WHEN id % 3 = 0 THEN [{'type': 'GPE', 'value': 'OSHA'}] ELSE [] END) AS e
       !  FROM vals)
       !SELECT did AS doc_id, e['type'] AS type, e['value'] AS value,
       !  (strpos(clean, e['value']) - 1)::INTEGER AS start,
       !  (strpos(clean, e['value']) - 1 + length(e['value']))::INTEGER AS "end"
       !FROM ents
       !ORDER BY doc_id, start, type""".stripMargin('!')

  /** Office-corpus SPO fact oracle: every office doc carries s3/s4, so
    * the four template facts hold for the whole corpus.
    */
  val xOfficeFacts: String =
    s"""WITH $docSynthCte,
       !facts AS (
       !  SELECT did, id, unnest([
       !    {'fact_type': 'financial_impact', 'subject': 'penalty', 'predicate': 'HAS_AMOUNT',
       !     'obj': '$$' || format('{:,}', (id % 90 + 10) * 250),
       !     'confidence': 0.8, 'actionable': false},
       !    {'fact_type': 'regulation_citation', 'subject': 'Regulation', 'predicate': 'CITES',
       !     'obj': '29 CFR 1926.' || (id % 400 + 100) || '.',
       !     'confidence': 0.9, 'actionable': false},
       !    {'fact_type': 'requirement',
       !     'subject': 'Guardrails must measure ' || (id % 20 + 20) || '-' || (id % 20 + 27)
       !       || ' inches and reports',
       !     'predicate': 'REQUIRED_TO',
       !     'obj': 'filed within ' || (id % 90 + 1) || ' days',
       !     'confidence': 0.9, 'actionable': true},
       !    {'fact_type': 'time_requirement', 'subject': 'Time Requirement', 'predicate': 'HAS_VALUE',
       !     'obj': (id % 90 + 1) || ' days',
       !     'confidence': 0.9, 'actionable': true}]) AS f
       !  FROM ent)
       !SELECT did AS doc_id, f['fact_type'] AS fact_type, f['subject'] AS subject,
       !  f['predicate'] AS predicate, f['obj'] AS object,
       !  f['confidence'] AS confidence, f['actionable'] AS actionable
       !FROM facts ORDER BY doc_id, fact_type""".stripMargin('!')

  /** Office corpus span reconstruction (DocGen.synthesizeOffice →
    * OfficeExtractor): docx = one text span per paragraph; pptx =
    * `## Slide N` page breaks + shape texts in slide groups of 3;
    * xlsx = `=== Data ===` header + `rowIdx | sentence` rows.
    */
  val xOfficeSpans: String =
    s"""WITH $docSynthCte,
       !ospans AS (
       !  SELECT did, id,
       !    CASE (id % 3)::INT
       !    WHEN 0 THEN
       !      list_transform([expanded, s1, s2, s3, s4, s5, s6],
       !        t -> {'kind': 'text', 'text': t, 'media_ref': ''})
       !    WHEN 1 THEN
       !      [{'kind': 'page_break', 'text': '## Slide 1', 'media_ref': ''}] ||
       !      list_transform([expanded, s1, s2], t -> {'kind': 'text', 'text': t, 'media_ref': ''}) ||
       !      [{'kind': 'page_break', 'text': '## Slide 2', 'media_ref': ''}] ||
       !      list_transform([s3, s4, s5], t -> {'kind': 'text', 'text': t, 'media_ref': ''})
       !    ELSE
       !      [{'kind': 'heading', 'text': '=== Data ===', 'media_ref': ''}] ||
       !      list_transform([expanded, s1, s2, s3, s4, s5],
       !        (t, i) -> {'kind': 'text', 'text': i || ' | ' || t, 'media_ref': ''})
       !    END AS spans
       !  FROM ent)
       !SELECT did AS doc_id, (generate_subscripts(spans, 1) - 1)::INTEGER AS "offset",
       !  unnest(spans, recursive := true)
       !FROM ospans ORDER BY doc_id, "offset"""".stripMargin('!')

  /** DuckDB reconstruction of MediaOps.mediaTable — same deterministic
    * payload bytes derived from doc_id, so the Spark binary path and the
    * SQL arithmetic agree by construction.
    */
  private val mediaCte =
    """media AS (SELECT doc_id,
      |  (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS media_type,
      |  encode('HDR|' || (['image','audio','video'])[(doc_id % 3 + 1)::INT] ||
      |   '|' || doc_id || '|' || repeat('x', (doc_id % 50)::INT * 3 + 8)) AS payload
      | FROM documents)""".stripMargin

  val mediaStats: String =
    s"""WITH $mediaCte
       |SELECT media_type, count(*) AS n,
       | sum(octet_length(payload))::BIGINT AS total_bytes,
       | min(octet_length(payload))::BIGINT AS min_bytes,
       | max(octet_length(payload))::BIGINT AS max_bytes
       |FROM media GROUP BY 1 ORDER BY 1""".stripMargin

  val imageMeta: String =
    """SELECT doc_id,
      | (320 + (doc_id % 10) * 32)::BIGINT AS width,
      | (240 + (doc_id % 10) * 24)::BIGINT AS height,
      | 3::BIGINT AS channels,
      | ((320 + (doc_id % 10) * 32) * (240 + (doc_id % 10) * 24))::BIGINT AS n_pixels
      |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin

  val audioFeatures: String =
    s"""WITH $mediaCte
       |SELECT doc_id,
       | (16000 + (doc_id % 4) * 8000)::BIGINT AS sample_rate,
       | (octet_length(payload) * 1024)::BIGINT AS n_samples,
       | ((octet_length(payload) * 1024 * 1000) // (16000 + (doc_id % 4) * 8000))::BIGINT AS duration_ms
       |FROM media WHERE media_type = 'audio' ORDER BY doc_id""".stripMargin

  val frameSample: String =
    """WITH v AS (SELECT doc_id, (24 + doc_id % 72)::BIGINT AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT doc_id, n_frames,
      |  unnest(range(0, n_frames, 12))::BIGINT AS frame_idx FROM v)
      |SELECT doc_id, n_frames, frame_idx,
      | 'frame://' || doc_id || '/' || frame_idx AS frame_ref
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  val resizePlan: String =
    """WITH img AS (SELECT doc_id,
      |  (320 + (doc_id % 10) * 32)::BIGINT AS width,
      |  (240 + (doc_id % 10) * 24)::BIGINT AS height
      | FROM documents WHERE doc_id % 3 = 0),
      |sc AS (SELECT *, least(256.0 / width, 256.0 / height, 1.0) AS scale FROM img)
      |SELECT doc_id, width, height,
      | floor(width * scale)::BIGINT AS out_w,
      | floor(height * scale)::BIGINT AS out_h,
      | (floor(width * scale)::BIGINT * floor(height * scale)::BIGINT * 3) AS out_bytes
      |FROM sc ORDER BY doc_id""".stripMargin

  /** Cosine with the exact same operation order as the Spark
    * aggregate/zip_with plan (sequential left fold over double casts) —
    * bit-identical IEEE math, so round(,4) always agrees.
    */
  private def cosineSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE), (x, y) -> x + y)
       | / (sqrt(list_reduce(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $a[i+1]::DOUBLE), (x, y) -> x + y))
       |  * sqrt(list_reduce(list_transform(range(len($b)), i -> $b[i+1]::DOUBLE * $b[i+1]::DOUBLE), (x, y) -> x + y))))""".stripMargin

  def cosineTopK(src: String = "embeddings"): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM $src WHERE vec_id < $NumQueries),
       |j AS (SELECT q_id, vec_id,
       |  round(${cosineSql("q_emb", "embedding")}, 4) AS cos
       | FROM $src, q WHERE vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM j)
       |SELECT q_id, rank, vec_id, cos FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** Sign-LSH bucket rows (one per table per vector) — mirrors
    * Similarity.lshBuckets' md5-derived plane signs.
    */
  private def lshBucketRowsSql: String = {
    import graft.sim.Similarity.{NumPlanes, NumTables}
    def planeBit(i: Int, p: Int): String =
      s"""CASE WHEN list_reduce(list_transform(range(len(embedding)),
         |  d -> embedding[d+1]::DOUBLE *
         |   (CASE WHEN ('0x' || substr(md5('$i' || ':' || d), 1, 8))::BIGINT % 2 = 1 THEN 1.0 ELSE -1.0 END)),
         |  (x, y) -> x + y) >= 0 THEN ${1L << p}::BIGINT ELSE 0::BIGINT END""".stripMargin
    val tableExprs = (0 until NumTables).map { t =>
      (0 until NumPlanes).map(p => planeBit(t * NumPlanes + p, p)).mkString(" + ")
    }
    tableExprs.zipWithIndex.map { case (e, t) =>
      s"SELECT vec_id, $t AS tbl, ($e) AS bucket FROM embeddings"
    }.mkString("\n UNION ALL\n ")
  }

  val lshTopK: String = {
    val bucketRows = lshBucketRowsSql
    s"""WITH b AS (
       | $bucketRows),
       |qb AS (SELECT vec_id AS q_id, tbl AS q_tbl, bucket AS q_bucket FROM b WHERE vec_id < $NumQueries),
       |pairs AS (SELECT DISTINCT q_id, vec_id
       | FROM b JOIN qb ON tbl = q_tbl AND bucket = q_bucket AND vec_id <> q_id),
       |qe AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NumQueries),
       |j AS (SELECT p.q_id, p.vec_id,
       |  round(${cosineSql("q_emb", "embedding")}, 4) AS cos
       | FROM pairs p JOIN embeddings e ON e.vec_id = p.vec_id
       | JOIN qe ON qe.q_id = p.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM j)
       |SELECT q_id, rank, vec_id, cos FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  val embeddingDedup: String = {
    val bucketRows = lshBucketRowsSql
    s"""WITH b AS (
       | $bucketRows),
       |ekeep AS (SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding),
       |bk AS (SELECT b.vec_id, b.tbl, b.bucket FROM b JOIN ekeep k ON b.vec_id = k.vec_id),
       |bsz AS (SELECT tbl, bucket, count(*) AS n FROM bk GROUP BY 1, 2),
       |bok AS (SELECT bk.vec_id, bk.tbl, bk.bucket FROM bk
       | JOIN bsz ON bk.tbl = bsz.tbl AND bk.bucket = bsz.bucket
       |  AND bsz.n <= ${TextOps.MaxBandBucket}),
       |pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       | FROM bok x JOIN bok y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |j AS (SELECT p.a, p.b,
       |  round(${cosineSql("ea.embedding", "eb.embedding")}, 4) AS cos
       | FROM pairs p JOIN embeddings ea ON ea.vec_id = p.a
       | JOIN embeddings eb ON eb.vec_id = p.b)
       |SELECT a, b, cos FROM j WHERE cos >= ${graft.sim.Similarity.CosineThreshold} ORDER BY a, b""".stripMargin
  }

  /** s5 oracle: recursive components over the embedding dedup pairs. */
  val embeddingGroups: String = {
    val inner = embeddingDedup.stripSuffix("ORDER BY a, b").trim
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($inner)),
       |dedges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |verts AS (SELECT DISTINCT a AS v FROM dedges),
       |reach(doc, other) AS (
       | SELECT v, v FROM verts
       | UNION
       | SELECT r.doc, e.b FROM reach r JOIN dedges e ON e.a = r.other),
       |comp AS (SELECT doc AS vec_id, min(other) AS group_id FROM reach GROUP BY doc),
       |sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1)
       |SELECT c.vec_id, c.group_id, s.group_size
       |FROM comp c JOIN sizes s USING (group_id)
       |ORDER BY c.vec_id""".stripMargin
  }

  /** float[] vs double[] centroid cosine — mirrors Similarity.cosineMixed. */
  private def cosineMixedSql(a: String, c: String): String =
    s"""(list_reduce(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $c[i+1]), (x, y) -> x + y)
       | / (sqrt(list_reduce(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $a[i+1]::DOUBLE), (x, y) -> x + y))
       |  * sqrt(list_reduce(list_transform(range(len($c)), i -> $c[i+1] * $c[i+1]), (x, y) -> x + y))))""".stripMargin

  def ivfTopK(src: String = "embeddings"): String = {
    import graft.sim.Similarity.NProbe
    s"""WITH exp AS (SELECT label, unnest(embedding) AS v,
       |  generate_subscripts(embedding, 1) - 1 AS dim FROM $src),
       |cent AS (SELECT label, dim, round(avg(v), 4) + 0.0 AS mean_v FROM exp GROUP BY 1, 2),
       |centarr AS (SELECT label AS c_label, list(mean_v ORDER BY dim) AS centroid
       | FROM cent GROUP BY 1),
       |asg0 AS (SELECT e.vec_id, e.embedding, c.c_label,
       |  ${cosineMixedSql("e.embedding", "c.centroid")} AS cos_c
       | FROM $src e CROSS JOIN centarr c),
       |asg AS (SELECT vec_id, embedding, c_label AS cell FROM (
       | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, c_label) AS rn
       | FROM asg0) WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, embedding AS q_emb, c_label AS probe_cell FROM (
       | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, c_label) AS rn
       | FROM asg0 WHERE vec_id < $NumQueries) WHERE rn <= $NProbe),
       |j AS (SELECT q_id, vec_id, round(${cosineSql("q_emb", "embedding")}, 4) AS cos
       | FROM asg JOIN probes ON cell = probe_cell AND vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, cos,
       | row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM j)
       |SELECT q_id, rank, vec_id, cos FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  /** s6 oracle: compose the brute-force and IVF top-k SQL; recall =
    * |ivf ∩ truth| / |truth| over (q_id, vec_id) pairs — both sides use
    * the same deterministic tie-break, so the sets are well-defined.
    */
  val ivfRecall: String = {
    import graft.sim.Similarity.NProbe
    annRecallSql(cosineTopK(), ivfTopK(),
      "nprobe", NProbe.toLong, "n_ivf")
  }

  /** s8 oracle: the s6 composition over the CLUSTERED family — the
    * label-correlated vectors re-derived verbatim from (vec_id, label)
    * with the engine's constants (Similarity.ClusterDim/ClusterSep) and
    * the shared md5-head-8 idiom, then the identical truth/IVF/recall
    * SQL with the synthesized subquery as the source table.
    */
  val ivfRecallClustered: String = {
    import graft.sim.Similarity.{ClusterDim, ClusterSep, NProbe}
    val src =
      s"""(SELECT vec_id, label, list_transform(range($ClusterDim), d ->
         |  ((('0x' || substr(md5(vec_id || '_' || d), 1, 8))::BIGINT % 1000)::DOUBLE / 1000.0 - 0.5
         |   + (CASE WHEN label % $ClusterDim = d THEN $ClusterSep ELSE 0.0 END))::FLOAT) AS embedding
         | FROM embeddings)""".stripMargin
    annRecallSql(cosineTopK(src), ivfTopK(src),
      "nprobe", NProbe.toLong, "n_ivf")
  }

  /** The shared s6/s7 recall composition: truth and candidate top-k
    * re-derived as subqueries, hits counted in SQL. One definition so a
    * formula change cannot drift between the two metrics.
    */
  private def annRecallSql(truthSql: String, candSql: String,
      labelCol: String, labelValue: Long, candCountCol: String): String = {
    val truth = truthSql.stripSuffix("ORDER BY q_id, rank").trim
    val cand = candSql.stripSuffix("ORDER BY q_id, rank").trim
    s"""WITH truth AS (SELECT q_id, vec_id FROM ($truth)),
       |cand AS (SELECT q_id, vec_id FROM ($cand)),
       |h AS (SELECT count(*) AS n FROM truth JOIN cand USING (q_id, vec_id)),
       |t AS (SELECT count(*) AS n FROM truth),
       |c AS (SELECT count(*) AS n FROM cand)
       |SELECT $labelValue::BIGINT AS $labelCol, t.n::BIGINT AS n_truth,
       | c.n::BIGINT AS $candCountCol, h.n::BIGINT AS n_hits,
       | CASE WHEN t.n = 0 THEN 1.0 ELSE round_even(h.n::DOUBLE / t.n * 10000, 0) / 10000 END AS recall,
       | CASE WHEN c.n = 0 THEN 1.0 ELSE round_even(h.n::DOUBLE / c.n * 10000, 0) / 10000 END AS precision
       |FROM t, c, h""".stripMargin
  }

  /** s7 oracle: same composition as s6 with the sign-LSH path under
    * test — truth and candidate top-k re-derived, compared in SQL.
    */
  val lshAnnRecall: String = {
    import graft.sim.Similarity.NumTables
    annRecallSql(cosineTopK(), lshTopK,
      "n_tables", NumTables.toLong, "n_lsh")
  }

  /** s9 oracle: the same affine int8 quantization re-derived in SQL —
    * round_even mirrors bround, the code digest pins every code value,
    * and the error/cosine folds use the identical element order and
    * double arithmetic as the Spark higher-order expressions.
    */
  val quantizeInt8: String =
    s"""WITH q AS (SELECT vec_id, embedding,
       | list_min(embedding)::DOUBLE AS mn, list_max(embedding)::DOUBLE AS mx,
       | (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0 AS scale
       | FROM embeddings),
       |c AS (SELECT *, CASE WHEN mx = mn THEN list_transform(embedding, x -> 0::BIGINT)
       | ELSE list_transform(embedding, x -> round_even((x::DOUBLE - mn) / scale, 0)::BIGINT) END AS codes
       | FROM q),
       |d AS (SELECT *, list_transform(codes, cd -> mn + cd::DOUBLE * scale) AS dq FROM c)
       |SELECT vec_id, len(codes)::BIGINT AS n_dims,
       | md5(array_to_string(codes, ',')) AS code_md5,
       | round(list_reduce(list_transform(range(len(embedding)),
       |   i -> abs(embedding[i+1]::DOUBLE - dq[i+1])), (a, b) -> greatest(a, b)), 6) AS max_abs_err,
       | round(${cosineMixedSql("embedding", "dq")}, 4) AS cos_dequant
       |FROM d ORDER BY vec_id""".stripMargin

  val labelCentroids: String =
    """SELECT label, dim, round(avg(v), 4) + 0.0 AS mean_v
      |FROM (SELECT label, unnest(embedding) AS v,
      |  generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
