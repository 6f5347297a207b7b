package graft.classify

import graft.matching.{AhoCorasick, Corpora}

/** Domain / document-type classification (SURVEY.md §2.3 C1-C3).
  *
  * Weighted-AC semantics per reference `knowledge/aho_corasick_engine.py:175-248`:
  * one automaton over all domain and doctype keywords, one whole-word
  * scan of the text, and both families scored from its hits (a hit of a
  * keyword that both list counts for both); each whole-word hit contributes
  * keyword_weight × domain_weight; scores normalize to percent of total,
  * sorted desc; empty-hit documents default to `general: 100`
  * (doctype default `document: 100`). Routing flags per
  * `service_processor.py:1922-1927`.
  */
object Classifier {

  final case class Classification(
      domains: Map[String, Double],          // percent scores, desc by construction
      primaryDomain: String,
      primaryDomainConfidence: Double,
      docTypes: Map[String, Double],
      primaryDocType: String,
      skipEntityExtraction: Boolean,         // primary confidence < 5.0
      enableDeepDomainExtraction: Boolean)   // primary confidence >= 60.0

  // keyword → (class, keyword weight) of every class that lists it
  private def keywordIndex(sets: Map[String, Map[String, Double]]): Map[String, Seq[(String, Double)]] =
    sets.valuesIterator.flatMap(_.keysIterator).toSeq.distinct.map { kw =>
      kw -> sets.toSeq.sortBy(_._1).collect {
        case (dom, kws) if kws.contains(kw) => (dom, kws(kw))
      }
    }.toMap

  private lazy val domainByKw = keywordIndex(Corpora.domainKeywords)
  private lazy val doctypeByKw = keywordIndex(Corpora.doctypeKeywords)

  // one automaton over the domain and doctype keywords
  private def keywordAc =
    AhoCorasick.cached("classify.keywords", (domainByKw.keys ++ doctypeByKw.keys).toSeq.distinct.sorted)

  /** Score one keyword family from the hits of both: each hit of one of
    * its keywords adds the keyword weight to its class (every domain
    * weight is 1). Returns percent-normalized map sorted by (-score,
    * name) with 2-decimal rounding for stable fixtures, or `default` at
    * 100 when none of the family's keywords is hit.
    */
  private def scoreFamily(
      hits: IndexedSeq[AhoCorasick#Hit],
      byKw: Map[String, Seq[(String, Double)]],
      default: String): Map[String, Double] = {
    val raw = scala.collection.mutable.HashMap.empty[String, Double]
    hits.foreach { h =>
      byKw.getOrElse(h.pattern, Nil).foreach { case (dom, kwWeight) =>
        raw(dom) = raw.getOrElse(dom, 0.0) + kwWeight
      }
    }
    val total = raw.valuesIterator.sum
    if (total <= 0.0) return Map(default -> 100.0)
    // LinkedHashMap preserves the desc ordering for deterministic output
    val sorted = raw.toSeq.sortBy { case (d, s) => (-s, d) }
    val out = scala.collection.immutable.ListMap.newBuilder[String, Double]
    sorted.foreach { case (d, s) => out += d -> math.rint(s / total * 10000) / 100.0 }
    out.result()
  }

  private lazy val entityPatterns: Seq[String] =
    Corpora.domainEntities.valuesIterator.flatten.toSeq.distinct.sorted
  private lazy val entityDomains: Map[String, Seq[String]] =
    entityPatterns.map { e =>
      e -> Corpora.domainEntities.toSeq.sortBy(_._1)
        .collect { case (d, es) if es.contains(e) => d }
    }.toMap

  private def entityAc = AhoCorasick.cached("classify.domainEntities", entityPatterns)

  /** C4: domain entity extraction — a second automaton over per-domain
    * entity lists, filtered to the target domains, whole-word validated,
    * order-preserving dedup, cap 30 (`aho_corasick_engine.py:250-280`).
    * Returns "domain/entity" strings in first-occurrence order.
    */
  def extractDomainEntities(text: String, targetDomains: Set[String]): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    entityAc.findWholeWords(text).foreach { h =>
      entityDomains.getOrElse(h.pattern, Nil).foreach { d =>
        if (targetDomains.contains(d)) seen += s"$d/${h.pattern}"
      }
    }
    seen.toSeq.take(30)
  }

  def classify(text: String): Classification = {
    val hits = keywordAc.findWholeWords(text)
    val domains = scoreFamily(hits, domainByKw, "general")
    val doctypes = scoreFamily(hits, doctypeByKw, "document")
    val (pd, pdc) = domains.head
    val (pt, _) = doctypes.head
    // C3 routing exactly as `service_processor.py:1922-1927`: skip is
    // purely confidence < 5.0. The no-signal default path can never
    // trip it — scoreFamily only ever emits "general" at 100.0, so a
    // "general" doc always runs extraction, same as the reference.
    Classification(
      domains, pd, pdc, doctypes, pt,
      skipEntityExtraction = pdc < 5.0,
      enableDeepDomainExtraction = pdc >= 60.0)
  }
}
