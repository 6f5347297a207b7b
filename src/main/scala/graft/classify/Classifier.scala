package graft.classify

import graft.matching.{AhoCorasick, Corpora}

/** Domain / document-type classification (SURVEY.md §2.3 C1-C3).
  *
  * Weighted-AC semantics per reference `knowledge/aho_corasick_engine.py:175-248`:
  * one automaton over all keywords; each whole-word hit contributes
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

  private def keywordIndex(sets: Map[String, Map[String, Double]])
      : (Seq[String], Map[String, Seq[(String, Double)]]) = {
    val all = sets.valuesIterator.flatMap(_.keysIterator).toSeq.distinct.sorted
    val byKeyword = all.map { kw =>
      kw -> sets.toSeq.sortBy(_._1).collect {
        case (dom, kws) if kws.contains(kw) => (dom, kws(kw))
      }
    }.toMap
    (all, byKeyword)
  }

  private lazy val (domainPatterns, domainByKw) = keywordIndex(Corpora.domainKeywords)
  private lazy val (doctypePatterns, doctypeByKw) = keywordIndex(Corpora.doctypeKeywords)

  private def domainAc = AhoCorasick.cached("classify.domain", domainPatterns)
  private def doctypeAc = AhoCorasick.cached("classify.doctype", doctypePatterns)

  /** Score one keyword family: each hit adds its keyword weight to its
    * class (every domain weight is 1). Returns percent-normalized map
    * sorted by (-score, name) with 2-decimal rounding for stable fixtures.
    */
  private def scoreFamily(
      text: String,
      ac: AhoCorasick,
      byKw: Map[String, Seq[(String, Double)]],
      default: String): Map[String, Double] = {
    val hits = ac.findWholeWords(text)
    if (hits.isEmpty) return Map(default -> 100.0)
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

  /** C4: domain entity extraction — third automaton over per-domain
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
    val domains = scoreFamily(text, domainAc, domainByKw, "general")
    val doctypes = scoreFamily(text, doctypeAc, doctypeByKw, "document")
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
