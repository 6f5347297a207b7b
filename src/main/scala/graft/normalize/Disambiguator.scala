package graft.normalize

import graft.extract.Core8Extractor
import graft.model.ExtractedDoc
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A2's resolution half (reference `utils/entity_disambiguator.py:44-560`
  * `_disambiguate_person`/`_disambiguate_org`): evidence-score each
  * ambiguous person/org surface from its mention contexts — title and
  * action-verb cues push PERSON, suffix and business-context cues push
  * ORG — and decide the type by score argmax. The reference scans the
  * mention's containing SENTENCE for cues (`lower_context =
  * context.sentence.lower()`), which this port keeps.
  *
  * Distributed shape mirrors EntityEdges: scoring is a document-local
  * flatMap over the canonical entities (sentence lookup never leaves the
  * partition); the corpus rollup is ONE groupBy on the vocabulary-bounded
  * (type, normalized, decision) key with map-side partial aggregation.
  */
object Disambiguator {

  /** Cue lists — config data, disjoint by construction from anything the
    * scoring should not react to (reference `person_indicators` /
    * `org_indicators`, `entity_disambiguator.py:96-120`).
    */
  val Titles = Seq("mr", "mrs", "ms", "dr", "prof")
  val Roles = Seq("ceo", "cto", "cfo", "founder", "president", "director",
    "manager", "chairman")
  val Actions = Seq("said", "announced", "approved", "visited", "founded", "stated")
  val OrgSuffixes = Set("inc", "corp", "llc", "ltd", "company", "department", "holdings", "agency")
  val OrgContexts = Seq("published", "merged", "acquired", "headquartered", "guidance")

  /** Scoring constants (reference `:180-250`): base 0.1 each side, strong
    * overrides for title or role cue (person 0.8, `:222-234`), suffix
    * (org 0.85, `:238-243`) and the ' inc/ corp/ llc' substring edge case
    * (org 0.9, `:251-254`), additive boosts for action verbs (+0.15) and
    * business context (+0.1). The +0.2 prior for the extractor's own
    * call is an ADAPTATION, not a port: the reference seeds these scores
    * from its corpus validator's confidences (`:188-196`), which this
    * engine has no equivalent of — the prior stands in for "the extractor
    * that emitted the mention already consulted its gazetteer".
    */
  final case class Decision(personScore: Double, orgScore: Double, decided: String)

  def score(entityType: String, mentionsWithSentences: Seq[(String, String)]): Decision = {
    // lowercase BOTH sides here (idempotent for callers that already
    // did): every cue check below is a case-sensitive contains(), so an
    // unlowercased sentence from a direct caller would silently miss
    // action/context cues
    val ms = mentionsWithSentences.map { case (m, sent) => (m.toLowerCase, sent.toLowerCase) }
    var person = 0.1 + (if (entityType == "PERSON") 0.2 else 0.0)
    var org = 0.1 + (if (entityType == "ORG") 0.2 else 0.0)
    val hasTitle = ms.exists { case (ml, sent) =>
      Titles.exists(t => ml.startsWith(s"$t. ") || ml.startsWith(s"$t ") ||
        sent.contains(s"$t. $ml") || sent.contains(s"$t $ml"))
    }
    // keyed on the mention's LAST token: the sentence splitter drops
    // sub-5-char fragments, so a title prefix ("Mr.") can sit outside
    // the window that carries the verb — "smith approved" must still cue
    val hasAction = ms.exists { case (ml, sent) =>
      val lastTok = ml.split("[\\s]+").last
      Actions.exists(a => sent.contains(s"$lastTok $a"))
    }
    // role cue: "<role> <mention>" or "<mention>, <role>" (reference
    // `:228-234`) — same strength as a title
    val hasRole = ms.exists { case (ml, sent) =>
      Roles.exists(r => sent.contains(s"$r $ml") || sent.contains(s"$ml, $r"))
    }
    val hasOrgSuffix = ms.exists { case (ml, _) =>
      OrgSuffixes.contains(ml.split("[\\s.]+").last)
    }
    val hasOrgContext = ms.exists { case (_, sent) =>
      OrgContexts.exists(sent.contains)
    }
    // the reference's "Company Name Inc" substring edge case (`:251-254`)
    val hasIncPattern = ms.exists { case (ml, _) =>
      ml.contains(" inc") || ml.contains(" corp") || ml.contains(" llc")
    }
    if (hasTitle || hasRole) person = math.max(person, 0.8)
    if (hasAction) person += 0.15
    if (hasOrgSuffix) org = math.max(org, 0.85)
    if (hasOrgContext) org += 0.1
    if (hasIncPattern) org = math.max(org, 0.9)
    val decided = if (org > person) "ORG" else "PERSON"
    Decision(round2(person), round2(org), decided)
  }

  private def round2(d: Double): Double = math.rint(d * 100) / 100

  /** The ambiguous-surface scope: person/org calls (the reference only
    * ever disambiguates these two) plus all-caps acronym GPEs — the
    * agency shape that sits on the GPE/ORG boundary. Gazetteer cities
    * and the non-name types are never ambiguous.
    */
  private def isCandidate(entityType: String, normalized: String): Boolean =
    entityType == "PERSON" || entityType == "ORG" ||
      (entityType == "GPE" && normalized.matches("[A-Z]{2,}"))

  /** Per-doc disambiguation decisions, globally sorted for the driver
    * facet. Aggregating consumers should use [[decisionRows]] — the
    * rollup's groupBy discards any input ordering, so the sort here
    * would be pure wasted work for them.
    */
  def decisions(extracted: Dataset[ExtractedDoc]): DataFrame =
    decisionRows(extracted).orderBy("doc_id", "type", "normalized")

  /** Per-doc disambiguation decisions over the canonical entities,
    * unordered. Reads only (doc_id, span texts, canonical entities) —
    * selected before the typed lambda so the columnar cache scan prunes
    * the unused heavy columns instead of deserializing whole docs.
    */
  def decisionRows(extracted: Dataset[ExtractedDoc]): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .select(col("doc_id"), col("spans.text").as("texts"), col("canonical_entities"))
      .as[(String, Seq[String], Seq[graft.model.CanonicalEntity])]
      .flatMap { case (docId, texts, canonical) =>
        val clean = Core8Extractor.cleanTextOf(texts)
        val sents = Core8Extractor.splitSentences(clean)
        // all sentences OVERLAPPING the mention span, joined — a mention
        // whose title prefix lands in a dropped short fragment ("Mr.")
        // still sees the sentence carrying its verb (EntityEdges' overlap
        // predicate)
        def windowOf(start: Int, end: Int): String =
          sents.filter { case (s, st) => start < st + s.length && st < end }
            .map(_._1).mkString(" ")
        canonical
          .filter(c => isCandidate(c.`type`, c.normalized))
          .map { c =>
            // whitespace folded to spaces so a cue spanning a line break
            // behaves like the regexes it stands in for (SpoExtractor gate)
            val ms = c.mentions.map(m => (m.text,
              windowOf(m.start, m.end).toLowerCase.map(ch => if (Character.isWhitespace(ch)) ' ' else ch)))
            val dec = score(c.`type`, ms)
            (docId, c.`type`, c.normalized, dec.decided, dec.personScore, dec.orgScore)
          }
      }.toDF("doc_id", "type", "normalized", "decided_type", "person_score", "org_score")
  }

  /** Corpus rollup: per ambiguous surface, how many docs resolved it
    * each way — the table a curation pass consults before trusting a
    * surface corpus-wide. One vocabulary-bounded groupBy shuffle.
    */
  def global(decisions: DataFrame): DataFrame =
    decisions.groupBy("type", "normalized", "decided_type")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        max(col("person_score")).as("person_score"),
        max(col("org_score")).as("org_score"))
      .orderBy("type", "normalized", "decided_type")
}
