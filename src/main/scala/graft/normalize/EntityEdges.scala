package graft.normalize

import graft.extract.Core8Extractor
import graft.model.{CanonicalEntity, ExtractedDoc}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A2's mention-context half (reference
  * `utils/entity_disambiguator.py:44-560`: context-window extraction per
  * mention + cross-entity relationship extraction — which the reference
  * only ever runs per document): canonical entities that co-occur inside
  * one SENTENCE window form a relationship edge, and the corpus-level
  * edge table aggregates those per-document edges.
  *
  * Distributed shape mirrors CorpusCanonical: the per-doc pairing is a
  * flatMap (document-local — sentence splitting and mention-overlap
  * tests never leave the partition), and the corpus step is ONE groupBy
  * shuffle on the edge key, vocabulary-bounded (edges are pairs of
  * canonical forms, ≪ corpus size), with map-side partial aggregation.
  */
object EntityEdges {

  /** Reference context-window width (`entity_disambiguator.py:26-27`:
    * 50 chars before and after the mention).
    */
  val ContextWindow = 50

  /** Both facets read only (doc_id, span texts, canonical entities) —
    * select them BEFORE the typed lambda so the columnar cache scan
    * prunes the unused heavy columns (entities, facts, meta) instead of
    * deserializing whole ExtractedDoc objects.
    */
  private def pruned(extracted: Dataset[ExtractedDoc])
      : Dataset[(String, Seq[String], Seq[CanonicalEntity])] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .select(col("doc_id"), col("spans.text").as("texts"), col("canonical_entities"))
      .as[(String, Seq[String], Seq[CanonicalEntity])]
  }

  /** Per-mention context windows — the disambiguator's raw material
    * (`EntityContext`): each canonical entity's mentions with the
    * ±50-char clean-text snippets around them. Document-local flatMap,
    * no shuffle at all until a consumer aggregates.
    */
  def mentionContexts(extracted: Dataset[ExtractedDoc]): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    pruned(extracted).flatMap { case (docId, texts, canonical) =>
      val clean = Core8Extractor.cleanTextOf(texts)
      canonical.flatMap { c =>
        c.mentions.map { m =>
          val s = math.min(math.max(0, m.start), clean.length)
          val e = math.min(math.max(s, m.end), clean.length)
          (docId, c.`type`, c.normalized, m.text, m.start,
            clean.substring(math.max(0, s - ContextWindow), s),
            clean.substring(e, math.min(clean.length, e + ContextWindow)))
        }
      }
    }.toDF("doc_id", "type", "normalized", "mention", "start",
        "left_context", "right_context")
      .orderBy("doc_id", "start", "type")
  }

  /** Corpus-level co-occurrence edge table:
    * (type_a, norm_a, type_b, norm_b, n_docs), pair ordered by
    * (type, normalized) so each undirected edge has one canonical row.
    */
  def edges(extracted: Dataset[ExtractedDoc]): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    pruned(extracted).flatMap { case (docId, texts, canonical) =>
      val clean = Core8Extractor.cleanTextOf(texts)
      val sents = Core8Extractor.splitSentences(clean)
      // a canonical entity sits in a sentence iff any of its mentions
      // overlaps the sentence span
      val perSentence = sents.zipWithIndex.map { case ((s, start), si) =>
        val end = start + s.length
        si -> canonical
          .filter(c => c.mentions.exists(m => m.start < end && start < m.end))
          .map(c => (c.`type`, c.normalized)).distinct.sorted
      }
      perSentence.flatMap { case (_, ents) =>
        for {
          i <- ents.indices
          j <- (i + 1) until ents.length
        } yield (docId, ents(i)._1, ents(i)._2, ents(j)._1, ents(j)._2)
      }.distinct
    }.toDF("doc_id", "type_a", "norm_a", "type_b", "norm_b")
      .groupBy("type_a", "norm_a", "type_b", "norm_b")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("type_a", "norm_a", "type_b", "norm_b")
  }
}
