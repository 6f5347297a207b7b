package graft.extract

import graft.model.EntityMention
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** E15 gap-filling discovery (`pos_gap_discovery.py` semantics): scans
  * ONLY sentences with zero existing entity hits, applies conservative
  * shape patterns, scores with the reference's confidence formula, and
  * aggregates high-evidence discoveries corpus-wide into corpus rows.
  */
class GapDiscoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private val text =
    "Contact John Smith about the audit. " +
      "Meridian Technologies announced a new initiative. " +
      "The report was reviewed by the Department of Energy."

  test("only zero-hit sentences are scanned") {
    // entity in sentence 1 -> sentences 2 and 3 are the gaps
    val ents = Seq(EntityMention("John Smith", "John Smith", "PERSON", 8, 18))
    val gaps = GapDiscovery.gapSentences(text, ents)
    assert(gaps.length === 2)
    assert(gaps.head._1.startsWith("Meridian Technologies"))

    val found = GapDiscovery.discover(text, ents)
    assert(found.exists(d => d.text == "Meridian Technologies" && d.entity_type == "ORG"
      && d.pattern == "corporate_suffix"))
    assert(found.exists(d => d.text == "Department of Energy" && d.entity_type == "ORG"
      && d.pattern == "government_agency"))
    // nothing discovered from the covered sentence
    assert(!found.exists(_.start < 36))
  }

  test("confidence mirrors the reference formula") {
    // title-case two-word: 0.9 base + 0.05 istitle + 0.05 multiword = 1.0
    assert(GapDiscovery.confidence("Meridian Technologies", 0.9) === 1.0)
    // short all-caps acronym penalty
    assert(GapDiscovery.confidence("ABC", 0.8) === (0.8 - 0.1 - 0.05))
    // clamped at 0.1
    assert(GapDiscovery.confidence("ab", 0.1) === 0.1)
  }

  test("titled person and geographic feature patterns") {
    // periodless title: the fast sentence splitter cuts at "Dr." (the
    // reference's spaCy segmentation does not) — the pattern's \.? makes
    // both forms match within one sentence
    val found = GapDiscovery.discover(
      "Dr Kowalski presented the findings near Bear Mountain.", Seq.empty)
    assert(found.exists(d => d.entity_type == "PERSON" && d.text == "Kowalski"))
    assert(found.exists(d => d.entity_type == "LOC" && d.text == "Bear Mountain"))
  }

  test("corpus-level learning: repeated discoveries become corpus rows") {
    import spark.implicits._
    val docs = spark.createDataset((1L to 3L).map { i =>
      graft.model.ExtractedDoc(s"g$i",
        Seq(graft.model.Span("text",
          s"Meridian Technologies filed report $i. Zenith Dynamics LLC was mentioned once." , "", 0)),
        graft.model.DocMeta.empty, Seq.empty, Seq.empty, Seq.empty, success = true, error = "")
    })
    val found = GapDiscovery.discoverAll(docs)
    assert(found.count() > 0)
    val learned = GapDiscovery.learningCandidates(found, threshold = 0.85, minDocs = 2).collect()
    val values = learned.map(r => (r.getString(0), r.getString(1))).toSet
    assert(values.contains(("org", "meridian technologies")), s"got $values")
    // PERSON discoveries land as the single tokens the person extractor
    // scores against — never multi-word strings
    val people = spark.createDataset((1L to 2L).map(i =>
      ("d" + i, "PERSON", "Zofia Kowalczyk", 0.9, "title_person")))
      .toDF("doc_id", "type", "text", "confidence", "pattern")
    val prows = GapDiscovery.learningCandidates(people, threshold = 0.85, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(prows === Set(("first_name", "zofia"), ("last_name", "kowalczyk")), s"got $prows")
    // the corpus rows are loadable through the production table path
    val table = learned.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val bundle = graft.matching.CorpusTable.fromRows("learned-v1", table)
    assert(bundle.orgs.contains("meridian technologies"))
  }
}
