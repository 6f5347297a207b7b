package graft.normalize

import graft.model.{CanonicalEntity, DocMeta, ExtractedDoc, Mention, Span}
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A2 relationship edges: sentence-window co-occurrence, canonical pair
  * ordering, per-doc dedup, cross-document counting.
  */
class EntityEdgesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private def doc(id: String, text: String, ents: Seq[CanonicalEntity]): ExtractedDoc =
    ExtractedDoc(id, Seq(Span("text", text, "", 0)), DocMeta.empty,
      Seq.empty, ents, Seq.empty, success = true, error = "")

  private def ce(tpe: String, norm: String, spans: (Int, Int)*): CanonicalEntity =
    CanonicalEntity("x001", tpe, norm, Seq(norm), spans.length,
      spans.map { case (s, e) => Mention(norm, s, e) })

  test("entities in one sentence pair up; different sentences do not") {
    import spark.implicits._
    //          0123456789012345678901234567890123
    val text = "Alpha met Beta here. Gamma left."
    val d = doc("d1", text, Seq(
      ce("ORG", "Alpha", (0, 5)),
      ce("PERSON", "Beta", (10, 14)),
      ce("GPE", "Gamma", (21, 26))))
    val rows = EntityEdges.edges(spark.createDataset(Seq(d))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // only the first sentence pairs; pair ordered by (type, normalized)
    assert(rows.toSeq === Seq(("ORG", "Alpha", "PERSON", "Beta", 1L)))
  }

  test("duplicate per-doc edges collapse; n_docs counts documents") {
    import spark.implicits._
    // the same pair co-occurs in BOTH sentences of d1 -> one edge row;
    // d2 contributes the same edge -> n_docs = 2
    val text = "Alpha met Beta. Beta saw Alpha."
    def mk(id: String) = doc(id, text, Seq(
      ce("ORG", "Alpha", (0, 5), (25, 30)),
      ce("PERSON", "Beta", (10, 14), (16, 20))))
    val rows = EntityEdges.edges(spark.createDataset(Seq(mk("d1"), mk("d2")))).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(4) === 2L)
  }

  test("a mention overlapping a dropped fragment still lands in its sentence") {
    import spark.implicits._
    // "Mr." fragment is dropped by the splitter (<5 chars); the person
    // mention spanning it overlaps the following sentence and pairs
    // with the city there
    val text = "Mr. Smith visited Boston today."
    val d = doc("d1", text, Seq(
      ce("PERSON", "John Smith", (0, 9)),
      ce("GPE", "Boston", (18, 24))))
    val rows = EntityEdges.edges(spark.createDataset(Seq(d))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq === Seq(("GPE", "Boston", "PERSON", "John Smith")))
  }
}
