package graft.normalize

import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-level canonical entities: the same normalized form surfacing
  * in MANY documents must collapse to one global row with document and
  * mention counts — the cross-document step the reference's per-doc
  * normalizer never takes (A2, `utils/entity_disambiguator.py`).
  */
class CorpusCanonicalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  test("global entity table groups canonical forms across documents") {
    import spark.implicits._
    val raw = spark.createDataset((0L to 40L).map(id =>
      DocGen.synthesize(id, "the inspection covered the warehouse and the loading dock area")))
    val extracted = ExtractionPipeline.run(spark, raw, partitions = 2)
    val global = CorpusCanonical.globalEntities(extracted).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))

    // GPE Chicago is injected for every id % 6 == 0 doc (7 docs in 0..40)
    val chicago = global.filter(t => t._2 == "GPE" && t._3 == "Chicago")
    assert(chicago.length === 1)
    assert(chicago.head._4 >= 5, s"Chicago n_docs = ${chicago.head._4}")

    // PERSON John Smith appears in doc 0 and doc 36 (same first/last
    // residues) — cross-document grouping must merge them; within each
    // doc the "Mr. Smith" variant is already folded by the per-doc
    // normalizer, so n_mentions >= 2 * n_docs
    val smith = global.filter(t => t._2 == "PERSON" && t._3 == "John Smith")
    assert(smith.length === 1)
    assert(smith.head._4 >= 2, s"John Smith n_docs = ${smith.head._4}")
    assert(smith.head._5 >= 2 * smith.head._4)

    // global_id is a deterministic content hash: same (type, normalized)
    // always yields the same id; distinct pairs yield distinct ids
    assert(global.map(_._1).distinct.length === global.length)
    val recomputed = CorpusCanonical.globalEntities(extracted).collect()
    assert(recomputed.map(_.getString(0)).sorted.sameElements(global.map(_._1).sorted))
  }
}
