package graft.matching

import graft.extract.Core8Extractor
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Real-name gazetteer tier (r4 Missing #1's data half): a committed
  * fixture of REAL public names — SSA-common given names, census-style
  * surnames outside the builtin top-100, world cities/countries,
  * geographic features, intergovernmental orgs — loaded through the
  * production `CorpusTable.loadVersioned` path and gated by extraction
  * recall on a hand-labeled document set. The builtin seed bundle is
  * measured on the same documents as the contrast: recall on these
  * names comes from the LOADED DATA, not the extractor code.
  */
class RealNameGazetteerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  /** Hand-labeled fixture docs: (text, expected (type, lowercase value)). */
  private val labeled: Seq[(String, Set[(String, String)])] = Seq(
    ("Aisha Nakamura presented the audit while Carlos Okafor reviewed the budget.",
      Set("PERSON" -> "aisha nakamura", "PERSON" -> "carlos okafor")),
    ("The delegation from Kenya arrived in Mumbai before the summit.",
      Set("GPE" -> "kenya", "GPE" -> "mumbai")),
    ("Priya Ivanova of the World Health Organization spoke in Nairobi.",
      Set("PERSON" -> "priya ivanova", "ORG" -> "world health organization",
        "GPE" -> "nairobi")),
    ("Surveys near Lake Victoria and the Atlas Mountains continue.",
      Set("LOC" -> "lake victoria", "LOC" -> "atlas mountains")),
    ("Miguel Kowalski and Fatima Yamamoto signed the accord in Jakarta.",
      Set("PERSON" -> "miguel kowalski", "PERSON" -> "fatima yamamoto",
        "GPE" -> "jakarta")),
    ("Unicef coordinated relief along the Mekong River in Vietnam.",
      Set("ORG" -> "unicef", "LOC" -> "mekong river", "GPE" -> "vietnam")),
    ("Hiroshi Petrov toured Lima and later visited Peru's coast.",
      Set("PERSON" -> "hiroshi petrov", "GPE" -> "lima", "GPE" -> "peru")),
    ("Interpol briefed officials in Istanbul and Cairo.",
      Set("ORG" -> "interpol", "GPE" -> "istanbul", "GPE" -> "cairo")))

  private def recallUnder(bundle: CorpusBundle): (Double, Int, Int) = {
    val prev = Corpora.bundle
    Corpora.install(bundle)
    try {
      val perDoc = labeled.map { case (text, expected) =>
        val found = Core8Extractor.extractAll(text)
          .map(e => (e.`type`, e.text.toLowerCase)).toSet
        (expected.intersect(found).size, expected.size)
      }
      val hits = perDoc.map(_._1).sum
      val total = perDoc.map(_._2).sum
      (hits.toDouble / total, hits, total)
    } finally Corpora.install(prev)
  }

  private def fixtureBundle: CorpusBundle = {
    import spark.implicits._
    val rows = scala.util.Using.resource(
      getClass.getResourceAsStream("/real_names_fixture.tsv")) { in =>
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.split("\t")).map(a => (a(0), a(1), a(2))).toSeq
    }
    val table = rows.toDF("kind", "value", "meta")
    CorpusTable.loadVersioned(spark, table)
  }

  test("recall >= 0.9 on the labeled set under the real-name bundle, low under the seed bundle") {
    val real = fixtureBundle
    assert(real.version.startsWith("snap-")) // content-hash versioning
    assert(real.firstNames.contains("aisha") && real.lastNames.contains("nakamura"))
    val (recallReal, hitsReal, total) = recallUnder(real)
    assert(recallReal >= 0.9, s"real-bundle recall $recallReal ($hitsReal/$total)")
    val (recallSeed, hitsSeed, _) = recallUnder(Corpora.builtIn)
    assert(recallSeed <= 0.35,
      s"seed-bundle recall $recallSeed ($hitsSeed/$total) — the fixture should " +
        "require the loaded data, or it is not measuring the data swap")
  }

  test("loadVersioned rolls the version when the fixture content changes") {
    import spark.implicits._
    val a = CorpusTable.loadVersioned(spark,
      Seq(("first_name", "aisha", "m")).toDF("kind", "value", "meta"))
    val b = CorpusTable.loadVersioned(spark,
      Seq(("first_name", "aisha", "m"), ("last_name", "nakamura", "m"))
        .toDF("kind", "value", "meta"))
    assert(a.version != b.version)
  }
}
