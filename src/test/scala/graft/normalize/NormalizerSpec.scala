package graft.normalize

import org.scalatest.funsuite.AnyFunSuite
import graft.model.EntityMention

/** Normalization cases per FIXTURES.md §4.5 (N1-N3) + value-type parsers. */
class NormalizerSpec extends AnyFunSuite {

  test("N1: Mr. Smith / John A. Smith / John Smith -> one canonical p001 John Smith") {
    val text = "Mr. Smith opened. John A. Smith presented slides. John Smith closed."
    val ents = Seq(
      EntityMention("Mr. Smith", "Mr. Smith", "PERSON", 0, 9),
      EntityMention("John A. Smith", "John A. Smith", "PERSON", 18, 31),
      EntityMention("John Smith", "John Smith", "PERSON", 51, 61))
    val canon = Normalizer.canonicalize(ents)
    assert(canon.length === 1)
    val c = canon.head
    assert(c.id === "p001")
    assert(c.normalized === "John Smith")
    assert(c.count === 3)
    assert(c.mentions.map(_.start) === Seq(0, 18, 51))
    assert(c.aliases.toSet === Set("Mr. Smith", "John A. Smith", "John Smith"))
  }

  test("N1b: different persons get distinct ids in first-mention order") {
    val ents = Seq(
      EntityMention("Jane Garcia", "Jane Garcia", "PERSON", 0, 11),
      EntityMention("John Smith", "John Smith", "PERSON", 20, 30),
      EntityMention("J. Smith", "J. Smith", "PERSON", 40, 48))
    val canon = Normalizer.canonicalize(ents)
    assert(canon.map(_.id) === Seq("p001", "p002"))
    assert(canon.map(_.normalized) === Seq("Jane Garcia", "John Smith"))
    assert(canon(1).count === 2) // J. Smith groups with John Smith via initial
  }

  test("N2: global replacement with ‖canonical‖id‖ incl. markdown-wrapped mention") {
    val text = "Mr. Smith spoke. Later **John Smith** signed."
    val ents = Seq(
      EntityMention("Mr. Smith", "Mr. Smith", "PERSON", 0, 9),
      EntityMention("John Smith", "John Smith", "PERSON", 24, 34))
    val r = Normalizer.run(text, ents)
    assert(r.normalizedText === "‖John Smith‖p001‖ spoke. Later ‖John Smith‖p001‖ signed.")
    assert(r.reductionPct === 50.0)
  }

  test("N3: money, date, time, phone normalization") {
    assert(Normalizer.normalizeMoney("$2.5M") === ("$2,500,000", 2500000.0, "USD"))
    assert(Normalizer.normalizeMoney("$1,234.56")._2 === 1234.56)
    assert(Normalizer.normalizeMoney("3 billion dollars")._2 === 3e9)
    assert(Normalizer.normalizeDate("March 15, 2024") === ("2024-03-15", 2024, 3, 15))
    assert(Normalizer.normalizeDate("2024-02-29") === ("2024-02-29", 2024, 2, 29))
    assert(Normalizer.normalizeDate("01/02/03") === ("2003-01-02", 2003, 1, 2))
    assert(Normalizer.normalizeDate("15 January 2024") === ("2024-01-15", 2024, 1, 15))
    assert(Normalizer.normalizeTime("2:30 PM") === "14:30")
    assert(Normalizer.normalizeTime("12:05 am") === "00:05")
    assert(Normalizer.normalizeTime("09:15") === "09:15")
    assert(Normalizer.normalizePhone("(555) 123-4567") === "+15551234567")
    assert(Normalizer.normalizePhone("555.123.4567") === "+15551234567")
  }

  test("N8: measurement to metric incl. ranges") {
    val (c1, v1, u1) = Normalizer.normalizeMeasurement("6 feet")
    assert(u1 === "m" && math.abs(v1 - 1.829) < 0.001 && c1 === "1.829 m")
    val (c2, _, _) = Normalizer.normalizeMeasurement("30-37 inches")
    assert(c2 === "0.762-0.94 m")
    val (_, v3, u3) = Normalizer.normalizeMeasurement("10 lbs")
    assert(u3 === "kg" && math.abs(v3 - 4.536) < 0.001)
    val (c4, _, u4) = Normalizer.normalizeMeasurement("45 db")
    assert(c4 === "45 db" && u4 === "db") // non-convertible passthrough
  }

  test("N3b: ORG canonicalization — acronym expansion + legal suffix") {
    assert(Normalizer.normalizeOrgName("osha") ===
      "Occupational Safety and Health Administration")
    assert(Normalizer.normalizeOrgName("Acme Incorporated") === "Acme Inc")
    val ents = Seq(
      EntityMention("Acme Corp", "Acme Corp", "ORG", 0, 9),
      EntityMention("Acme Corporation", "Acme Corporation", "ORG", 20, 36))
    val canon = Normalizer.canonicalize(ents)
    assert(canon.length === 1)
    assert(canon.head.id === "o001")
    assert(canon.head.normalized === "Acme Corp")
  }

  test("value types group by normalized form (dates in different formats)") {
    val ents = Seq(
      EntityMention("March 15, 2024", "March 15, 2024", "DATE", 0, 14),
      EntityMention("2024-03-15", "2024-03-15", "DATE", 30, 40),
      EntityMention("3/15/2024", "3/15/2024", "DATE", 50, 59))
    val canon = Normalizer.canonicalize(ents)
    assert(canon.length === 1)
    assert(canon.head.normalized === "2024-03-15")
    assert(canon.head.count === 3)
  }

  test("50 distinct MEASUREMENT mentions canonicalize in under 5 ms (best of 5)") {
    val ents = (1 to 50).map { i =>
      val v = s"$i feet"
      EntityMention(v, v, "MEASUREMENT", i * 10, i * 10 + v.length)
    }
    (1 to 5).foreach(_ => Normalizer.canonicalize(ents)) // warm-up
    val best = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      assert(Normalizer.canonicalize(ents).length === 50)
      System.nanoTime() - t0
    }.min
    assert(best < 5000000L, s"best of 5: ${best / 1e6} ms")
  }
}
