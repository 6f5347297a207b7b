package graft.textops

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t21: Gopher-style within-document n-gram repetition signals. */
class RepetitionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private def writeDocs(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  test("repetitive boilerplate flagged, diverse text not; deterministic tie-break") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rep").toString
    writeDocs(dir, Seq(
      // doc 0: "click here" 10x = 20 tokens, top bigram count 10 ->
      // frac 10*2/20 = 1.0 >> 0.20
      Seq.fill(10)("click here").mkString(" "),
      // doc 1: 40 distinct letter-only tokens (digits would split the
      // [a-z]+ tokenization), every bigram unique -> frac 2/40 = 0.05
      (0 until 40).map(i =>
        s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" "),
      // doc 2: ties — "a b" and "b a" both occur twice in "a b a b a";
      // tie-break is (count desc, gram asc) -> "a b"
      "a b a b a"))
    val rows = TextOps.repetition(spark, dir).collect()
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getString(2) == "click here" && r0.getDouble(3) == 1.0)
    assert(r0.getBoolean(6), "boilerplate must be flagged")
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getDouble(3) == 0.05 && !r1.getBoolean(6))
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r2.getString(2) == "a b", s"tie-break must pick gram-asc: ${r2.getString(2)}")
  }
}
