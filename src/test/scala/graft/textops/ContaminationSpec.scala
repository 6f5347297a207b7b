package graft.textops

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t16 benchmark-decontamination core semantics: membership fraction of
  * a train doc's distinct shingles in the benchmark vocabulary.
  */
class ContaminationSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  test("membership fraction: zero-hit, boundary, and fully leaked docs") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c"), (1L, "b c d"),             // 1 of 2 in bench -> 0.5, flagged at threshold
      (2L, "x y z"),                            // 0 of 1 -> 0.0, clean
      (3L, "a b c"), (3L, "q r s")              // 2 of 2 -> 1.0, flagged
    ).toDF("doc_id", "sh")
    val bench = Seq((10L, "a b c"), (10L, "q r s"), (20L, "a b c")).toDF("doc_id", "sh")
    val out = TextOps.contaminationFrom(train, bench).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((2L, 1L, 0.5, true)))   // >= threshold is inclusive
    assert(out(2L) == ((1L, 0L, 0.0, false)))
    assert(out(3L) == ((2L, 2L, 1.0, true)))
    assert(out.size == 3)                       // bench docs never appear as rows
  }

  test("duplicate benchmark shingles count once — vocabulary is a set") {
    import spark.implicits._
    val train = Seq((1L, "a b c"), (1L, "d e f"), (1L, "g h i"), (1L, "j k l")).toDF("doc_id", "sh")
    val bench = Seq((10L, "a b c"), (11L, "a b c"), (12L, "a b c")).toDF("doc_id", "sh")
    val row = TextOps.contaminationFrom(train, bench).collect().head
    assert(row.getLong(2) == 1L)    // one distinct leaked shingle, not three
    assert(row.getDouble(3) == 0.25)
    assert(!row.getBoolean(4))
  }
}
