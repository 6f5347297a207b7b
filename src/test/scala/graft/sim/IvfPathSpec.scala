package graft.sim

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The IVF query has two physical strategies — literal-centroid argmax
  * (small quantizers) and broadcast-join + max_by (beyond the literal
  * budget). Both must produce identical results; the driver oracle only
  * ever exercises the literal path at sandbox scale.
  */
class IvfPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(4)

  override def afterAll(): Unit = spark.stop()

  test("join-path cell assignment matches the literal-path top-k exactly") {
    val dir = "/root/testdata/sf0.001"
    // pin the intended comparison: ivfTopK must actually take the
    // literal path here, or this test degrades to join-vs-join
    val cents = Similarity.collectedCentroids(spark, dir)
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    assert(cents.length * dim <= Similarity.LiteralCentroidBudget,
      "test corpus exceeds the literal budget; comparison would be vacuous")
    val lit = Similarity.ivfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val join = Similarity.ivfTopKJoinPath(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(lit.nonEmpty)
    assert(join.toSeq === lit.toSeq)
  }
}
