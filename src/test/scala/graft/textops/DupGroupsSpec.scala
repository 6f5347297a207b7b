package graft.textops

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t10 connected components: min-label propagation must traverse chains
  * (multiple rounds), keep disjoint components apart, and converge.
  */
class DupGroupsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  test("chains collapse to one component; disjoint components stay apart") {
    import spark.implicits._
    // component A: chain 1-2-3-4-5 (diameter 4 -> several rounds);
    // component B: pair 10-11; component C: triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val comp = TextOps.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(comp(_) == 1L), s"chain: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert((20L to 22L).forall(comp(_) == 20L))
    assert(comp.size === 10)
  }

  test("edge direction does not matter") {
    import spark.implicits._
    val comp = TextOps.connectedComponents(Seq((9L, 3L), (3L, 7L)).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp.values.toSet === Set(3L))
  }
}
