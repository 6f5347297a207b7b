package graft.textops

import graft.util.Harness
import org.apache.spark.sql.{SparkSession, SpecAccess}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t10 connected components: chains collapse to their minimum id,
  * disjoint components stay apart, nothing stays persisted, and the one
  * components task costs a fixed number of Spark jobs.
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
    val cached = SpecAccess.cachedPlans(spark)
    val comp = TextOps.groupsOf(pairs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(SpecAccess.cachedPlans(spark) <= cached, "the rounds' persisted frames are released")
    assert((1L to 5L).forall(comp(_) == 1L), s"chain: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert((20L to 22L).forall(comp(_) == 20L))
    assert(comp.size === 10)
  }

  test("edge direction does not matter") {
    import spark.implicits._
    val comp = TextOps.groupsOf(Seq((9L, 3L), (3L, 7L)).toDF("a", "b"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp.values.toSet === Set(3L))
  }

  test("components take at most 3 Spark jobs, the collect included") {
    import spark.implicits._
    // the chains case's graph
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    SpecAccess.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(TextOps.groupsOf(pairs, "doc_id").collect().length === 10)
      SpecAccess.drain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 3, s"${jobs.get} Spark jobs")
  }

  test("an empty pair set has no components") {
    import spark.implicits._
    assert(TextOps.groupsOf(Seq.empty[(Long, Long)].toDF("a", "b"), "doc_id").isEmpty)
  }
}
