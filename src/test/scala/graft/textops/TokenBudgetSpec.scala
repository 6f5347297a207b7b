package graft.textops

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t17 token-budget balancing core semantics: adaptive budget, hash
  * threshold, dominant-vs-small language branches.
  */
class TokenBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  test("dominant language is down-sampled to ~half; small languages are fully kept") {
    import spark.implicits._
    // en: 200 docs x 10 tokens = 2000 total; fr: 5 docs x 10 = 50.
    // budget = (2000 + 1) div 2 = 1000 -> en keep-fraction 0.5, fr 1.0
    // (50 * bucket < 1000 * 10000 for every bucket < 10000).
    val d = ((0 until 200).map(i => (i.toLong, "en", 10L)) ++
      (200 until 205).map(i => (i.toLong, "fr", 10L)))
      .toDF("doc_id", "lang", "n_tokens")
    val out = TextOps.tokenBudgetFrom(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.size == 205)
    val enKept = out.collect { case (_, ("en", _, true)) => 1 }.size
    assert((200 until 205).forall(i => out(i.toLong)._3), "small language must be fully kept")
    // md5 buckets are ~uniform: expect about half of en kept, and the
    // decision must be exactly bucket * 2000 < 1000 * 10000, i.e.
    // bucket < 5000
    assert(out.collect { case (id, ("en", b, k)) => k == (b < 5000L) }.forall(identity))
    assert(enKept > 60 && enKept < 140, s"got $enKept of 200")
  }

  test("deterministic: same input, same decisions") {
    import spark.implicits._
    val d = (0 until 50).map(i => (i.toLong, "en", (i % 7 + 1).toLong))
      .toDF("doc_id", "lang", "n_tokens")
    val a = TextOps.tokenBudgetFrom(d).collect().map(_.toSeq)
    val b = TextOps.tokenBudgetFrom(d).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
