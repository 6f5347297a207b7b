package graft.textops

import graft.util.Harness
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t14/t15: the hamming-banded SimHash dedup family — pair invariants
  * and pair/group consistency (every verified pair lands in one group).
  */
class SimhashDedupSpec extends AnyFunSuite {

  private lazy val spark = Harness.session(4)

  private val dir = "/root/testdata/sf0.001"

  test("pairs are ordered, unique, and within the hamming threshold") {
    val pairs = TextOps.simhashDedup(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= TextOps.HammingMax)
    }
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length)
  }

  test("verified hamming matches the t8 signatures bit for bit") {
    val sh = TextOps.simhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TextOps.simhashDedup(spark, dir).collect().foreach { r =>
      val expected = java.lang.Long.bitCount(sh(r.getLong(0)) ^ sh(r.getLong(1)))
      assert(r.getLong(2) == expected)
    }
  }

  test("every pair's endpoints share a group") {
    val groups = TextOps.simhashGroups(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TextOps.simhashDedup(spark, dir).collect().foreach { r =>
      assert(groups(r.getLong(0)) == groups(r.getLong(1)))
    }
    // group ids are the min member id
    groups.groupBy(_._2).foreach { case (gid, members) =>
      assert(gid == members.keys.min)
    }
  }
}
