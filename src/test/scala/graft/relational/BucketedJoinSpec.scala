package graft.relational

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the co-located-join pattern for repeated large joins at
  * 100 TB: both tables bucketed+sorted on the join key at write time,
  * so the join compiles to a SortMergeJoin with NO Exchange on either
  * side — the shuffle was paid once at ingest, not per query.
  */
class BucketedJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString

  lazy val spark: SparkSession = Harness.session(4,
    "spark.sql.warehouse.dir" -> wh,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ path

  override def afterAll(): Unit = spark.stop()

  test("bucketed tables join without any Exchange") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sfDir/orders.parquet")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")

    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))

    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // the join itself must not reshuffle — the only allowed exchange is
    // the one introduced by the aggregation AFTER the join
    val beforeAgg = plan.split("HashAggregate").last
    assert(!beforeAgg.contains("Exchange hashpartitioning(o_custkey"),
      s"join reshuffled the bucketed side:\n$plan")
    assert(!beforeAgg.contains("Exchange hashpartitioning(c_custkey"),
      s"join reshuffled the bucketed side:\n$plan")

    // results match the plain parquet join
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(spark.read.parquet(s"$sfDir/customer.parquet"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expected)
  }
}
