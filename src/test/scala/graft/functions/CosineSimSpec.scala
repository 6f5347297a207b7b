package graft.functions

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CosineSimSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  test("cosine_sim matches the HOF chain bit-for-bit (codegen + interpreted)") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, -0.6f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(2.5f, 2.5f), Array(2.5f, 2.5f))
    ).toDF("a", "b")
    val hof = expr(
      """aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(a, 0D, (acc, v) -> acc + cast(v AS double) * cast(v AS double)))
        |  * sqrt(aggregate(b, 0D, (acc, v) -> acc + cast(v AS double) * cast(v AS double))))""".stripMargin)
    val rows = df.select(expr("cosine_sim(a, b)").as("native"), hof.as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    // orthogonal / identical sanity
    assert(math.abs(rows(2).getDouble(0)) < 1e-12)
    assert(math.abs(rows(3).getDouble(0) - 1.0) < 1e-12)
  }

  test("cosine_sim is null-safe and registration is idempotent") {
    GraftFunctions.ensureRegistered(spark)
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((Option(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    val r = df.select(expr("cosine_sim(a, b)")).collect()
    assert(r.head.isNullAt(0))
  }
}
