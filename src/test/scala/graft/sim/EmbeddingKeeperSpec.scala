package graft.sim

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t9/s5 exact-dedup keeper selection: fingerprint-keyed grouping must
  * (a) behave exactly like grouping by the vector and (b) shuffle the
  * 16-byte fingerprint, not the embedding payload — the plan shape that
  * makes the keeper pass viable at 10^9 vectors.
  */
class EmbeddingKeeperSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private def emb = {
    import spark.implicits._
    Seq(
      (7L, Array(1.0f, 2.0f)), (3L, Array(1.0f, 2.0f)), // dup pair -> keeper 3
      (5L, Array(9.0f, 0.5f)),
      (6L, Array(1.0f, 2.0001f))) // near-but-not-byte-equal: kept
      .toDF("vec_id", "embedding")
  }

  test("keepers equal the group-by-vector semantics (min vec_id per identical vector)") {
    val got = Similarity.exactKeepers(emb).collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 5L, 6L))
  }

  test("s9: zero-range vectors quantize to all-0 codes with exact reconstruction") {
    import spark.implicits._
    // route through the same column expressions quantizeInt8 uses by
    // writing a tiny table and reading it back as the embeddings dir
    val dir = java.nio.file.Files.createTempDirectory("graft-s9").toString
    Seq((0L, Array(0.5f, 0.5f, 0.5f), 1), (1L, Array(-1.0f, 0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Similarity.quantizeInt8(spark, dir).collect()
    val flat = rows.find(_.getLong(0) == 0L).get
    // constant vector: guard branch, codes all 0 -> dequant mn exactly
    assert(flat.getDouble(3) == 0.0 && flat.getDouble(4) == 1.0)
    val spread = rows.find(_.getLong(0) == 1L).get
    // -1..1 over 255 codes: max abs err bounded by half a step (plus
    // the column's own round-to-6-decimals quantum)
    assert(spread.getDouble(3) <= (2.0 / 255) / 2 + 5e-7)
    assert(spread.getDouble(4) >= 0.9999)
  }

  test("the exact-dedup exchange is keyed on the 128-bit fingerprint, not the array") {
    // (the fingerprint expression itself constant-folds into the local
    // scan on in-memory input — the load-bearing shape is the exchange)
    val plan = Similarity.exactKeepers(emb).queryExecution.executedPlan.toString
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toSeq
    assert(partitionings.nonEmpty, s"no exchange in plan:\n$plan")
    assert(partitionings.forall(p => p.contains("efp") && !p.contains("embedding")),
      s"exchange must carry the fingerprint, not the vector payload: $partitionings")
  }
}
