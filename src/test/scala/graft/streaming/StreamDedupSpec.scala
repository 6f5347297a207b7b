package graft.streaming

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** t19 streaming exact-dedup: the final sink state must equal the batch
  * group-by even when duplicates arrive out of order across batches.
  */
class StreamDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  test("keeper is the min doc_id per fingerprint, across batch boundaries and arrival order") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // dup pair (1, 7) shares text; the HIGHER id arrives first and in an
    // earlier batch — min-aggregation must still pick 1 as keeper, where
    // a first-row-wins dropDuplicates would have locked in 7
    val b1 = Seq((7L, "alpha beta"), (3L, "gamma"))
    val b2 = Seq((1L, "alpha beta"), (5L, "delta"))
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamDedup.dedup(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sd_test").outputMode("complete").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sd_test").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L, 5L -> 1L), s"got $out")
  }

  test("t20: in-horizon dup dropped, beyond-horizon dup re-admitted (state evicted)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(off: Long) = new java.sql.Timestamp(base + off * 1000L)
    val batches = Seq(
      // first sightings
      Seq((1L, "alpha", at(0)), (2L, "beta", at(0))),
      // in-horizon duplicate of "alpha" -> dropped
      Seq((3L, "alpha", at(10))),
      // two watermark ticks push the watermark to T+900 and give the
      // store a batch boundary to evict on
      Seq((-1L, "tick", at(1000))),
      Seq((-2L, "tick-two", at(1001))),
      // beyond-horizon duplicate of "beta" -> state evicted, re-admitted
      Seq((4L, "beta", at(950))))
    val ids = Replay.run(spark, batches, "append")(ds => StreamDedup.dedupBounded(
        ds.toDF("doc_id", "text", "ingest_ts"), "100 seconds"))(identity)
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(1L) && ids.contains(2L), s"first sightings must emit: $ids")
    assert(!ids.contains(3L), s"in-horizon duplicate must be dropped: $ids")
    assert(ids.contains(4L), s"beyond-horizon duplicate must be re-admitted: $ids")
  }

  test("t20 replay at two horizons: id%3==0 keepers emit twice, every other keeper once") {
    import spark.implicits._
    val docs = graft.textops.TextOps.docs(spark, "/root/testdata/sf0.001")
    val keepers = StreamDedup.dedup(docs).select("keeper_id").as[Long].collect().toSet
    Seq(100, 40).foreach { h =>
      val emits = StreamDedup.boundedReplay(spark, docs, horizonSeconds = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(emits.keySet == keepers, s"horizon ${h}s: emitted ids are not the keepers")
      val wrong = emits.filter { case (id, n) => n != (if (id % 3 == 0) 2L else 1L) }
      assert(wrong.isEmpty, s"horizon ${h}s: wrong emission counts $wrong")
      assert(emits.values.toSet == Set(1L, 2L), s"horizon ${h}s: one side of the horizon unexercised")
    }
  }

  test("replay harness equals the direct batch group-by") {
    import spark.implicits._
    val docs = Seq((10L, "x y"), (11L, "x y"), (12L, "z"), (13L, "x y"))
      .toDF("doc_id", "text")
    val streamed = StreamDedup.dedupReplay(spark, docs, numBatches = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamDedup.dedup(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.exists(_._3 == 3L)) // the dup group collapsed
  }
}
