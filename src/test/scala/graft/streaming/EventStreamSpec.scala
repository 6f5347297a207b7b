package graft.streaming

import java.sql.Timestamp
import graft.streaming.EventStream._
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EventStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(4)

  override def afterAll(): Unit = spark.stop()

  // day-1 base: an event at test-minute 0 must still be AFTER the initial
  // watermark (epoch 0), or flatMapGroupsWithState drops it as late
  private val Base = 86400000L
  private def ts(minute: Int): Timestamp = new Timestamp(Base + minute * 60000L)

  test("ST1: windowed counts with watermark — late row beyond watermark dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("st1")
      .outputMode("append").start()
    // batch 1: two events in hour 0, one in hour 2 (advances watermark to 1:50)
    mem.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(125), 2, "view", 5.0))
    q.processAllAvailable()
    // batch 2: a late event for hour 0 — beyond the 10-min watermark, dropped
    mem.addData(Event(4, ts(15), 1, "click", 100.0))
    q.processAllAvailable()
    // batch 3: advance far enough to close ALL windows
    mem.addData(Event(5, ts(500), 3, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("st1")
      .select("window_start", "event_type", "n", "total")
      .collect().map(r => ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows.contains((0L, "click", 2L, 3.0)), s"hour-0 click window wrong: $rows")
    assert(rows.contains((120L, "view", 1L, 5.0)), s"hour-2 view window wrong: $rows")
    // the late 100.0 never appears in any click window
    assert(!rows.exists { case (_, t, _, total) => t == "click" && total > 3.0 },
      s"late event leaked into results: $rows")
  }

  test("ST2: stateful sessionization — gap splits, timeout closes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(spark, mem.toDS())
      .writeStream.format("memory").queryName("st2")
      .outputMode("append").start()
    // user 1: events at 0,10,20 min (one session), then 60 (new session after 40-min gap)
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 1.0),
      Event(3, ts(20), 1, "click", 1.0),
      Event(4, ts(60), 1, "click", 2.5))
    q.processAllAvailable()
    // advance watermark way past 60+30 min so the open session times out
    mem.addData(Event(9, ts(200), 2, "view", 1.0))
    q.processAllAvailable()
    mem.addData(Event(10, ts(400), 2, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("st2")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime - Base) / 60000,
        (r.getTimestamp(2).getTime - Base) / 60000, r.getLong(3), r.getDouble(4)))
      .toSet
    assert(sess.contains((1L, 0L, 20L, 3L, 3.0)), s"first session wrong: $sess")
    assert(sess.contains((1L, 60L, 60L, 1L, 2.5)), s"timed-out session wrong: $sess")
  }

  test("ST3: streaming doc extraction — raw docs in, extracted spans append out") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[graft.model.RawDoc]
    val q = DocStream.extract(spark, mem.toDS())
      .writeStream.format("memory").queryName("st3")
      .outputMode("append").start()
    mem.addData(
      graft.sources.DocGen.synthesize(1L, "Inspection completed. Reports shall be filed."),
      graft.sources.DocGen.synthesize(8L, "Plain text body with a date March 5, 2024."))
    q.processAllAvailable()
    mem.addData(graft.sources.DocGen.synthesize(97L * 12, "giant reject candidate"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("st3").select("doc_id", "success").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(out.size == 3)
    assert(out("doc1") && out("doc8"))
    val spans = spark.table("st3").selectExpr("doc_id", "size(spans) AS n").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(spans("doc1") > 0)
  }

  test("ST4: docReplay parity — streamed docs equal batch docs, spans AND entities") {
    import spark.implicits._
    // a mode-diverse slice: html (with a url-reject), pdf (two-column,
    // image, page-count reject), text (discovery sentence)
    val ids = Seq(0L, 3L, 5L, 6L, 8L, 9L, 34L, 97L, 15L, 28L)
    val raw = ids.map(i => graft.sources.DocGen.synthesize(i, s"inspection report body $i with several words"))
    def facets(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.functions.explode
      val spans = df.select($"doc_id", explode($"spans").as("sp"))
        .select($"doc_id", $"sp.offset", $"sp.kind", $"sp.text", $"sp.media_ref")
        .collect().map(_.toSeq).toSet
      val ents = df.select($"doc_id", explode($"entities").as("e"))
        .select($"doc_id", $"e.type", $"e.value", $"e.start", $"e.end")
        .collect().map(_.toSeq).toSet
      (spans, ents)
    }
    val (bSpans, bEnts) =
      facets(graft.pipeline.ExtractionPipeline.run(spark, spark.createDataset(raw)).toDF())
    val (sSpans, sEnts) =
      facets(DocStream.docReplay(spark, spark.createDataset(raw), numBatches = 3))
    assert(sSpans === bSpans)
    assert(sSpans.nonEmpty)
    // the bundle-sensitive facet: entity extraction must match too
    assert(sEnts === bEnts)
    assert(sEnts.nonEmpty)
  }

  test("q18: sessionizeReplay equals batch Relational.sessionize over the sf0.001 events") {
    val dir = "/root/testdata/sf0.001"
    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "n_events", "duration_s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val streamed = sessions(sessionizeReplay(spark, spark.read.parquet(s"$dir/events.parquet")))
    val batch = sessions(graft.relational.Relational.sessionize(spark, dir))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }
}
