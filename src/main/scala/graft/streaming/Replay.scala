package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The stream/batch parity replay protocol, shared by every replay
  * harness (DocStream.docReplay, StreamDedup.dedupReplay and
  * boundedReplay, EventStream.sessionizeReplay): feed driver-side
  * micro-batches through a MemoryStream in a child session, wait for
  * each one, and return the memory sink's final table. Production runs
  * the same transforms over a `readStream` file or Kafka source and
  * never touches the driver.
  */
object Replay {

  /** MemoryStream can only be fed from the driver, so a replay collects
    * its input. Beyond this many rows the harness refuses (a corpus-scale
    * frame would OOM the driver before any error explained why) — use
    * the production `readStream` shape instead.
    */
  val MaxReplayRows = 200000

  /** Shuffle / state-store width of every replay child session: each
    * micro-batch pays a per-partition state commit (and, in complete
    * mode, a sink rewrite), and the replayed key spaces are small.
    */
  val StatePartitions = 4

  /** The guarded driver collect: limit BEFORE collect, so the guard
    * fires before the driver heap does (limit+1 rows is the most a
    * replay ever holds).
    */
  def collect[T](ds: Dataset[T], what: String): Array[T] = {
    val rows = ds.limit(MaxReplayRows + 1).collect()
    require(rows.length <= MaxReplayRows,
      s"$what is a driver-memory replay harness (MemoryStream is driver-fed); " +
        s">$MaxReplayRows rows — use the production readStream shape")
    require(rows.nonEmpty, s"$what: nothing to replay")
    rows
  }

  /** Replay `batches` through `query` into a memory sink in `mode`
    * (append or complete) and return `result(sinkTable)`, eagerly
    * localCheckpoint'ed. Each micro-batch is spread over the full worker
    * width before `query` sees it: a MemoryStream batch arrives as one
    * driver block, which would otherwise run the whole map side in a
    * single task. `query` receives a Dataset of the child session
    * (`ds.sparkSession`). The sink's temp view is dropped after the
    * checkpoint, so the replayed rows are not held twice for the session
    * lifetime.
    */
  def run[T: Encoder](spark: SparkSession, batches: Seq[Seq[T]], mode: String)
      (query: Dataset[T] => Dataset[_])(result: DataFrame => DataFrame): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val stream = MemoryStream[T]
    val name = s"replay_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = query(stream.toDS().repartition(spark.sparkContext.defaultParallelism))
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    val out = result(ss.table(name)).localCheckpoint()
    ss.catalog.dropTempView(name)
    out
  }

  /** `rows` cut into about `numBatches` equal micro-batches, in order. */
  def chunks[T](rows: Seq[T], numBatches: Int): Seq[Seq[T]] =
    rows.grouped(math.max(1, rows.length / numBatches + 1)).toSeq
}
