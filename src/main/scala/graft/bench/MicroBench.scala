package graft.bench

import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** Spark-free scalability probe for the fused per-doc function: times
  * ExtractionPipeline.processDoc over an in-memory corpus on fixed-size
  * thread pools. Separates "the document function doesn't scale" from
  * "Spark overhead doesn't scale" when chasing the N→4N efficiency
  * target.
  *
  * Usage: runMain graft.bench.MicroBench [nDocs] [threadList]
  */
object MicroBench {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(20000)
    val threadsList = args.lift(1).getOrElse("8,32").split(",").map(_.toInt)

    val baseTexts = (0 until 500).map { i =>
      val words = Seq("safety", "inspection", "table", "value", "compliance",
        "worker", "hazard", "report", "data", "audit")
      (0 until 40 + i % 60).map(j => words((i + j) % words.size)).mkString(" ") + "."
    }
    val docs = (0 until nDocs).map(i => DocGen.synthesize(i.toLong, baseTexts(i % 500))).toArray

    // GRAFT_BIG_CORPUS=<n>: generate an n-pattern gazetteer tier, time
    // the one-time per-executor costs (row synthesis, bundle build,
    // surname-automaton compile), install it, and run the thread sweep
    // under it — extraction throughput at the reference's 429K-name
    // corpus scale instead of the built-in seed.
    sys.env.get("GRAFT_BIG_CORPUS").map(_.toInt).foreach { target =>
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
      }
      val (rows, tGen) = timed(graft.matching.CorpusGen.rowsAt(target))
      val (bundle, tBundle) = timed(
        graft.matching.CorpusTable.fromRows(s"micro-big-$target", rows))
      graft.matching.Corpora.install(bundle)
      // first extract compiles the bundle's org/gpe/loc automatons
      // (surnames are hash-set lookups — no automaton on the hot path)
      val (_, tFirst) = timed(graft.extract.Core8Extractor.extractAll(
        "Contact John Smith regarding the audit."))
      // the generic E20 engine AT the 430k-pattern scale: what a
      // gazetteer that large costs per executor JVM if matched via AC
      val acKey = s"micro.big.${bundle.version}"
      val (_, tAc) = timed(
        graft.matching.AhoCorasick.cached(acKey, bundle.lastNames.toSeq.sorted))
      graft.matching.AhoCorasick.evict(_ == acKey)
      println(f"""{"big_corpus":{"patterns":${bundle.lastNames.size},"gen_sec":$tGen%.2f,"bundle_sec":$tBundle%.2f,"first_extract_sec":$tFirst%.2f,"ac_build_430k_sec":$tAc%.2f}}""")
    }

    // warmup
    docs.take(4000).foreach(ExtractionPipeline.processDoc)

    threadsList.foreach { t =>
      val pool = Executors.newFixedThreadPool(t)
      val idx = new AtomicInteger(0)
      val t0 = System.nanoTime()
      val tasks = (0 until t).map { _ =>
        new Callable[Long] {
          def call(): Long = {
            var n = 0L
            var i = idx.getAndIncrement()
            while (i < docs.length) {
              n += ExtractionPipeline.processDoc(docs(i)).spans.size
              i = idx.getAndIncrement()
            }
            n
          }
        }
      }
      val total = pool.invokeAll(tasks.asJava).asScala.map(_.get()).sum
      val sec = (System.nanoTime() - t0) / 1e9
      pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
      println(f"""{"threads":$t,"sec":$sec%.2f,"docs_per_sec":${nDocs / sec}%.1f,"spans":$total}""")
    }
  }
}
