package graft.matching

import graft.extract.Core8Extractor
import graft.pipeline.ExtractionPipeline
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Corpora-from-table: the production loading path (corpus table →
  * driver collect → broadcast → per-executor install), exercised for
  * real instead of only documented. Mirrors the reference's
  * foundation-data loading (`utils/core8_corpus_loader.py:66-247`,
  * name-corpus wiring `service_processor.py:205-244`).
  */
class CorpusTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = {
    Corpora.reset()
    spark.stop()
  }

  private val text =
    "Contact Zofia Kowalczyk at the Warsaw office. Kenji Yamamoto approved the report."

  test("broadened corpus table is deterministic and substantially larger than the seed") {
    val rows = CorpusGen.rows
    assert(rows === CorpusGen.rows) // pure function, two builds identical
    val byKind = rows.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byKind("first_name") > Corpora.builtIn.firstNames.size)
    assert(byKind("last_name") > 2 * Corpora.builtIn.lastNames.size,
      s"derived tier missing: ${byKind("last_name")}")
    assert(rows.forall(r => CorpusTable.Kinds.contains(r._1)))
  }

  test("names outside the built-in seed are found only after the table loads") {
    import spark.implicits._
    Corpora.reset()
    val before = Core8Extractor.extractAll(text)
      .filter(_.`type` == "PERSON").map(_.value)
    assert(!before.contains("Zofia Kowalczyk"), s"unexpected baseline hit: $before")

    // production path: table -> bundle -> broadcast install via the
    // pipeline (local mode shares the JVM; the install call is the same
    // one executors run at partition start)
    val table = CorpusGen.rows.toDF("kind", "value", "meta")
    val bundle = CorpusTable.load(spark, table, version = "gen-v1")
    assert(bundle.firstNames.contains("zofia") && bundle.lastNames.contains("kowalczyk"))
    Corpora.install(bundle)

    val after = Core8Extractor.extractAll(text)
      .filter(_.`type` == "PERSON").map(_.value)
    assert(after.contains("Zofia Kowalczyk"), s"after load: $after")
    assert(after.contains("Kenji Yamamoto"), s"after load: $after")
    Corpora.reset()
  }

  test("superseded bundle versions evict their automatons") {
    Corpora.reset()
    AhoCorasick.cached(s"core8.test.${Corpora.version}", Seq("alpha"))
    val v0 = Corpora.version
    Corpora.install(Corpora.builtIn.copy(version = "evict-v1"))
    // the old version's keyed automatons are gone; new ones compile fresh
    var rebuilt = false
    AhoCorasick.cached(s"core8.test.$v0", { rebuilt = true; Seq("alpha") })
    assert(rebuilt, "stale-version automaton was not evicted")
    Corpora.reset()
  }

  test("pipeline run ships the loaded bundle to partitions (higher entity recall)") {
    import spark.implicits._
    val raw = spark.createDataset(Seq(
      graft.model.RawDoc("t1", "text", "", Seq.empty, text, text.length.toLong, 1)))

    Corpora.reset()
    val baseline = ExtractionPipeline.run(spark, raw).collect().head
      .entities.count(_.`type` == "PERSON")

    val table = CorpusGen.rows.toDF("kind", "value", "meta")
    Corpora.install(CorpusTable.load(spark, table, version = "gen-v1"))
    val loaded = ExtractionPipeline.run(spark, raw).collect().head
      .entities.count(_.`type` == "PERSON")
    assert(loaded > baseline, s"recall did not improve: $baseline -> $loaded")
    Corpora.reset()
  }

  test("10^5-pattern tier: parquet round-trip, snapshot version, automaton build + broadcast cost") {
    import spark.implicits._
    val target = 100000
    val rows = CorpusGen.rowsAt(target)
    assert(rows.length >= target, s"tier too small: ${rows.length}")
    assert(rows === CorpusGen.rowsAt(target)) // deterministic
    val dir = java.nio.file.Files.createTempDirectory("corpus-100k").toString
    rows.toDF("kind", "value", "meta").coalesce(1).write.parquet(s"$dir/corpus.parquet")

    val (bundle, tLoad) = Harness.secs(
      CorpusTable.loadVersioned(spark, spark.read.parquet(s"$dir/corpus.parquet")))
    assert(bundle.version.startsWith("snap-"))
    assert(bundle.lastNames.size >= target)
    // identical content -> identical snapshot version (automaton cache reuse)
    val again = CorpusTable.loadVersioned(spark, spark.read.parquet(s"$dir/corpus.parquet"))
    assert(again.version === bundle.version)

    // per-executor automaton build over the 10^5 surname tier (the
    // generic E20 engine the org/gpe/loc automatons use)
    val key = s"probe.last.${bundle.version}"
    val (ac, tBuild) = Harness.secs(AhoCorasick.cached(key, bundle.lastNames.toSeq.sorted))
    try {
      val probeName = CorpusGen.derivedTierAt(1).head
      val hits = ac.findLongestNonOverlapping(s"report filed by $probeName yesterday")
      assert(hits.nonEmpty, s"derived name '$probeName' not matched")
      val (_, tBc) = Harness.secs {
        val bc = spark.sparkContext.broadcast(bundle)
        bc.value.lastNames.size
      }
      info(f"load+hash=$tLoad%.2fs automaton_build=$tBuild%.2fs broadcast=$tBc%.2fs patterns=${bundle.lastNames.size}")
      // the documented per-executor cost bound: a 10^5-pattern build is
      // a sub-30s one-time cost per corpus version per JVM
      assert(tBuild < 30.0, s"automaton build too slow: $tBuild s")
    } finally AhoCorasick.evict(_ == key)
  }

  test("430k tier: prefix-stable over the 100k tier, full-size, hermetic on fixture text") {
    val big = 430000
    val small = CorpusGen.derivedTierAt(100000)
    val large = CorpusGen.derivedTierAt(big)
    // smaller tiers are strict prefixes of larger ones: extending the
    // generator capacity must never reshuffle the 100k tier (its
    // snapshot hash — and therefore its automaton cache — stays valid)
    assert(large.take(small.length) === small, "100k tier is not a prefix of the 430k tier")
    assert(large.length >= big, s"430k tier too small: ${large.length}")
    assert(large.distinct.length === large.length)

    // reference-scale extraction must be hermetic w.r.t. the synthesis
    // fixtures: installing 430k surnames changes nothing on fixture-
    // shaped text (the driver oracles gate this corpus-wide; this pins
    // it at unit speed for future tier edits)
    val fixture = "Contact John Smith at (555) 123-4567 regarding the audit. " +
      "The inspection is scheduled for March 5, 2023 at 3:15 PM in Chicago. " +
      "Mr. Smith approved the findings. " +
      "President Wexford of the Department of Harborview visited Pinecrest Valley."
    Corpora.reset()
    val base = Core8Extractor.extractAll(fixture)
    val bundle = CorpusTable.fromRows("big-430k-test", CorpusGen.rowsAt(big))
    assert(bundle.lastNames.size >= big)
    // the E15 gap-discovery fixtures must stay un-gazetteered at every
    // tier size, or the discovery oracles silently change semantics
    val gapNames = Seq("wexford", "tarlow", "quimby", "ashford",
      "harborview", "glenfield", "marwick", "ostrander",
      "pinecrest", "eastbrook", "larkspur", "dunmore", "hollybrook")
    val all = bundle.firstNames ++ bundle.lastNames ++ bundle.orgs ++
      bundle.gpe.keySet ++ bundle.loc.keySet
    assert(gapNames.filter(all.contains).isEmpty,
      s"gap-discovery fixture collided with the 430k tier: ${gapNames.filter(all.contains)}")
    Corpora.install(bundle)
    try {
      val under = Core8Extractor.extractAll(fixture)
      assert(under.map(e => (e.`type`, e.value, e.start)) ===
        base.map(e => (e.`type`, e.value, e.start)),
        "430k bundle changed fixture-text extraction")
    } finally Corpora.reset()
  }
}
