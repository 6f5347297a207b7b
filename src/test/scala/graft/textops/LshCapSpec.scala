package graft.textops

import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial dedup corpora: the LSH candidate paths must stay bounded
  * when the corpus is exactly the kind of input dedup exists to survive
  * — mass-identical reposts and boilerplate-dominated near-identical
  * docs. Without exact-dedup-first, 500 identical docs emit ~125k
  * candidate pairs per band; without the bucket cap, >1000
  * near-identical docs pair quadratically inside one hot bucket.
  */
class LshCapSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def writeDocs(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  private val words = (0 until 300).map(i => s"w$i").mkString(" ")

  private val unrelated = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "one two three four five six seven eight nine ten eleven",
    "red orange yellow green blue indigo violet cyan magenta white")

  test("500 identical docs collapse to one keeper: zero near-dup pairs") {
    val dir = tmp("lsh-identical")
    // 500 byte-identical docs + 3 distinct unrelated docs
    writeDocs(dir, Seq.fill(500)(words) ++ unrelated)
    val pairs = TextOps.minhashLsh(spark, dir)
    assert(pairs.count() === 0L,
      "identical docs must be collapsed by exact-dedup before candidate generation")
  }

  test("over-cap hot band bucket is dropped, not paired quadratically") {
    val dir = tmp("lsh-hotbucket")
    // 1100 docs sharing 300 words, each with one unique trailing token:
    // NOT byte-identical (keepers keep all 1100), but nearly every doc's
    // band signatures come from the shared shingles, so each band has
    // one hot bucket of >MaxBandBucket docs -> dropped by the cap.
    // Deterministic md5-based hashing makes this reproducible.
    writeDocs(dir, (0 until 1100).map(i => s"$words unique$i"))
    val pairs = TextOps.minhashLsh(spark, dir)
    assert(pairs.count() === 0L,
      s"hot bucket over cap ${TextOps.MaxBandBucket} must be dropped from pairing")
  }

  test("500 identical docs: zero simhash near-dup pairs") {
    val dir = tmp("simhash-identical")
    writeDocs(dir, Seq.fill(500)(words) ++ unrelated)
    assert(TextOps.simhashDedup(spark, dir).count() === 0L,
      "identical docs must be collapsed by exact-dedup before band pairing")
  }

  test("over-cap simhash band bucket is dropped, not paired quadratically") {
    val dir = tmp("simhash-hotbucket")
    // 1100 distinct docs with ONE simhash: 101 shared letter-only words
    // written twice give every bit vote an odd multiple of 2, so each
    // doc's one unique word (weight 1) cannot flip a bit. Every band is
    // then one bucket of 1100 > MaxBandBucket docs.
    def letters(i: Int): String = i.toString.map(c => ('a' + (c - '0')).toChar)
    val shared = (0 until 101).map(i => s"q${letters(i)}").flatMap(w => Seq(w, w)).mkString(" ")
    writeDocs(dir, (0 until 1100).map(i => s"$shared z${letters(i)}"))
    assert(TextOps.simhash(spark, dir).select("simhash").distinct().count() === 1L)
    assert(TextOps.simhashDedup(spark, dir).count() === 0L,
      s"hot bucket over cap ${TextOps.MaxBandBucket} must be dropped from pairing")
  }

  test("identical embeddings collapse to one keeper: zero dedup pairs") {
    import spark.implicits._
    val dir = tmp("emb-identical")
    val base = Array.tabulate(64)(d => math.sin(d + 1).toFloat)
    val other = Array.tabulate(64)(d => math.cos(3 * d + 2).toFloat)
    (Seq.fill(300)(base) :+ other).zipWithIndex
      .map { case (v, i) => (i.toLong, v, i % 3) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val pairs = graft.sim.Similarity.embeddingDedup(spark, dir)
    assert(pairs.count() === 0L,
      "identical vectors must be collapsed by exact-dedup before bucket pairing")
  }

  test("over-cap sign-LSH bucket is dropped, not paired quadratically") {
    import spark.implicits._
    val dir = tmp("emb-hotbucket")
    // 1100 near-identical vectors (tiny per-id nudge in one dim): all
    // share every table's sign signature -> one hot bucket of 1100 >
    // MaxSignBucket in all 8 tables -> dropped -> no candidates at all.
    val mk = (i: Int) =>
      Array.tabulate(64)(d => (math.sin(d + 1) + (if (d == 0) i * 1e-6 else 0.0)).toFloat)
    (0 until 1100).map(i => (i.toLong, mk(i), i % 3))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val pairs = graft.sim.Similarity.embeddingDedup(spark, dir)
    assert(pairs.count() === 0L,
      s"hot sign bucket over cap ${TextOps.MaxBandBucket} must be dropped")
  }
}
