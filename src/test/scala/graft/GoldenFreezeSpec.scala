package graft

import graft.output.Assembly
import graft.pipeline.ExtractionPipeline
import graft.sources.DocGen
import graft.util.Harness
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Frozen end-to-end goldens: md5 of the fully-assembled markdown for
  * the first 40 sf0.001 docs, committed at `src/test/resources/golden_markdown_md5.tsv`.
  * Any semantic change to ANY stage (tokenizer, boilerplate, entities,
  * normalization, facts, assembly) shows up as a hash diff here — the
  * guard against accidental drift across build rounds.
  *
  * Regenerate intentionally with:
  *   GRAFT_REGEN_GOLDEN=1 sbt "testOnly graft.GoldenFreezeSpec"
  * and commit the diff with the semantic change that caused it.
  */
class GoldenFreezeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private val goldenPath =
    java.nio.file.Paths.get("src/test/resources/golden_markdown_md5.tsv")

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def current(): Seq[(String, String)] = {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
      .filter(_._1 < 40).collect().sortBy(_._1)
    base.toSeq.map { case (id, text) =>
      val doc = ExtractionPipeline.processDoc(DocGen.synthesize(id, text))
      (doc.doc_id, md5(Assembly.assembleMarkdown(doc)))
    }
  }

  test("full-pipeline markdown hashes match the committed golden") {
    val now = current()
    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath,
        now.map { case (d, h) => s"$d\t$h" }.mkString("", "\n", "\n"))
      info(s"regenerated ${now.size} golden hashes")
    } else {
      assert(java.nio.file.Files.exists(goldenPath),
        "golden file missing — run with GRAFT_REGEN_GOLDEN=1 once")
      val want = java.nio.file.Files.readString(goldenPath).trim
        .linesIterator.map { l => val Array(d, h) = l.split("\t"); (d, h) }.toSeq
      val diffs = want.zip(now).filter { case (w, n) => w != n }
      assert(diffs.isEmpty,
        s"${diffs.size} docs drifted, first: ${diffs.headOption}")
      assert(want.size == now.size)
    }
  }
}
