package graft.sim

import graft.util.Harness
import org.scalatest.funsuite.AnyFunSuite

/** s6: the IVF probe/recall trade-off measured against the s1 brute-force
  * truth — the IVF twin of t12's LSH recall metric. Widening the probe
  * set can only add candidates, so recall is monotone in nprobe and hits
  * 1.0 once every cell is probed (nprobe = number of labels).
  */
class IvfRecallSpec extends AnyFunSuite {

  private lazy val spark = Harness.session(4)

  private val dir = "/root/testdata/sf0.001"

  test("recall is monotone in nprobe and complete at full probe width") {
    val nLabels = Similarity.embeddings(spark, dir)
      .select("label").distinct().count().toInt
    val recalls = Seq(1, 2, 4, nLabels).map { np =>
      val r = Similarity.ivfRecall(spark, dir, nProbe = np).head()
      np -> r.getDouble(4)
    }
    info(s"nprobe sweep at sf0.001: ${recalls.map { case (n, r) => s"$n -> $r" }.mkString(", ")}")
    recalls.sliding(2).foreach { case Seq((_, a), (_, b)) => assert(a <= b) }
    assert(recalls.last._2 == 1.0)
    // the gated default (nprobe = 2) must beat single-cell probing's floor
    val default = recalls.find(_._1 == 2).get._2
    assert(default >= recalls.head._2)
  }
}
