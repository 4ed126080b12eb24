package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** `IvfTwoLevel.flat` is the flat quantizer as a one-super two-level model,
  * so the two-level kernels index and probe the flat IVF. Pure model
  * arithmetic over seeded random vectors: no Spark session.
  */
class IvfTwoLevelFlatSpec extends AnyFunSuite {

  private val dim = 16
  private val rnd = new scala.util.Random(20261018L)
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
  private val cs = Array.fill(12)(vec())
  // plus the degenerate inputs: all-zero (every dot ties) and NaN (no dot
  // beats the running best)
  private val randomVs = Array.fill(500)(vec())
  private val vs = randomVs :+ new Array[Float](dim) :+ Array.fill(dim)(Float.NaN)
  private val m = Similarity.IvfTwoLevel.flat(cs)

  test("flat(cs).assign(v, t) is nearestCellDot(v, unitize(cs)) for t in {1, 2}") {
    val unit = Similarity.unitize(cs)
    for (v <- vs; t <- Seq(1, 2))
      assert(m.assign(v, t) == Similarity.nearestCellDot(v, unit), v.toSeq)
  }

  test("flat(cs) has cs as its cells: nCells, flatCentroids, cellCentroid") {
    assert(m.nSuper == 1)
    assert(m.nCells == cs.length)
    assert(m.flatCentroids.length == cs.length)
    cs.indices.foreach { i =>
      assert(java.util.Arrays.equals(m.flatCentroids(i), cs(i)))
      assert(java.util.Arrays.equals(m.cellCentroid(i), cs(i)))
    }
  }

  test("flat probes see every cell, best first: the top probe is the assigned cell") {
    for (v <- randomVs) {
      val probes = m.probeCells(v, nProbe = cs.length, nProbeSuper = 1)
      assert(probes.map(_._1).toSet == Set(0))
      assert(probes.map(_._2).sorted == cs.indices)
      assert(probes.head._2 == m.assign(v, 1))
    }
  }
}
