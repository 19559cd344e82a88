package graft

import graft.plans.LongVecOps
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/** The static loops behind graft_ordered_pairs and the store's
  * graft_nearest_l / graft_nearest_cell_l encode kernels. */
class LongVecOpsSpec extends AnyFunSuite {
  private def vec(xs: Long*) = new GenericArrayData(xs.map(Long.box).toArray[Any])
  private def rows(xs: Seq[Long]*) =
    new GenericArrayData(xs.map(r => vec(r: _*)).toArray[Any])

  test("pairCount: C(n,2) in Long — n = 46342 no longer wraps negative") {
    // n·(n−1) = 2,147,534,622 overflows Int: the old guard let this n
    // through to a NegativeArraySizeException
    assert(LongVecOps.pairCount(46342) == 1073767311)
    assert(LongVecOps.pairCount(65536) == 2147450880)
    val ex = intercept[IllegalArgumentException](LongVecOps.pairCount(65537))
    assert(ex.getMessage.contains("bounded-basket"), ex.getMessage)
    assert(LongVecOps.orderedPairs(vec(1, 2, 3)).numElements() == 3)
  }

  test("nearest: exact int64 sqdist argmin, ties to the smaller index") {
    assert(LongVecOps.nearest(vec(5, 5), rows(Seq(0, 0), Seq(4, 6), Seq(6, 4))) == 1)
    assert(LongVecOps.nearest(vec(1), rows(Seq(0), Seq(2))) == 0)
    assert(LongVecOps.nearest(vec(1), rows()) == -1)
  }

  test("nearestCell: (‖S‖² − 2·x·S·n)/n² argmin over cell means, ties to the smaller index") {
    // means 2 (S=4,n=2) and 6 (S=6,n=1): x=3 is nearer 2, x=4 ties
    assert(LongVecOps.nearestCell(vec(3), rows(Seq(4), Seq(6)), vec(2, 1)) == 0)
    assert(LongVecOps.nearestCell(vec(5), rows(Seq(4), Seq(6)), vec(2, 1)) == 1)
    assert(LongVecOps.nearestCell(vec(4), rows(Seq(4), Seq(6)), vec(2, 1)) == 0)
  }
}
