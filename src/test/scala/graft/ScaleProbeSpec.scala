package graft

import graft.tools.ScaleProbe
import org.scalatest.funsuite.AnyFunSuite

class ScaleProbeSpec extends AnyFunSuite {

  test("each (mult, skew) pair gets its own data directory") {
    val pairs = for (m <- Seq(1, 2, 10, 11, 110); s <- Seq(false, true)) yield (m, s)
    val dirs = pairs.map { case (m, s) => ScaleProbe.dataDir("/probe", m, s) }
    assert(dirs.distinct.size == pairs.size, dirs.mkString(", "))
    assert(dirs.forall(_.startsWith("/probe/")))
  }
}
