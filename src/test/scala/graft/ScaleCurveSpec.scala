package graft

import graft.tools.ScaleCurve
import org.scalatest.funsuite.AnyFunSuite

/** ScaleCurve's dir arguments carry their scale multiple after the
  * last 'x'; a malformed one is reported with the usage line instead of
  * an index or number-format exception. */
class ScaleCurveSpec extends AnyFunSuite {
  test("dir arguments split at the last 'x' into (dir, multiple)") {
    assert(ScaleCurve.parseDirArg("/data/sf0.1x1") === Some(("/data/sf0.1", 1.0)))
    assert(ScaleCurve.parseDirArg("/data/x3x3") === Some(("/data/x3", 3.0)))
    assert(ScaleCurve.parseDirArg("/data/xlx2.5") === Some(("/data/xl", 2.5)))
  }

  test("a dir argument without a numeric trailing multiple is rejected") {
    Seq("/data/sf0.1", "/data/sf0.1x", "x3", "/data/sf0.1xabc", "/data/dx1.2.3",
      "/data/dx0", "/data/x3x3/").foreach { a =>
      assert(ScaleCurve.parseDirArg(a) === None, a)
    }
  }
}
