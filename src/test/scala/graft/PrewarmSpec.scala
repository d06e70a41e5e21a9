package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.prewarm` surfaces failures instead of printing them: every
  * chain still runs, then the first failure is thrown with the others
  * attached as suppressed.
  */
class PrewarmSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("prewarm over a directory without tables throws every chain's failure") {
    val dir = java.nio.file.Files.createTempDirectory("prewarm-empty").toString
    val e = intercept[IllegalStateException](SparkEntry.prewarm(spark, dir))
    assert(e.getMessage.startsWith("prewarm "), e.getMessage)
    assert(e.getCause != null)
    assert(e.getSuppressed.nonEmpty)
    assert(e.getSuppressed.forall(_.getMessage.startsWith("prewarm ")))
  }
}
