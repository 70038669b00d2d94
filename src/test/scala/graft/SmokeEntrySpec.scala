package graft
import org.scalatest.funsuite.AnyFunSuite
class SmokeEntrySpec extends AnyFunSuite {
  test("driver entry smoke") {
    val spark = GraftSession(4)
    try assert(SparkEntry.entry(spark).count() > 0)
    finally spark.stop()
  }
}
