package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class SubmitMainSpec extends AnyFunSuite {

  private val cores = Runtime.getRuntime.availableProcessors()

  test("sessionShape: a bare launch runs local[*] one shuffle partition per driver core; a given master keeps spark-submit's width or Spark's default") {
    assert(SubmitMain.sessionShape(None, Map.empty) == ("local[*]", cores))
    // --master, with no width from spark-submit: Spark's default, not the driver's cores
    assert(SubmitMain.sessionShape(Some("local[2]"), Map.empty) == ("local[2]", 200))
    // spark-submit's master and width
    val submitted = Map("spark.master" -> "spark://head:7077",
      "spark.sql.shuffle.partitions" -> "640")
    assert(SubmitMain.sessionShape(None, submitted) == ("spark://head:7077", 640))
    // --master wins over spark-submit's master, and the width stays spark-submit's
    assert(SubmitMain.sessionShape(Some("local[3]"), submitted) == ("local[3]", 640))
    assert(SubmitMain.sessionShape(None, Map("spark.master" -> "yarn")) == ("yarn", 200))
  }
}
