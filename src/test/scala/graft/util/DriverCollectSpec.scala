package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class DriverCollectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("confInt names the key and the value it cannot parse") {
    val key = "graft.ann.max-probed-rows"
    spark.conf.set(key, "lots")
    try {
      val e = intercept[IllegalArgumentException] {
        DriverCollect.confInt(spark.range(1).toDF(), key, 10)
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("'lots'"),
        e.getMessage)
    } finally spark.conf.unset(key)
    assert(DriverCollect.confInt(spark.range(1).toDF(), key, 10) == 10)
  }
}
