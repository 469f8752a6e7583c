package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SparkAccountingSpec extends AnyFunSuite {

  test("jobs are accounted to the job group they ran under") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val acc = new SparkAccounting(sc)
      sc.setJobGroup("a", "two jobs")
      sc.parallelize(1 to 100, 4).count()
      sc.parallelize(1 to 100, 3).map(_ % 7).distinct().count()
      sc.setJobGroup("b", "one job")
      sc.parallelize(1 to 10, 2).count()
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 2).count() // no group: not accounted
      val a = acc.finish("a")
      val b = acc.finish("b")
      assert(a.jobs == 2)
      assert(a.stages == 3)
      assert(a.tasks == 4 + 3 + 3)
      assert(a.shuffleWriteBytes > 0 && a.shuffleReadBytes > 0)
      assert(b.jobs == 1 && b.tasks == 2 && b.shuffleWriteBytes == 0)
      assert(a.jobUnionMs >= 0 && a.executorRunMs >= 0)
      // a finished group is forgotten
      assert(acc.finish("a") == GroupStats.empty)
      acc.stop()
    } finally spark.stop()
  }
}
