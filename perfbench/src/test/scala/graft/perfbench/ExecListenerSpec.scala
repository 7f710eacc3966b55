package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ExecListenerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jobs, stages and tasks are counted per operation") {
    val l = new ExecListener
    spark.sparkContext.addSparkListener(l)
    try {
      l.take(spark.sparkContext)
      val t0 = System.currentTimeMillis()
      (1 to 3).foreach(_ => spark.range(0, 1000, 1, 4).collect())
      val t1 = System.currentTimeMillis()
      val acc = l.take(spark.sparkContext)
      assert(acc.jobs == 3)
      assert(acc.stages == 3)
      assert(acc.tasks == 12)
      assert(acc.jobSpans.size == 3 && acc.stageSpans.size == 3)
      val sched = acc.scheduleMs(t0, t1)
      assert(sched == (t1 - t0) - Stats.unionLength(acc.stageSpans.toSeq))
      assert(sched >= 0 && sched <= t1 - t0)

      // one shuffle without adaptive execution: one job, two stages
      spark.range(0, 100, 1, 4).groupBy(col("id") % 3).count().collect()
      val agg = l.take(spark.sparkContext)
      assert(agg.jobs == 1)
      assert(agg.stages == 2)
      assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0)

      // the next window starts empty
      assert(l.take(spark.sparkContext).jobs == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
