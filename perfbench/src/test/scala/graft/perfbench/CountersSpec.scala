package graft.perfbench

import graft.GraftSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SparkContext-level listener must see work that runs on child
  * sessions, where a session-scoped listener records nothing. */
class CountersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.build("perfbench-counters", "2")
  private val data = "data/sf0.1"

  override def afterAll(): Unit = spark.stop()

  test("dedup_clusters, planned on a no-AQE child session, reports nonzero jobs") {
    val counters = new Counters(spark.sparkContext)
    val c0 = counters.snapshot()
    val rows = graft.SparkEntry.queries("dedup_clusters")(spark, data).count()
    val d = counters.snapshot().minus(c0)
    assert(rows > 0)
    assert(d.jobs > 0, "no jobs counted")
    assert(d.taskCpuNs > 0 && d.catalystMs >= 0)
  }

  test("the idle window excludes the time jobs were running") {
    val counters = new Counters(spark.sparkContext)
    val w0 = System.currentTimeMillis()
    spark.range(0, 1000000, 1, 4).selectExpr("sum(id)").collect()
    Thread.sleep(200)
    counters.snapshot()
    val w1 = System.currentTimeMillis()
    val idle = counters.idleMs(w0, w1)
    assert(idle >= 200 && idle <= w1 - w0)
  }
}
