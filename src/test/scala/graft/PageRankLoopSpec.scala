package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** Spark jobs per [[Graph.pageRankLoop]] call. The loop family is
  * scheduler-bound at gate SF, so its job count is its cost: these
  * bounds are the counts measured when the loop-invariant work (node
  * count, dangling flag, edge degrees) was hoisted out of the loop, one
  * per shape a registered query uses — g01 (`dangling = true`, a cut
  * every iteration) and t20 (`dangling = false, cutEvery = 5`). A
  * change that adds per-iteration jobs fails here. */
class PageRankLoopSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Jobs started by building `df` and collecting it, counted by a
    * listener on this thread's job group; and the collected row count. */
  private def jobsOf(df: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"pagerank-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pageRankLoop job count")
    try {
      val rows = df.collect().length
      TestListenerBus.drain(sc)
      (jobs.get, rows)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val nodes = (1L to 6L).toDF("id")

  test("g01 shape (dangling = true): jobs per call stay at the hoisted count") {
    // node 6 has no out-edge: the dangling mass is live
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 4L), (1L, 5L), (3L, 6L))
      .toDF("src", "dst").withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val (jobs, rows) = jobsOf(Graph.pageRankLoop(nodes, edges, 10))
    assert(rows == 6)
    assert(jobs <= G01Jobs, s"g01-shape pageRankLoop started $jobs jobs (bound $G01Jobs)")
  }

  test("t20 shape (dangling = false, cutEvery = 5): jobs per call stay at the hoisted count") {
    val und = Seq((1L, 2L, 3L), (2L, 3L, 4L), (3L, 1L, 5L), (4L, 5L, 3L), (5L, 6L, 6L), (6L, 1L, 3L))
    val edges = (und ++ und.map { case (u, v, w) => (v, u, w) }).toDF("src", "dst", "w")
    val (jobs, rows) = jobsOf(
      Graph.pageRankLoop(nodes, edges, 10, dangling = false, cutEvery = 5))
    assert(rows == 6)
    assert(jobs <= T20Jobs, s"t20-shape pageRankLoop started $jobs jobs (bound $T20Jobs)")
  }

  // Measured on this fixed graph under TestSpark's session (local[4],
  // 4 shuffle partitions, 4 MB splits) with the hoisted loop; the g01/t20
  // oracle parity run pins its results.
  private val G01Jobs = 72
  private val T20Jobs = 35
}
