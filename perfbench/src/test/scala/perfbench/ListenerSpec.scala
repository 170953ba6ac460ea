package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class ListenerSpec extends AnyFunSuite {
  test("listener fields are filled for one batch query and one micro-batch") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val l = new LayerListener
      l.register(spark)
      val t0 = Clock.now()
      spark.range(0, 10000, 1, 2).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
        .count().collect()
      l.drain(spark)
      val t1 = Clock.now()
      val m = LayerMetrics(l, Seq((t0, t1)), cores = 2).toMap
      assert(m("sched.jobs") >= 1 && m("sched.tasks") >= 2 && m("sched.stages") >= 1)
      assert(m("exec.run_s") >= 0 && m("exec.cpu_s") > 0)
      assert(m("shuffle.write_bytes") > 0 && m("shuffle.read_bytes") > 0)
      assert(m("plan.actions") >= 1)
      assert(m("sched.driver_gap_s") >= 0 && m("exec.busy_frac") >= 0)

      import spark.implicits._
      val in = MemoryStream[Int](spark)
      val q = in.toDF().writeStream.format("noop").start()
      in.addData(1, 2, 3)
      q.processAllAvailable()
      q.stop()
      l.awaitTerminated(q.runId)
      val bs = l.batchesIn(t0, Clock.now()).filter(_.rows > 0)
      assert(bs.size == 1)
      assert(bs.head.rows == 3)
      Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")
        .foreach(k => assert(bs.head.durations.contains(k), k))
    } finally spark.stop()
  }
}
