package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming registry entries run their streams through one drain in
  * `Streaming`: it owns the memory sink and the bounded wait, and a
  * stream still running when the wait gives up is stopped before the
  * entry fails.
  */
class StreamDrainSpec extends SparkSpec {

  test("a stream still running after the wait is stopped, and the failure names the entry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // the first batch blocks until released: the query is still running
    val q = mem.toDF().writeStream
      .foreachBatch { (_: DataFrame, _: Long) => started.countDown(); release.await() }
      .start()
    try {
      mem.addData(1, 2, 3)
      assert(started.await(60, TimeUnit.SECONDS), "the blocking batch never started")
      val e = intercept[IllegalStateException](Streaming.stopUnlessDone(q, "st_probe", done = false))
      assert(e.getMessage.startsWith("st_probe timed out"), e.getMessage)
      assert(!q.isActive)
      assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).toSeq)
    } finally {
      release.countDown()
      q.stop()
    }
  }

  test("the memory sink and the stream wait are written once, inside the drain") {
    val streaming = "src/main/scala/graft/operators/Streaming.scala"
    for (pattern <- Seq("""format\("memory"\)""", """awaitTermination\(""")) {
      assert(MainSources.matches(pattern) == Map(streaming -> 1), pattern)
      // inside the helper: after `def drain(`, before the registry entries
      val text = MainSources.all.collectFirst { case (p, t) if p.toString == streaming => t }.get
      val at = pattern.r.findFirstMatchIn(text).get.start
      assert(text.indexOf("def drain(") < at && at < text.indexOf("def entries"), pattern)
    }
  }
}
