package graft

import graft.operators.Bounded
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class BoundedSpec extends SparkSpec {

  private def broadcastHinted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j: Join => j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
      case _ => false
    }

  /** `body`'s result and the Spark jobs it submits: a job group keeps
    * other threads' jobs out, and a sentinel job flushes the listener
    * bus (events arrive in order).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"bounded-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => jobs.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "measured")
    try {
      val result = body
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      eventually(timeout(60.seconds)) { assert(jobs.contains("sentinel")) }
      (result, jobs.toArray.count(_ != "sentinel"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("within the limit the build side is broadcast-hinted, past it not; same rows") {
    val probe = spark.range(0, 1000).toDF("id")
    val side = spark.range(0, 100).filter(col("id") % 3 === 0).toDF("id") // 34 rows
    val fits = Bounded(side, 34)
    val over = Bounded(side, 33)
    assert(fits.fits && !over.fits)
    val hinted = probe.join(fits.build, Seq("id"), "left_semi")
    val plain = probe.join(over.build, Seq("id"), "left_semi")
    assert(broadcastHinted(hinted) && !broadcastHinted(plain))
    assert(hinted.collect().toSet == plain.collect().toSet)
    assert(plain.count() == 34)
  }

  test("a null size (a sum over no rows) fits") {
    val empty = spark.range(0, 10).filter(col("id") < 0)
      .select(array(col("id")).as("ps"))
    assert(Bounded(empty, 0, sum(size(col("ps")))).fits)
  }

  test("the decision runs one aggregate that fills the checkpoint; later actions read it") {
    import spark.implicits._
    val derivations = spark.sparkContext.longAccumulator("bounded-derivations")
    // a non-leaf frame whose derivation is observable per row
    val side = spark.range(0, 50).as[Long].map { i => derivations.add(1); i * 2 }.toDF("id")
    val (m, decisionJobs) = jobsOf(Bounded(side, Bounded.Rows))
    assert(m.fits)
    assert(derivations.value == 50)
    // the same aggregate over the already-filled checkpoint: the
    // decision adds no job for materializing it
    val (_, aggregateJobs) = jobsOf(m.frame.agg(count(lit(1))).head())
    assert(decisionJobs == aggregateJobs, s"decision $decisionJobs jobs, aggregate $aggregateJobs")
    assert(m.frame.filter(col("id") % 4 === 0).count() == 25)
    assert(derivations.value == 50, s"derivation ran ${derivations.value / 50.0}x")
  }

  test("a leaf input is returned as it is, not checkpointed again") {
    import spark.implicits._
    val checkpointed = spark.range(0, 10).toDF("id").localCheckpoint(true)
    assert(Bounded(checkpointed, Bounded.Rows).frame eq checkpointed)
    val local = Seq(1L, 2L, 3L).toDF("id")
    assert(Bounded(local, Bounded.Rows).frame eq local)
  }

  test("the bytes cap turns down long strings that pass the row limit") {
    import spark.implicits._
    // 10 rows: 10 × 48 B + chars × 2 B against a 10,000 B cap
    val short = Seq.fill(10)("x").toDF("s")
    val long = Seq.fill(10)("x" * 1000).toDF("s")
    assert(Bounded.withBytes(short, col("s"), rowLimit = 10, byteLimit = 10000).fits)
    assert(!Bounded.withBytes(long, col("s"), rowLimit = 10, byteLimit = 10000).fits)
    assert(!Bounded.withBytes(short, col("s"), rowLimit = 9, byteLimit = 10000).fits)
  }
}
