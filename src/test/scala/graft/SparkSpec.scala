package graft

import java.nio.file.{Files, Paths}

import graft.operators.DmarcIngest
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-backed suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = SparkSpec.session
  protected val sfDir = "/root/testdata/sf0.001"

  /** Runs `f` with the DMARC registry entries reading the corpus at
    * `root`, then restores the session's corpus root.
    */
  protected def withSamplesRoot[A](root: String)(f: => A): A = {
    val previous = spark.conf.get(DmarcIngest.SamplesConf)
    spark.conf.set(DmarcIngest.SamplesConf, root)
    try f finally spark.conf.set(DmarcIngest.SamplesConf, previous)
  }

  /** [[withSamplesRoot]] on the reference sample corpus the snapshot
    * oracles were pinned on; canceled where that corpus is absent.
    */
  protected def onReferenceSamples[A](f: => A): A = {
    val root = DmarcFixtures.ReferenceSamples
    assume(Files.isDirectory(Paths.get(root)), s"reference sample corpus $root is absent")
    withSamplesRoot(root)(f)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test")
    s.sparkContext.setLogLevel("ERROR")
    // the DMARC registry entries read the in-repo fixture corpus
    s.conf.set(DmarcIngest.SamplesConf, DmarcFixtures.Root)
    s
  }
}
