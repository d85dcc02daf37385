package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM session, UTC, AQE on. */
object TestSpark {
  lazy val spark: SparkSession = {
    // the program's own settings, so specs run the codegen cache,
    // state-store provider and driver-side listing the pipeline runs
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf0001: String = TestSpark.sf0001

  /** MD5 hex digest of a UTF-8 string — THE replay primitive behind
    * every brute-force md5-draw spec (one definition; the engines'
    * `md5(...)` salts are replayed against exactly this). */
  protected def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
