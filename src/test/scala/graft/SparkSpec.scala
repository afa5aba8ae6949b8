package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork := true),
  * built by the engine's own factory so the suites plan under the
  * policy the bench times. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
  /** [[GraftSession.withConf]] on the shared session: a suite cannot
    * leak a conf into the suites that run after it. */
  def withConf[A](kvs: (String, String)*)(body: => A): A =
    GraftSession.withConf(spark, kvs: _*)(body)
}
