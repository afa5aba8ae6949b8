package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork := true),
  * built by the engine's own factory so the suites plan under the
  * policy the bench times. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, then restores each
    * key's prior value — unsetting keys that were absent — so a suite
    * cannot leak a conf into the suites that run after it. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
  def withConf[A](kvs: (String, String)*)(body: => A): A =
    SparkSpec.withConf(kvs: _*)(body)
}
