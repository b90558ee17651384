package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (startup is ~seconds),
  * built by the engine's session builder. */
object SparkTest {
  lazy val spark: SparkSession = Graft.session(4)
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.spark
  /** Smallest scale factor — specs are correctness, not perf. */
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the given SQL confs, restoring the previous values
    * (including "unset") afterwards — the session is shared across
    * suites, so every temporary conf change must go through this. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
