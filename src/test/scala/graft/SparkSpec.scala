package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run sequentially in sbt's forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body` with session conf `key` set to `value`, then put back
    * what was set before (or unset it if nothing was). */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = session.conf.getAll.get(key)
    session.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => session.conf.set(key, v)
      case None => session.conf.unset(key)
    }
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
